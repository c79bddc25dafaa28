package graft.perfbench

import graft.cdc.{ApplyEvent, CdcPipeline}
import graft.lake.{LakeTable, Manifest}
import graft.sources.ChangeLogSource
import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, measured from outside the engine:
  * by timing public calls, by reading commit manifests through public
  * `LakeTable` calls, and from the Spark jobs the engine tags
  * `cdc epoch N: <phase>`.
  */
object Layers {
  final case class Metric(name: String, value: Double, unit: String)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def tables(seg: Segment): Seq[(String, LakeTable)] =
    Seq("state" -> seg.engine.state, "transfers" -> seg.engine.transfers) ++
      seg.engine.enriched.map("enriched" -> _).toSeq

  /** Counters derived from the segment's commit manifests. They depend only
    * on the data fed, so two segments doing the same work must agree
    * exactly (checked by the traced run).
    */
  def manifestCounters(spark: SparkSession, seg: Segment): Seq[Metric] = {
    val ids = seg.rec.applied.toSeq
    val n = math.max(ids.size, 1).toDouble
    def added(m: Manifest, id: Long) = m.files.filter(_.epochAdded == id)

    var filesWritten = 0L
    val bytesWritten = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var transferRows = 0L
    var deltaRows = 0L
    var compactBytes = 0L
    ids.foreach { id =>
      tables(seg).foreach { case (name, t) =>
        t.manifestAt(id).foreach { m =>
          val a = added(m, id)
          filesWritten += a.map(_.leaves.size).sum
          bytesWritten(name) += a.flatMap(_.leaves).map(_.bytes).sum
          // inline compaction rewrites land in the epoch's "c" directory
          compactBytes += a.filter(_.path.startsWith(f"data/e$id%012dc/"))
            .flatMap(_.leaves).map(_.bytes).sum
          if (name == "transfers") {
            transferRows += a.map(_.rows).sum
            deltaRows += a.filter(_.path.startsWith(f"data/e$id%012d/")).map(_.rows).sum
          }
        }
      }
    }
    val maint = seg.rec.maintenanceIds.toSeq
    maint.foreach { id =>
      tables(seg).foreach { case (name, t) =>
        t.manifestAt(id).filter(_.kind == "compact").foreach { m =>
          compactBytes += added(m, id).flatMap(_.leaves).map(_.bytes).sum
          if (name == "transfers") transferRows += added(m, id).map(_.rows).sum
        }
      }
    }
    val reEnriched = seg.engine.enriched.toSeq.flatMap(t =>
      (ids ++ maint).flatMap(t.manifestAt).map(_.lineage.getOrElse("reEnriched", 0L))).sum
    val live = seg.engine.transfers.latestManifest().get
    val perBucket = (0 until live.numBuckets).map(b => live.files.count(_.bucket == b).toDouble)
    val manifestBytes = tables(seg).flatMap(_._2.latestManifest())
      .map(m => mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m).length.toLong).sum
    val lineageRows = seg.engine.transfers.lineageTable(spark).count()

    tables(seg).map { case (name, _) =>
      Metric(s"cdc.commit.$name.bytes_written", bytesWritten(name) / n, "bytes")
    } ++ Seq(
      Metric("lake.files_written_per_epoch", filesWritten / n, "count"),
      // every transfer row written (deltas plus compaction rewrites, inline
      // or by maintenance) per row that carried a change
      Metric("lake.write_amp", transferRows.toDouble / math.max(deltaRows, 1L), "ratio"),
      Metric("lake.live_files_per_bucket_max", perBucket.max, "count"),
      Metric("lake.live_files_per_bucket_median", Stats.median(perBucket), "count"),
      Metric("lake.compact_bytes_rewritten", compactBytes.toDouble, "bytes"),
      Metric("lake.manifest_bytes", manifestBytes.toDouble, "bytes"),
      Metric("lake.lineage_rows", lineageRows.toDouble, "count"),
      Metric("enrichment.reenriched_rows", reEnriched.toDouble, "count"),
      Metric("export.days_rewritten", seg.rec.exportDays.sum.toDouble, "count"),
    )
  }

  /** Metrics from the traced segment's spans and Spark jobs. */
  def fromTrace(seg: Segment, tracer: Tracer): Seq[Metric] = {
    val n = math.max(seg.rec.applied.size, 1).toDouble
    val jobs = tracer.jobs
    val all = tracer.allSpans
    val applySpans = tracer.benchSpans.filter(_.layer == "apply")
    def inApply(j: JobRec) = applySpans.exists(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
    def phase(layer: String) = jobs.filter(_.layer == layer)
    def wall(js: Seq[JobRec]) = js.map(j => (j.endMs - j.startMs) / 1000.0).sum
    def cpu(js: Seq[JobRec]) = js.map(_.cpuNs).sum / 1e9
    val driverS = applySpans.map { s =>
      val ivs = jobs.filter(inApply).map(j => (j.startMs.toDouble, j.endMs.toDouble))
      (s.durMs - Trace.covered(ivs, s.startMs, s.endMs)) / 1000.0
    }.sum
    val self = Trace.selfTimes(all)
    def selfOf(p: String => Boolean) = self.collect { case (l, v) if p(l) => v }.sum
    val fold = phase("cdc.fold")
    // An epoch's fold runs as several jobs (adaptive execution submits each
    // shuffle stage as a job). Its largest shuffle is the exchange feeding
    // the fold, which carries the batch plus the prior-state rows that pass
    // the semi-join gate; the smaller ones carry distinct batch keys and
    // summary partials. Its records beyond the batch are the prior rows the
    // fold actually processes.
    val batches = seg.fed.toMap
    val batchRows = seg.rec.applied.map(id => batches.getOrElse(id, Vector.empty).size.toLong).sum
    val foldInput = fold.groupBy(j => Trace.CdcJob.findFirstMatchIn(j.desc).map(_.group(1)))
      .values.map(_.map(_.shuffleWriteRecords).max).sum
    val priorRows = math.max(foldInput - batchRows, 0L)
    Seq(
      Metric("cdc.stats.wall_s", wall(phase("cdc.stats")) / n, "s"),
      Metric("cdc.fold.wall_s", wall(fold) / n, "s"),
      Metric("cdc.fold.cpu_s", cpu(fold) / n, "s"),
      Metric("cdc.fold.shuffle_bytes", fold.map(_.shuffleWriteBytes).sum / n, "bytes"),
      Metric("cdc.fold.prior_rows", priorRows / n, "count"),
      Metric("cdc.fold.prior_per_batch_row", priorRows.toDouble / math.max(batchRows, 1L), "ratio"),
    ) ++ Seq("state", "transfers", "enriched").flatMap { t =>
      val js = phase(s"cdc.commit.$t")
      Seq(Metric(s"cdc.commit.$t.wall_s", wall(js) / n, "s"),
        Metric(s"cdc.commit.$t.cpu_s", cpu(js) / n, "s"))
    } ++ Seq(
      Metric("cdc.jobs_per_epoch", jobs.count(inApply) / n, "count"),
      Metric("cdc.driver_s", driverS / n, "s"),
      Metric("lake.compact_s", Stats.mean(seg.rec.maintainS.toSeq), "s"),
      Metric("enrichment.dim_update_s", Stats.mean(seg.rec.dimUpdateS.toSeq), "s"),
      Metric("export.s", Stats.mean(seg.rec.exportS.toSeq), "s"),
      Metric("export.rows_written", phase("export").map(_.outputRecords).sum.toDouble, "count"),
      Metric("trace.spans", all.size.toDouble, "count"),
      Metric("trace.self.segment_s", selfOf(_ == "segment"), "s"),
      Metric("trace.self.apply_s", selfOf(_ == "apply"), "s"),
      Metric("trace.self.lookup_s", selfOf(_ == "lookup"), "s"),
      Metric("trace.self.export_s", selfOf(_ == "export"), "s"),
      Metric("trace.self.dim_update_s", selfOf(_ == "dim_update"), "s"),
      Metric("trace.self.maintain_s", selfOf(_ == "maintain"), "s"),
      Metric("trace.self.job.cdc_s", selfOf(_.startsWith("job.cdc.")), "s"),
      Metric("trace.self.job.other_s", selfOf(l => l.startsWith("job.") && !l.startsWith("job.cdc.")), "s"),
    )
  }

  /** Layer probes on the traced segment's final state: single-threaded
    * classifier throughput (no Spark), the CSV source read, snapshot and
    * change-stream reads, manifest reads and files opened per lookup.
    */
  def probes(spark: SparkSession, seg: Segment, prep: Prepared, inputs: Inputs): Seq[Metric] = {
    // the fold over the whole log as fresh in-memory sessions, sorted by repo
    val applyEvents = inputs.events.map { le =>
      val e = le.ev
      ApplyEvent(e.repo, e.path, e.commit, e.lang, e.content, e.offset, e.op, e.tsMicros, 0L, null)
    }.sortBy(e => (e.repo, e.offset)).toArray
    var folded = 0L
    val (_, foldS) = Stats.timed {
      while (folded < 4L * applyEvents.length) {
        CdcPipeline.foldPartition(applyEvents.iterator, Inputs.CutoffMicros, 0L,
          keepParsed = false).foreach(_ => ())
        folded += applyEvents.length
      }
    }

    val probe = new Tracer(spark.sparkContext, enabled = true)
    val paths = prep.csv.toSeq.sortBy(_._1).map(_._2)
    spark.sparkContext.setJobDescription(Trace.BenchTag + "source_read")
    val (_, readS) = Stats.timed(ChangeLogSource.readCsv(spark, paths: _*)
      .write.mode("overwrite").format("noop").save())
    spark.sparkContext.setJobDescription(null)
    probe.finish()
    val readBytes = probe.jobs.filter(_.layer == "source_read").map(_.inputBytes).sum

    val t = seg.engine.transfers
    val (_, snapS) = Stats.timed(LakeTable.readSnapshot(t, spark)
      .write.mode("overwrite").format("noop").save())
    val since = seg.rec.applied.headOption.getOrElse(0L) - 1
    val (_, changesS) = Stats.timed(t.changesSince(spark, since)
      .write.mode("overwrite").format("noop").save())
    val reads = 20
    val (_, manifestS) = Stats.timed((1 to reads).foreach(_ => t.latestManifest()))
    val keys = seg.rec.lookups.map(_.repo).distinct
    val files = keys.map(k => t.lookup(spark, Map("repo" -> k)).inputFiles.length.toDouble)

    Seq(
      Metric("classifier.events_per_s", folded / foldS, "1/s"),
      Metric("sources.read_s", readS, "s"),
      Metric("sources.bytes_read", readBytes.toDouble, "bytes"),
      Metric("lake.snapshot_s", snapS, "s"),
      Metric("lake.changes_since_s", changesS, "s"),
      Metric("lake.manifest_read_ms", manifestS * 1000.0 / reads, "ms"),
      Metric("lake.lookup.files_per_lookup", Stats.mean(files.toSeq), "count"),
    )
  }
}
