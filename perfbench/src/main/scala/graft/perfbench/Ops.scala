package graft.perfbench

import graft.cdc.{CdcEngine, ChangeEvent, Enrichment, Export}
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** One point read: the key, the last engine epoch fed when it ran, and the
  * row_sha256 values it returned.
  */
final case class LookupRec(repo: String, fedThrough: Long, shas: Seq[String])

/** Everything one segment measured, plus what its checks need. */
final class Recorder {
  val epochWalls = ArrayBuffer.empty[Double] // seconds per applied epoch
  var applySeconds = 0.0
  /** Process CPU seconds (all threads) spent during apply calls. */
  var applyCpuSeconds = 0.0
  var eventsApplied = 0L
  val lookupMs = ArrayBuffer.empty[Double]
  val lookups = ArrayBuffer.empty[LookupRec]
  val exportS = ArrayBuffer.empty[Double]
  val exportDays = ArrayBuffer.empty[Int]
  val dimUpdateS = ArrayBuffer.empty[Double]
  val maintainS = ArrayBuffer.empty[Double]
  /** Engine epoch ids applied (ingest) and used for maintenance. */
  val applied = ArrayBuffer.empty[Long]
  val maintenanceIds = ArrayBuffer.empty[Long]
  val dimDeltas = ArrayBuffer.empty[Seq[Enrichment.OrgDimRow]]
  var attempted = 0L
  var failed = 0L
}

/** The benchmark's calls into the engine's public API. Each call is one
  * attempted operation; a throw counts as failed and is reported, and the
  * workload carries on (the correctness gate then decides the run).
  */
final class Ops(spark: SparkSession, tracer: Tracer, rec: Recorder) {

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** `f` with the process CPU seconds it took (every thread: driver, tasks, GC). */
  private def withCpu[A](f: => A): (A, Double) = {
    val c0 = os.getProcessCpuTime
    val r = f
    (r, (os.getProcessCpuTime - c0) / 1e9)
  }

  private def op[A](name: String, layer: String)(f: => A): Option[(A, Double)] = {
    rec.attempted += 1
    spark.sparkContext.setJobDescription(Trace.BenchTag + layer)
    try Some(tracer.span(name, layer)(Stats.timed(f)))
    catch {
      case t: Throwable =>
        rec.failed += 1
        System.err.println(s"[perfbench] operation '$name' failed: $t")
        t.printStackTrace()
        None
    } finally spark.sparkContext.setJobDescription(null)
  }

  /** Pipelined apply of several epochs (one `applyEpochs` call). */
  def applyAll(eng: CdcEngine, batches: Seq[(Long, Dataset[ChangeEvent])], events: Long): Unit =
    op(s"apply epochs ${batches.map(_._1).mkString(",")}", "apply") {
      withCpu(eng.applyEpochs(spark, batches))
    }.foreach { case ((_, cpu), s) =>
      rec.applySeconds += s
      rec.applyCpuSeconds += cpu
      rec.eventsApplied += events
      rec.epochWalls += s / batches.size
      rec.applied ++= batches.map(_._1)
    }

  /** One `applyEpoch` call. */
  def applyOne(eng: CdcEngine, id: Long, batch: => Dataset[ChangeEvent], events: Long): Unit =
    op(s"apply epoch $id", "apply")(withCpu(eng.applyEpoch(spark, batch, id)))
      .foreach { case ((_, cpu), s) =>
        rec.applySeconds += s
        rec.applyCpuSeconds += cpu
        rec.eventsApplied += events
        rec.epochWalls += s
        rec.applied += id
      }

  def lookup(eng: CdcEngine, repo: String): Unit = {
    val fed = rec.applied.lastOption.getOrElse(-1L)
    op(s"lookup $repo", "lookup") {
      eng.transfers.lookup(spark, Map("repo" -> repo)).select("row_sha256")
        .collect().map(_.getString(0)).toSeq
    }.foreach { case (shas, s) =>
      rec.lookupMs += s * 1000.0
      rec.lookups += LookupRec(repo, fed, shas)
    }
  }

  def exportDaily(eng: CdcEngine, outDir: String): Unit =
    op("export", "export")(Export.exportDailyIncrementalResumable(eng.transfers, spark, outDir))
      .foreach { case (days, s) =>
        rec.exportS += s
        rec.exportDays += days.size
      }

  /** A dim refresh; its retro-correction rides the next epoch. */
  def dimUpdate(eng: CdcEngine, delta: Seq[Enrichment.OrgDimRow], version: Long): Unit = {
    import spark.implicits._
    op(s"dim update $version", "dim_update")(eng.applyDimUpdate(spark, delta.toDF(), version))
      .foreach { case (_, s) =>
        rec.dimUpdateS += s
        rec.dimDeltas += delta
      }
  }

  def maintain(eng: CdcEngine, id: Long): Unit =
    op(s"maintain $id", "maintain")(eng.maintain(spark, id)).foreach { case (_, s) =>
      rec.maintainS += s
      rec.maintenanceIds += id
    }
}
