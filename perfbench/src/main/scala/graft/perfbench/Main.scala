package graft.perfbench

import Layers.Metric
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** The CDC engine benchmark: one workload per run, seeded inputs, the
  * engine driven only through its public API.
  *
  * {{{
  *   Main --workload backfill|serve --seed N --seconds S --trace 0|1
  *        --work DIR --out DIR
  * }}}
  *
  * Set-up ends with the workload's warm-up steps, untimed, so JIT and
  * codegen cost is charged to `setup_s`. `--trace 0` then measures the
  * end-to-end metrics over one segment of the workload's fixed work with
  * tracing off. `--trace 1` runs that work twice, traced and then untraced,
  * and reports the per-layer metrics plus the tracing overhead (traced
  * minus untraced wall time); its spans are written to `--out`. S, the
  * measuring time the caller asks for, does not size the work: the fixed
  * work is sized to take about that long. Every run checks the engine's
  * outputs against the independent reference model. The last stdout line
  * is the result JSON.
  */
object Main {
  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path)

  def parse(args: Array[String]): Either[String, Args] = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").flatMap(n => Workload.byName(n).toRight(
        s"unknown workload '$n' (expected ${Workload.all.map(_.name).mkString(", ")})"))
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      trace <- need("trace").flatMap {
        case "0" => Right(false)
        case "1" => Right(true)
        case t => Left(s"bad --trace $t")
      }
      work <- need("work")
      out <- need("out")
    } yield Args(w, seed, secs, trace, Paths.get(work).toAbsolutePath,
      Paths.get(out).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv) match {
      case Right(a) => a
      case Left(msg) =>
        System.err.println(s"[perfbench] $msg")
        sys.exit(2)
    }
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      // the status store's job/stage/SQL history otherwise grows with the
      // number of operations a time-bounded run happens to complete, which
      // would show in the heap metric
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var code = 1
    try {
      val (correct, attempted, failed, metrics) = run(spark, a, t0, cpus)
      val ms = metrics.map(m => m.name -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> m.unit))))
      println(Json.obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> Json.Raw(Json.obj(ms)))))
      code = if (correct && failed == 0) 0 else 1
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] run aborted: $t")
        t.printStackTrace()
    } finally {
      spark.stop()
      Workload.deleteTree(a.work)
    }
    sys.exit(code)
  }

  /** Old-generation heap retained after a full collection, in MiB: the
    * least of three readings, each after a full GC with one trivial Spark
    * job in between, so blocks and broadcasts whose removal Spark queued
    * asynchronously are gone by the last reading.
    */
  def oldGenMb(spark: SparkSession): Double = {
    import scala.jdk.CollectionConverters._
    val pool = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    (1 to 3).map { _ =>
      spark.range(1).count()
      System.gc()
      pool.map(_.getUsage.getUsed / 1048576.0).getOrElse(0.0)
    }.min
  }

  private def describe(label: String, seg: Segment): Unit = {
    val r = seg.rec
    def fmt(xs: collection.Seq[Double]) = xs.map(x => f"$x%.2f").mkString(" ")
    System.err.println(f"[perfbench] $label ${seg.wallS}%.2f s: epochs ${fmt(r.epochWalls)}; " +
      f"lookups ${r.lookupMs.size} (median ${if (r.lookupMs.isEmpty) 0.0 else Stats.median(r.lookupMs.toSeq)}%.1f ms); " +
      s"exports ${fmt(r.exportS)}; dim updates ${fmt(r.dimUpdateS)}; maintains ${fmt(r.maintainS)}")
  }

  def run(spark: SparkSession, a: Args, t0: Long, cpus: Int): (Boolean, Long, Long, Seq[Metric]) = {
    val wl = a.workload
    val inputs = new Inputs(a.seed, wl.conversations, wl.hotFragments)
    val ctx = new Ctx(spark, inputs, a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val (prep, prepS) = Stats.timed(wl.prepare(ctx))
    val off = Tracer.off(spark)
    // full-size warm-up on a throwaway warehouse; its operations count as
    // attempted, and a failure among them fails the run like any other
    val (warm, warmS) = Stats.timed {
      val w = wl.segment(ctx, prep, a.work.resolve("warm"), off, wl.warmSteps)
      describe("warm-up", w)
      Workload.deleteTree(a.work.resolve("warm"))
      w.rec
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] ${wl.name} seed ${a.seed}: ${inputs.events.size} events, " +
      f"${prep.feed.size} epochs to feed, set-up $setupS%.2f s (session + inputs $sessionS%.2f, " +
      f"prepare $prepS%.2f, warm-up $warmS%.2f)")

    if (!a.trace) {
      val heap0 = oldGenMb(spark)
      val seg = wl.segment(ctx, prep, a.work.resolve("segment"), off, wl.fixedSteps)
      val heapMb = math.max(heap0, oldGenMb(spark))
      val failures = Checks.segment(spark, seg, inputs)
      failures.foreach(f => System.err.println(s"[perfbench] DEFECT: $f"))
      val r = seg.rec
      describe("timed", seg)
      def q(xs: collection.Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.quantile(xs.toSeq, p)
      val fedBytes = seg.fed.flatMap(_._2).map(_.content.getBytes("UTF-8").length.toLong).sum
      val metrics = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("events_per_s", if (r.applySeconds > 0) r.eventsApplied / r.applySeconds else 0.0, "1/s"),
        Metric("epoch_p50_s", q(r.epochWalls, 0.5), "s"),
        Metric("cpu_s_per_epoch", r.applyCpuSeconds / math.max(r.applied.size, 1), "s"),
        Metric("lookup_p50_ms", q(r.lookupMs, 0.5), "ms"),
        Metric("lookup_p75_ms", q(r.lookupMs, 0.75), "ms"),
        Metric("export_p50_s", q(r.exportS, 0.5), "s"),
        Metric("stored_bytes_per_input_byte",
          Workload.treeBytes(seg.warehouse).toDouble / math.max(fedBytes, 1L), "ratio"),
        Metric("peak_heap_mb", heapMb, "MiB"),
      )
      (failures.isEmpty, warm.attempted + r.attempted, warm.failed + r.failed, metrics)
    } else {
      // traced first: any warm-up left after set-up lands on the traced
      // segment, so the overhead errs high rather than low
      val tracer = new Tracer(spark.sparkContext, enabled = true)
      val t = wl.segment(ctx, prep, a.work.resolve("traced"), tracer, wl.fixedSteps)
      tracer.finish()
      val u = wl.segment(ctx, prep, a.work.resolve("untraced"), off, wl.fixedSteps)
      describe("traced", t)
      describe("untraced", u)
      Trace.writeSpans(tracer.allSpans, a.out.resolve(s"trace-${wl.name}-seed${a.seed}.jsonl"))
      val failures = Checks.segment(spark, u, inputs) ++ Checks.segment(spark, t, inputs)
      failures.foreach(f => System.err.println(s"[perfbench] DEFECT: $f"))
      // manifest counters depend only on the data fed: both segments did the
      // same work, so any counter that differs is reported as non-repeating
      val cu = Layers.manifestCounters(spark, u)
      val ct = Layers.manifestCounters(spark, t)
      val nonRepeating = cu.zip(ct).filter { case (x, y) => x.value != y.value }
      nonRepeating.foreach { case (x, y) =>
        System.err.println(s"[perfbench] counter ${x.name} did not repeat: ${x.value} vs ${y.value}")
      }
      val probes = Layers.probes(spark, t, prep, inputs)
      val (controlS, controlEff) = graft.Bench.cpuControl(cpus)
      val metrics = ct ++ Layers.fromTrace(t, tracer) ++ probes ++ Seq(
        Metric("trace.untraced_s", u.wallS, "s"),
        Metric("trace.traced_s", t.wallS, "s"),
        Metric("trace.overhead_s", t.wallS - u.wallS, "s"),
        Metric("trace.nonrepeating_counters", nonRepeating.size.toDouble, "count"),
        Metric("host.control_cpu_s", controlS, "s"),
        Metric("host.control_eff", controlEff, "ratio"),
      )
      (failures.isEmpty, warm.attempted + u.rec.attempted + t.rec.attempted,
        warm.failed + u.rec.failed + t.rec.failed, metrics)
    }
  }
}
