package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch milliseconds (fractional for spans
  * the benchmark records itself; whole for Spark jobs, whose listener
  * events carry millisecond wall clocks).
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Task metrics summed per Spark job, attributed by the job description. */
final case class JobRec(id: Int, desc: String, startMs: Long, endMs: Long,
                        cpuNs: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                        inputBytes: Long, outputRecords: Long) {
  /** The engine tags each epoch job `cdc epoch N: <phase>`. */
  def layer: String = desc match {
    case Trace.CdcJob(_, phase) => phase match {
      case p if p.startsWith("batch stats") => "cdc.stats"
      case p if p.startsWith("fold") => "cdc.fold"
      case p if p.startsWith("state commit") => "cdc.commit.state"
      case p if p.startsWith("transfers commit") => "cdc.commit.transfers"
      case p if p.startsWith("enriched commit") => "cdc.commit.enriched"
      case _ => "cdc.other"
    }
    case d if d.startsWith(Trace.BenchTag) => d.stripPrefix(Trace.BenchTag)
    case _ => "spark.other"
  }
}

/** Spans kept in memory: workload segment -> operation -> Spark job. The
  * benchmark opens segment and operation spans around its own calls into
  * the engine; a job listener (attached only while tracing) records every
  * Spark job, and jobs are parented to the innermost operation span whose
  * interval holds their start. Nothing here runs when `enabled` is false.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val originMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def nowMs: Double = originMs + System.nanoTime() / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  private val open = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // cpu ns, shuffle bytes, shuffle records, input bytes, output records
  private val acc = new ConcurrentHashMap[Int, Array[Long]]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      open.put(js.jobId, (desc, js.time))
      acc.put(js.jobId, new Array[Long](5))
      js.stageIds.foreach(s => stageJob.put(s, js.jobId))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) Option(stageJob.get(te.stageId)).flatMap(j => Option(acc.get(j))).foreach { a =>
        a.synchronized {
          a(0) += m.executorCpuTime
          a(1) += m.shuffleWriteMetrics.bytesWritten
          a(2) += m.shuffleWriteMetrics.recordsWritten
          a(3) += m.inputMetrics.bytesRead
          a(4) += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(open.remove(je.jobId)).foreach { case (desc, t0) =>
        val a = Option(acc.remove(je.jobId)).getOrElse(new Array[Long](5))
        done.add(JobRec(je.jobId, desc, t0, je.time, a(0), a(1), a(2), a(3), a(4)))
      }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Time `f` as a span of `layer`, child of the innermost open span. */
  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowMs
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, layer, t0, nowMs)
      }
    }

  /** Deliver every queued listener event (no sleeps), then detach. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.sql.graftbridge.GraftBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  def jobs: Seq[JobRec] = done.asScala.toSeq.sortBy(_.id)
  def benchSpans: Seq[Span] = spans.toSeq

  /** Benchmark spans plus one span per Spark job, jobs parented to the
    * innermost benchmark span holding their start.
    */
  def allSpans: Seq[Span] = {
    val ops = spans.toSeq
    val base = if (ops.isEmpty) 0 else ops.map(_.id).max + 1
    val jobSpans = jobs.zipWithIndex.map { case (j, i) =>
      val holders = ops.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      val parent = if (holders.isEmpty) -1 else holders.minBy(_.durMs).id
      Span(base + i, parent, s"job ${j.id}: ${j.desc}", "job." + j.layer,
        j.startMs.toDouble, j.endMs.toDouble)
    }
    ops ++ jobSpans
  }
}

object Tracer {
  def off(spark: org.apache.spark.sql.SparkSession): Tracer =
    new Tracer(spark.sparkContext, enabled = false)
}

object Trace {
  val CdcJob: scala.util.matching.Regex = """cdc epoch (\d+): (.*)""".r
  /** Description prefix for the jobs of the benchmark's own operations. */
  val BenchTag: String = "bench "

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Self time per layer, in seconds: each span's duration minus the part
    * of it its child spans cover, summed by layer.
    */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Seq.empty).map(c => (c.startMs, c.endMs))
        s.durMs - covered(ch, s.startMs, s.endMs)
      }.sum / 1000.0
    }
  }

  /** Spans as JSON lines, one object per span. */
  def writeSpans(all: Seq[Span], path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startMs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
