package graft.perfbench

import graft.cdc.{CdcEngine, ChangeEvent, Enrichment}
import graft.sources.ChangeLogSource
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import java.nio.file.{Files, Path, Paths}

/** What a workload's set-up leaves for its segments. */
final case class Prepared(
    /** Staged gzip-CSV directory per engine epoch id. */
    csv: Map[Long, String],
    /** Batches the segments feed, in order: (engine epoch id, events). */
    feed: Seq[(Long, Vector[ChangeEvent])],
    /** Batches already in the template warehouse (serve preload). */
    preloaded: Seq[(Long, Vector[ChangeEvent])],
    /** Preloaded warehouse each segment starts from a copy of (or None). */
    template: Option[Path],
    /** In-memory batches (backfill). */
    cached: Seq[(Long, Dataset[ChangeEvent])],
)

/** A finished segment: its warehouse, the events it fed, and its samples. */
final case class Segment(engine: CdcEngine, warehouse: Path, exportDir: Path,
                         fed: Seq[(Long, Vector[ChangeEvent])], rec: Recorder, wallS: Double)

/** The workloads. Each drives the engine with one caller in a closed
  * loop (the next operation starts when the previous one returns) and runs
  * the same operations: epoch applies, point lookups on the transfers
  * table, the incremental daily export, dim updates and maintenance. They
  * differ in how the log is cut into epochs, how epochs are fed, and the
  * mix of reads beside writes.
  *
  * A segment is the unit that is timed: a fixed number of steps (passes or
  * cycles), the same in every run, so two commits are measured on the same
  * traffic. Set-up runs `warmSteps` of them untimed, on a throwaway
  * warehouse, so JIT and codegen cost lands in set-up.
  */
abstract class Workload(val name: String) {
  val conversations: Long
  val hotFragments: Int = 512
  /** Lookups per run: the 75th percentile then has >= 10 samples beyond it. */
  val minLookups: Int = 40
  def inlineCompaction: Boolean

  /** Steps of a timed segment, and of the untimed warm-up in set-up. */
  val fixedSteps: Int
  val warmSteps: Int

  def prepare(ctx: Ctx): Prepared
  def segment(ctx: Ctx, prep: Prepared, dir: Path, tracer: Tracer, steps: Int): Segment

  def engine(ctx: Ctx, wh: Path): CdcEngine =
    new CdcEngine(wh.toString, numBuckets = Workload.Buckets,
      cutoffMicros = Inputs.CutoffMicros, inlineCompaction = inlineCompaction,
      dim = Some(ctx.dim))
}

/** Per-run context: the session, seeded inputs, work directory, RNG. */
final class Ctx(val spark: SparkSession, val inputs: Inputs, val work: Path) {
  import spark.implicits._
  lazy val dim: DataFrame = inputs.dimRows.toDF()
  val rnd = new java.util.Random(graft.cdc.ChangeLogGen.mix64(inputs.seed ^ 0x100c0bL))

  /** Write each batch as gzip CSV through the engine's CSV sink. */
  def stage(batches: Seq[(Long, Vector[ChangeEvent])]): Map[Long, String] =
    batches.map { case (id, evs) =>
      val dir = work.resolve("csv").resolve(f"e$id%06d").toString
      ChangeLogSource.writeCsv(spark.createDataset(evs).coalesce(1), dir)
      id -> dir
    }.toMap

  def read(prep: Prepared, id: Long): Dataset[ChangeEvent] =
    ChangeLogSource.readCsv(spark, prep.csv(id))
}

object Workload {
  val Buckets: Int = 16
  val all: Seq[Workload] = Seq(Backfill, Serve)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.deleteIfExists(q))
    finally walk.close()
  }

  def treeBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.filter(q => Files.isRegularFile(q)).mapToLong(q => Files.size(q)).sum()
    finally walk.close()
  }
}

/** Replay from epoch 0 into an empty warehouse: a few large in-memory
  * batches through the pipelined `applyEpochs`, sessions epoch-disjoint,
  * four hot mega-conversations. A maintenance pass, point lookups and
  * three full exports follow the load.
  */
object Backfill extends Workload("backfill") {
  /** About 37 k events: large enough that the fold and commit jobs span
    * most of each epoch, small enough for a warm-up pass plus a timed pass
    * per run. */
  val conversations = 8000L
  val inlineCompaction = true
  val exportsPerPass = 3
  val fixedSteps = 1
  val warmSteps = 1

  def prepare(ctx: Ctx): Prepared = {
    val feed = ctx.inputs.backfillBatches
    val csv = ctx.stage(feed)
    // in memory before timing: the source read is not part of a backfill
    val cached = feed.map { case (id, _) =>
      val ds = ChangeLogSource.readCsv(ctx.spark, csv(id)).cache()
      ds.count()
      id -> ds
    }
    Prepared(csv, feed, Seq.empty, None, cached)
  }

  def segment(ctx: Ctx, prep: Prepared, dir: Path, tracer: Tracer, steps: Int): Segment = {
    val rec = new Recorder
    val ops = new Ops(ctx.spark, tracer, rec)
    val t0 = System.nanoTime()
    var last: Option[(CdcEngine, Path, Path)] = None
    tracer.span(s"$name segment", "segment") {
      (0 until steps).foreach { pass =>
        val wh = dir.resolve(s"wh$pass")
        val ex = dir.resolve(s"export$pass")
        val eng = engine(ctx, wh)
        val events = prep.feed.map(_._2.size.toLong).sum
        ops.applyAll(eng, prep.cached, events)
        ops.maintain(eng, prep.feed.last._1 + 5)
        val repos = prep.feed.flatMap(_._2.map(_.repo)).distinct.toIndexedSeq
        ctx.inputs.lookupKeys(ctx.rnd, repos, minLookups).foreach(ops.lookup(eng, _))
        // three downstream consumers export the freshly loaded table
        (1 to exportsPerPass).foreach(k => ops.exportDaily(eng, s"$ex-$k"))
        last = Some((eng, wh, Paths.get(s"$ex-$exportsPerPass")))
      }
    }
    val (eng, wh, ex) = last.get
    Segment(eng, wh, ex, prep.feed, rec, (System.nanoTime() - t0) / 1e9)
  }
}

/** Reads beside writes on the message-time tail. Set-up preloads, as one
  * epoch, every window in which conversations start, into a template
  * warehouse; each segment copies it and runs cycles, one caller in a
  * closed loop. A cycle applies the next window as one `applyEpoch` (batch
  * read from its staged gzip CSV through `ChangeLogSource.readCsv`;
  * enriched commit included), runs point lookups of the sessions it
  * changed and one incremental export. The fed windows are the log's tail:
  * acks hours after the last starts, late integrations after 9-12 days,
  * acks past the cutoff, so the prior state dwarfs each batch. In the
  * first cycle a dim refresh precedes the apply (its retro-correction
  * rides that epoch) and a maintenance pass follows the export; the other
  * four are plain, so the epoch median falls on a plain epoch. Epochs never
  * compact inline, so merge-on-read deltas build up; a segment's few epochs
  * stay below the default compaction threshold, so maintenance finds
  * nothing to rewrite.
  */
object Serve extends Workload("serve") {
  val conversations = 2000L
  val inlineCompaction = false
  val fixedSteps = 5
  /** One cycle: the first includes the dim refresh and maintenance, so it
    * runs every operation. */
  val warmSteps = 1
  val lookupsPerCycle = 8

  def prepare(ctx: Ctx): Prepared = {
    val startWindows = (conversations * 60L * 1000000L + Inputs.WindowMicros - 1) / Inputs.WindowMicros
    val (pre, rest) = ctx.inputs.tailBatches.partition(_._1 < 10L * startWindows)
    val feed = rest.take(fixedSteps)
    require(feed.size == fixedSteps, s"the log's tail has ${feed.size} windows, not $fixedSteps")
    val csv = ctx.stage(feed)
    val template = ctx.work.resolve("template")
    import ctx.spark.implicits._
    engine(ctx, template).applyEpoch(ctx.spark,
      ctx.spark.createDataset(pre.flatMap(_._2)), pre.last._1)
    Prepared(csv, feed, pre, Some(template), Seq.empty)
  }

  def segment(ctx: Ctx, prep: Prepared, dir: Path, tracer: Tracer, steps: Int): Segment = {
    val rec = new Recorder
    val ops = new Ops(ctx.spark, tracer, rec)
    val wh = dir.resolve("wh")
    val ex = dir.resolve("export")
    Workload.copyTree(prep.template.get, wh)
    val eng = engine(ctx, wh)
    val t0 = System.nanoTime()
    tracer.span(s"$name segment", "segment") {
      (0 until steps).foreach { i =>
        val (id, evs) = prep.feed(i)
        val refresh = i == 0
        if (refresh) ops.dimUpdate(eng, ctx.inputs.dimDelta(i), i.toLong)
        ops.applyOne(eng, id, ctx.read(prep, id), evs.size.toLong)
        // reads of the sessions this epoch just changed: their rows sit in a
        // fresh delta beside older files, so every lookup resolves merge-on-
        // read (uniform keys would mix that path with single-file reads in a
        // seed-dependent ratio)
        val changed = evs.map(_.repo).distinct
        ctx.inputs.lookupKeys(ctx.rnd, changed, lookupsPerCycle).foreach(ops.lookup(eng, _))
        ops.exportDaily(eng, ex.toString)
        if (refresh) ops.maintain(eng, id + 5)
      }
    }
    Segment(eng, wh, ex, prep.preloaded ++ prep.feed.take(steps), rec,
      (System.nanoTime() - t0) / 1e9)
  }
}
