package graft.perfbench

import graft.cdc.{ChangeEvent, ChangeLogGen, Enrichment, GenConfig}
import graft.model.ReferenceModel

/** The benchmark's inputs, all a pure function of the `--seed` argument.
  *
  * One change log is generated per run through `ChangeLogGen`/`GenConfig`
  * (driver-side `eventsOf`, the same rows `ChangeLogGen.generate` yields).
  * The workloads differ only in how that log is cut into epochs:
  *
  *  - backfill: the generator's own epoch stamps (offset ranges), so every
  *    session lives in exactly one epoch;
  *  - serve: each event is stamped with the 12-hour window of its
  *    MESSAGE time, so a session spans every window one of its messages
  *    falls in (acks hours later, late integrations after 9-12 days, acks
  *    past the cutoff at 20 days).
  *
  * Engine epoch ids are `10 * window` (or `10 * generator epoch`); the gaps
  * leave room for the maintenance commits that share the engine's number
  * space.
  */
final case class LogEvent(ev: ChangeEvent, window: Long)

final class Inputs(val seed: Long, val conversations: Long, val hotFragments: Int) {
  import Inputs._

  val cfg: GenConfig = GenConfig(numConversations = conversations, seed = seed,
    hotConversations = 4, hotFragments = hotFragments, epochs = BackfillEpochs)

  /** Every event of the log with its message-time window. */
  val events: Vector[LogEvent] = (0L until conversations).iterator.flatMap { c =>
    val times = ChangeLogGen.conversationMessages(cfg, c).map(m => m.guid -> m.timeMicros).toMap
    ChangeLogGen.eventsOf(cfg, c).map(e =>
      LogEvent(e, (times(e.commit) - BaseMicros) / WindowMicros))
  }.toVector

  /** Backfill batches: (engine epoch id, events) by the generator's stamps. */
  def backfillBatches: Seq[(Long, Vector[ChangeEvent])] =
    events.map(_.ev).groupBy(_.epoch).toSeq.sortBy(_._1)
      .map { case (e, evs) => (10L * e, evs) }

  /** Message-time batches: (engine epoch id, events) by 12-hour window, with
    * each event's epoch field set to its window; empty windows are skipped.
    */
  def tailBatches: Seq[(Long, Vector[ChangeEvent])] =
    events.groupBy(_.window).toSeq.sortBy(_._1)
      .map { case (w, evs) => (10L * w, evs.map(le => le.ev.copy(epoch = w))) }

  /** The organisation dimension the engines enrich with. */
  def dimRows: Seq[Enrichment.OrgDimRow] = Enrichment.dimRows(DimAsids, DimMonths)

  /** Dim update `version`: renames a seeded set of practices for the month
    * every generated request falls in, so its retro-correction touches
    * already-committed enriched rows.
    */
  def dimDelta(version: Int): Seq[Enrichment.OrgDimRow] = {
    val rnd = new java.util.Random(ChangeLogGen.mix64(seed ^ (0x5eedL + version)))
    val asids = Iterator.continually(rnd.nextInt(DimAsids)).distinct.take(DimDeltaRows).toVector
    asids.sorted.map(i => Enrichment.OrgDimRow(
      asid = s"asid-$i", odsCode = f"O$i%05d-r$version", name = s"Practice $i (rev $version)",
      sicblOdsCode = f"S${i % 50}%03d", sicblName = s"SICBL ${i % 50}",
      yearMonth = DimMonths(1)))
  }

  /** `k` seeded lookup keys drawn uniformly, with replacement, from `repos`. */
  def lookupKeys(rnd: java.util.Random, repos: IndexedSeq[String], k: Int): Seq[String] =
    Seq.fill(k)(repos(rnd.nextInt(repos.size)))
}

object Inputs {
  val BaseMicros: Long = 1577836800000000L // 2020-01-01T00:00Z, the generator's origin
  val Hour: Long = 3600L * 1000000L
  val Day: Long = 24L * Hour
  val CutoffMicros: Long = 14L * Day
  val WindowMicros: Long = 12L * Hour
  val BackfillEpochs: Int = 4
  val DimAsids: Int = 997
  val DimMonths: Seq[Int] = Seq(201912, 202001, 202002)
  val DimDeltaRows: Int = 24

  /** Reference classification of exactly `events`, by the independent model. */
  def reference(events: Seq[ChangeEvent]): Vector[ReferenceModel.Rec] =
    ReferenceModel.classifyLog(events, CutoffMicros)

  /** The dim in force after `deltas` (last writer wins per (asid, month)). */
  def dimAfter(base: Seq[Enrichment.OrgDimRow],
               deltas: Seq[Seq[Enrichment.OrgDimRow]]): Seq[Enrichment.OrgDimRow] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[(String, Int), Enrichment.OrgDimRow]
    (base +: deltas).foreach(_.foreach(r => m.update((r.asid, r.yearMonth), r)))
    m.values.toSeq
  }
}
