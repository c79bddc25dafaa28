package graft.perfbench

import graft.cdc.Export
import graft.lake.LakeTable
import graft.model.ReferenceModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The correctness gate, run outside every timed region. The reference is
  * the independent `ReferenceModel`, fed exactly the events the engine was
  * fed. Returns the failures found (empty = correct).
  */
object Checks {
  def segment(spark: SparkSession, seg: Segment, inputs: Inputs): Seq[String] = {
    val events = seg.fed.flatMap(_._2)
    val recs = Inputs.reference(events)
    transfers(spark, seg, recs) ++ lookups(seg) ++ exported(spark, seg) ++
      enriched(spark, seg, recs, inputs)
  }

  /** Table sha over the sorted row_sha256 values == the model's. */
  private def transfers(spark: SparkSession, seg: Segment,
                        recs: Seq[ReferenceModel.Rec]): Seq[String] = {
    val got = seg.engine.currentTransfers(spark).select("repo", "row_sha256").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val sha = ReferenceModel.sha256Hex(got.values.toSeq.sorted.mkString)
    val want = ReferenceModel.tableSha(recs)
    if (sha == want) Seq.empty
    else {
      val model = recs.map(r => r.repo -> r.rowSha).toMap
      val diff = (got.keySet ++ model.keySet).count(k => got.get(k) != model.get(k))
      Seq(s"transfers table sha $sha != reference $want ($diff of ${model.size} keys differ)")
    }
  }

  /** Each lookup returned exactly the model's row for the events fed so far. */
  private def lookups(seg: Segment): Seq[String] = {
    val byRepo = seg.fed.flatMap { case (id, evs) => evs.map(e => (e.repo, id, e)) }
      .groupBy(_._1)
    val bad = seg.rec.lookups.distinct.filter { l =>
      val evs = byRepo.getOrElse(l.repo, Seq.empty).collect { case (_, id, e) if id <= l.fedThrough => e }
      Inputs.reference(evs).map(_.rowSha) != l.shas
    }
    if (bad.isEmpty) Seq.empty
    else Seq(s"${bad.size} of ${seg.rec.lookups.size} lookups differ from the reference " +
      s"(first: ${bad.head})")
  }

  /** The exported day partitions == the resolved snapshot (as of the
    * exporter's cursor), by day.
    */
  private def exported(spark: SparkSession, seg: Segment): Seq[String] = {
    val cursor = Export.readCursor(spark, seg.exportDir.toString)
    if (cursor.isEmpty) return Seq("export wrote no cursor")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("date_requested_day").cast("string"), col("repo"), col("row_sha256")).collect()
        .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}").toSet
    val written = rows(spark.read.parquet(seg.exportDir.toString))
    val snapshot = rows(Export.withDay(
      LakeTable.readSnapshot(seg.engine.transfers, spark, asOf = cursor.get)))
    if (written == snapshot) Seq.empty
    else Seq(s"export differs from the snapshot at epoch ${cursor.get}: " +
      s"${(written -- snapshot).size} extra, ${(snapshot -- written).size} missing rows")
  }

  private val practiceCols = Seq("requesting", "sending").flatMap(p => Seq(
    s"${p}_practice_ods_code", s"${p}_practice_name",
    s"${p}_practice_sicbl_ods_code", s"${p}_practice_sicbl_name"))

  /** Enriched rows == the model's enrichment under the final dim. */
  private def enriched(spark: SparkSession, seg: Segment, recs: Seq[ReferenceModel.Rec],
                       inputs: Inputs): Seq[String] = {
    val got = seg.engine.currentEnriched(spark).select(("repo" +: practiceCols).map(col): _*)
      .collect().map(r => r.getString(0) -> (1 to practiceCols.size).map(i => Option(r.getString(i))))
      .toMap
    val dim = Inputs.dimAfter(inputs.dimRows, seg.rec.dimDeltas.toSeq)
    val want = ReferenceModel.enrich(recs, dim).map { e =>
      e.rec.repo -> Seq(e.requesting, e.sending).flatMap(p =>
        Seq(p.odsCode, p.name, p.sicblOdsCode, p.sicblName))
    }.toMap
    if (got == want) Seq.empty
    else {
      val diff = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
      Seq(s"enriched table differs from the reference enrichment on $diff of ${want.size} keys")
    }
  }
}
