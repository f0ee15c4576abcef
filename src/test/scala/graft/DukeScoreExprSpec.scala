package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim

import graft.expr.DukeScoreExpr
import graft.model.MatchConfig
import graft.pipeline.{ErPipeline, Fixtures}

/** The DukeScore Catalyst expression must be bit-identical to the mandated
  * mapPartitions scoring path on the real pipeline: both run
  * `Duke.CompiledConfig.score`, one over decoded rows, one over evaluated
  * `array<string>` children.
  */
class DukeScoreExprSpec extends SparkSpec {

  /** `DukeScoreExpr` over the same pair/record join `ErPipeline.score` runs. */
  private def scoreByExpr(
      pairs: Dataset[ErPipeline.PairIds],
      records: Dataset[ErPipeline.CleanRecord],
      config: MatchConfig): DataFrame = {
    val kids = config.properties.indices.flatMap(i =>
      Seq(col("a_props").getItem(i), col("b_props").getItem(i)))
    val scoreCol = graftshim.column(DukeScoreExpr(kids.map(graftshim.expression), config))
    pairs.toDF()
      .join(records.toDF("a_id", "a_props"), "a_id")
      .join(records.toDF("b_id", "b_props"), "b_id")
      .select(col("a_id"), col("b_id"), scoreCol.as("score"))
  }

  test("DukeScoreExpr projection == score, bit-for-bit, on the fixture pipeline") {
    val config = MatchConfig.fixture
    val docs = Fixtures.docs(spark, 400)
    val records = ErPipeline.extract(docs, config)
    val (pairIds, _) = ErPipeline.pairs(ErPipeline.block(records, config))

    val viaMapPartitions = ErPipeline.score(pairIds, records, config)
      .collect().map(p => (p.a_id, p.b_id) -> p.score).toMap
    val viaExpr = scoreByExpr(pairIds, records, config)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap

    assert(viaExpr.keySet === viaMapPartitions.keySet)
    val drift = viaExpr.count { case (k, v) => viaMapPartitions(k) != v }
    assert(drift === 0, s"$drift of ${viaExpr.size} expression scores differ")
    assert(viaExpr.nonEmpty)
  }

  test("fused expression handles missing / empty properties (P3 skip)") {
    import spark.implicits._
    val config = MatchConfig.fixture
    // records with absent phone/media on one side — factor must be skipped,
    // never scored as a mismatch
    // positional in fixture order: name, address, phone, media
    val recs = Seq(
      ErPipeline.CleanRecord("x1", Array(
        Array("john smith"), Array("1 oak st salem"), Array(), Array())),
      ErPipeline.CleanRecord("x2", Array(
        Array("john smith"), Array("1 oak st salem"), Array("5551234"), Array("m://a")))).toDS()
    val pairs = Seq(ErPipeline.PairIds("x1", "x2", "k")).toDS()
    val fused = scoreByExpr(pairs, recs, config).collect()(0).getDouble(2)
    val plain = ErPipeline.score(pairs, recs, config).collect()(0).score
    assert(fused === plain)
    // name + address agree and nothing contradicts -> confident match
    assert(fused > config.threshold)
  }
}
