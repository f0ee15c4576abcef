package graft

import org.apache.spark.sql.functions._

import graft.model.{Doc, Span}
import graft.pipeline.{ErPipeline, Fixtures}

/** Fixture generator + span-sequence invariant (BASELINE.json input_hint:
  * `(kind, text, media_ref, order)` asserted on every ingested document).
  */
class FixturesSpec extends SparkSpec {

  test("generated docs satisfy the span invariant (sampled + declarative count)") {
    val docs = Fixtures.docs(spark, 200)
    // typed per-row assert (throws on violation)
    docs.collect().foreach(ErPipeline.assertInvariant)
    // declarative counter over the DataFrame path
    assert(ErPipeline.invariantViolations(docs.toDF()) === 0)
  }

  test("invariant counter catches broken rows") {
    import spark.implicits._
    val bad = Seq(
      Doc("ok", Seq(Span("name", "x", null, 0), Span("media", null, "m://a", 3))),
      Doc("bad_order", Seq(Span("name", "x", null, 5), Span("text", "y", null, 2))),
      Doc("bad_media", Seq(Span("media", "oops", "m://a", 0))),
      Doc("bad_text", Seq(Span("name", null, "m://b", 0)))).toDS()
    assert(ErPipeline.invariantViolations(bad.toDF()) === 3)
    intercept[IllegalArgumentException] {
      ErPipeline.assertInvariant(
        Doc("bad_order", Seq(Span("name", "x", null, 5), Span("text", "y", null, 2))))
    }
  }

  test("generation is deterministic and partitioning-independent") {
    val a = Fixtures.docs(spark, 150).collect().sortBy(_.doc_id)
    val b = Fixtures.docs(spark, 150).collect().sortBy(_.doc_id)
    assert(a.toSeq === b.toSeq)
    // same rows regardless of parallelism of the generating range
    val viaRepart = Fixtures.docs(spark, 150).repartition(7).collect().sortBy(_.doc_id)
    assert(viaRepart.toSeq === a.toSeq)
  }

  test("gold clusters align with generated docs (every doc labeled exactly once)") {
    import spark.implicits._
    val n = 120L
    val docs = Fixtures.docs(spark, n).select($"doc_id")
    val gold = Fixtures.goldClusters(spark, n)
    assert(gold.count() === docs.count())
    assert(docs.join(gold, "doc_id").count() === docs.count())
    // entity ids in range, duplicates share the entity
    val g = gold.collect()
    assert(g.forall(r => r.entity_id >= 0 && r.entity_id < n))
    g.groupBy(_.entity_id).foreach { case (_, rows) =>
      val prefixes = rows.map(_.doc_id.take(11)).toSet
      assert(prefixes.size === 1) // d<entity>_<dup>
    }
  }

  test("extract: spans -> cleaned multi-valued Duke records by kind") {
    import spark.implicits._
    val doc = Doc("d1", Seq(
      Span("name", "  John  SMITH ", null, 0),
      Span("text", "free text ignored by config", null, 2),
      Span("address", "12 Oak Street Salem", null, 5),
      Span("phone", "(555) 123-4567", null, 7),
      Span("media", null, "m://sha256/ff", 9)))
    val recs = ErPipeline.extract(Seq(doc).toDS(), graft.model.MatchConfig.fixture).collect()
    assert(recs.length === 1)
    // positional in fixture order: name, address, phone, media
    val p = recs(0).props.map(_.toSeq)
    assert(p(0) === Seq("john smith"))
    assert(p(1) === Seq("12 oak street salem"))
    assert(p(2) === Seq("5551234567"))
    assert(p(3) === Seq("m://sha256/ff"))
    assert(p.length === 4) // "text" is not a configured property
  }

  test("hot-key skew knob produces a dominant blocking key") {
    import spark.implicits._
    val docs = Fixtures.docs(spark, 400, Fixtures.GenConfig(hotKeyFraction = 0.3))
    val records = ErPipeline.extract(docs, graft.model.MatchConfig.fixture)
    val blocks = ErPipeline.block(records, graft.model.MatchConfig.fixture)
    val counts = blocks.groupBy($"key").count().orderBy(desc("count")).collect()
    val hot = counts.head
    // smith -> soundex S530; ~30% of entities forced onto it
    assert(hot.getString(0) === "n:S530")
    assert(hot.getLong(1) > counts(1).getLong(1) * 2)
  }
}
