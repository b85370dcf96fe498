package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Takedown semantics of the index store ([[IndexStore.retract]]), the
  * manifest cases run over every kind ([[IndexKinds]]): retracted docs
  * disappear from the state tables, a re-delivery of the retracted
  * content is accepted as NEW (nothing remembers it), surviving content
  * keeps suppressing, the newest batch is refused (at-least-once replay
  * would resurrect it), and the call is idempotent.
  */
class RetractSpec extends SparkSpec with IndexKinds {
  import spark.implicits._

  private val baseA = (1 to 40).map(i => s"alpha$i").mkString(" ")
  private val baseB = (1 to 40).map(i => s"beta$i").mkString(" ")
  private val baseC = (1 to 40).map(i => s"gamma$i").mkString(" ")

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")
  private def idsOf(xs: Long*) = xs.toDF("doc_id")

  for (k <- Seq(corpus, fuzzy, embed))
    test("manifest retract: rows gone, identical re-delivery accepted, " +
        s"survivors still suppress${k.suffix(corpus)}") {
      val dir = graft.util.Scratch.fresh("retract_manifest")
      k.put(0L, dir, 1L -> 0, 2L -> 1)
      k.put(1L, dir, 3L -> 2)

      val removed = k.idx.retract(spark, dir, idsOf(1L, 999L))
      assert(removed == 1L, s"expected 1 row removed, got $removed")
      val after = k.ids(spark, dir)
      assert(after == Set(2L, 3L), s"manifest after retract: $after")

      // idempotent re-run removes nothing further
      assert(k.idx.retract(spark, dir, idsOf(1L)) == 0L)

      // batch 2: the retracted content comes back (ACCEPTED - forgotten;
      // the stale bloom bit is FP-only and must not block it) while the
      // surviving item 1 is still suppressed
      k.put(2L, dir, 10L -> 0, 11L -> 1)
      val finalIds = k.ids(spark, dir)
      assert(finalIds == Set(2L, 3L, 10L), s"after re-delivery: $finalIds")
    }

  for (k <- Seq(corpus, fuzzy, embed))
    test(s"manifest retract refuses ids in the newest batch${k.suffix(corpus)}") {
      val dir = graft.util.Scratch.fresh("retract_newest")
      k.put(0L, dir, 1L -> 0)
      k.put(1L, dir, 2L -> 1)
      val e = intercept[IllegalArgumentException] {
        k.idx.retract(spark, dir, idsOf(2L))
      }
      assert(e.getMessage.contains("newest batch"), e.getMessage)
      // the older batch remains retractable after the refusal
      assert(k.idx.retract(spark, dir, idsOf(1L)) == 1L)
    }

  test("fuzzy retract: sigs AND bands gone, near-dup of retracted doc accepted, of survivor suppressed") {
    val dir = graft.util.Scratch.fresh("retract_fuzzy")
    FuzzyIngest.ingestBatch(docs(
      (1L, baseA, "en"), (2L, baseB, "en")), 0L, dir)
    FuzzyIngest.ingestBatch(docs((3L, baseC, "fr")), 1L, dir)

    val removed = FuzzyIngest.retract(spark, dir, idsOf(1L))
    assert(removed == 1L, s"expected 1 sig removed, got $removed")
    val sigs = FuzzyIngest.index(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(sigs == Set(2L, 3L), s"sigs after retract: $sigs")
    val bandDocs = FuzzyIngest.bands(spark, dir)
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(bandDocs == Set(2L, 3L), s"band postings after retract: $bandDocs")

    // batch 2: a near-dup of the RETRACTED doc (accepted - no candidates
    // left, even through the stale FP-only bloom) and a near-dup of the
    // SURVIVING doc (suppressed)
    FuzzyIngest.ingestBatch(docs(
      (10L, baseA + " tail", "de"), (11L, baseB + " tail", "de")), 2L, dir)
    val finalIds = FuzzyIngest.index(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(finalIds == Set(2L, 3L, 10L), s"after near-dup re-delivery: $finalIds")
  }

  test("fuzzy retract refuses ids in the newest batch") {
    val dir = graft.util.Scratch.fresh("retract_fuzzy_newest")
    FuzzyIngest.ingestBatch(docs((1L, baseA, "en")), 0L, dir)
    FuzzyIngest.ingestBatch(docs((2L, baseB, "en")), 1L, dir)
    val e = intercept[IllegalArgumentException] {
      FuzzyIngest.retract(spark, dir, idsOf(2L))
    }
    assert(e.getMessage.contains("newest batch"), e.getMessage)
  }
}
