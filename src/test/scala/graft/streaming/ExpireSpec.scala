package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Retention semantics of the index store ([[IndexStore.expire]]), the
  * manifest cases run over every kind ([[IndexKinds]]): docs first seen
  * at or before the cutoff batch disappear — whole-partition drops for
  * per-batch partitions, a `first_batch` filter inside the consolidated
  * partition — the newest batch is refused, and expired content may
  * re-enter as a fresh delivery.
  */
class ExpireSpec extends SparkSpec with IndexKinds {
  import spark.implicits._

  private val baseA = (1 to 40).map(i => s"alpha$i").mkString(" ")
  private val baseB = (1 to 40).map(i => s"beta$i").mkString(" ")
  private val baseC = (1 to 40).map(i => s"gamma$i").mkString(" ")

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  for (k <- Seq(corpus, fuzzy, embed))
    test("manifest expire: per-batch partitions drop whole, compacted rows " +
        s"filter on first_batch${k.suffix(corpus)}") {
      val dir = graft.util.Scratch.fresh("expire_manifest")
      k.put(0L, dir, 1L -> 0)
      k.put(1L, dir, 2L -> 1)
      k.put(2L, dir, 3L -> 2)
      // consolidate batches 0-1: their rows now live in the compacted
      // partition with first_batch 0 and 1
      k.idx.compact(spark, dir, upToBatch = 1L)

      val removed = k.idx.expire(spark, dir, olderThanBatch = 0L)
      assert(removed == 1L, s"expected 1 expired row, got $removed")
      val ids = k.ids(spark, dir)
      assert(ids == Set(2L, 3L), s"after expire: $ids")

      // newest batch is protected
      val e = intercept[IllegalArgumentException] {
        k.idx.expire(spark, dir, olderThanBatch = 2L)
      }
      assert(e.getMessage.contains("newest batch"), e.getMessage)

      // the expired content may legitimately re-enter as a fresh delivery
      k.put(3L, dir, 10L -> 0, 11L -> 1)
      val after = k.ids(spark, dir)
      assert(after == Set(2L, 3L, 10L), s"after re-delivery: $after")
    }

  for (k <- Seq(corpus, fuzzy, embed))
    test(s"manifest expire without compaction drops the whole old partition${k.suffix(corpus)}") {
      val dir = graft.util.Scratch.fresh("expire_plain")
      k.put(0L, dir, 1L -> 0, 2L -> 1)
      k.put(1L, dir, 3L -> 2)
      assert(k.idx.expire(spark, dir, 0L) == 2L)
      val ids = k.ids(spark, dir)
      assert(ids == Set(3L), s"after expire: $ids")
      // idempotent re-run
      assert(k.idx.expire(spark, dir, 0L) == 0L)
    }

  test("fuzzy expire: sigs and band postings age out, near-dup of expired doc re-accepted") {
    val dir = graft.util.Scratch.fresh("expire_fuzzy")
    FuzzyIngest.ingestBatch(docs((1L, baseA, "en")), 0L, dir)
    FuzzyIngest.ingestBatch(docs((2L, baseB, "en")), 1L, dir)
    FuzzyIngest.ingestBatch(docs((3L, baseC, "fr")), 2L, dir)
    FuzzyIngest.compact(spark, dir, upToBatch = 1L)

    val removed = FuzzyIngest.expire(spark, dir, olderThanBatch = 0L)
    assert(removed == 1L, s"expected 1 expired sig, got $removed")
    val ids = FuzzyIngest.index(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(ids == Set(2L, 3L), s"after expire: $ids")
    val bandDocs = FuzzyIngest.bands(spark, dir)
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(bandDocs == Set(2L, 3L), s"band postings after expire: $bandDocs")

    // a near-dup of the EXPIRED doc is accepted (aged out of memory);
    // near-dup of a SURVIVOR still suppressed
    FuzzyIngest.ingestBatch(docs(
      (10L, baseA + " tail", "de"), (11L, baseB + " tail", "de")), 3L, dir)
    val after = FuzzyIngest.index(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(after == Set(2L, 3L, 10L), s"after re-delivery: $after")
  }
}
