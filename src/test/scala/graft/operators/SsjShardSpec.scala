package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Output identity of the disk-bounded sharded SSJoin (r16, VERDICT
  * item 1) against the lazy single-shuffle form — the `ScaleUpSpec`
  * pattern: the scale rewrite is only admissible because a spec pins it
  * output-identical to the form the oracle hashes.
  *
  * The identity rests on three structural facts, each exercised here by
  * forcing multi-pass sharding on corpora small enough to brute-check:
  * a gram's postings all hash to one candidate shard (df exact,
  * pair-emitting gram present), the rank window partitions by doc_id so
  * doc-hash probe shards compute full ranks, and the cross-pass
  * `.distinct()` collapses pairs found via grams in different shards.
  */
class SsjShardSpec extends SparkSpec {

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("ssjShardCounts: 1 pass at-or-below the target, ceil above, capped") {
    assert(Dedup.ssjShardCounts(0L, 20000000L) === ((1, 1)))
    assert(Dedup.ssjShardCounts(20000000L, 20000000L) === ((1, 1)))
    assert(Dedup.ssjShardCounts(20000001L, 20000000L) === ((1, 2)))
    // sf100 shape: ~260M postings → 13 candidate passes, 2 probe passes
    assert(Dedup.ssjShardCounts(260000000L, 20000000L) === ((2, 13)))
    assert(Dedup.ssjShardCounts(Long.MaxValue / 2, 1000L) === ((256, 256)))
    intercept[IllegalArgumentException](Dedup.ssjShardCounts(5L, 0L))
    // r19 default pin (VERDICT r18 item 4): sf10's ~26M postings must
    // stay on the lazy branch (1 pass — the eager indexed operators
    // otherwise stage a decade that completes comfortably unsharded),
    // while sf100's ~260M still shards
    assert(Dedup.ssjShardCounts(26000000L, Dedup.defaultSsjPostsPerPass)
      === ((1, 1)))
    assert(Dedup.ssjShardCounts(260000000L, Dedup.defaultSsjPostsPerPass)
      === ((2, 9)))
  }

  test("sharded SSJoin is output-identical to the lazy form on sf0.001") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lazyPairs = pairsOf(
      Dedup.shingleJaccardPairsGlobal(docs, n = 3, threshold = 0.5))
    assert(lazyPairs.nonEmpty, "fixture must produce pairs")
    // sf0.001 has ~27k postings: 2k/pass → 14 candidate passes, 2 probe
    // passes — both sharding dimensions exercised, plus cross-shard pair
    // dedup (near-identical docs share grams landing in many shards)
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj_spec_")
    try {
      val sharded = pairsOf(Dedup.shingleJaccardPairsGlobal(
        docs, n = 3, threshold = 0.5,
        candPostsPerPass = 2000L, stageDir = Some(dir.toString)))
      assert(sharded === lazyPairs)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
    spark.catalog.clearCache()
  }

  test("sharded SSJoin holds at a 2-pass split and at the exact boundary") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 200)
    val lazyPairs = pairsOf(
      Dedup.shingleJaccardPairsGlobal(docs, n = 3, threshold = 0.5))
    val posts = Dedup.slimGramSets(docs, 3)
      .agg(sum(size(col("grams")))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj_spec2_")
    try {
      // per-pass = ceil(P/2): exactly 2 candidate passes, 1 probe pass
      val two = pairsOf(Dedup.shingleJaccardPairsGlobal(
        docs, n = 3, threshold = 0.5,
        candPostsPerPass = (posts + 1) / 2,
        stageDir = Some(dir.toString + "/a")))
      assert(two === lazyPairs)
      // per-pass = P exactly: boundary resolves to the 1-pass lazy form
      val one = pairsOf(Dedup.shingleJaccardPairsGlobal(
        docs, n = 3, threshold = 0.5, candPostsPerPass = posts))
      assert(one === lazyPairs)
      // operator-owned tempdir (no stageDir): the r17 eager cleanup of
      // intermediate stage tables must leave the returned pairs frame
      // readable — this is the path every catalog key takes past the
      // posting threshold, and the multi-query bench depends on it not
      // accumulating a stage-table set per call
      val owned = pairsOf(Dedup.shingleJaccardPairsGlobal(
        docs, n = 3, threshold = 0.5, candPostsPerPass = (posts + 1) / 2))
      assert(owned === lazyPairs)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
    spark.catalog.clearCache()
  }

  test("multi-pass VERIFY is output-identical to the single-join verify") {
    // r16: the sharded branch also shards VERIFICATION (pair-hash
    // passes against the parquet-staged gram table — the sf100 ENOSPC
    // stage). Identity rests on pmod partitioning the distinct pair
    // set: each pair verified in exactly one pass by the same
    // expressions. Force BOTH sharding dimensions small enough that a
    // brute-checkable corpus runs >=3 verify passes.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lazyPairs = pairsOf(
      Dedup.shingleJaccardPairsGlobal(docs, n = 3, threshold = 0.5))
    assert(lazyPairs.nonEmpty, "fixture must produce pairs")
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj_specv_")
    val perVerifyPass = math.max(1L, lazyPairs.size / 3L)
    try {
      val sharded = pairsOf(Dedup.shingleJaccardPairsGlobal(
        docs, n = 3, threshold = 0.5,
        candPostsPerPass = 2000L, stageDir = Some(dir.toString),
        pairsPerVerifyPass = perVerifyPass))
      assert(sharded === lazyPairs)
      // guard the test's own premise: if the sizing heuristic or the
      // candidate count drifts, this must FAIL loudly rather than
      // silently degrade to a 1-pass run that no longer exercises the
      // pmod pass-partition identity. kVer is recomputed exactly as the
      // operator computes it, from the staged candidate table.
      val nCand = spark.read.parquet(dir.toString + "/candd").count()
      val kVer = Dedup.ssjVerifyPasses(nCand, perVerifyPass)
      assert(kVer >= 3,
        s"verify ran $kVer pass(es) over $nCand candidates — multi-pass identity not exercised")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
    spark.catalog.clearCache()
  }

  test("BLOCKED containment: sharded form is output-identical to the lazy form") {
    // r17: the sf100 decade run ENOSPC'd llm_dedup_containment in the
    // one-shuffle shape the global SSJoin had already outgrown — the
    // blocked indexed operators now take the same auto-sharded escape.
    // Identity adds one fact to the global argument: block columns ride
    // the ranked table into every pass unchanged, so per-pass blockCond
    // equals the lazy join's blockCond. Positional pruning uses the
    // containment bound (tau*szx) — recall-exact per the PPJoin note.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // same params as the llm_dedup_containment catalog key
    val lazyPairs = pairsOf(
      Dedup.containmentPairsIndexed(docs, n = 2, threshold = 0.2))
    assert(lazyPairs.nonEmpty, "fixture must produce containment pairs")
    val sharded = pairsOf(Dedup.containmentPairsIndexed(
      docs, n = 2, threshold = 0.2, candPostsPerPass = 2000L,
      pairsPerVerifyPass = math.max(1L, lazyPairs.size / 2L)))
    assert(sharded === lazyPairs)
    // a pair whose sizes are far apart: the DedupSpec containment fixture,
    // doc 2 (3 bigrams) inside doc 1's tail (43 bigrams). Containment must
    // never apply the AllPairs length filter, in either branch of the
    // shared candidate join — with it, tau*|B| > |A| drops this pair.
    import spark.implicits._
    val big = ((1 to 40).map(i => "w" + i) ++ Seq("a", "b", "c", "d")).mkString(" ")
    val d = Seq(
      (1L, big, "en", "s0", big.length.toLong),
      (2L, "a b c d", "en", "s0", 7L),
      (3L, "a b c d", "en", "s1", 7L),
      (4L, "q r s t", "en", "s0", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val want = Set((1L, 2L, 1.0))
    assert(pairsOf(Dedup.containmentPairsIndexed(d, n = 2, threshold = 0.9)) === want)
    val posts = Dedup.gramSets(d, 2, charBucket = 1)
      .agg(sum(size(col("grams")))).head().getLong(0)
    assert(Dedup.ssjShardCounts(posts, (posts + 1) / 2)._2 === 2)
    // two operator-owned 2-pass calls, the first read after the second
    // ran: each must stage under its own scratch name
    val first = Dedup.containmentPairsIndexed(d, n = 2, threshold = 0.9,
      candPostsPerPass = (posts + 1) / 2)
    val second = Dedup.containmentPairsIndexed(d, n = 2, threshold = 0.9,
      candPostsPerPass = (posts + 1) / 2)
    assert(pairsOf(first) === want)
    assert(pairsOf(second) === want)
    spark.catalog.clearCache()
  }

  test("BLOCKED ngram Jaccard: sharded form is output-identical to the lazy form") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // same params as the llm_dedup_ngram catalog key
    val lazyPairs = pairsOf(
      Dedup.ngramJaccardPairsIndexed(docs, n = 3, charBucket = 100,
        threshold = 0.2))
    assert(lazyPairs.nonEmpty, "fixture must produce ngram pairs")
    val sharded = pairsOf(Dedup.ngramJaccardPairsIndexed(
      docs, n = 3, charBucket = 100, threshold = 0.2,
      candPostsPerPass = 2000L))
    assert(sharded === lazyPairs)
    spark.catalog.clearCache()
  }

  test("ssjVerifyPasses: 1 at-or-below the target, ceil above, capped") {
    assert(Dedup.ssjVerifyPasses(0L, 20000000L) === 1)
    assert(Dedup.ssjVerifyPasses(20000000L, 20000000L) === 1)
    assert(Dedup.ssjVerifyPasses(20000001L, 20000000L) === 2)
    // the measured sf100 shape: 125M candidates -> 7 verify passes
    assert(Dedup.ssjVerifyPasses(125000000L, 20000000L) === 7)
    assert(Dedup.ssjVerifyPasses(Long.MaxValue / 2, 1000L) === 256)
    intercept[IllegalArgumentException](Dedup.ssjVerifyPasses(5L, 0L))
  }

  test("empty and null-text corpora resolve to the 1-pass form and no pairs") {
    import spark.implicits._
    val nulls = Seq((1L, null: String), (2L, null: String))
      .toDF("doc_id", "text")
    assert(Dedup.shingleJaccardPairsGlobal(
      nulls, n = 3, threshold = 0.5, candPostsPerPass = 1L).count() === 0)
    spark.catalog.clearCache()
  }
}
