package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "srcA", 44L),
    (2L, "the quick brown fox jumps over the lazy cat", "en", "srcA", 44L), // near-dup of 1
    (3L, "completely different text about spark engines here", "en", "srcA", 50L),
    (4L, "the quick brown fox jumps over the lazy dog", "en", "srcA", 44L), // exact dup of 1
    (5L, "otra frase en espanol sin relacion alguna aqui", "es", "srcB", 47L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup keeps min doc_id per text with copy counts") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .orderBy("keep_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L), (5L, 1L)))
  }

  test("minhash signatures are deterministic and identical for identical text") {
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val s1 = sigs(0).getSeq[Long](1)
    val s4 = sigs(3).getSeq[Long](1)
    assert(s1 == s4, "identical texts must have identical signatures")
    assert(s1.size == 32)
    val again = Dedup.minhashSignatures(docs, "text", "doc_id")
      .orderBy("doc_id").collect()(0).getSeq[Long](1)
    assert(s1 == again, "rerun must reproduce the signature")
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair must surface")
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)),
      s"near-dup pair expected, got $pairs")
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L || a == 5L || b == 5L },
      "unrelated docs must not pair")
  }

  test("minhashCandidatePairs output is DISTINCT (the recall-fold contract)") {
    // ADVICE r19: llm_dedup_fuzzy's one-action recall fold left-joins the
    // candidate set and counts matches — correct ONLY while the candidate
    // frame is duplicate-free (a duplicate would double-count both n and
    // caught without reddening any oracle row). Pin the internal here so
    // a Dedup refactor that drops the trailing .distinct() fails loudly.
    // The fixture's near-dups agree on many minhash positions, so the
    // same pair surfaces from SEVERAL LSH bands — exactly the duplication
    // the .distinct() collapses.
    val cand = Dedup.minhashCandidatePairs(docs, "text", "doc_id")
    val n = cand.count()
    assert(n > 0, "fixture must produce candidates")
    assert(n === cand.distinct().count(),
      "minhashCandidatePairs must stay distinct — the llm_dedup_fuzzy " +
        "recall fold depends on it")
  }

  test("simhash hamming distance: 0 for identical, small for near-dup") {
    // dedicated fixture: the 16-bit chunk banding only GUARANTEES recall
    // for hamming ≤ 3 (pigeonhole over 4 chunks) — a one-token edit in a
    // short text flips ~sqrt-many bits, so the near-dup pair must be long
    // enough that a single-token change leaves the fingerprint almost
    // fixed (32 distinct tokens → measured hamming 4, shares a chunk)
    val base = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards briskly mix quartz goblets and pack my box with five dozen " +
      "liquor jugs near the river bank at dawn every single morning"
    val shDocs = Seq(
      (1L, base),
      (2L, base.replace("dog", "cat")), // near-dup of 1
      (3L, "completely different text about spark engines here"),
      (4L, base)                        // exact dup of 1
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(shDocs, "text", "doc_id", maxDist = 8)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(pairs((1L, 4L)) == 0, "identical texts → identical fingerprints")
    assert(pairs.get((1L, 2L)).exists(_ <= 8), "near-dups within hamming ball")
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L },
      "unrelated doc must not pair")
  }

  test("connected components cluster transitive pairs to the min id") {
    // chain 1-2-3-4, separate pair 10-11, chain via hub 20-21, 20-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: star input early-exits in 0 rounds, chains stay O(log n)") {
    // already-disjoint stars: isStar fires before the loop -> lastRounds 0
    val stars = Seq((1L, 2L), (1L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(stars).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(Dedup.lastRounds == 0,
      s"star input must early-exit without contraction, took ${Dedup.lastRounds}")
  }

  test("connected components converge on a long chain (diameter >> star rounds)") {
    // a 300-hop chain: min-label propagation would need 300 rounds and a
    // fixed cap would silently mislabel; star contraction is O(log n)
    val n = 300L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(labels.length == n)
    assert(labels.forall(_._2 == 0L), "every chain node must label to the min id")
    assert(Dedup.lastRounds <= 10,
      s"300-hop chain must converge in O(log n) rounds, took ${Dedup.lastRounds}")
  }

  test("star-contraction CC equals union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 80
      val edges = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val got = Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap

      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val ra = find(a.toInt); val rb = find(b.toInt)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.groupBy(v => find(v.toInt))
        .flatMap { case (_, vs) => val mn = vs.min; vs.map(_ -> mn) }.toMap
      assert(got == expected, "star contraction must agree with union-find")
    }
  }

  test("connected components throw on non-convergence instead of mislabeling") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 0)
    }
  }

  test("fuzzy dedup pipeline: minhash pairs → clusters → survivors") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
    val dropped = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    val kept = docs.join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L),
      s"cluster {1,2,4} keeps min id 1; unrelated 3 and 5 survive: got $kept")
  }

  test("ngram jaccard pairs respect blocking and threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, charBucket = 100, threshold = 0.5)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 4L)))
    val j14 = pairs.find(p => p._1 == 1L && p._2 == 4L).get._3
    assert(j14 == 1.0, "exact dup has jaccard 1.0")
    assert(!ids.exists { case (a, b) => a == 5L || b == 5L },
      "different (lang, source) block must not pair")
  }

  test("containment catches a doc embedded in a larger one that jaccard misses") {
    import spark.implicits._
    val big = ((1 to 40).map(i => "w" + i) ++ Seq("a", "b", "c", "d")).mkString(" ")
    val d = Seq(
      (1L, big, "en", "s0", big.length.toLong),
      (2L, "a b c d", "en", "s0", 7L),        // fully inside doc 1's tail
      (3L, "a b c d", "en", "s1", 7L),        // same text, different block
      (4L, "q r s t", "en", "s0", 7L)         // same block, no overlap
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.containmentPairs(d, n = 2, threshold = 0.9)
      .select("a_id", "b_id", "containment").as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)),
      s"doc 2's 2-grams {a b, b c, c d} all occur in doc 1 -> containment " +
        s"1.0; doc 3 is blocked apart, doc 4 shares nothing: got ${pairs.toSeq}")
    // the same pair under jaccard: 3 shared grams / 44 union ≈ 0.07 — the
    // asymmetric measure is the only one that sees it
    val jac = Dedup.ngramJaccardPairs(d, n = 2, charBucket = 100000,
      threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(!jac.contains((1L, 2L)), "jaccard must structurally miss the pair")
    // the exact prefix-filter path finds it too (candidates ⊇ results by
    // theorem, at any size ratio)
    val indexed = Dedup.containmentPairsIndexed(d, n = 2, threshold = 0.9)
      .select("a_id", "b_id", "containment").as[(Long, Long, Double)].collect()
    assert(indexed.toSeq == Seq((1L, 2L, 1.0)), s"prefix path: got ${indexed.toSeq}")
  }

  test("indexed containment equals the all-pairs twin on fixtures and real testdata") {
    // the equivalence pin the shipped llm_dedup_containment rests on:
    // candidates from the exact prefix-filter index + sorted-merge verify
    // must reproduce the quadratic twin's EXACT output — on the planted
    // fixture corpus and on the driver's own sf0.001/sf0.01 documents
    def run(d: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val allPairs = Dedup.containmentPairs(d, n = 2, threshold = 0.2)
        .select("a_id", "b_id", "containment")
        .as[(Long, Long, Double)].collect().toSet
      val indexed = Dedup.containmentPairsIndexed(d, n = 2, threshold = 0.2)
        .select("a_id", "b_id", "containment")
        .as[(Long, Long, Double)].collect().toSet
      assert(indexed == allPairs,
        s"$label: indexed vs all-pairs differ — missed=" +
          s"${(allPairs -- indexed).take(5)} extra=${(indexed -- allPairs).take(5)}")
      assert(allPairs.nonEmpty || label == "fixture",
        s"$label: vacuous equivalence (no pairs at all)")
    }
    run(docs, "fixture")
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf/documents.parquet"
      if (new java.io.File(dir).exists())
        run(spark.read.parquet(dir), sf)
    }
  }

  test("indexed ngram jaccard equals the all-pairs twin on fixtures and real testdata") {
    // same equivalence pin as containment, for the second prefix-filter
    // consumer — the (lang, source, len_bkt) blocking must survive the
    // candidate-generation swap bit-for-bit
    def run(d: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val allPairs = Dedup.ngramJaccardPairs(d, n = 3, charBucket = 100,
          threshold = 0.2)
        .select("a_id", "b_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val indexed = Dedup.ngramJaccardPairsIndexed(d, n = 3, charBucket = 100,
          threshold = 0.2)
        .select("a_id", "b_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(indexed == allPairs,
        s"$label: indexed vs all-pairs differ — missed=" +
          s"${(allPairs -- indexed).take(5)} extra=${(indexed -- allPairs).take(5)}")
    }
    run(docs, "fixture")
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf/documents.parquet"
      if (new java.io.File(dir).exists()) {
        val d = spark.read.parquet(dir)
        run(d, sf)
        assert(Dedup.ngramJaccardPairs(d, 3, 100, 0.2).count() > 0,
          s"$sf: vacuous equivalence (no pairs at all)")
      }
    }
  }

  test("dual hash family reproduces identical containment pairs (collision guard)") {
    // gram hashes stand in for gram strings; a 64-bit collision would
    // silently perturb one intersect count. Running the same corpus under
    // two independent FNV bases and asserting identical (pair, score)
    // sets bounds the undetected-collision probability at ~p² per pair
    // (see Dedup.Fnv64Offset scaladoc for the 100 TB expectation bound).
    def pairsWith(basis: Long): Set[(Long, Long, Double)] = {
      val g = Dedup.gramSets(docs, n = 2, charBucket = 1, fnvOffset = basis)
        .drop("len_bkt")
      val a = g.as("a"); val b = g.as("b")
      val common = graft.functions.SortedIntersectCount(col("a.grams"), col("b.grams"))
      a.join(b, col("a.lang") === col("b.lang") &&
          col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
        .withColumn("common", common)
        .withColumn("containment", col("common").cast("double") /
          least(size(col("a.grams")), size(col("b.grams"))).cast("double"))
        .filter(col("containment") >= 0.2)
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("containment"))
        .as[(Long, Long, Double)].collect().toSet
    }
    val base = pairsWith(Dedup.Fnv64Offset)
    val alt = pairsWith(Dedup.Fnv64AltOffset)
    assert(base == alt, s"hash families disagree: ${base.diff(alt)} / ${alt.diff(base)}")
    assert(base.nonEmpty, "guard is vacuous without at least one pair")
  }

  test("chunk dup stats count cross-doc duplicate chunks; null text yields no row") {
    val d = Seq(
      (1L, "a b c d e f"), // chunks(3): "a b c" (dup w/ doc 2), "d e f"
      (2L, "a b c x"),     // chunks: "a b c", "x"
      (3L, "x y z"),       // one unique chunk ("x y z" != chunk "x")
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDupStats(d, chunkTokens = 3)
      .orderBy("doc_id").as[(Long, Int, Int, Double)].collect().toSeq
    assert(out == Seq((1L, 2, 1, 0.5), (2L, 2, 1, 0.5), (3L, 1, 0, 0.0)),
      s"got $out")
  }

  test("chunk dup stats treat a short last chunk as its own chunk text") {
    // "x" (doc 2 tail chunk) must NOT match "x y z" (doc 3 full chunk)
    val d = Seq((2L, "x"), (3L, "x y z")).toDF("doc_id", "text")
    val out = Dedup.chunkDupStats(d, chunkTokens = 3)
      .orderBy("doc_id").as[(Long, Int, Int, Double)].collect().toSeq
    assert(out == Seq((2L, 1, 0, 0.0), (3L, 1, 0, 0.0)))
  }

  test("substring dup coverage marks exactly the positions under duplicated runs") {
    val d = Seq(
      (1L, "a b c d e f g h"),        // shares run "a b c d e" with doc 2
      (2L, "z1 z2 a b c d e z3"),     // the run sits at positions 2..6
      (3L, "p q r s t u v w"),        // fully unique → 0
      (4L, "short one"),              // < k tokens → no grams, coverage 0
      (5L, null.asInstanceOf[String]),// null text → no row
      (6L, "m m m m m m m m m m")     // within-doc repetition → fully covered
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupCoverage(d, k = 5)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 8L, 5L, 0.625),  // positions 0..4 under the shared 5-run
      (2L, 8L, 5L, 0.625),  // positions 2..6
      (3L, 8L, 0L, 0.0),
      (4L, 2L, 0L, 0.0),
      (6L, 10L, 10L, 1.0)), s"got $out")
  }

  test("contamination hits flag only docs sharing a probe gram") {
    val d = Seq(
      (0L, "q w e"),       // probe: grams "q w", "w e"
      (1L, "z z"),         // probe: gram "z z"
      (5L, "a q w e b"),   // hits "q w" and "w e" once each
      (6L, "z z z"),       // gram "z z" twice → 1 distinct, 2 hits
      (7L, "nope nada"),   // no probe gram
      (8L, "short")        // 1 token < gramLen → no grams at all
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationHits(d, probeMaxId = 2L, gramLen = 2)
      .orderBy("doc_id").as[(Long, Int, Int)].collect().toSeq
    assert(out == Seq((5L, 2, 2), (6L, 1, 2)), s"got $out")
  }

  test("shingleJaccardPairsGlobal matches an independent HOF brute force (sf0.001 subset)") {
    // independent path: STRING shingles built with SQL higher-order
    // functions and an all-pairs join — different gram representation
    // (strings vs FNV hashes), different candidate generation (none vs
    // prefix filter), so agreement pins both the prefix-filter recall
    // bound and the hash kernel at once
    val subset = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0)
    val kernel = Dedup.shingleJaccardPairsGlobal(
      subset.select(col("doc_id"), col("text")), n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val sh = subset.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(0), greatest(size(col("toks")) - 3, lit(0))),
        i => array_join(slice(col("toks"), i + 1, lit(3)), " "))).as("grams"))
    val a = sh.as("a"); val b = sh.as("b")
    val brute = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        (size(array_intersect(col("a.grams"), col("b.grams"))).cast("double") /
          size(array_union(col("a.grams"), col("b.grams"))).cast("double")).as("j"))
      .filter(col("j") >= 0.5)
      .select(col("a_id"), col("b_id"),
        graft.functions.Rounding.roundTo(col("j"), 4).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(kernel == brute,
      s"kernel-only: ${kernel -- brute}; brute-only: ${brute -- kernel}")
    assert(kernel.nonEmpty, "vacuous: subset has no near-dup pairs")
    spark.catalog.clearCache()
  }

  test("shingleJaccardPairsGlobal: exact threshold boundary and null/short text") {
    // A="a b c d e" shingles {abc,bcd,cde}; B="a b c d f" shingles
    // {abc,bcd,cdf}: |I|=2, |U|=4 → J = 0.5 exactly — the >= must keep it
    val d = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d f"),
      (3L, "totally unrelated words go here"),
      (4L, null.asInstanceOf[String]),
      (5L, "xy")                       // < n tokens → one whole-doc gram
    ).toDF("doc_id", "text")
    val at = Dedup.shingleJaccardPairsGlobal(d, n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(at == Set((1L, 2L, 0.5)), s"got $at")
    val above = Dedup.shingleJaccardPairsGlobal(d, n = 3, threshold = 0.5001)
      .as[(Long, Long, Double)].collect().toSet
    assert(above.isEmpty, s"pair at exactly 0.5 must not clear 0.5001: $above")
    // identical short docs pair at 1.0 through the whole-doc gram
    val short = Seq((6L, "xy"), (7L, "xy")).toDF("doc_id", "text")
    val sp = Dedup.shingleJaccardPairsGlobal(short, n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(sp == Set((6L, 7L, 1.0)), s"got $sp")
    spark.catalog.clearCache()
  }

  test("AllPairs length filter keeps the size-ratio boundary: A ⊆ B with " +
      "|A| = τ·|B| exactly") {
    // r13: the candidate join prunes pairs with τ·|B| > |A| (J ≤ |A|/|B|
    // makes them unverifiable) — but τ·|B| = |A| CAN qualify, exactly
    // when A ⊆ B. n=1 word grams: A = 5 tokens ⊂ B = 10 tokens,
    // J = 5/10 = 0.5 at τ = 0.5. A float-sloppy filter (τ·10 > 5 by
    // rounding) would silently drop it.
    val d = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e f g h i j"),
      (3L, "k l m n o p q r s t u v w x")).toDF("doc_id", "text")
    val got = Dedup.shingleJaccardPairsGlobal(d, n = 1, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 0.5)), s"got $got")
    spark.catalog.clearCache()
  }
}
