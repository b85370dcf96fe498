package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (SURVEY §2.B,
  * BASELINE.json north-star). Every variant is shuffle/broadcast based —
  * no pairwise O(n²) compare, no driver-side collection — so each scales
  * to a 1000-executor cluster by partitioning on the signature key.
  */
object Dedup {

  /** Exact dedup: one surviving doc per distinct text (min doc_id), plus the
    * duplicate count. Grouping key is `(xxhash64(text), length(text))`, not
    * the text itself: map-side partial aggregation already collapses to one
    * row per distinct text per partition, but with a raw-text key the
    * shuffle still carries full document bodies — hashing drops that to 16
    * bytes/row, which at 100 TB is the difference between shuffling
    * terabytes and shuffling gigabytes.
    *
    * Collision guard: a second, independent digest (md5) rides along as
    * a min===max pair — if two distinct texts ever collided on
    * (xxhash64, length) the group would see two md5s and the query fails
    * loudly instead of silently merging documents. min/max instead of
    * `countDistinct` (r18): a single countDistinct makes Catalyst plan a
    * two-phase distinct aggregation — an extra corpus-sized pass keyed
    * by (h, len, md5) — while min===max detects a second distinct value
    * with two streaming map-side-combinable aggregates in the SAME pass.
    * The md5 partial-agg state is 2×32 bytes, so the guard still keeps
    * the shuffle body-free.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("__h"), length(col(textCol)).as("__len"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"),
        min(coalesce(md5(col(textCol)), lit("<null>"))).as("__dmin"),
        max(coalesce(md5(col(textCol)), lit("<null>"))).as("__dmax"))
      .filter(coalesce(assert_true(col("__dmin") === col("__dmax"),
        lit("exact-dedup collision: distinct texts share (xxhash64, length)")), lit(true)))
      .select(col("keep_id"), col("n_copies"))

  /** Deterministic MinHash signature: `numHashes` permutations simulated as
    * a splitmix64 mix of (murmur3(shingle), permutation index) — fixed
    * seeds, so the operator is reproducible run-to-run; classic MinHash
    * draws random a,b. Shingles are `shingleLen`-token word n-grams.
    *
    * Implemented as a per-partition Scala kernel rather than nested
    * higher-order functions: HOF lambdas are interpreted and re-evaluate
    * their captured subtrees per element, so the declarative form costs
    * O(shingles × hashes × bands) interpreted expression evals PER ROW
    * (~500 ms/row measured) — a plain loop is ~1000× faster. Still a pure
    * map: no shuffle, scales linearly with executors at 100 TB.
    *
    * Returns one row per doc with the signature and the LSH band hashes
    * (`numBands` bands of `numHashes/numBands` values).
    */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, numBands: Int = 8, shingleLen: Int = 3,
      carry: Seq[String] = Nil): DataFrame = {
    val rowsPerBand = numHashes / numBands
    val spark = docs.sparkSession
    import spark.implicits._

    @inline def signOne(text: String): (Array[Long], Array[Long]) = {
      val toks = if (text == null) Array.empty[String] else text.split(' ')
      val nShingles = math.max(toks.length - shingleLen + 1, 1)
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < nShingles) {
        val shingle = toks.slice(i, math.min(i + shingleLen, toks.length)).mkString(" ")
        val base = scala.util.hashing.MurmurHash3.stringHash(shingle).toLong
        var s = 0
        while (s < numHashes) {
          // splitmix64 of (base, seed): an independent-ish permutation family
          var h = base * 0x9E3779B97F4A7C15L + s * 0xC2B2AE3D27D4EB4FL
          h ^= (h >>> 30); h *= 0xBF58476D1CE4E5B9L
          h ^= (h >>> 27); h *= 0x94D049BB133111EBL
          h ^= (h >>> 31)
          if (h < sig(s)) sig(s) = h
          s += 1
        }
        i += 1
      }
      val bands = Array.tabulate(numBands) { b =>
        var h = 17L; var r = 0
        while (r < rowsPerBand) { h = h * 31 + sig(b * rowsPerBand + r); r += 1 }
        h
      }
      (sig, bands)
    }

    if (carry.isEmpty)
      docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val (sig, bands) = signOne(text)
            (id, sig, bands)
          }
        }
        .toDF("doc_id", "minhash", "bands")
    else {
      // carry mode (r13): pass metadata columns THROUGH the kernel 1:1
      // instead of joining them back onto the signatures afterwards — the
      // join was a full extra shuffle per ingest micro-batch, and a 1:1
      // map keeps arrival counts exact (no join drop/dup semantics).
      // 1:1 also means null doc_ids ride through (the old join dropped
      // them) — callers own the null-id policy; FuzzyIngest.ingestBatch
      // drops them at the door as degenerate (unretractable) rows.
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val in = docs.select(
        (Seq(col(idCol).cast("long").as("doc_id"), col(textCol)) ++
          carry.map(col)): _*)
      val outSchema = StructType(
        Array(StructField("doc_id", LongType),
          StructField("minhash", ArrayType(LongType, containsNull = false)),
          StructField("bands", ArrayType(LongType, containsNull = false))) ++
          in.schema.fields.drop(2))
      val nCarry = carry.length
      in.mapPartitions({ it =>
        it.map { r =>
          val (sig, bands) = signOne(r.getString(1))
          val out = new Array[Any](3 + nCarry)
          out(0) = r.get(0); out(1) = sig; out(2) = bands
          var i = 0
          while (i < nCarry) { out(3 + i) = r.get(2 + i); i += 1 }
          Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
        }
      })(org.apache.spark.sql.Encoders.row(outSchema))
    }
  }

  /** MinHash-LSH CANDIDATE pairs: docs sharing at least one band
    * bucket, unverified — the recall-bearing stage of the LSH pipeline,
    * exposed so the verdict-pattern oracles (late r12) can measure band
    * recall directly against [[shingleJaccardPairsGlobal]]'s exact pair
    * set without paying the verify join twice.
    *
    * Scale shape: explode to (band, bandHash) keys → shuffle groups only
    * bucket collisions (expected tiny vs n²) → pair within bucket →
    * distinct.
    */
  def minhashCandidatePairs(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, numBands: Int = 8): DataFrame = {
    val sigs = minhashSignatures(docs, textCol, idCol, numHashes, numBands)
    val buckets = sigs.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
    val a = buckets.as("a"); val b = buckets.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id")).distinct()
  }

  /** MinHash-LSH candidate pairs ([[minhashCandidatePairs]]), verified
    * with exact token-set Jaccard >= `threshold`. The verify join is by
    * doc id (hash join), not a cross product.
    */
  def minhashPairs(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, numHashes: Int = 32, numBands: Int = 8): DataFrame = {
    val cand = minhashCandidatePairs(docs, textCol, idCol, numHashes, numBands)
    val tokenSets = docs.select(col(idCol).as("doc_id"),
      array_distinct(split(col(textCol), " ")).as("tset"))
    cand
      .join(tokenSets.withColumnRenamed("doc_id", "a_id").withColumnRenamed("tset", "ta"), "a_id")
      .join(tokenSets.withColumnRenamed("doc_id", "b_id").withColumnRenamed("tset", "tb"), "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"),
        graft.functions.Rounding.roundTo(col("jaccard"), 4).as("jaccard"))
  }

  /** Connected components over near-dup pairs: every doc that appears in a
    * pair gets the minimum doc_id of its transitive cluster — the step
    * that turns pairwise similarity into actual keep/drop groups.
    *
    * Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", MR-friendly CC):
    * each round rewires every node's larger neighbors (large-star) then
    * its smaller neighbors (small-star) toward the local minimum, which
    * converges to per-component stars in O(log n) rounds — independent of
    * component DIAMETER, unlike min-label propagation whose round count a
    * long near-dup chain (A~B~C~...) can blow past any fixed cap. Each
    * half-round is one groupBy + one join on the edge set; edges only
    * move toward smaller ids, so the edge count never grows beyond the
    * deduped input.
    *
    * Convergence is detected (edge-set signature stable), and hitting
    * `maxIter` without it THROWS rather than silently returning partial
    * clusters. Lineage is truncated per round: `localCheckpoint` by
    * default (executor-memory; fine single-node), or a reliable
    * `checkpointDir` for cluster runs where losing an executor must not
    * kill the lineage.
    */
  /** Star rounds the most recent [[connectedComponents]] call took before
    * converging (0 = the input was already disjoint stars and the early
    * exit fired). Diagnostics only — read by `graft.Explain` and the spec
    * so the round count at a given SF is observable; not part of the
    * query contract.
    */
  @volatile var lastRounds: Int = -1

  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id", maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()

    // Canonicalize BEFORE the self-loop filter and checkpoint that: the
    // node set must include nodes appearing only as self-pairs (x, x) —
    // deriving nodes after the filter silently dropped them — and the
    // pair source (a similarity join) is evaluated exactly once.
    val canon = ckpt(pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct())
    val nodes = canon.select(col("u").as("id"))
      .union(canon.select(col("v").as("id"))).distinct()
    var edges = canon.filter(col("u") =!= col("v"))
    // Signature: (row count, decimal sum of a 64-bit edge hash, distinct
    // v count) — one cheap aggregate per round; a stable signature across
    // a round means a fixed point (stars reproduce themselves under both
    // phases).
    def sig(df: DataFrame): (Long, java.math.BigDecimal, Long) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        countDistinct(col("v"))).head()
      (r.getLong(0), r.getDecimal(1), r.getLong(2))
    }
    // Early exit when the edge set is ALREADY disjoint stars, instead of
    // paying one more full round to observe a stable signature. Stars ⟺
    // every v (leaf) appears in exactly one edge (count == distinct v,
    // free from the signature aggregate) AND no u (center) appears as a
    // leaf (a left-semi probe, run only when the cheap count test holds).
    // Both are required: v-uniqueness alone misses chains, u∩v=∅ alone
    // misses multi-center leaves like (1,3),(2,3).
    def isStar(df: DataFrame, s: (Long, java.math.BigDecimal, Long)): Boolean =
      s._1 == s._3 && df.select(col("u"))
        .join(df.select(col("v").as("u")), Seq("u"), "left_semi").isEmpty
    var prevSig = sig(edges)
    var converged = prevSig._1 == 0 || isStar(edges, prevSig)
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: every neighbor v > u re-points to m = min(N(u) ∪ {u})
      val nbrs = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      val mins = nbrs.groupBy(col("a"))
        .agg(min(col("b")).as("nmin"))
        .select(col("a"), least(col("a"), col("nmin")).as("m"))
      val large = nbrs.join(mins, "a").filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: direct edges large→small; every small neighbor and
      // the center re-point to the center's minimum neighbor
      val dir = large.select(greatest(col("u"), col("v")).as("a"),
        least(col("u"), col("v")).as("b"))
      val mins2 = dir.groupBy(col("a")).agg(min(col("b")).as("nmin"))
      val small = dir.join(mins2, "a")
        .select(col("b").as("u"), col("nmin").as("v"))
        .union(mins2.select(col("a").as("u"), col("nmin").as("v")))
        .filter(col("u") =!= col("v")).distinct()
      edges = ckpt(small.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v")))
      val newSig = sig(edges)
      converged = newSig == prevSig || newSig._1 == 0 || isStar(edges, newSig)
      prevSig = newSig
      iter += 1
    }
    lastRounds = iter
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds — " +
          "raise maxIter; returning partial clusters would mislabel documents")
    // Converged edges are stars (v, componentMin): label = min star
    // neighbor, or the node's own id for component minima.
    val starMin = edges.select(col("v").as("id2"), col("u").as("lab"))
      .union(edges.select(col("u").as("id2"), col("v").as("lab")))
      .groupBy(col("id2")).agg(min(col("lab")).as("lab"))
    nodes.join(starMin, nodes("id") === starMin("id2"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("lab"), col("id"))).as("cluster_id"))
  }

  /** Per-doc bucket-population summary of the MinHash LSH index (always
    * non-empty — used as the smoke surface; pair extraction above is the
    * real operator, exercised by unit tests with synthetic near-dups).
    */
  def minhashBucketStats(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val buckets = minhashSignatures(docs, textCol, idCol)
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
    val w = Window.partitionBy(col("band"), col("bh"))
    buckets.withColumn("mates", count(lit(1)).over(w) - 1)
      .groupBy(col("doc_id"))
      .agg(sum(col("mates")).as("bucket_mates"))
  }

  /** 64-bit SimHash from 64-bit token hashes: bit b of the fingerprint is
    * the sign of sum over distinct tokens of (+1 if bit b of hash64(token)
    * else -1). Near-identical texts differ in O(1) bits → hamming-ball
    * lookup.
    *
    * Per-partition kernel (same rationale as minhashSignatures): the
    * nested-HOF form costs 64 × |tokens| interpreted lambda evals per row
    * — measured at ~40 ms/row, 200+ s for a 5 k-doc scan — while this loop
    * is one digest per distinct token plus 64 integer adds. Pure map: no
    * shuffle, linear in executors at 100 TB.
    *
    * Token hash = the FIRST 8 md5 digest bytes, little-endian — exactly
    * DuckDB's `md5_number_upper(tok)` — and tokenization is
    * `split(text, ' ', -1)` = DuckDB `string_split`, so fingerprints are
    * engine-reproducible and `llm_dedup_simhash` is hash-oracled
    * (VERDICT r9 #5; the previous XXH64(seed 42) bit source had no DuckDB
    * twin and pinned the query rows-only forever). md5 costs ~2× XXH64
    * per token; both are dwarfed by the scan itself, and the hamming-pair
    * semantics are hash-agnostic (DedupSpec's planted-dup units).
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val counts = new Array[Int](64)
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          java.util.Arrays.fill(counts, 0)
          val toks =
            if (text == null) Array.empty[String] else text.split(" ", -1)
          val seen = new scala.collection.mutable.HashSet[String]
          var t = 0
          while (t < toks.length) {
            val s = toks(t)
            if (seen.add(s)) {
              val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              var h = 0L
              var i = 0
              while (i < 8) { h |= (d(i) & 0xffL) << (8 * i); i += 1 }
              var b = 0
              while (b < 64) {
                counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
                b += 1
              }
            }
            t += 1
          }
          var fp = 0L
          var b = 0
          while (b < 64) { if (counts(b) > 0) fp |= (1L << b); b += 1 }
          (id, fp)
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-dup candidates within hamming distance `maxDist`, found by
    * banding the 64-bit fingerprint into 4 16-bit chunks (pigeonhole: any
    * pair within distance 3 agrees on >= 1 chunk). Bucket-join, then exact
    * hamming verify via bit_count(xor).
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3): DataFrame = {
    val fps = simhash(docs, textCol, idCol)
    val chunks = fps.select(col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        i => call_function("shiftright", col("simhash"), i * 16)
          .bitwiseAND(0xFFFFL))).as(Seq("chunk", "ch")))
    val a = chunks.as("a"); val b = chunks.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.simhash").as("fa"), col("b.simhash").as("fb"))
      .distinct()
      .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))))
      .filter(col("hamming") <= maxDist)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Blocked word-n-gram Jaccard near-dup pairs, inverted-index style.
    *
    * Blocking key = (lang, source, n_chars bucket): near-duplicate docs have
    * near-equal length and identical metadata, so candidate generation is
    * per-block instead of all-pairs — the block predicate is what keeps the
    * pair count linear-ish as the corpus grows (100 TB posture; boundary
    * misses at bucket edges are an accepted recall trade, as in production
    * blocking systems).
    *
    * Per-pair work is driven to its floor: each doc's gram set is hashed
    * ONCE to a sorted xxhash64 array, and |A∩B| is a codegen'd merge scan
    * ([[graft.functions.SortedIntersectCount]]) — linear long compares, no
    * per-pair hash set, no allocation. Hash collisions inside a doc's
    * ~10²-gram set are ~1e-15 — deterministic and negligible.
    *
    * This all-pairs-within-block form is the SMALL-CORPUS / parity-twin
    * variant; the shipped scale path is [[ngramJaccardPairsIndexed]],
    * whose within-block candidates come from the exact prefix-filter
    * index. (A naive full-gram inverted index WAS benchmarked and
    * rejected earlier — hot grams explode its candidate join; the prefix
    * index joins only on each doc's RAREST grams, which is what makes it
    * viable.)
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, charBucket: Int,
      threshold: Double): DataFrame = {
    val blocked = gramSets(docs, n, charBucket)
    val a = blocked.as("a"); val b = blocked.as("b")
    val common = graft.functions.SortedIntersectCount(col("a.grams"), col("b.grams"))
    a.join(b, col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
        col("a.len_bkt") === col("b.len_bkt") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("common", common)
      .withColumn("jaccard",
        Jaccard.score(col("common"), size(col("a.grams")), size(col("b.grams"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        graft.functions.Rounding.roundTo(col("jaccard"), 4).as("jaccard"))
  }

  /** Containment near-dup pairs: `|A∩B| / min(|A|, |B|)` over word
    * `n`-gram sets — the ASYMMETRIC overlap measure that catches a
    * document (nearly) embedded inside a larger one, which Jaccard
    * structurally misses (a 50-gram doc fully contained in a 500-gram
    * doc has Jaccard ≤ 0.1 but containment 1.0). The quote/boilerplate/
    * subset-duplication detector of a curation pipeline.
    *
    * Blocking is (lang, source) WITHOUT the length bucket
    * [[ngramJaccardPairs]] uses — containment pairs have dissimilar
    * lengths BY DESIGN, so a length block would veto exactly the pairs
    * this operator exists to find. Per-pair work is the same codegen'd
    * sorted-merge intersect over once-hashed gram arrays.
    *
    * This all-pairs-within-block form is quadratic in block size — the
    * SMALL-CORPUS / parity-twin variant. The shipped scale path is
    * [[containmentPairsIndexed]]; this form exists as its ground-truth
    * twin for equivalence tests and for corpora small enough that
    * building the index costs more than the pairs.
    */
  def containmentPairs(docs: DataFrame, n: Int,
      threshold: Double): DataFrame = {
    val g = gramSets(docs, n, charBucket = 1).drop("len_bkt")
    val a = g.as("a"); val b = g.as("b")
    val common = graft.functions.SortedIntersectCount(col("a.grams"), col("b.grams"))
    a.join(b, col("a.lang") === col("b.lang") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("common", common)
      .withColumn("containment",
        Containment.score(col("common"), size(col("a.grams")), size(col("b.grams"))))
      .filter(col("containment") >= threshold)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        graft.functions.Rounding.roundTo(col("containment"), 4)
          .as("containment"))
  }

  /** [[containmentPairs]] through the prefix-filter join
    * ([[similarityJoin]]): same output contract, exact recall,
    * sub-quadratic candidates, no corpus self-join on the block key.
    * Blocked on (lang, source); the length filter stays off (the
    * measure exists for small-inside-large pairs).
    *
    * An alternative candidate path via a winnowing index was measured and
    * REJECTED for this operator: winnowing guarantees shared RUNS
    * (>= w+n−1 consecutive tokens), and 10 of 36 sf0.001 pairs have
    * purely scattered overlap — 28% recall loss vs this exact scheme.
    *
    * EAGER past ~32M postings (see [[similarityJoin]]).
    */
  def containmentPairsIndexed(docs: DataFrame, n: Int,
      threshold: Double,
      candPostsPerPass: Long = defaultSsjPostsPerPass,
      stageDir: Option[String] = None,
      pairsPerVerifyPass: Long = defaultSsjPairsPerPass): DataFrame =
    similarityJoin(gramSets(docs, n, charBucket = 1).drop("len_bkt"),
      Seq("lang", "source"), Containment, threshold, positional = false,
      candPostsPerPass, stageDir, pairsPerVerifyPass)

  /** [[ngramJaccardPairs]] through the prefix-filter join
    * ([[similarityJoin]]) — same output contract (including the (lang,
    * source, len_bkt) blocking the oracle twin declares), exact recall,
    * sub-quadratic within blocks. The length bucket stays PART OF THE
    * SEMANTICS (near-equal-length blocking is the operator's declared
    * recall trade); what changes is that within a block candidates come
    * from the inverted prefix index instead of an all-pairs join, so a
    * hot (lang, source, len_bkt) block no longer goes quadratic.
    *
    * EAGER past ~32M postings (see [[similarityJoin]]).
    */
  def ngramJaccardPairsIndexed(docs: DataFrame, n: Int, charBucket: Int,
      threshold: Double,
      candPostsPerPass: Long = defaultSsjPostsPerPass,
      stageDir: Option[String] = None,
      pairsPerVerifyPass: Long = defaultSsjPairsPerPass): DataFrame =
    similarityJoin(gramSets(docs, n, charBucket),
      Seq("lang", "source", "len_bkt"), Jaccard, threshold,
      positional = false, candPostsPerPass, stageDir, pairsPerVerifyPass)

  /** EXACT `n`-token-shingle Jaccard near-dup pairs over the WHOLE
    * corpus (no blocking) — the deterministic ground-truth twin of the
    * MinHash-LSH family. The shingle set is EXACTLY what
    * [[minhashSignatures]] sketches (distinct `n`-token shingles of the
    * `' '`-split tokens), so this is the quantity a minhash agreement
    * fraction ESTIMATES; what differs is candidate generation: instead
    * of LSH band buckets (hash-family-specific, recall < 1 by
    * construction) candidates come from [[similarityJoin]] with an
    * EMPTY block list — the Chaudhuri/Bayardo prefix-filter bound holds
    * corpus-wide, so the pair set is exactly
    * `{ (a,b) : J(shingles(a), shingles(b)) >= threshold }` with no
    * hash-family dependence (modulo the declared per-pair 64-bit
    * gram-collision bound — see [[Fnv64Offset]]).
    *
    * This is what lets the MinHash family graduate from rows-only to
    * hash-oracled (late r12, the IVF verdict pattern): the hashed surface of
    * `llm_dedup_fuzzy`/`_keep`/`_incremental` is built from THIS exact
    * pair set (DuckDB twin = brute-force `list_intersect` Jaccard at
    * oracle scale), while the LSH pipeline still runs in the same plan
    * and its recall against this set is pinned by a verdict column.
    *
    * Needs only `(doc_id, text)` on the input (unlike [[gramSets]], so
    * the streaming replay's constructed batches can use it); null-text
    * docs are dropped, mirroring the blocked family and the
    * `string_split(NULL)` twin. Positional (PPJoin) pruning is on: with
    * no block bound, candidates explode without it.
    *
    * EAGER past ~32M postings (see [[similarityJoin]]).
    */
  def shingleJaccardPairsGlobal(docs: DataFrame, n: Int,
      threshold: Double,
      candPostsPerPass: Long = defaultSsjPostsPerPass,
      stageDir: Option[String] = None,
      pairsPerVerifyPass: Long = defaultSsjPairsPerPass): DataFrame =
    similarityJoin(slimGramSets(docs, n), Seq.empty, Jaccard, threshold,
      positional = true, candPostsPerPass, stageDir, pairsPerVerifyPass)

  /** A set-similarity measure of the prefix-filter join: its output
    * column, its score over `(|A∩B|, |A|, |B|)`, whether the AllPairs
    * length filter applies, and the PPJoin overlap bound — the least
    * `|A∩B|` a pair of sizes `(szx, szy)`, szx ≤ szy, needs to reach τ.
    */
  private[graft] final case class Measure(name: String,
      lengthFilter: Boolean,
      score: (Column, Column, Column) => Column,
      minOverlap: (Column, Column, Double) => Column)

  /** |A∩B| / |A∪B|. Length filter on: with |A| ≤ |B|,
    * J ≤ |A|/|B|, so τ·|B| > |A| already implies J < τ. Overlap bound
    * o ≥ τ/(1+τ)·(|A|+|B|).
    */
  private[graft] val Jaccard = Measure("jaccard", lengthFilter = true,
    (c, a, b) => c.cast("double") / (a + b - c).cast("double"),
    (x, y, t) =>
      ceil((x + y).cast("double") * lit(t / (1.0 + t)) - lit(1e-9)))

  /** |A∩B| / min(|A|,|B|). Length filter OFF: the measure's whole point
    * is small-doc-inside-large-doc pairs at unbounded size ratio.
    * Overlap bound o ≥ τ·|A|.
    */
  private val Containment = Measure("containment", lengthFilter = false,
    (c, a, b) => c.cast("double") / least(a, b).cast("double"),
    (x, _, t) => ceil(x.cast("double") * lit(t) - lit(1e-9)))

  /** The exact prefix-filter set-similarity join behind every indexed
    * pair operator: `(a_id, b_id, <m.name>)` for each pair of docs in
    * `grams` (`doc_id`, `blockCols`, sorted distinct `grams`) that agree
    * on `blockCols` (null-rejecting `===`, matching the all-pairs twins)
    * and score `>= threshold` under `m`.
    *
    * Prefix filtering (the SSJoin / AllPairs / PPJoin family —
    * Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07): rank every doc's
    * grams in one GLOBAL canonical order (ascending document frequency,
    * ties by gram hash — rarest first). One overlap bound serves BOTH
    * measures at equal τ: for |A| ≤ |B|, containment ≥ τ gives
    * |A∩B| ≥ ⌈τ·|A|⌉ directly, and Jaccard ≥ τ gives
    * |A∩B| ≥ τ·|A∪B| ≥ τ·|B| ≥ τ·|A|. If none of the first
    * |A| − o + 1 grams of A (its "prefix") occurred in B, all shared
    * grams would sit in A's last o − 1 positions — fewer than o,
    * contradiction. So joining only PREFIX postings of the smaller side
    * against full postings of the larger side finds every qualifying
    * pair (candidates ⊇ results by theorem, not empirically).
    *
    * Why hot grams don't explode the candidate join: the join key is a
    * PREFIX gram — by construction among the rarest of its doc. A gram
    * with huge df lands in a prefix only when a doc consists almost
    * entirely of high-df grams (pure-boilerplate docs). Residual worst
    * case (a block of near-identical boilerplate docs) degrades toward
    * the true pair count — itself quadratic there, so the candidates are
    * output-bounded; AQE skew splitting handles the bucket
    * (AqeSkewJoinSpec pins the mechanism).
    *
    * df=1 pruning (r15): a unique gram can NEVER produce a candidate, so
    * only df >= 2 postings flow through the ranking window and the
    * candidate join ([[rankedPostings]] recovers the full-order prefix
    * cut exactly). Recall unchanged: a qualifying pair's shared prefix
    * gram has df >= 2 by definition. It is NOT a disk escape at 5M+ docs
    * on one box — the sf100 rehearsal corpus shares most shingles WITHIN
    * a copy, so df>=2 postings stay dominant there
    * (BENCH_decade3_r15.json).
    *
    * `positional` picks the lazy branch's y side. true (the GLOBAL
    * caller): y = the RANKED df>=2 frame, so the PPJoin filter can read
    * y's canonical-order position — the dominant win where candidates
    * explode (sf10 global SSJoin: 34.9M -> ~1M candidates, end-to-end
    * 59 s -> 37 s). false (the blocked callers): y = raw postings —
    * ranking y re-measured as a net LOSS inside small (lang, source[,
    * len_bkt]) blocks (llm_dedup_containment 1.7 -> 2.5 s,
    * llm_dedup_ngram 1.5 -> 1.9 s at sf0.1), where block bounds already
    * cap the blow-up. The sharded branch stages the ranked table ONCE and
    * reads it for both sides, so it always prunes positionally.
    *
    * Sizing: one cheap aggregate over the persisted gram frame
    * ([[totalPostings]]) picks the branch. At or below
    * `candPostsPerPass` postings (~32M by default: sf10 and below) the
    * returned plan is the lazy one-shuffle form. Above it the join runs
    * as [[shardedPairs]] — the form that survives 5M docs (125M
    * candidates) on one box — and is EAGER: the whole pipeline runs at
    * CALL time and the returned frame reads the staged result. Don't
    * construct these frames speculatively on large corpora.
    *
    * Float-safe overlap bound: o is computed as ⌈τ·sz − 1e-9⌉ — a hair
    * SMALLER never misses (longer prefix, more candidates), while a bare
    * ⌈τ·sz⌉ can round UP when τ·sz is mathematically integral but
    * carries float error (τ=0.2, sz=30 → 6.000000000000001 → 7), which
    * would shorten the prefix and silently drop exactly-at-threshold
    * pairs.
    */
  private def similarityJoin(grams: DataFrame, blockCols: Seq[String],
      m: Measure, threshold: Double, positional: Boolean,
      candPostsPerPass: Long, stageDir: Option[String],
      pairsPerVerifyPass: Long): DataFrame = {
    val g = persistGrams(grams)
    val (kProbe, kCand) = ssjShardCounts(totalPostings(g), candPostsPerPass)
    val posts = g.select(col("doc_id") +: blockCols.map(col) :+
      size(col("grams")).as("sz") :+ explode(col("grams")).as("gram"): _*)
    val dfreq = posts.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val posts2 = posts.join(dfreq.filter(col("df") >= 2), "gram")
    if (kCand <= 1) {
      val ranked = rankedPostings(posts2, blockCols, threshold)
      val y = if (positional) ranked.drop("in_prefix") else posts
      verifyPairs(candidateJoin(ranked, y, blockCols, m, threshold, positional),
        g, m, threshold)
    } else
      shardedPairs(g, posts2, blockCols, m, threshold, kProbe, kCand,
        stageDir, pairsPerVerifyPass)
  }

  /** Persist the gram frame a [[similarityJoin]] consumes.
    *
    * The join references the gram frame ~5 times (df branch,
    * full-postings side, prefix-probe side, and both verify join legs),
    * and each reference is an independent subtree whose exchange
    * differs — ReuseExchange cannot collapse them, so without a persist
    * the tokenize+hash+sort kernel re-scans the whole corpus per
    * reference (~3 extra full-corpus passes at 100 TB). MEMORY_AND_DISK
    * computes it once and spills corpus-sized gram arrays to local disk.
    * Lifetime: the operator returns a LAZY frame, so it cannot unpersist
    * before the caller's action — instead the multi-query drivers
    * (Verify/Bench/JudgeSmoke) call `spark.catalog.clearCache()` after
    * each query (ADVICE r9), making the lifetime one-query-deterministic;
    * a library user embedding these operators owns the same call.
    */
  private def persistGrams(g: DataFrame): DataFrame =
    g.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Total posting count of a gram frame — the number every auto-shard
    * decision keys on. One cheap aggregate; the callers persist `g` and
    * force it downstream anyway.
    */
  private def totalPostings(g: DataFrame): Long =
    // Measured r20: do NOT skip this below the shard threshold (an
    // input-size-derived decision looked like one job saved) — the agg
    // doubles as the cache WARM-UP for `g`, whose verify join scans it
    // twice in one job; skipping it re-ran the gram kernel per scan and
    // read 10-14% SLOWER on every lazy-branch row (fuzzy 2.80 -> 3.18 s,
    // fuzzy_keep 3.80 -> 4.34, containment 1.67 -> 1.83; anchor flat).
    Option(g.agg(sum(size(col("grams")))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

  /** The candidate join both [[similarityJoin]] branches run: the
    * `in_prefix` rows of `ranked` (x) against `y` on a shared gram,
    * distinct `(a_id, b_id)` out with a_id < b_id.
    *
    * The size order `x.sz < y.sz` (ties by doc id) makes x the smaller
    * side, so only ITS prefix needs probing. AllPairs length filter
    * (`m.lengthFilter`, Jaccard only): τ·|B| > |A| rules the pair out,
    * recall-preserving, with the boundary kept by the same 1e-9 guard as
    * the prefix bound (τ·|B| = |A| exactly CAN qualify: A ⊆ B).
    *
    * PPJoin positional filter (`positional`, Xiao, Wang, Lin, Yu —
    * WWW'08; needs `pos` on y): at a candidate match on a gram at
    * canonical positions (px, py), overlap can be at most
    * `1 + min(szx - px, szy - py)` — everything else must sit in the two
    * suffixes — so prune when that ceiling is below `m.minOverlap`.
    * Recall is EXACT: both gram arrays sort in the same global (df, gram)
    * order, so a qualifying pair's FIRST shared gram has no shared grams
    * before it on either side — its match row satisfies the ceiling, and
    * that gram is df>=2 and inside x's prefix, so the row exists. The
    * effect is candidate-set collapse BEFORE the verify join (the r15
    * verify carried gram arrays for 34.9M sf10 candidates to find 25.6k
    * true pairs).
    */
  private def candidateJoin(ranked: DataFrame, y: DataFrame,
      blockCols: Seq[String], m: Measure, threshold: Double,
      positional: Boolean): DataFrame = {
    val x = ranked.filter(col("in_prefix")).drop("in_prefix").as("x")
    val blockCond = blockCols.map(c => col(s"x.$c") === col(s"y.$c"))
      .foldLeft(lit(true))(_ && _)
    val lenCond =
      if (m.lengthFilter)
        col("y.sz").cast("double") * lit(threshold) <=
          col("x.sz").cast("double") + lit(1e-9)
      else lit(true)
    val posCond =
      if (positional)
        (lit(1) + least(col("x.sz") - col("x.pos"),
          col("y.sz") - col("y.pos"))).cast("long") >=
          m.minOverlap(col("x.sz"), col("y.sz"), threshold)
      else lit(true)
    x.join(y.as("y"), col("x.gram") === col("y.gram") && blockCond &&
        lenCond && posCond &&
        (col("x.sz") < col("y.sz") ||
          (col("x.sz") === col("y.sz") && col("x.doc_id") =!= col("y.doc_id"))))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
      .distinct()
  }

  /** The canonical-order ranking pass shared by the lazy and sharded
    * branches: rank each doc's df>=2 grams rarest-first, recover each
    * gram's position in the doc's FULL canonical order
    * (`pos = sz - n2 + rk` — the doc's `sz - n2` df=1 grams sort
    * strictly first), and mark the prefix rows
    * (`rk <= n2 - ceil(tau*sz) + 1`, the df=1-pruned form of the
    * Chaudhuri/Bayardo bound — sz, not n2, inside the ceil: the prefix
    * LENGTH is defined over the full gram set).
    */
  private def rankedPostings(posts2: DataFrame, blockCols: Seq[String],
      threshold: Double): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gram"))
    val wDoc = Window.partitionBy(col("doc_id"))
    posts2
      .withColumn("rk", row_number().over(w))
      .withColumn("n2", count(lit(1)).over(wDoc))
      .withColumn("pos", col("sz") - col("n2") + col("rk"))
      .withColumn("in_prefix", col("rk") <=
        col("n2") - greatest(lit(1),
          ceil(col("sz") * lit(threshold) - lit(1e-9)).cast("int")) + 1)
      .select(col("doc_id") +: blockCols.map(col) :+ col("sz") :+
        col("gram") :+ col("pos") :+ col("in_prefix"): _*)
  }

  /** Pass counts for the disk-bounded sharded SSJoin (r16, VERDICT item
    * 1). The third decade found the exact global SSJoin's wall: at 5M
    * docs (~260M postings) the candidate join's OUTPUT spill — the
    * pre-distinct pair multiset, inflated by within-copy shingle sharing
    * — exceeds a single box's ~50-60 GB free disk in ONE shuffle.
    * Sharding the candidate join by gram-hash range into kCand
    * SEQUENTIAL passes bounds peak spill at ~1/kCand: a matching gram
    * lives in exactly one shard, so the join input AND its output
    * multiset split with it. The probe (window) stage is postings-bound,
    * not output-bound, so it shards at a coarser kProbe by doc-hash
    * range (the rank window partitions by doc_id — every pass computes
    * its docs' ranks EXACTLY). Caps at 256 passes as a runaway bound (at
    * that point the corpus belongs on a cluster, where per-executor disk
    * scales out and passes can drop back to 1).
    */
  private[graft] def ssjShardCounts(totalPostings: Long,
      candPostsPerPass: Long): (Int, Int) = {
    require(candPostsPerPass >= 1, s"candPostsPerPass must be >= 1")
    def passes(per: Long): Int =
      math.min(256L, math.max(1L,
        (totalPostings + per - 1) / per)).toInt
    // probe passes are postings-bound (no output blow-up): 8x coarser
    (passes(candPostsPerPass * 8), passes(candPostsPerPass))
  }

  /** Default candidate-pass size: one pass per ~32M postings — ABOVE the
    * sf10 scale that completed comfortably unsharded (26M postings), so
    * that whole decade keeps the bit-identical lazy plan; sf0.1 and below
    * stay at 1 pass, sf100 lands ~9 passes of ~29M postings each (≈ the
    * proven-comfortable per-pass volume). The previous 20M default put
    * sf10 itself at kCand = 2, which on the EAGER indexed operators
    * (containment/ngram) executed the full staged pipeline at call time
    * for a decade that never needed sharding (VERDICT r17 item 7 / r18
    * item 4). Scale rehearsals pass `candPostsPerPass` per call.
    */
  private[graft] final val defaultSsjPostsPerPass = 32000000L

  /** Default verify-pass size: ~20M candidate PAIRS per pass. The r16
    * sf100 attribution run found the sharded SSJoin's remaining wall is
    * not candidate generation (14 passes at ~11-18 s each, stage disk
    * flat) but VERIFICATION: the exact-Jaccard join hangs both docs'
    * full gram arrays (~700 B/pair at this corpus's ~44 grams/doc) on
    * every candidate, and at 125M within-copy candidates that is an
    * ~80 GB two-join shuffle — the stage that took a 252 GB box from
    * 39 GB free to ENOSPC while every earlier stage stayed bounded.
    */
  private[graft] final val defaultSsjPairsPerPass = 20000000L

  /** Sequential verify passes for the sharded branch:
    * ceil(candidates / pairsPerPass), same 256-pass runaway cap as
    * [[ssjShardCounts]].
    */
  private[graft] def ssjVerifyPasses(nCand: Long, pairsPerPass: Long): Int = {
    require(pairsPerPass >= 1, s"pairsPerPass must be >= 1")
    math.min(256L, math.max(1L, (nCand + pairsPerPass - 1) / pairsPerPass)).toInt
  }

  /** Operator-owned stage directories: one fresh [[graft.util.Scratch]]
    * name per sharded call, so two joins running at once (`Par` legs)
    * never share one.
    */
  private val ssjRuns = new java.util.concurrent.atomic.AtomicLong

  /** [[similarityJoin]]'s lazy branch re-expressed as disk-bounded
    * sequential passes with parquet stage boundaries — the 100 TB form
    * of the exact SSJoin when the corpus outgrows what one shuffle can
    * spill (VERDICT r15 item 1; the checkpointed-TABLE stage contract,
    * not an executor cache). EAGER: the whole pipeline runs at call time.
    *
    *  - Stage A: `posts2` (df>=2 postings, df computed ONCE globally — a
    *    gram's postings all hash to one shard, so df is exact per shard).
    *  - Stage B, kProbe doc-hash passes: the [[rankedPostings]] window
    *    (it partitions by doc_id, so every pass computes its docs' full
    *    ranks), written as ONE ranked table serving both candidate-join
    *    sides.
    *  - Stage C, kCand gram-hash passes: [[candidateJoin]] per gram shard.
    *    Every qualifying pair shares >= 1 probe-prefix gram, whose pass
    *    emits it; the cross-pass `.distinct()` is materialized ONCE as
    *    `candd` (each verify pass then filter-scans the slim pair table).
    *  - Verify, kVer pair-hash passes against a parquet copy of the gram
    *    frame: per pass only 1/kVer of the pairs hangs gram arrays in a
    *    shuffle (the r16 sf100 ENOSPC stage); pmod partitions the
    *    distinct pair set, so each pair is verified once, by the same
    *    [[verifyPairs]].
    *
    * Output identity with the lazy form is spec-pinned in
    * `SsjShardSpec`. Peak disk per pass is ~1/K of the one-shuffle form:
    * shuffle files of a finished pass are released by the ContextCleaner
    * (`System.gc()` after each write enqueues them — cleanup is async, so
    * worst-case overlap is ~2 passes).
    *
    * Stage tables go to `stageDir` when given — kept as the auditable,
    * restartable contract — else to a fresh scratch dir whose
    * intermediates are dropped before returning (a multi-query session
    * would otherwise accumulate a stage-table set per call, ~tens of GB
    * each at 5M docs); only the `pairs` table it reads stays.
    */
  private def shardedPairs(g: DataFrame, posts2: DataFrame,
      blockCols: Seq[String], m: Measure, threshold: Double,
      kProbe: Int, kCand: Int, stageDir: Option[String],
      pairsPerVerifyPass: Long): DataFrame = {
    val spark = g.sparkSession
    val dir = stageDir.getOrElse(
      graft.util.Scratch.fresh(s"ssj_${ssjRuns.incrementAndGet()}"))
    def stage(table: String, df: DataFrame, append: Boolean = false): Unit = {
      df.write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/$table")
      System.gc()
    }
    def read(table: String): DataFrame = spark.read.parquet(s"$dir/$table")
    stage("posts2", posts2)
    val staged = read("posts2")
    for (i <- 0 until kProbe)
      stage("ranked", rankedPostings(
        staged.filter(pmod(xxhash64(col("doc_id")), lit(kProbe)) === i),
        blockCols, threshold), append = i > 0)
    val ranked = read("ranked")
    for (j <- 0 until kCand) {
      val shard = ranked.filter(pmod(xxhash64(col("gram")), lit(kCand)) === j)
      stage("cand", candidateJoin(shard, shard.drop("in_prefix"), blockCols,
        m, threshold, positional = true), append = j > 0)
    }
    stage("candd", read("cand").distinct())
    stage("grams", g.select(col("doc_id"), col("grams")))
    // nothing downstream reads the cached gram frame (verify scans the
    // parquet copy) — release its corpus-sized MEMORY_AND_DISK spill
    // now, not after kVer more passes; that disk IS the headroom the
    // sharding exists to protect
    g.unpersist()
    val candD = read("candd")
    val gp = read("grams")
    val kVer = ssjVerifyPasses(candD.count(), pairsPerVerifyPass)
    for (v <- 0 until kVer)
      stage("pairs", verifyPairs(candD.filter(
          pmod(xxhash64(col("a_id"), col("b_id")), lit(kVer)) === v),
        gp, m, threshold), append = v > 0)
    if (stageDir.isEmpty)
      Seq("posts2", "ranked", "cand", "candd", "grams")
        .foreach(t => graft.util.Scratch.delete(s"$dir/$t"))
    read("pairs")
  }

  /** The one exact verify: candidate pairs `(a_id, b_id)` joined to
    * both docs' sorted gram arrays in `grams` (`doc_id`, `grams`),
    * |A∩B| by the codegen'd sorted-merge intersect, `m`'s score kept
    * when `>= threshold` (unrounded), and `(a_id, b_id, <m.name>)` out
    * with the score rounded to 4 places. Both [[similarityJoin]]
    * branches run it, and so does `llm_dedup_fuzzy_keep`'s token-set
    * gate — columns and types are what the oracle hashes.
    */
  private[graft] def verifyPairs(cand: DataFrame, grams: DataFrame,
      m: Measure, threshold: Double): DataFrame = {
    val common = graft.functions.SortedIntersectCount(col("a.grams"), col("b.grams"))
    cand
      .join(grams.as("a"), col("a_id") === col("a.doc_id"))
      .join(grams.as("b"), col("b_id") === col("b.doc_id"))
      .withColumn("common", common)
      .withColumn(m.name,
        m.score(col("common"), size(col("a.grams")), size(col("b.grams"))))
      .filter(col(m.name) >= threshold)
      .select(col("a_id"), col("b_id"),
        graft.functions.Rounding.roundTo(col(m.name), 4).as(m.name))
  }

  /** [[gramSets]] for inputs that carry only `(doc_id, text)` — same
    * kernel, same tokenization (`split(" ", -1)`), same null-text drop;
    * no lang/source/len_bkt block columns (global pairing only).
    * `private[graft]`: the fuzzy_keep verdict gate reuses it at n = 1
    * (token sets) so its Jaccard check rides the compiled sorted-merge
    * intersect instead of interpreted array HOFs.
    */
  private[graft] def slimGramSets(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) => (id, gramSet(text, n, Fnv64Offset)) }
      }
      .toDF("doc_id", "grams")
  }

  /** Gram-set extraction shared by [[ngramJaccardPairs]] and
    * [[containmentPairs]] and their indexed forms, as a per-partition
    * kernel (same rationale as minhashSignatures): the declarative form
    * re-evaluates split(text) inside the transform lambda — interpreted,
    * one array alloc per gram — while [[gramSet]] splits once and writes
    * straight into a long[]. Output: one row per doc with its sorted
    * DISTINCT gram hashes and the `n_chars/charBucket` length-bucket
    * blocking key (pass charBucket = 1 to make the bucket a passthrough
    * the caller ignores).
    *
    * Tokenization parity with the DuckDB twins: `split(" ", -1)` keeps
    * trailing empty tokens exactly like `string_split` (a bare
    * `split(' ')` drops them, silently changing gram COUNTS for
    * trailing-space texts), and null-text docs are dropped entirely —
    * `string_split(NULL)` makes the twin's gram list NULL, which every
    * downstream predicate rejects; emitting a sentinel gram here instead
    * would pair two degenerate docs at containment 1.0 that the oracle
    * never sees.
    */
  private[operators] def gramSets(docs: DataFrame, n: Int, charBucket: Int,
      fnvOffset: Long = Fnv64Offset): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("lang"),
        col("source"), col("n_chars").cast("long"), col("text"))
      .as[(Long, String, String, Long, String)]
      .mapPartitions { it =>
        it.map { case (id, lang, source, nChars, text) =>
          (id, lang, source, nChars / charBucket, gramSet(text, n, fnvOffset))
        }
      }
      .toDF("doc_id", "lang", "source", "len_bkt", "grams")
  }

  /** The sorted DISTINCT `n`-gram hashes of one text (`split(" ", -1)`
    * tokens) — the one kernel behind both gram frames.
    */
  private def gramSet(text: String, n: Int, fnvOffset: Long): Array[Long] = {
    val hs = gramHashes(text.split(" ", -1), n, fnvOffset)
    java.util.Arrays.sort(hs)
    var w = 0; var r = 0
    while (r < hs.length) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(hs, w)
  }

  /** FNV-1a 64 offset basis — the production gram-hash family.
    * [[gramSets]] accepts an alternate basis so the collision-guard spec
    * can run the same query under two INDEPENDENT hash families and
    * assert identical pair sets: any 64-bit collision that perturbed a
    * count would have to occur in both families on the same gram pair
    * (~p² ≈ 1e-26 per pair) to escape the check.
    *
    * Why no runtime dual-hash guard (the EXPLAINS-recorded bound): a
    * collision only matters WITHIN one candidate pair's gram union —
    * corpus-wide gram cardinality is irrelevant. With ~10³ grams per
    * document, P(collision in a pair) ≈ (2·10³)²/2⁶⁴ ≈ 2·10⁻¹³; at
    * 10¹² verified candidate pairs (a generous 100 TB run) the expected
    * number of perturbed pairs is ~0.2 CORPUS-WIDE, each shifting one
    * intersect count by 1 (a ~1/|grams| change in one pair's score).
    * Doubling every pair's merge-scan cost to guard against a fifth of
    * an event per full-corpus run is the wrong trade; the dual-family
    * spec keeps the machinery honest instead.
    */
  private[operators] final val Fnv64Offset = 0xCBF29CE484222325L
  /** Alternate FNV-style offset basis (decimal digits of e) for the
    * dual-family collision-guard spec. Same prime, different basis —
    * equivalent to seeding the chain differently, so families disagree
    * on every input by construction.
    */
  private[operators] final val Fnv64AltOffset = 0x2B7E151628AED2A6L

  /** Positional FNV-1a 64 hashes of the n-token grams of `toks`, which
    * [[gramSet]] sorts and dedups. Hashes the gram's tokens joined
    * by ' ' without materializing the string. A doc shorter than `n`
    * tokens yields ONE gram (the whole doc), mirroring the DuckDB twins'
    * clamped slice.
    */
  private def gramHashes(toks: Array[String], n: Int,
      fnvOffset: Long): Array[Long] = {
    val nSh = math.max(toks.length - n + 1, 1)
    val hs = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      var h = fnvOffset
      var j = i
      val end = math.min(i + n, toks.length)
      while (j < end) {
        val s = toks(j)
        var k = 0
        while (k < s.length) { h ^= s.charAt(k); h *= 0x100000001B3L; k += 1 }
        if (j < end - 1) { h ^= ' '; h *= 0x100000001B3L }
        j += 1
      }
      hs(i) = h
      i += 1
    }
    hs
  }

  /** Chunk-level (C4/RefinedWeb-style "line dedup") duplicate statistics:
    * each doc is cut into consecutive `chunkTokens`-token chunks (last
    * chunk may be short) and a chunk counts as duplicated when the same
    * chunk text occurs anywhere else in the corpus. Output per doc:
    * chunk count, duplicated-chunk count, duplicated fraction (1e-4
    * floor-rounded for cross-engine hash parity).
    *
    * Scale shape: chunking is a pure-map kernel (no shuffle); the global
    * multiplicity is ONE window shuffle keyed on
    * `(xxhash64(chunk), length(chunk))` — 16 bytes/row, never the chunk
    * body (same rationale as [[exact]]) — with the same md5
    * collision-guard riding the identical partition key (no extra
    * exchange; a silent hash collision fails loudly instead of inflating
    * a doc's dup count). The per-doc rollup is a second small shuffle on
    * doc_id. No pairwise compare, no driver collection.
    */
  def chunkDupStats(docs: DataFrame, chunkTokens: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // null AND empty text have no chunks (the twin filters
        // length(text) > 0; a bare "" would otherwise chunk to [""])
        if (text == null || text.isEmpty) Iterator.empty
        // split limit -1: keep trailing empty tokens — Java's split(" ")
        // drops them while the DuckDB twin's string_split keeps them (the
        // same cross-engine hazard repetitionRatio documents)
        else text.split(" ", -1).grouped(chunkTokens).map(g => (id, g.mkString(" ")))
      }
      .toDF("doc_id", "chunk")
      .withColumn("__h", xxhash64(col("chunk")))
      .withColumn("__len", length(col("chunk")))
    val w = Window.partitionBy(col("__h"), col("__len"))
    chunks
      .withColumn("mult", count(lit(1)).over(w))
      // min===max over the window detects a second distinct digest with
      // two streaming aggregates instead of a per-group SET buffer (r18:
      // collect_set held every distinct md5 in memory per group across a
      // corpus-sized window — same shuffle, strictly less state)
      .withColumn("__dmin", min(md5(col("chunk").cast("binary"))).over(w))
      .withColumn("__dmax", max(md5(col("chunk").cast("binary"))).over(w))
      .filter(coalesce(assert_true(col("__dmin") === col("__dmax"),
        lit("chunk-dedup collision: distinct chunks share (xxhash64, length)")),
        lit(true)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        count(when(col("mult") > 1, 1)).cast("int").as("n_dup_chunks"),
        (floor(count(when(col("mult") > 1, 1)) * 10000.0 / count(lit(1)) + 0.5)
          / 10000.0).as("dup_ratio"))
  }

  /** Duplicated-substring coverage (the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" signal, at k-gram
    * granularity): per doc, the fraction of its token POSITIONS covered
    * by some `k`-token run that occurs anywhere else in the corpus
    * (other docs or a repeat within the same doc). Exact dups read 1.0;
    * a doc quoting one boilerplate paragraph reads the paragraph's share
    * of its length — the span-level evidence a curation run needs to cut
    * duplicated SPANS rather than whole documents, which doc-level
    * signatures (exact/minhash/simhash) cannot see.
    *
    * Scale shape, all linear: a per-partition kernel emits (doc, pos,
    * gram) rows; global multiplicity is ONE window shuffle keyed on
    * `(xxhash64(gram), length(gram))` — 16 bytes/row, never the gram
    * body, with the same same-key md5 collision guard as [[exact]] /
    * [[chunkDupStats]] (no extra exchange); duplicated grams explode to
    * their ≤ k covered positions (bounded fan-out), one per-doc distinct
    * count, one join back to per-doc token counts. No pairwise compare
    * anywhere — a full suffix-array dedup finds arbitrary-length runs,
    * but its O(corpus) sort index is this pipeline's k-gram approximation
    * with the window multiplicity as the poor-man's suffix count.
    *
    * Docs shorter than `k` tokens have no grams → coverage 0 (row kept);
    * null-text docs are excluded (string_split(NULL) parity — see
    * [[gramSets]]).
    */
  def substringDupCoverage(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("text"))
    val grams = toks.as[(Long, String)]
      .flatMap { case (id, text) =>
        // split limit -1: trailing-empty-token parity with string_split
        val ts = text.split(" ", -1)
        (0 to ts.length - k).iterator.map(i =>
          (id, i, ts.slice(i, i + k).mkString(" ")))
      }
      .toDF("doc_id", "pos", "gram")
      .withColumn("__h", xxhash64(col("gram")))
      .withColumn("__len", length(col("gram")))
    val w = Window.partitionBy(col("__h"), col("__len"))
    val cov = grams
      .withColumn("mult", count(lit(1)).over(w))
      // min===max instead of collect_set: same collision guard, two
      // streaming window aggregates, no per-group set buffer (r18 — this
      // window is the operator's one corpus-sized shuffle)
      .withColumn("__dmin", min(md5(col("gram").cast("binary"))).over(w))
      .withColumn("__dmax", max(md5(col("gram").cast("binary"))).over(w))
      .filter(coalesce(assert_true(col("__dmin") === col("__dmax"),
        lit("substring-dedup collision: distinct grams share (xxhash64, length)")),
        lit(true)))
      .filter(col("mult") > 1)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("p")).as("n_cov"))
    toks.withColumn("n_tokens", size(split(col("text"), " ", -1)).cast("long"))
      .select(col("doc_id"), col("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_cov"), lit(0L)).as("n_cov"),
        (floor(coalesce(col("n_cov"), lit(0L)) * 10000.0 / col("n_tokens") + 0.5)
          / 10000.0).as("cov_ratio"))
  }

  /** Benchmark decontamination: flag corpus docs sharing any `gramLen`-token
    * word n-gram with a probe ("benchmark / eval") set, here the docs with
    * `doc_id < probeMaxId`. Returns one row per contaminated doc with its
    * distinct-hit-gram and total-hit counts — the per-doc evidence a
    * pipeline needs to drop or audit contaminated training examples.
    *
    * Scale shape: gram building is a pure-map kernel. The probe gram set
    * is small by construction (an eval suite, not the corpus), so the
    * membership test is a BROADCAST hash join — the 100 TB corpus side
    * never shuffles for the probe test; only the surviving hit rows (a
    * tiny fraction) shuffle for the per-doc rollup. Docs shorter than
    * `gramLen` tokens yield no grams (mirrors the SQL twin's empty
    * generate_series range).
    */
  def contaminationHits(docs: DataFrame, probeMaxId: Long,
      gramLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Filter BEFORE the gram kernel on both legs: a mapPartitions kernel is
    // opaque to Catalyst, so a post-kernel filter would make the probe leg
    // re-gram the ENTIRE corpus; pre-filtering keeps the doc_id predicate
    // at the scan (PushedFilters) and the probe leg reads ~nothing.
    def gramsOf(side: DataFrame): DataFrame =
      side.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          // split limit -1: match the twin's string_split (trailing empties)
          else text.split(" ", -1).iterator.sliding(gramLen).withPartial(false)
            .map(g => (id, g.mkString(" ")))
        }
        .toDF("doc_id", "gram")
    val probe = gramsOf(docs.filter(col("doc_id") < probeMaxId))
      .select(col("gram")).distinct()
    gramsOf(docs.filter(col("doc_id") >= probeMaxId))
      .join(broadcast(probe), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).cast("int").as("n_hit_grams"),
        count(lit(1)).cast("int").as("n_hits"))
  }
}
