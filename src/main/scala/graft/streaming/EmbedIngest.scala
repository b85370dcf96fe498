package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFns.dot

/** Incremental SEMANTIC (embedding-cosine) corpus ingestion — the third
  * member of the persistent-dedup family beside [[CorpusIngest]] (exact
  * digests) and [[FuzzyIngest]] (MinHash over text shingles), covering
  * the case neither can see: a paraphrase or re-encode whose TEXT is
  * new but whose embedding sits within `simThreshold` cosine of
  * something already ingested (the SemDeDup setting).
  *
  * LSH design: each vector gets a 64-bit SIGN fingerprint — bit i is
  * the sign of ⟨v, r_i⟩ against 64 deterministic Rademacher hyperplanes
  * (entries ±1 from a splitmix64 mix of (plane, dim); fixed seeds, so
  * the index is reproducible run-to-run) — banded into 4 × 16-bit
  * chunks. By pigeonhole, any two fingerprints within hamming distance
  * 3 share at least one chunk EXACTLY (the simhashPairs recall
  * contract), and sign bits flip with probability θ/π, so near-dup
  * vectors (cosine ≥ 0.99 ⇒ θ ≤ 8°, expected hamming ≈ 64·0.045 < 3)
  * are caught with near-certainty; a POSITIVE rescale of a vector
  * changes NO sign, so re-encodes land in identical buckets by
  * construction. Candidates are verified with the EXACT cosine (the
  * same codegen dot/norm expression the similarity family hash-matches
  * against DuckDB), so suppression is exact-on-candidates: the only
  * approximation is band recall.
  *
  * Storage (r14, VERDICT r13 #1): state is ONE table under
  * `indexDir/idx`, PARTITIONED BY (batch, kind) and CLUSTERED BY vec_id
  * — `kind='v'` rows carry (vec_id, label, embedding, nrm, fp,
  * first_batch), `kind='b'` rows the (band, bh, vec_id) postings (their
  * wide columns are null; parquet all-null chunks cost bytes of
  * metadata). A micro-batch therefore pays ONE bucketed insert instead
  * of the r13 layout's two table writes (measured ~0.7 s/batch of the
  * per-batch constant), and kind-level partition pruning keeps the two
  * access paths as separate file sets, so a probe never reads embedding
  * bytes and a verify never reads postings. The probe joins the batch's
  * ~4·|batch| band keys against the `kind='b'` slice with the batch
  * side BROADCAST (micro-batches are bounded by contract; the r13
  * layout's (band,bh) bucket locality bought the same no-index-exchange
  * property at the cost of the second write), and the candidate verify
  * joins bucket-locally on the table's own vec_id clustering: per-batch
  * cost O(batch + candidates), never O(corpus). Replay idempotence:
  * static-prefix partition overwrite of `batch=<id>` (both kinds in one
  * atomic job commit — the r13 vecs-before-bands crash-window ordering
  * is gone by construction) plus self-exclusion in the probe. Writer
  * lease as in the twins.
  *
  * Full family parity: the per-bucket band BLOOM sidecar (FP-only,
  * bloom-ahead, per-bucket saturation — shared [[BloomSidecar]]
  * machinery; an all-miss batch never opens the band slice) and the
  * lifecycle verbs [[compact]] (intent marker + roll-forward),
  * [[retract]], [[expire]], [[merge]] with the twins' crash contracts —
  * each verb now rewrites ONE partition pair per touched batch instead
  * of two tables. Zero-norm, non-finite (NaN/±Inf element), or
  * null/empty embeddings are dropped at ingest (a NaN cosine can
  * neither suppress nor be suppressed — dropping beats carrying rows
  * no probe can ever match).
  */
object EmbedIngest {

  val IndexBuckets = 16
  val NumPlanes = 64
  val NumBands = 4
  val BitsPerBand = 16

  /** The single index table (both row kinds; see object doc). */
  def idxTable(s: SparkSession, indexDir: String): String =
    "graft_embed_idx_" + IngestPaths.digest(s, indexDir)

  private def idxPath(indexDir: String) = s"$indexDir/idx"

  /** Vector rows (`kind='v'`) — the r13 `vecs` table's contract:
    * (vec_id, label, embedding, nrm, fp, first_batch, batch).
    */
  def vecs(s: SparkSession, indexDir: String): DataFrame =
    s.table(idxTable(s, indexDir)).filter(col("kind") === "v")
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
        col("fp"), col("first_batch"), col("batch"))

  /** Band-posting rows (`kind='b'`) — the r13 `bands` table's contract:
    * (band, bh, vec_id, batch).
    */
  def bands(s: SparkSession, indexDir: String): DataFrame =
    s.table(idxTable(s, indexDir)).filter(col("kind") === "b")
      .select(col("band"), col("bh"), col("vec_id"), col("batch"))

  private def fsOf(s: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private def stageView(s: SparkSession, indexDir: String): String =
    "graft_embed_stage_" + IngestPaths.digest(s, indexDir)

  // ---------------------------------------------------------------------
  // Per-bucket bloom pre-filter over the band postings — the FuzzyIngest
  // design ported verbatim (shared machinery: BloomSidecar; same FP-only
  // / bloom-ahead / replay / per-bucket-saturation contracts): bands the
  // sketch rules out are DEFINITELY candidate-free, and an all-miss
  // batch never opens the band slice.
  // ---------------------------------------------------------------------

  private def bloomDir(indexDir: String) = s"$indexDir/bands_bloom"
  private def bandBucket: org.apache.spark.sql.Column =
    pmod(hash(col("band"), col("bh")), lit(IndexBuckets)).cast("int")
  private def bandKey: org.apache.spark.sql.Column =
    xxhash64(col("band"), col("bh"))
  private def bloomKeyed(bands: DataFrame): DataFrame =
    bands.select(bandBucket.as("__b"), bandKey.as("__k"))
  private def defaultCapacity(s: SparkSession): Long =
    s.conf.getOption(CorpusIngest.CapacityConf).map(_.toLong)
      .getOrElse(CorpusIngest.DefaultBucketCapacity)

  private[graft] def loadBloomState(s: SparkSession,
      indexDir: String): Option[BloomSidecar.State] =
    BloomSidecar.load(s, bloomDir(indexDir), IndexBuckets)

  private[graft] def probeColumn(s: SparkSession,
      st: BloomSidecar.State): org.apache.spark.sql.Column =
    BloomSidecar.probeColumn(s, st, IndexBuckets, bandBucket, bandKey)

  private def rebuildBlooms(s: SparkSession, indexDir: String): Unit = {
    val maxAfter = s.table(idxTable(s, indexDir))
      .agg(max(col("batch"))).head().getAs[Number](0)
    if (maxAfter != null)
      BloomSidecar.rebuild(s, bloomDir(indexDir), IndexBuckets,
        bloomKeyed(bands(s, indexDir)), maxAfter.longValue,
        defaultCapacity(s), CorpusIngest.MaxBucketCapacity)
  }

  /** ±1 hyperplane entry for (plane, dim) — splitmix64 parity bit. */
  @inline private def rademacher(plane: Int, dim: Int): Double = {
    var h = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xC2B2AE3D27D4EB4FL
    h ^= (h >>> 30); h *= 0xBF58476D1CE4E5B9L
    h ^= (h >>> 27); h *= 0x94D049BB133111EBL
    h ^= (h >>> 31)
    if ((java.lang.Long.bitCount(h) & 1) == 0) 1.0 else -1.0
  }

  /** (vec_id, label, embedding, nrm, fp) — per-partition kernel (64
    * plane dots per row; the HOF form would re-evaluate its lambda
    * per (plane × dim) element). Drops null/empty/zero-norm/non-finite
    * vectors.
    */
  private[graft] def fingerprints(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    batch
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id").cast("long"), col("label").cast("int"),
        col("embedding"))
      // Option[Int]: a null label (adversarial fixture row) must ride
      // through the kernel, not crash the non-nullable tuple encoder
      .as[(Long, Option[Int], Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, label, emb) =>
          var n2 = 0.0
          var d = 0
          while (d < emb.length) { n2 += emb(d).toDouble * emb(d); d += 1 }
          // non-finite (any NaN/±Inf element) joins zero-norm at the door:
          // a NaN vector's plane dots are all NaN, so its sign bits are a
          // deterministic all-zero fp (Java NaN >= 0 is false) — it would
          // never FIND candidates yet history could never suppress IT,
          // silently diverging from any engine whose float comparisons
          // order NaN greatest (Spark SQL, DuckDB). Found by the r13
          // float-edges wave as a 1-row n_new drift.
          if (n2 == 0.0 || !java.lang.Double.isFinite(n2)) None
          else {
            var fp = 0L
            var p = 0
            while (p < NumPlanes) {
              var acc = 0.0
              var i = 0
              while (i < emb.length) { acc += emb(i) * rademacher(p, i); i += 1 }
              if (acc >= 0) fp |= (1L << p)
              p += 1
            }
            Some((id, label, emb, math.sqrt(n2), fp))
          }
        }
      }
      .toDF("vec_id", "label", "embedding", "nrm", "fp")
  }

  /** Band b's 16-bit chunk of `fp` as a scalar column. */
  private def bhOf(b: Int): org.apache.spark.sql.Column =
    expr(s"shiftrightunsigned(fp, ${b * BitsPerBand}) & ${(1L << BitsPerBand) - 1}")

  /** TRUE iff ANY of the row's 4 band keys probes probable — the scalar
    * (non-exploded) form of the bloom pre-filter, usable inside an
    * aggregate over the signed frame. The (bucket, key) expressions MUST
    * mirror [[bandBucket]]/[[bandKey]] over (lit(b), bhOf(b)).
    */
  private def anyBandProbable(
      probe: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until NumBands).map { b =>
      probe(pmod(hash(lit(b), bhOf(b)), lit(IndexBuckets)).cast("int"),
        xxhash64(lit(b), bhOf(b)))
    }.reduce(_ || _)

  /** (id, band, bh) postings of each row's fingerprint — ONE projection
    * (r13: the first cut exploded a band-index sequence and JOINED the
    * fingerprints back on vec_id, a real shuffle per call — and this is
    * called up to three times per ingest batch).
    */
  private[graft] def bandsOf(df: DataFrame, idCol: String = "vec_id"): DataFrame =
    df.select(col(idCol),
      posexplode(expr(
        s"transform(sequence(0, ${NumBands - 1}), " +
          s"b -> shiftrightunsigned(fp, b * $BitsPerBand) & ${(1L << BitsPerBand) - 1})"))
        .as(Seq("band", "bh")))

  /** Create the (empty) index table. mkdirs first: CREATE TABLE probes
    * its LOCATION during relation resolution and logs a noisy (benign)
    * FileNotFoundException WARN when the dir does not exist yet.
    */
  private def createTable(s: SparkSession, indexDir: String): Unit = {
    val (fs, _) = fsOf(s, indexDir)
    fs.mkdirs(new Path(idxPath(indexDir)))
    s.sql(createDdl(s, indexDir))
  }

  private def createDdl(s: SparkSession, indexDir: String): String =
    s"""CREATE TABLE `${idxTable(s, indexDir)}` (
       |  vec_id BIGINT, label INT, embedding ARRAY<FLOAT>, nrm DOUBLE,
       |  fp BIGINT, first_batch BIGINT, band INT, bh BIGINT,
       |  batch BIGINT, kind STRING)
       |USING PARQUET PARTITIONED BY (batch, kind)
       |CLUSTERED BY (vec_id) SORTED BY (vec_id) INTO $IndexBuckets BUCKETS
       |LOCATION '${idxPath(indexDir)}'""".stripMargin

  /** Same layout guard as [[FuzzyIngest]] (ADVICE r14 medium): a pre-r14
    * embed index is a `vecs/` + `bands/` two-table pair under indexDir —
    * without this sniff, reconcile only probes `indexDir/idx`, returns
    * false, and ingestBatch would silently create a fresh EMPTY idx table
    * beside the orphaned history, losing all suppression against
    * historical vectors. Refuse loudly instead.
    */
  private def sniffLegacy(fs: FileSystem, indexDir: String): Unit =
    if (fs.exists(new Path(s"$indexDir/vecs")))
      throw new IllegalStateException(
        s"embed index at $indexDir uses the pre-r14 two-table (vecs+bands) " +
          "layout. Re-ingest into a fresh indexDir.")

  private[graft] def reconcile(s: SparkSession, indexDir: String): Boolean = {
    val (fs, _) = fsOf(s, indexDir)
    val tbl = idxTable(s, indexDir)
    // sniff only when the table is NOT yet registered — a registered
    // entry already passed the sniff (FuzzyIngest rationale)
    if (!s.catalog.tableExists(tbl)) sniffLegacy(fs, indexDir)
    val p = new Path(idxPath(indexDir))
    val exists = fs.exists(p) && fs.listStatus(p).nonEmpty
    if (!exists && s.catalog.tableExists(tbl)) s.sql(s"DROP TABLE `$tbl`")
    if (exists && !s.catalog.tableExists(tbl)) {
      s.sql(createDdl(s, indexDir)); s.catalog.recoverPartitions(tbl)
    }
    val ok = s.catalog.tableExists(tbl) && exists
    if (ok) rollForward(s, indexDir) // heal a crashed compact
    ok
  }

  /** Complete a crashed [[compact]] — the family's one-entry redo-log
    * protocol (no-op without a pending intent marker; lease semantics as
    * in the twins: steal a crashed writer's expired lease, release when
    * this call took it).
    */
  private def rollForward(s: SparkSession, indexDir: String): Unit =
    IngestPaths.readMarker(s, indexDir).foreach { upToBatch =>
      val ownedBefore = IngestPaths.readLease(s, indexDir)
        .exists(_._1 == IngestPaths.leaseOwner)
      IngestPaths.acquireLease(s, indexDir)
      try {
        if (s.catalog.tableExists(idxTable(s, indexDir))) {
          s.catalog.refreshTable(idxTable(s, indexDir))
          runCompaction(s, indexDir, upToBatch)
        }
        IngestPaths.clearMarker(s, indexDir)
      } finally if (!ownedBefore) IngestPaths.releaseLease(s, indexDir)
    }

  /** Consolidate every index partition with `batch <= upToBatch` into
    * the reserved [[CorpusIngest.CompactedBatch]] partition (both kinds,
    * one insert) — the family compaction (partition/file count stops
    * growing O(lifetime), the bucket spec survives). Same replay rule
    * (`upToBatch` strictly below the newest batch) and crash-atomicity
    * protocol (durable intent marker, rolled forward by the next
    * [[ingestBatch]]/[[index]]/[[compact]] call, cleared last).
    */
  def compact(s: SparkSession, indexDir: String, upToBatch: Long): Unit = {
    require(reconcile(s, indexDir), s"no embed index at $indexDir")
    IngestPaths.acquireLease(s, indexDir)
    val tbl = idxTable(s, indexDir)
    s.catalog.refreshTable(tbl)
    val maxBatch = s.table(tbl).agg(max(col("batch"))).head().getAs[Number](0)
    require(maxBatch != null && upToBatch < maxBatch.longValue,
      s"compact(upToBatch=$upToBatch): the newest batch ($maxBatch) may " +
        "still replay under foreachBatch's at-least-once contract")
    IngestPaths.writeMarker(s, indexDir, upToBatch)
    runCompaction(s, indexDir, upToBatch)
    IngestPaths.clearMarker(s, indexDir)
  }

  /** The compaction body — idempotent from any crash point (same
    * consolidate→drop shape as the twins; one staged insert covers both
    * row kinds, so there is no inter-table crash window left).
    */
  private def runCompaction(s: SparkSession, indexDir: String,
      upToBatch: Long): Unit = {
    val tbl = idxTable(s, indexDir)
    val sentinel = CorpusIngest.CompactedBatch
    val toMerge = s.table(tbl).filter(col("batch") <= upToBatch)
    val fresh = !toMerge.filter(col("batch") =!= sentinel).isEmpty
    if (!fresh) {
      // manual compact() is the documented recovery path for a deleted
      // or saturated bloom sidecar (family contract)
      val st = loadBloomState(s, indexDir)
      if (st.isEmpty ||
          st.exists(b => (0 until IndexBuckets).exists(b.saturated)))
        rebuildBlooms(s, indexDir)
      return
    }
    val wd = Window.partitionBy(col("vec_id"))
      .orderBy(col("first_batch"), col("batch"))
    val vecRows = toMerge.filter(col("kind") === "v")
      .withColumn("__rn", row_number().over(wd))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
        col("fp"), col("first_batch"), col("band"), col("bh"), col("kind"))
    val bandRows = toMerge.filter(col("kind") === "b")
      .select(col("band"), col("bh"), col("vec_id")).distinct()
      .select(col("vec_id"), lit(null).cast("int").as("label"),
        lit(null).cast("array<float>").as("embedding"),
        lit(null).cast("double").as("nrm"), lit(null).cast("bigint").as("fp"),
        lit(null).cast("bigint").as("first_batch"),
        col("band"), col("bh"), lit("b").as("kind"))
    val staged = vecRows.unionByName(bandRows).localCheckpoint(true)
    try {
      val view = stageView(s, indexDir)
      staged.createOrReplaceTempView(view)
      try s.sql(s"""INSERT OVERWRITE TABLE `$tbl` PARTITION (batch=$sentinel, kind)
                   |SELECT vec_id, label, embedding, nrm, fp, first_batch,
                   |       band, bh, kind FROM `$view`""".stripMargin)
      finally s.catalog.dropTempView(view)
      // re-assert the writer lease before the destructive drop phase
      IngestPaths.acquireLease(s, indexDir)
      val (fs, p) = fsOf(s, idxPath(indexDir))
      fs.listStatus(p).filter(_.isDirectory).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch=")) {
          val v = n.stripPrefix("batch=").toLong
          if (v <= upToBatch && v != sentinel) {
            fs.delete(st.getPath, true)
            s.sql(s"""ALTER TABLE `$tbl` DROP IF EXISTS
                     |PARTITION (batch=$v, kind='v'),
                     |PARTITION (batch=$v, kind='b')""".stripMargin)
          }
        }
      }
      s.catalog.refreshTable(tbl)
    } finally staged.unpersist()
    // rebuild the band sketches sized to bucket population (clears any
    // per-batch-capacity saturation — the family contract)
    rebuildBlooms(s, indexDir)
  }

  /** The union frame one batch inserts: survivors as `kind='v'` rows +
    * their band postings as `kind='b'` rows (wide columns null).
    */
  private def unionRows(staged: DataFrame, firstBatch: Long): DataFrame =
    staged.select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
        col("fp"), lit(firstBatch).as("first_batch"),
        lit(null).cast("int").as("band"), lit(null).cast("bigint").as("bh"),
        lit("v").as("kind"))
      .unionByName(bandsOf(staged)
        .select(col("vec_id"), lit(null).cast("int").as("label"),
          lit(null).cast("array<float>").as("embedding"),
          lit(null).cast("double").as("nrm"),
          lit(null).cast("bigint").as("fp"),
          lit(null).cast("bigint").as("first_batch"),
          col("band"), col("bh"), lit("b").as("kind")))

  /** One ingest merge — batch columns `(vec_id, embedding, label)`.
    * Within-batch EXACT dedup (identical embedding → min vec_id; the
    * within-batch NEAR-dup case is deliberately not collapsed, matching
    * [[FuzzyIngest]]'s default), then LSH-probe + exact-cosine verify
    * against history, then ONE insert of survivors + postings.
    */
  /** The signed-batch frame [[ingestBatch]] starts from: sign-LSH
    * fingerprints (degenerate rows dropped in the kernel), within-batch
    * EXACT dedup (min vec_id per (fp, embedding) group), persisted
    * MEMORY_AND_DISK — the [[FuzzyIngest.signBatch]] twin (r20), for
    * callers that overlap several batches' signing (the one
    * history-independent stage) with earlier batches' merges.
    */
  private[graft] def signBatch(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp"), col("embedding")).orderBy(col("vec_id"))
    val wAll = Window.partitionBy(col("fp"), col("embedding"))
    fingerprints(batch)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__grp", count(lit(1)).over(wAll))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** [[signBatch]] + eager materialization — the overlapped-leg form
    * (see [[FuzzyIngest.preSign]]).
    */
  private[graft] def preSign(batch: DataFrame): DataFrame = {
    val s = signBatch(batch)
    s.count()
    s
  }

  /** One embed ingest merge. `preSigned`: a [[preSign]] result for THIS
    * batch — caller-overlapped signing; semantics identical.
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, simThreshold: Double = 0.99,
      preSigned: Option[DataFrame] = None): Unit = {
    require(batchId != CorpusIngest.CompactedBatch,
      s"batch id ${CorpusIngest.CompactedBatch} is reserved")
    val s = batch.sparkSession
    // SPARK_GRAFT_INGEST_TIMING=1 → one stderr line per driver action
    // (stage attribution for the per-batch constants; off = zero cost)
    val trace = sys.env.contains("SPARK_GRAFT_INGEST_TIMING")
    var t0 = System.nanoTime()
    def mark(stage: String): Unit = if (trace) {
      val t1 = System.nanoTime()
      System.err.println(f"[embed_ingest b=$batchId] $stage%-14s ${(t1 - t0) / 1e9}%.2fs")
      t0 = t1
    }
    IngestPaths.acquireLease(s, indexDir)
    val exists = reconcile(s, indexDir)
    // the single write path needs the table up front; the DDL is a
    // driver-only catalog op (the r13 layout paid two saveAsTable jobs
    // ~2.4 s for the same first batch)
    if (!exists) createTable(s, indexDir)
    mark("reconcile")
    // sign + within-batch exact dedup — see [[signBatch]]; a
    // caller-supplied preSigned frame is the same expressions computed
    // off the critical path (guide §2.6).
    val signed = preSigned.getOrElse(signBatch(batch))
    try {
      val st = if (exists) loadBloomState(s, indexDir) else None
      val probe = st.map(bs => BloomSidecar.probeFn(s, bs, IndexBuckets))
      // Arrival counts + cache materialization + the bloom pre-probe in
      // ONE action (r13; this replaced a raw batch.count() at the end
      // AND a separate probe-count job). docsIn counts the NON-DEGENERATE
      // rows delivered (null/empty/zero-norm/non-finite vectors are
      // dropped pre-kernel by this object's contract); uniqueIn is the
      // post-exact-dedup survivor count, so `suppressed` is meaningful
      // for the embed pipeline too (it was -1 before r13). The probe is
      // a SCALAR any-band column over fp — no band explosion needed to
      // decide the all-miss skip — sharing one broadcast bank with the
      // exploded probe-side filter below.
      val arrivedCols = Seq(coalesce(sum(col("__grp")), lit(0L)).as("d"),
        count(lit(1)).as("u")) ++
        probe.map(p => coalesce(sum(when(anyBandProbable(p), lit(1L))),
          lit(0L)).as("p")).toSeq
      val arrived = signed.agg(arrivedCols.head, arrivedCols.tail: _*).head()
      val docsIn = arrived.getLong(0)
      val uniqueIn = arrived.getLong(1)
      val bloomProbable = if (probe.isDefined) arrived.getLong(2) else -1L
      mark("sign+dedup+probe")
      val survivors =
        if (!exists) signed
        else {
          val newBands = bandsOf(signed)
          // bloom pre-filter: bands the sketch has never seen are
          // definitely candidate-free — when NONE probe probable, the
          // band slice's data files are never opened this batch
          val probed = probe match {
            case Some(p) =>
              if (bloomProbable == 0) None
              else Some(newBands.filter(p(bandBucket, bandKey)))
            case None => Some(newBands)
          }
          probed match {
            case None => signed
            case Some(nb) =>
              // batch side broadcast (bounded by the micro-batch
              // contract, and pre-shrunk by the bloom filter); the
              // kind='b' partition slice is scanned without shuffle
              val idx = bands(s, indexDir)
                .filter(col("batch") =!= batchId)
                .select(col("band"), col("bh"), col("vec_id").as("old_id"))
              val cand = broadcast(nb).alias("n").join(idx.alias("o"),
                  col("n.band") === col("o.band") && col("n.bh") === col("o.bh"))
                .select(col("n.vec_id").as("new_id"), col("old_id")).distinct()
              val oldVecs = vecs(s, indexDir)
                .filter(col("batch") =!= batchId)
                .select(col("vec_id").as("old_id"),
                  col("embedding").as("old_emb"), col("nrm").as("old_nrm"))
              // no distinct on the verified pairs: the left_anti below is
              // duplicate-insensitive, and dropping it saves a shuffle
              val dup = cand
                .join(oldVecs, "old_id")
                .join(signed.select(col("vec_id").as("new_id"),
                  col("embedding").as("new_emb"), col("nrm").as("new_nrm")), "new_id")
                .filter(dot(col("new_emb"), col("old_emb")) /
                  (col("new_nrm") * col("old_nrm")) >= simThreshold)
                .select(col("new_id").as("vec_id"))
              signed.join(dup, Seq("vec_id"), "left_anti")
          }
        }
      // stage through a rebalance on the bucket key with the bucket count
      // as its initial partition count — the FuzzyIngest rationale
      // verbatim: each initial partition is one bucket, AQE merges
      // contiguous ones, so every write task holds whole buckets and each
      // batch partition lands at the 16-files-per-kind floor at any batch
      // size, while a micro-batch writes from one task. Batch-sized
      // exchange only.
      val staged = survivors
        .select(col("vec_id"), col("label"), col("embedding"), col("nrm"), col("fp"))
        .hint("rebalance", IndexBuckets, col("vec_id"))
        .localCheckpoint(true)
      try {
        mark("verify+stage")
        // staged-count off the critical path — the FuzzyIngest rationale
        // verbatim (r20): bloomProbable < uniqueIn proves appended > 0
        // (an improbable vector is definitely new), so the merge starts
        // without the count; the count runs concurrently and is awaited
        // for the progress event (or to gate the merge when every vector
        // probed probable).
        val appendedF = graft.util.Par.async(staged.count())
        val definitelyNew = bloomProbable >= 0 && bloomProbable < uniqueIn
        mark("staged_count")
        // bloom-ahead of the insert (survivors' bands only): a crash
        // between the merge and the insert leaves FP-only sketch state
        // — the family contract
        if (!exists || definitelyNew || graft.util.Par.await(appendedF) > 0)
          BloomSidecar.merge(s, bloomDir(indexDir), IndexBuckets, batchId,
            bloomKeyed(bandsOf(staged).select(col("band"), col("bh"))),
            st, exists, defaultCapacity(s))
        mark("bloom_merge")
        val view = stageView(s, indexDir)
        unionRows(staged, batchId).createOrReplaceTempView(view)
        // ONE bucketed insert for both kinds: the static batch prefix +
        // dynamic kind overwrite replays idempotently (STATIC mode wipes
        // every (batch=$batchId, *) partition first), and both kinds land
        // in the same job commit — no vecs-before-bands crash window
        try s.sql(s"""INSERT OVERWRITE TABLE `${idxTable(s, indexDir)}`
                     |PARTITION (batch=$batchId, kind)
                     |SELECT vec_id, label, embedding, nrm, fp, first_batch,
                     |       band, bh, kind FROM `$view`""".stripMargin)
        finally s.catalog.dropTempView(view)
        mark("write_idx")
        IngestEvents.post(IngestEvents.IngestProgress("embed_ingest",
          indexDir, batchId, docsIn, uniqueIn,
          graft.util.Par.await(appendedF), bloomProbable))
      } finally staged.unpersist()
    } finally signed.unpersist()
  }

  /** Streaming entry — foreachBatch over [[ingestBatch]], the family
    * shape.
    */
  def embedIngest(vecs: DataFrame, indexDir: String, checkpointDir: String,
      simThreshold: Double = 0.99)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestBatch(batch, id, indexDir, simThreshold)
      }
      .start()

  private val AllCols = Seq("vec_id", "label", "embedding", "nrm", "fp",
    "first_batch", "band", "bh", "kind")
  private val AllColsSql = AllCols.mkString(", ")

  /** RETRACT (takedown) vectors by id — the family verb ported
    * ([[FuzzyIngest.retract]] shape): staged static-partition overwrites
    * under the lease rewrite BOTH kinds of each touched batch in one
    * insert (the r13 bands-before-vecs ordering is gone by
    * construction), newest REAL batch refused (the consolidated
    * partition never replays), partial-crash re-run contract. Returns
    * vec rows removed.
    */
  def retract(s: SparkSession, indexDir: String, vecIds: DataFrame): Long = {
    require(reconcile(s, indexDir), s"no embed index at $indexDir")
    IngestPaths.acquireLease(s, indexDir)
    val tbl = idxTable(s, indexDir)
    s.catalog.refreshTable(tbl)
    val ids = vecIds.select(col(vecIds.columns.head).cast("long").as("vec_id"))
      .distinct().localCheckpoint(true)
    try {
      val sentinel = CorpusIngest.CompactedBatch
      val maxBatch = s.table(tbl).filter(col("batch") =!= sentinel)
        .agg(max(col("batch"))).head().getAs[Number](0)
      // per-batch hit counts over BOTH kinds in one pass; nv = vec rows
      // (the verb's return value)
      val hits = s.table(tbl).join(ids, Seq("vec_id"), "left_semi")
        .groupBy(col("batch"))
        .agg(sum(when(col("kind") === "v", 1L).otherwise(0L)).as("nv"))
        .collect()
        .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
      require(maxBatch == null || !hits.contains(maxBatch.longValue),
        s"retract: ids live in the newest batch ($maxBatch) which may " +
          "still replay under foreachBatch's at-least-once contract and " +
          "would resurrect them - compact first or retract after the " +
          "next batch")
      hits.keys.foreach { v =>
        val staged = s.table(tbl).filter(col("batch") === v)
          .join(ids, Seq("vec_id"), "left_anti")
          .select(AllCols.map(col): _*)
          .localCheckpoint(true)
        val view = stageView(s, indexDir)
        staged.createOrReplaceTempView(view)
        try s.sql(
          s"""INSERT OVERWRITE TABLE `$tbl` PARTITION (batch=$v, kind)
             |SELECT $AllColsSql FROM `$view`""".stripMargin)
        finally {
          s.catalog.dropTempView(view)
          staged.unpersist()
        }
      }
      s.catalog.refreshTable(tbl)
      hits.values.sum
    } finally ids.unpersist()
  }

  /** EXPIRE (retention) — the family verb ported: whole-partition drops
    * for per-batch partitions (both kinds live under one batch dir),
    * then the consolidated partition rewritten once — vec rows filtered
    * on `first_batch`, band rows anti-joined against the expired ids.
    * Returns vec rows removed.
    */
  def expire(s: SparkSession, indexDir: String, olderThanBatch: Long): Long = {
    require(reconcile(s, indexDir), s"no embed index at $indexDir")
    IngestPaths.acquireLease(s, indexDir)
    val tbl = idxTable(s, indexDir)
    s.catalog.refreshTable(tbl)
    val sentinel = CorpusIngest.CompactedBatch
    val maxBatch = s.table(tbl).filter(col("batch") =!= sentinel)
      .agg(max(col("batch"))).head().getAs[Number](0)
    require(maxBatch == null || olderThanBatch < maxBatch.longValue,
      s"expire(olderThanBatch=$olderThanBatch): the newest batch " +
        s"($maxBatch) may still replay under foreachBatch's at-least-once " +
        "contract and must stay")
    var removed = 0L
    val (fs, p) = fsOf(s, idxPath(indexDir))
    fs.listStatus(p).filter(_.isDirectory).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch=")) {
        val v = n.stripPrefix("batch=").toLong
        if (v != sentinel && v <= olderThanBatch) {
          removed += s.table(tbl)
            .filter(col("batch") === v && col("kind") === "v").count()
          fs.delete(st.getPath, true)
          s.sql(s"""ALTER TABLE `$tbl` DROP IF EXISTS
                   |PARTITION (batch=$v, kind='v'),
                   |PARTITION (batch=$v, kind='b')""".stripMargin)
        }
      }
    }
    s.catalog.refreshTable(tbl)
    val consolidated = s.table(tbl).filter(col("batch") === sentinel)
    val expired = consolidated
      .filter(col("kind") === "v" && col("first_batch") <= olderThanBatch)
      .select(col("vec_id")).localCheckpoint(true)
    try {
      val nExpired = expired.count()
      if (nExpired > 0) {
        val keptVecs = consolidated.filter(col("kind") === "v" &&
          col("first_batch") > olderThanBatch)
        val keptBands = consolidated.filter(col("kind") === "b")
          .join(expired, Seq("vec_id"), "left_anti")
        val staged = keptVecs.unionByName(keptBands)
          .select(AllCols.map(col): _*).localCheckpoint(true)
        val view = stageView(s, indexDir)
        staged.createOrReplaceTempView(view)
        try s.sql(
          s"""INSERT OVERWRITE TABLE `$tbl` PARTITION (batch=$sentinel, kind)
             |SELECT $AllColsSql FROM `$view`""".stripMargin)
        finally {
          s.catalog.dropTempView(view)
          staged.unpersist()
        }
        s.catalog.refreshTable(tbl)
        removed += nExpired
      }
    } finally expired.unpersist()
    removed
  }

  /** MERGE two independently built embed indexes into a FRESH third —
    * the family verb ported, with the cross-index step: `b` vectors
    * within `simThreshold` cosine of SOME `a` vector are suppressed
    * (candidates from a (band,bh) join of the band slices — a shuffled
    * join, acceptable for an offline verb whose output write is O(index)
    * anyway), `a` senior. doc-id spaces must be disjoint; destination
    * must not exist. Returns merged vec count.
    */
  def merge(s: SparkSession, aDir: String, bDir: String, dstDir: String,
      simThreshold: Double = 0.99): Long = {
    require(reconcile(s, aDir), s"no embed index at $aDir")
    require(reconcile(s, bDir), s"no embed index at $bDir")
    val (fs, dstPath) = fsOf(s, dstDir)
    require(!fs.exists(dstPath), s"merge destination already exists: $dstDir")
    val aVec = vecs(s, aDir)
    val bVec = vecs(s, bDir)
    require(aVec.select(col("vec_id"))
        .join(bVec.select(col("vec_id")), "vec_id").isEmpty,
      "vec_id spaces of the two indexes overlap - remap ids before merging")
    val aBands = bands(s, aDir).select(col("band"), col("bh"), col("vec_id"))
    val bBands = bands(s, bDir).select(col("band"), col("bh"), col("vec_id"))
    val cand = bBands.alias("n").join(aBands.alias("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh"))
      .select(col("n.vec_id").as("new_id"), col("o.vec_id").as("old_id"))
      .distinct()
    val dup = cand
      .join(aVec.select(col("vec_id").as("old_id"),
        col("embedding").as("old_emb"), col("nrm").as("old_nrm")), "old_id")
      .join(bVec.select(col("vec_id").as("new_id"),
        col("embedding").as("new_emb"), col("nrm").as("new_nrm")), "new_id")
      .filter(dot(col("new_emb"), col("old_emb")) /
        (col("new_nrm") * col("old_nrm")) >= simThreshold)
      .select(col("new_id").as("vec_id")).distinct()
    val vecCols = Seq("vec_id", "label", "embedding", "nrm", "fp",
      "first_batch")
    val keptVecs = aVec.select(vecCols.map(col): _*)
      .unionByName(bVec.join(dup, Seq("vec_id"), "left_anti")
        .select(vecCols.map(col): _*))
      .withColumn("band", lit(null).cast("int"))
      .withColumn("bh", lit(null).cast("bigint"))
      .withColumn("kind", lit("v"))
    val keptBands = aBands
      .unionByName(bBands.join(dup, Seq("vec_id"), "left_anti"))
      .distinct()
      .select(col("vec_id"), lit(null).cast("int").as("label"),
        lit(null).cast("array<float>").as("embedding"),
        lit(null).cast("double").as("nrm"), lit(null).cast("bigint").as("fp"),
        lit(null).cast("bigint").as("first_batch"),
        col("band"), col("bh"), lit("b").as("kind"))
    val sentinel = CorpusIngest.CompactedBatch
    createTable(s, dstDir)
    val view = stageView(s, dstDir)
    keptVecs.unionByName(keptBands).createOrReplaceTempView(view)
    try s.sql(s"""INSERT OVERWRITE TABLE `${idxTable(s, dstDir)}`
                 |PARTITION (batch=$sentinel, kind)
                 |SELECT $AllColsSql FROM `$view`""".stripMargin)
    finally s.catalog.dropTempView(view)
    rebuildBlooms(s, dstDir)
    vecs(s, dstDir).count()
  }

  /** Every surviving vector with the batch that first saw it. */
  def index(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(idxPath(indexDir)).filter(col("kind") === "v")
      .select(col("vec_id"), col("label"), col("first_batch").as("batch"))
}
