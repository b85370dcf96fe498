package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Incremental FUZZY (near-dup) corpus ingestion — the companion to
  * [[CorpusIngest]]'s exact manifest, covering the production case exact
  * digests cannot: a re-crawled page with a changed footer, a quoted
  * article with one new sentence. Each arriving batch is exact-deduped
  * within itself, MinHash-signed, LSH-probed against every band the
  * index has ever seen, signature-verified against only the CANDIDATE
  * historical docs, and the surviving (genuinely new) docs' signatures
  * and bands are appended.
  *
  * Scale shape (same lifetime-cost design as the exact manifest;
  * r14: the [[EmbedIngest]] single-table layout, ported): state is ONE
  * table under `indexDir/idx`, PARTITIONED BY (batch, kind) and
  * CLUSTERED BY doc_id — `kind='s'` rows carry (doc_id, lang,
  * minhash[32], first_batch), `kind='b'` rows the (band, bh, doc_id)
  * postings with null wide columns (parquet all-null chunks are
  * metadata-sized) — so a micro-batch pays ONE bucketed insert instead
  * of two table writes, never re-shuffles history, and kind-level
  * partition pruning keeps the two access paths separate file sets.
  * The LSH probe BROADCASTS the batch's (bloom-pre-shrunk, micro-batch
  * bounded) exploded bands against the `kind='b'` slice — zero
  * index-side exchange, plan-asserted in FuzzyIngestSpec (the r13
  * (band,bh) bucketing bought the same property at the cost of the
  * second write; `merge()`, offline and O(index) anyway, keeps a
  * shuffled band join) — and the verify step joins the (few)
  * candidates against the `kind='s'` slice bucket-locally on doc_id.
  * Per-batch network cost is O(batch + candidates), not O(corpus
  * lifetime). Signatures live ONCE per doc (32×8 bytes); the band
  * rows carry only (hash, id) pairs — no ×numBands signature
  * duplication and never text bodies. [[compact]] consolidates the
  * accumulated per-batch partitions so partition/file count stops
  * growing O(lifetime).
  *
  * Band bloom pre-filter (r11, the [[CorpusIngest]] design ported): a
  * per-bucket sketch over the index's (band,bh) keys lives at
  * `indexDir/bands_bloom`; bands the sketch rules out are DEFINITELY
  * candidate-free: the LSH join's probe side shrinks to true band hits +
  * ~fpp of the batch's bands, and when nothing probes probable (the
  * frequent-small-batch case — P ≈ (1-fpp)^bands) the bands table is
  * never opened. Same broadcast-bank codegen probe, FP-only bloom-ahead
  * crash contract, replay no-op, and per-bucket saturation semantics
  * (shared machinery: [[BloomSidecar]]); a lost/pre-bloom sidecar falls
  * back to the always-correct join and [[compact]] rebuilds it.
  *
  * Suppression semantics: a new doc is dropped when ≥ `simThreshold` of
  * its minhash positions agree with SOME candidate historical doc (the
  * standard unbiased Jaccard estimate). Within-batch NEAR-dups are
  * collapsed only when `collapseWithinBatch` is set (VERDICT r10 #3):
  * the same agreement criterion over the batch's own LSH buckets, closed
  * transitively with `Dedup.connectedComponents`, keeps the min doc_id
  * per cluster — off by default because a daily batch is small against
  * history and the flag costs a batch-local self-join.
  *
  * Crash ordering: both kinds land in ONE job commit (r14 — the old
  * sigs-before-bands crash window is gone by construction); the
  * static-prefix partition overwrite of `batch=<id>` replays
  * idempotently, and both reads exclude the replayed batch's own
  * partitions — same contract as CorpusIngest.
  */
object FuzzyIngest {

  val IndexBuckets = 16
  /** Passed EXPLICITLY to [[Dedup.minhashSignatures]] (ADVICE r10: the
    * agreement fraction divides by these, so a drift in the Dedup
    * defaults must not silently reshape every stored index).
    */
  val NumHashes = 32
  val NumBands = 8

  /** Index-table name: md5 of the canonical dir URI, same rationale as
    * [[CorpusIngest.tableName]] (ADVICE r10). One table since r14 (both
    * row kinds; see class doc).
    */
  def idxTable(s: SparkSession, indexDir: String): String =
    "graft_fuzzy_idx_" + IngestPaths.digest(s, indexDir)

  private def idxPath(indexDir: String) = s"$indexDir/idx"

  /** Signature rows (`kind='s'`) — the r13 `sigs` table's contract:
    * (doc_id, lang, minhash, first_batch, batch).
    */
  def sigs(s: SparkSession, indexDir: String): DataFrame =
    s.table(idxTable(s, indexDir)).filter(col("kind") === "s")
      .select(col("doc_id"), col("lang"), col("minhash"),
        col("first_batch"), col("batch"))

  /** Band-posting rows (`kind='b'`) — the r13 `bands` table's contract:
    * (band, bh, doc_id, batch).
    */
  def bands(s: SparkSession, indexDir: String): DataFrame =
    s.table(idxTable(s, indexDir)).filter(col("kind") === "b")
      .select(col("band"), col("bh"), col("doc_id"), col("batch"))

  // ---------------------------------------------------------------------
  // Per-bucket bloom pre-filter over the band index (r11 — the
  // CorpusIngest design, ported: bands the sketch rules out are
  // DEFINITELY candidate-free, shrinking the LSH join's probe side to
  // true hits + ~fpp, and an all-miss batch skips the bands table
  // outright; shared machinery in BloomSidecar, same FP-only /
  // bloom-ahead / replay / per-bucket-saturation contracts)
  // ---------------------------------------------------------------------

  private def bloomDir(indexDir: String) = s"$indexDir/bands_bloom"

  /** Band bucket/key MUST match the bands table's CLUSTERED BY (band,bh)
    * hashing ([[org.apache.spark.sql.functions.hash]] is Spark's own
    * bucketing hash) so sketch population mirrors physical buckets.
    */
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

  /** Codegen probe over the broadcast band bank — true ⇒ this (band,bh)
    * MAY exist in the index (join to find out); false ⇒ definitely not.
    */
  private[graft] def probeColumn(s: SparkSession,
      st: BloomSidecar.State): org.apache.spark.sql.Column =
    BloomSidecar.probeColumn(s, st, IndexBuckets, bandBucket, bandKey)

  /** TRUE iff ANY of the row's band keys probes probable — the scalar
    * (non-exploded) form over the `bands` array column, usable inside an
    * aggregate over the signed frame (band index = array position). The
    * (bucket, key) expressions mirror [[bandBucket]]/[[bandKey]].
    */
  private def anyBandProbable(
      probe: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until NumBands).map { b =>
      val bh = col("bands").getItem(b)
      probe(pmod(hash(lit(b), bh), lit(IndexBuckets)).cast("int"),
        xxhash64(lit(b), bh))
    }.reduce(_ || _)

  private def fsOf(s: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private def firstDataFile(fs: FileSystem, p: Path): Option[String] = {
    if (!fs.exists(p)) return None
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (n.startsWith("part-") && !n.endsWith(".tmp")) return Some(n)
    }
    None
  }

  /** Same layout guard as [[CorpusIngest]]: refuse an index written by an
    * older code version with a clear error instead of Spark's mid-query
    * 'Invalid bucket file' (ADVICE r10). r14 adds the two-table layout
    * itself to the legacy set (a `sigs/` dir under indexDir).
    */
  private def sniffLegacy(s: SparkSession, fs: FileSystem,
      indexDir: String): Unit = {
    if (fs.exists(new Path(s"$indexDir/sigs")))
      throw new IllegalStateException(
        s"fuzzy index at $indexDir uses the pre-r14 two-table (sigs+bands) " +
          "layout. Re-ingest into a fresh indexDir.")
    val idxP = new Path(idxPath(indexDir))
    firstDataFile(fs, idxP).foreach { dataFile =>
      val why =
        if (!dataFile.matches(""".*_\d{5}\.c\d+.*"""))
          Some(s"index file '$dataFile' is not bucket-encoded")
        else if (!s.read.parquet(idxP.toString).schema.fieldNames
            .contains("first_batch"))
          Some("index schema lacks the first_batch column")
        else None
      why.foreach { w =>
        throw new IllegalStateException(
          s"fuzzy index at $idxP was written by an older graft version ($w). " +
            "Re-ingest into a fresh indexDir.")
      }
    }
  }

  private def createDdl(s: SparkSession, indexDir: String): String =
    s"""CREATE TABLE `${idxTable(s, indexDir)}` (
       |  doc_id BIGINT, lang STRING, minhash ARRAY<BIGINT>,
       |  first_batch BIGINT, band INT, bh BIGINT,
       |  batch BIGINT, kind STRING)
       |USING PARQUET PARTITIONED BY (batch, kind)
       |CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $IndexBuckets BUCKETS
       |LOCATION '${idxPath(indexDir)}'""".stripMargin

  /** Create the (empty) index table — mkdirs first ([[EmbedIngest]]
    * rationale: CREATE TABLE probes its LOCATION and logs a noisy benign
    * FileNotFoundException WARN on a missing dir).
    */
  private def createTable(s: SparkSession, indexDir: String): Unit = {
    val (fs, _) = fsOf(s, indexDir)
    fs.mkdirs(new Path(idxPath(indexDir)))
    s.sql(createDdl(s, indexDir))
  }

  /** Drop stale catalog entries / re-register the long-lived index table
    * (bucket spec in the DDL — the layout survives a new JVM/cluster).
    * Returns whether the index exists after reconciliation.
    */
  private[graft] def reconcile(s: SparkSession, indexDir: String): Boolean = {
    val (fs, _) = fsOf(s, indexDir)
    val tbl = idxTable(s, indexDir)
    // sniff only when the table is NOT yet registered — a registered
    // entry already passed the sniff; re-reading the schema per
    // micro-batch is a wasted listing+footer job (r11 constant-shave)
    if (!s.catalog.tableExists(tbl)) sniffLegacy(s, fs, indexDir)
    val exists = firstDataFile(fs, new Path(idxPath(indexDir))).isDefined
    if (!exists && s.catalog.tableExists(tbl)) s.sql(s"DROP TABLE `$tbl`")
    if (exists && !s.catalog.tableExists(tbl)) {
      s.sql(createDdl(s, indexDir)); s.catalog.recoverPartitions(tbl)
    }
    val ok = s.catalog.tableExists(tbl) && exists
    if (ok) rollForward(s, indexDir) // heal a crashed compact
    ok
  }

  /** Complete a crashed [[compact]] (no-op without a pending intent
    * marker — see [[IngestPaths.markerPath]]; same one-entry redo-log
    * protocol as [[CorpusIngest]], making compaction crash-atomic for
    * every reader that goes through this object's API).
    */
  private def rollForward(s: SparkSession, indexDir: String): Unit =
    IngestPaths.readMarker(s, indexDir).foreach { upToBatch =>
      // the roll-forward is a WRITE reachable from readers — take the
      // lease first (steal a crashed writer's expired lease; refuse a
      // LIVE one's, which will clear the marker itself), and RELEASE it
      // afterwards when this call took it (a reader must not block the
      // replacement writer for a TTL) — CorpusIngest twin, r12
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

  /** The LSH probe: every (band, bh) of `newBands` that the index has
    * seen outside `batchId`, as (new_id, old_id) candidates. The batch
    * side is BROADCAST (bounded by the micro-batch contract and
    * pre-shrunk by the bloom filter); `idxBands` — the `kind='b'`
    * partition slice — scans with NO exchange. Exposed for the plan
    * assertion in FuzzyIngestSpec.
    */
  private[graft] def bandCandidates(newBands: DataFrame, batchId: Long,
      idxBands: DataFrame): DataFrame = {
    val idx = idxBands.filter(col("batch") =!= batchId)
      .select(col("band"), col("bh"), col("doc_id").as("old_id"))
    broadcast(newBands).alias("n").join(idx.alias("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh"))
      .select(col("n.doc_id").as("new_id"), col("old_id"))
      .distinct()
  }

  /** Streaming entry: every micro-batch runs [[ingestBatch]] — the same
    * foreachBatch shape as [[CorpusIngest.dedupIngest]], including the
    * opt-in `compactEvery` auto-compaction (see there for the contract:
    * the current trigger batch always stays replayable, and a re-trigger
    * with nothing new to merge is a metadata no-op).
    */
  def fuzzyIngest(docs: DataFrame, indexDir: String, checkpointDir: String,
      simThreshold: Double = 0.5, collapseWithinBatch: Boolean = false,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestBatch(batch, id, indexDir, simThreshold, collapseWithinBatch)
        maybeAutoCompact(batch.sparkSession, indexDir, id, compactEvery)
      }
      .start()

  /** The auto-compaction decision — the [[CorpusIngest.maybeAutoCompact]]
    * twin (and like it, NOT via [[compact]]: the manual guard's
    * max-over-rows check would throw on a fully-suppressed newest batch;
    * upToBatch = batchId−1 < the trigger id holds by construction).
    */
  private[graft] def maybeAutoCompact(s: SparkSession, indexDir: String,
      batchId: Long, compactEvery: Int): Unit =
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      // silent no-op before the first non-empty batch creates the table
      // (ADVICE r11: a require would fail the streaming query when the
      // trigger fires during an all-empty prefix) — CorpusIngest twin
      if (s.catalog.tableExists(idxTable(s, indexDir))) {
        IngestPaths.writeMarker(s, indexDir, batchId - 1)
        runCompaction(s, indexDir, batchId - 1)
        IngestPaths.clearMarker(s, indexDir)
      }
    }

  /** Minhash-position agreement fraction between two signature arrays —
    * the ONE similarity criterion, used by both the cross-batch verify
    * and the within-batch collapse.
    */
  private def agreement(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v))
      .cast("double") / NumHashes.toDouble

  /** Within-batch near-dup collapse (flag-gated — see class doc): LSH
    * buckets over the batch's own bands → agreement-verified pairs →
    * connected components → min doc_id per cluster survives. Batch-local:
    * O(batch²) only within shared LSH buckets, never against history.
    */
  private def collapseBatch(signed: DataFrame, simThreshold: Double): DataFrame = {
    val bandsX = signed.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band", "bh")))
    val cand = bandsX.alias("a").join(bandsX.alias("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val pairs = cand
      .join(signed.select(col("doc_id").as("a_id"), col("minhash").as("sa")), "a_id")
      .join(signed.select(col("doc_id").as("b_id"), col("minhash").as("sb")), "b_id")
      .filter(agreement(col("sa"), col("sb")) >= simThreshold)
      .select(col("a_id"), col("b_id"))
    val drop = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    signed.join(drop, Seq("doc_id"), "left_anti")
  }

  private def stageView(s: SparkSession, indexDir: String): String =
    "graft_fuzzy_stage_" + IngestPaths.digest(s, indexDir)

  /** Orderly writer-lease handover — the [[CorpusIngest.releaseWriterLease]]
    * twin for the fuzzy index dir.
    */
  def releaseWriterLease(s: SparkSession, indexDir: String): Unit =
    IngestPaths.releaseLease(s, indexDir)

  /** The union frame one batch inserts: survivors as `kind='s'` rows +
    * their exploded band postings as `kind='b'` rows (wide columns null).
    */
  private def unionRows(staged: DataFrame, firstBatch: Long): DataFrame =
    staged.select(col("doc_id"), col("lang"), col("minhash"),
        lit(firstBatch).as("first_batch"),
        lit(null).cast("int").as("band"), lit(null).cast("bigint").as("bh"),
        lit("s").as("kind"))
      .unionByName(staged
        .select(posexplode(col("bands")).as(Seq("band", "bh")), col("doc_id"))
        .select(col("doc_id"), lit(null).cast("string").as("lang"),
          lit(null).cast("array<bigint>").as("minhash"),
          lit(null).cast("bigint").as("first_batch"),
          col("band"), col("bh"), lit("b").as("kind")))

  /** The signed-batch frame [[ingestBatch]] starts from: within-batch
    * EXACT dedup (min doc_id per (xxhash64, len) text group, null ids
    * dropped at the door), minhash signatures with lang/__grp carried
    * through 1:1, persisted MEMORY_AND_DISK. Extracted (r20) so callers
    * that drive several batches from one driver can compute every
    * batch's signatures CONCURRENTLY (guide §2.6): signing is the one
    * per-batch stage that reads no history (probe/verify/insert all do),
    * so it can run while earlier batches merge. The caller owns the
    * returned frame's lifetime only until it is handed to ingestBatch
    * (which unpersists it).
    */
  private[graft] def signBatch(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("__h"), col("__len")).orderBy(col("doc_id"))
    val wAll = Window.partitionBy(col("__h"), col("__len"))
    val uniq = batch
      .filter(col("doc_id").isNotNull)
      .withColumn("__h", xxhash64(coalesce(col("text"), lit(""))))
      .withColumn("__len", coalesce(length(col("text")), lit(-1)))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__grp", count(lit(1)).over(wAll))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("text"), col("__grp"))
    Dedup
      .minhashSignatures(uniq, "text", "doc_id", NumHashes, NumBands,
        carry = Seq("lang", "__grp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** [[signBatch]] + eager materialization — the overlapped-leg form:
    * run under [[graft.util.Par.async]] while earlier batches merge, then
    * pass the result to [[ingestBatch]]'s `preSigned` so its arrival
    * aggregate reads a warm cache instead of re-running the window dedup
    * + kernel on the critical path.
    */
  private[graft] def preSign(batch: DataFrame): DataFrame = {
    val s = signBatch(batch)
    s.count()
    s
  }

  /** One fuzzy ingest merge (batch mode; the streaming form above).
    * `preSigned`: a [[preSign]] result for THIS batch — caller-overlapped
    * signing; semantics identical (same frame, same expressions).
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, simThreshold: Double = 0.5,
      collapseWithinBatch: Boolean = false,
      preSigned: Option[DataFrame] = None): Unit = {
    require(batchId != CorpusIngest.CompactedBatch,
      s"batch id ${CorpusIngest.CompactedBatch} is reserved for compacted history")
    val s = batch.sparkSession
    // SPARK_GRAFT_INGEST_TIMING=1 → one stderr line per driver action
    // (stage attribution for the per-batch constants; off = zero cost)
    val trace = sys.env.contains("SPARK_GRAFT_INGEST_TIMING")
    var t0 = System.nanoTime()
    def mark(stage: String): Unit = if (trace) {
      val t1 = System.nanoTime()
      System.err.println(f"[fuzzy_ingest b=$batchId] $stage%-14s ${(t1 - t0) / 1e9}%.2fs")
      t0 = t1
    }
    IngestPaths.acquireLease(s, indexDir)
    val exists = reconcile(s, indexDir)
    // the single write path needs the table up front; driver-only DDL
    // (the r13 layout paid two saveAsTable jobs for the same first batch)
    if (!exists) createTable(s, indexDir)
    mark("reconcile")
    // within-batch EXACT dedup (min doc_id per text), then sign — see
    // [[signBatch]] for the expressions (__grp = group size, carried so
    // docsIn needs no separate raw-batch pass; null-id rows drop at the
    // door per ADVICE r13; lang/__grp ride THROUGH the kernel 1:1 — the
    // r13 carry mode). A caller-supplied preSigned frame is the same
    // expressions computed off the critical path (guide §2.6).
    val signed = preSigned.getOrElse(signBatch(batch))
    try {
      val sigs =
        if (collapseWithinBatch) collapseBatch(signed, simThreshold) else signed
      val st = if (exists) loadBloomState(s, indexDir) else None
      val probe = st.map(bs => BloomSidecar.probeFn(s, bs, IndexBuckets))
      // the scalar pre-probe fuses into the arrival agg only on the
      // default path: under collapseWithinBatch the probe must count
      // POST-collapse survivors (sigs ≠ signed), which the collapse
      // branch below still does the exploded way
      val fuseProbe = probe.isDefined && !collapseWithinBatch
      // Arrival counts off `signed` — since carry mode the kernel maps
      // uniq rows 1:1 (no join to drop null doc_ids or duplicate shared
      // ids; the ADVICE-r11 concern is structurally gone), so these equal
      // the r11 uniq-side counts exactly. This one action also
      // MATERIALIZES the signed cache (so the verify stage reads cached
      // rows instead of re-running the window dedup + kernel) and, on
      // the default path, computes the bloom any-band pre-probe as a
      // SCALAR column over the bands array — no explosion, no separate
      // probe-count job (r13; shares one broadcast bank with the
      // exploded probe-side filter below).
      val arrivedCols = Seq(coalesce(sum(col("__grp")), lit(0L)).as("d"),
        count(lit(1)).as("u")) ++
        (if (fuseProbe)
          Seq(coalesce(sum(when(anyBandProbable(probe.get), lit(1L))),
            lit(0L)).as("p"))
        else Nil)
      val arrived = signed.agg(arrivedCols.head, arrivedCols.tail: _*).head()
      val docsIn = arrived.getLong(0)
      val uniqueIn = if (collapseWithinBatch) sigs.count() else arrived.getLong(1)
      var bloomProbable = if (fuseProbe) arrived.getLong(2) else -1L
      mark("sign+dedup+probe")
      val survivors =
        if (!exists) sigs
        else {
          val newBands = sigs.select(col("doc_id"),
            posexplode(col("bands")).as(Seq("band", "bh")))
          // bloom pre-filter: bands the index has definitely never seen
          // produce no candidates — when NONE survive the probe, the
          // bands table's data files are never opened this batch
          val probed = probe match {
            case Some(p) =>
              if (!fuseProbe)
                // collapse path: ONE job decides the skip AND yields the
                // observability count over the post-collapse survivors
                bloomProbable = newBands.filter(p(bandBucket, bandKey))
                  .select(col("doc_id")).distinct().count()
              if (bloomProbable == 0) None
              else Some(newBands.filter(p(bandBucket, bandKey)))
            case None => Some(newBands)
          }
          probed match {
            case None => sigs
            case Some(nb) =>
              val cand = bandCandidates(nb, batchId,
                FuzzyIngest.bands(s, indexDir))
              // verify candidates only: bucket-local fetch of the historical
              // signatures, then the standard agreement-fraction estimate
              val oldSigs = FuzzyIngest.sigs(s, indexDir)
                .filter(col("batch") =!= batchId)
                .select(col("doc_id").as("old_id"), col("minhash").as("old_sig"))
              val dup = cand
                .join(oldSigs, "old_id")
                .join(sigs.select(col("doc_id").as("new_id"),
                  col("minhash").as("new_sig")), "new_id")
                .filter(agreement(col("new_sig"), col("old_sig")) >= simThreshold)
                .select(col("new_id").as("doc_id")).distinct()
              sigs.join(dup, Seq("doc_id"), "left_anti")
          }
        }
      // read-old-then-overwrite via localCheckpoint (the insert below
      // reads the same tables it overwrites — same pattern as the exact
      // manifest); batch-sized, never index-sized.
      // stage through a REBALANCE on the bucket key whose initial
      // partition count is the bucket count (EXPLAINS.md "Batch-sized
      // staged writes"). HashPartitioning(doc_id, IndexBuckets)
      // .partitionIdExpression IS the bucket-id expression, so each
      // initial partition holds exactly one bucket; AQE coalesces a
      // rebalance (never a fixed-count repartition) by merging contiguous
      // partitions, so every write task still holds whole buckets and the
      // insert, which writes one file per (write task, bucket, kind),
      // lands at the 16-files-per-kind floor at any batch size — while a
      // micro-batch coalesces to ONE task, and its insert and staged
      // count run 1–2 tasks, not one per bucket. (Only a bucket above
      // AQE's advisory size splits, into files of about that size.) Without
      // any exchange the seed batch (survivors = sigs, still in the
      // window shuffle's layout) wrote 437 tiny files PER KIND at sf0.1;
      // a count-free exchange mixes buckets across its initial
      // partitions and wrote up to 72 per kind at sf10. Batch-sized
      // exchange, never index-sized.
      val staged = survivors
        .select(col("doc_id"), col("lang"), col("minhash"), col("bands"))
        .hint("rebalance", IndexBuckets, col("doc_id"))
        .localCheckpoint(true)
      try {
        mark("verify+stage")
        // staged-count off the critical path (r20): when ANY doc probed
        // bloom-improbable it is definitely new (no history band ⇒ no
        // candidates ⇒ it survives), so bloomProbable < uniqueIn already
        // proves appended > 0 and the merge can start without the count
        // — the count job runs concurrently over the checkpointed frame
        // and is awaited only for the progress event (or to gate the
        // merge when every doc probed probable).
        val appendedF = graft.util.Par.async(staged.count())
        val definitelyNew = bloomProbable >= 0 && bloomProbable < uniqueIn
        mark("staged_count")
        // bloom-ahead of the insert (only SURVIVORS' bands — suppressed
        // docs' bands never reach the table, and sketch bits for them
        // would only inflate FP routing): a crash after this merge and
        // before the insert leaves FP-only sketch state, same contract
        // as the exact manifest. Fully-suppressed batches skip the merge
        // (no bands to add) — but only when state already exists, so a
        // fresh index still gets its sidecar created on batch 0.
        if (!exists || definitelyNew || graft.util.Par.await(appendedF) > 0)
          BloomSidecar.merge(s, bloomDir(indexDir), IndexBuckets, batchId,
            bloomKeyed(staged.select(
              posexplode(col("bands")).as(Seq("band", "bh")))),
            st, exists, defaultCapacity(s))
        mark("bloom_merge")
        // ONE bucketed insert for both kinds (r14): the static batch
        // prefix + dynamic kind overwrite replays idempotently (STATIC
        // mode wipes every (batch=$batchId, *) partition first), and both
        // kinds land in the same job commit — no sigs-before-bands crash
        // window
        val view = stageView(s, indexDir)
        unionRows(staged, batchId).createOrReplaceTempView(view)
        try s.sql(s"""INSERT OVERWRITE TABLE `${idxTable(s, indexDir)}`
                     |PARTITION (batch=$batchId, kind)
                     |SELECT doc_id, lang, minhash, first_batch, band, bh,
                     |       kind FROM `$view`""".stripMargin)
        finally s.catalog.dropTempView(view)
        mark("write_idx")
        IngestEvents.post(IngestEvents.IngestProgress("fuzzy_ingest",
          indexDir, batchId, docsIn, uniqueIn,
          graft.util.Par.await(appendedF), bloomProbable))
      } finally staged.unpersist()
    } finally signed.unpersist()
  }

  /** Consolidate every index partition with `batch <= upToBatch` into the
    * reserved [[CorpusIngest.CompactedBatch]] partition of BOTH tables —
    * the [[CorpusIngest.compact]] twin (VERDICT r10 #1): partition/file
    * count stops growing O(lifetime) while the bucket specs (and so the
    * no-exchange probe/verify plans) survive. Same replay rule
    * (`upToBatch` strictly below the newest batch) and the same
    * crash-ATOMICITY protocol as [[CorpusIngest.compact]]: intent marker
    * written durably first, the whole idempotent consolidate→drop body
    * rolled forward by the next [[ingestBatch]]/[[index]]/[[compact]]
    * call on a crash, marker cleared last — no reader through this API
    * ever observes the duplicate-rows window.
    */
  def compact(s: SparkSession, indexDir: String, upToBatch: Long): Unit = {
    // validate before taking the lease (CorpusIngest twin, r12 review)
    require(reconcile(s, indexDir), s"no fuzzy index at $indexDir")
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

  /** The compaction body — everything between marker write and clear;
    * idempotent from any crash point (consolidation re-reads whatever
    * state the crash left, including the previous consolidated partition,
    * and dedups per kind; one staged insert covers both kinds, so there
    * is no inter-table crash window left).
    */
  private def runCompaction(s: SparkSession, indexDir: String,
      upToBatch: Long): Unit = {
    val tbl = idxTable(s, indexDir)
    val sentinel = CorpusIngest.CompactedBatch
    // fresh-partition guard (CorpusIngest twin): nothing below upToBatch
    // outside the consolidated partition ⇒ metadata no-op, so
    // auto-compaction costs O(new partitions) per trigger, not O(index).
    // Bloom-rebuild skip is safe for the same reason as CorpusIngest:
    // compaction moves bands, never removes them.
    val toMerge = s.table(tbl).filter(col("batch") <= upToBatch)
    val fresh = !toMerge.filter(col("batch") =!= sentinel).isEmpty
    if (!fresh) {
      // manual compact() is the documented recovery path for a deleted or
      // saturated bloom sidecar (ADVICE r11; CorpusIngest twin): rebuild
      // the sketches when unusable even though the row layout is final
      val st = loadBloomState(s, indexDir)
      if (st.isEmpty ||
          st.exists(b => (0 until IndexBuckets).exists(b.saturated)))
        rebuildBlooms(s, indexDir)
      return
    }
    val wd = Window.partitionBy(col("doc_id"))
      .orderBy(col("first_batch"), col("batch"))
    val sigRows = toMerge.filter(col("kind") === "s")
      .withColumn("__rn", row_number().over(wd))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("minhash"), col("first_batch"),
        col("band"), col("bh"), col("kind"))
    val bandRows = toMerge.filter(col("kind") === "b")
      .select(col("band"), col("bh"), col("doc_id")).distinct()
      .select(col("doc_id"), lit(null).cast("string").as("lang"),
        lit(null).cast("array<bigint>").as("minhash"),
        lit(null).cast("bigint").as("first_batch"),
        col("band"), col("bh"), lit("b").as("kind"))
    val staged = sigRows.unionByName(bandRows).localCheckpoint(true)
    try {
      val view = stageView(s, indexDir)
      staged.createOrReplaceTempView(view)
      try s.sql(s"""INSERT OVERWRITE TABLE `$tbl` PARTITION (batch=$sentinel, kind)
                   |SELECT doc_id, lang, minhash, first_batch, band, bh,
                   |       kind FROM `$view`""".stripMargin)
      finally s.catalog.dropTempView(view)
      // re-assert the writer lease before the destructive drop phase
      // (CorpusIngest twin): refresh when ours, abort loudly if a
      // TTL-expiry steal happened mid-consolidation — the intent
      // marker lets the new owner roll forward
      IngestPaths.acquireLease(s, indexDir)
      val (fs, p) = fsOf(s, idxPath(indexDir))
      fs.listStatus(p).filter(_.isDirectory).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch=")) {
          val v = n.stripPrefix("batch=").toLong
          if (v <= upToBatch && v != sentinel) {
            fs.delete(st.getPath, true)
            s.sql(s"""ALTER TABLE `$tbl` DROP IF EXISTS
                     |PARTITION (batch=$v, kind='s'),
                     |PARTITION (batch=$v, kind='b')""".stripMargin)
          }
        }
      }
      s.catalog.refreshTable(tbl)
    } finally staged.unpersist()
    // rebuild the band sketches from the consolidated table (sized to
    // bucket population, clearing saturation — the CorpusIngest twin;
    // also the upgrade path for a pre-bloom index)
    rebuildBlooms(s, indexDir)
  }

  /** Rebuild the per-bucket band sketches from the current band rows —
    * the tail of [[runCompaction]] and the fresh-guard's sidecar-recovery
    * path.
    */
  private def rebuildBlooms(s: SparkSession, indexDir: String): Unit = {
    val maxAfter = s.table(idxTable(s, indexDir))
      .agg(max(col("batch"))).head().getAs[Number](0)
    if (maxAfter != null)
      BloomSidecar.rebuild(s, bloomDir(indexDir), IndexBuckets,
        bloomKeyed(bands(s, indexDir)), maxAfter.longValue,
        defaultCapacity(s), CorpusIngest.MaxBucketCapacity)
  }

  /** EXPIRE (retention) — the [[CorpusIngest.expire]] twin: drop every
    * doc FIRST SEEN in a batch <= `olderThanBatch`. Non-compacted
    * partitions are whole-partition drops (both kinds live under one
    * batch dir); the consolidated partition pays ONE staged rewrite —
    * sig rows filtered on `first_batch`, band rows anti-joined against
    * the expired ids (band rows carry no first_batch). Same newest-batch
    * guard and FP-only-stale-bloom reasoning as the exact twin. Returns
    * signature rows removed.
    */
  def expire(s: SparkSession, indexDir: String, olderThanBatch: Long): Long = {
    require(reconcile(s, indexDir), s"no fuzzy index at $indexDir")
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
            .filter(col("batch") === v && col("kind") === "s").count()
          fs.delete(st.getPath, true)
          s.sql(s"""ALTER TABLE `$tbl` DROP IF EXISTS
                   |PARTITION (batch=$v, kind='s'),
                   |PARTITION (batch=$v, kind='b')""".stripMargin)
        }
      }
    }
    s.catalog.refreshTable(tbl)
    // consolidated partition: expired ids from sig rows, bands anti-joined
    val consolidated = s.table(tbl).filter(col("batch") === sentinel)
    val expired = consolidated
      .filter(col("kind") === "s" && col("first_batch") <= olderThanBatch)
      .select(col("doc_id")).localCheckpoint(true)
    try {
      val nExpired = expired.count()
      if (nExpired > 0) {
        val keptSigs = consolidated.filter(col("kind") === "s" &&
          col("first_batch") > olderThanBatch)
        val keptBands = consolidated.filter(col("kind") === "b")
          .join(expired, Seq("doc_id"), "left_anti")
        val staged = keptSigs.unionByName(keptBands)
          .select(col("doc_id"), col("lang"), col("minhash"),
            col("first_batch"), col("band"), col("bh"), col("kind"))
          .localCheckpoint(true)
        val view = stageView(s, indexDir)
        staged.createOrReplaceTempView(view)
        try s.sql(
          s"""INSERT OVERWRITE TABLE `$tbl` PARTITION (batch=$sentinel, kind)
             |SELECT doc_id, lang, minhash, first_batch, band, bh, kind
             |FROM `$view`""".stripMargin)
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

  /** MERGE two independently built fuzzy indexes into a FRESH third —
    * the [[CorpusIngest.merge]] twin with the extra step exact digests
    * cannot do: CROSS-INDEX near-dup collapse. Index `a` is senior:
    * every `b` doc whose minhash agreement with SOME `a` doc reaches
    * `simThreshold` is suppressed (candidates from a (band,bh) join of
    * the two band tables — O(|b| + collisions), the standard probe
    * shape, never |a|×|b|); survivors' signatures and band postings are
    * unioned with `a`'s into a single consolidated partition under the
    * standard bucket specs, blooms rebuilt, so the destination is a
    * normal index ([[ingestBatch]]/[[compact]]/[[retract]] continue).
    *
    * `b`-internal near-dups are NOT collapsed (each source already
    * deduped itself — same reasoning as within-batch collapse being
    * opt-in). doc_id spaces must be disjoint (the signature join is
    * id-keyed); overlap throws. Destination must not exist; a crash
    * mid-write leaves a partial dst — delete and re-run (sources are
    * read-only throughout). Returns the merged signature count.
    */
  def merge(s: SparkSession, aDir: String, bDir: String, dstDir: String,
      simThreshold: Double = 0.5): Long = {
    require(reconcile(s, aDir), s"no fuzzy index at $aDir")
    require(reconcile(s, bDir), s"no fuzzy index at $bDir")
    val (fs, dstPath) = fsOf(s, dstDir)
    require(!fs.exists(dstPath), s"merge destination already exists: $dstDir")
    val aSig = sigs(s, aDir)
    val bSig = sigs(s, bDir)
    require(aSig.select(col("doc_id"))
        .join(bSig.select(col("doc_id")), "doc_id").isEmpty,
      "doc_id spaces of the two indexes overlap - remap ids before merging")
    // cross-index candidates: a shuffled band join — acceptable for an
    // offline verb whose output write is O(index) anyway
    val aBands = bands(s, aDir).select(col("band"), col("bh"), col("doc_id"))
    val bBands = bands(s, bDir).select(col("band"), col("bh"), col("doc_id"))
    val cand = bBands.alias("n").join(aBands.alias("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()
    val dup = cand
      .join(aSig.select(col("doc_id").as("old_id"),
        col("minhash").as("old_sig")), "old_id")
      .join(bSig.select(col("doc_id").as("new_id"),
        col("minhash").as("new_sig")), "new_id")
      .filter(agreement(col("new_sig"), col("old_sig")) >= simThreshold)
      .select(col("new_id").as("doc_id")).distinct()
    val sigCols = Seq("doc_id", "lang", "minhash", "first_batch")
    val keptSigs = aSig.select(sigCols.map(col): _*)
      .unionByName(bSig.join(dup, Seq("doc_id"), "left_anti")
        .select(sigCols.map(col): _*))
      .withColumn("band", lit(null).cast("int"))
      .withColumn("bh", lit(null).cast("bigint"))
      .withColumn("kind", lit("s"))
    val keptBands = aBands
      .unionByName(bBands.join(dup, Seq("doc_id"), "left_anti"))
      .distinct()
      .select(col("doc_id"), lit(null).cast("string").as("lang"),
        lit(null).cast("array<bigint>").as("minhash"),
        lit(null).cast("bigint").as("first_batch"),
        col("band"), col("bh"), lit("b").as("kind"))
    val sentinel = CorpusIngest.CompactedBatch
    createTable(s, dstDir)
    val view = stageView(s, dstDir)
    keptSigs.unionByName(keptBands).createOrReplaceTempView(view)
    try s.sql(s"""INSERT OVERWRITE TABLE `${idxTable(s, dstDir)}`
                 |PARTITION (batch=$sentinel, kind)
                 |SELECT doc_id, lang, minhash, first_batch, band, bh,
                 |       kind FROM `$view`""".stripMargin)
    finally s.catalog.dropTempView(view)
    rebuildBlooms(s, dstDir)
    sigs(s, dstDir).count()
  }

  /** RETRACT (takedown) documents from the fuzzy index by doc_id — the
    * [[CorpusIngest.retract]] twin: removes the docs' signatures AND
    * their LSH band postings, so a re-delivered near-dup of a retracted
    * doc is accepted as new (nothing remembers it), while near-dups of
    * SURVIVING docs stay suppressed.
    *
    * Same contracts as the exact twin: writer lease; staged
    * static-partition overwrites preserving both bucket specs; newest
    * batch refused (an at-least-once replay would resurrect the rows);
    * band blooms left as-is (removal only makes them over-approximate —
    * the FP-only direction; the next [[compact]] re-tightens). Removal
    * order is bands BEFORE sigs: a crash in between leaves docs whose
    * candidates can no longer be generated — retraction-effective early,
    * never a dangling candidate verified against missing state (the
    * verify join inner-joins sigs and simply drops such candidates).
    * Partial-crash contract: partitions are independently atomic; re-run
    * with the same ids until it returns (idempotent).
    *
    * Returns the number of signature rows removed.
    */
  def retract(s: SparkSession, indexDir: String, docIds: DataFrame): Long = {
    require(reconcile(s, indexDir), s"no fuzzy index at $indexDir")
    IngestPaths.acquireLease(s, indexDir)
    val tbl = idxTable(s, indexDir)
    s.catalog.refreshTable(tbl)
    val ids = docIds.select(col(docIds.columns.head).cast("long").as("doc_id"))
      .distinct().localCheckpoint(true)
    try {
      // real batches only: the consolidated partition never replays (a
      // fresh merge() destination is entirely retractable)
      val maxBatch = s.table(tbl)
        .filter(col("batch") =!= CorpusIngest.CompactedBatch)
        .agg(max(col("batch"))).head().getAs[Number](0)
      // per-batch hit counts over BOTH kinds in one pass; ns = sig rows
      // (the verb's return value)
      val hits = s.table(tbl).join(ids, Seq("doc_id"), "left_semi")
        .groupBy(col("batch"))
        .agg(sum(when(col("kind") === "s", 1L).otherwise(0L)).as("ns"))
        .collect()
        .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
      require(maxBatch == null || !hits.contains(maxBatch.longValue),
        s"retract: ids live in the newest batch ($maxBatch) which may " +
          "still replay under foreachBatch's at-least-once contract and " +
          "would resurrect them - compact first or retract after the " +
          "next batch")
      val allCols = Seq("doc_id", "lang", "minhash", "first_batch",
        "band", "bh", "kind")
      hits.keys.foreach { v =>
        val staged = s.table(tbl).filter(col("batch") === v)
          .join(ids, Seq("doc_id"), "left_anti")
          .select(allCols.map(col): _*)
          .localCheckpoint(true)
        val view = stageView(s, indexDir)
        staged.createOrReplaceTempView(view)
        try s.sql(
          s"""INSERT OVERWRITE TABLE `$tbl` PARTITION (batch=$v, kind)
             |SELECT ${allCols.mkString(", ")} FROM `$view`""".stripMargin)
        finally {
          s.catalog.dropTempView(view)
          staged.unpersist()
        }
      }
      s.catalog.refreshTable(tbl)
      hits.values.sum
    } finally ids.unpersist()
  }

  /** Every surviving doc with the batch that FIRST saw it (`first_batch`,
    * stable across [[compact]]; signature metadata, never text). Plain
    * path read — catalog-independent, EXCEPT when a crashed compact left
    * its intent marker: the compaction is rolled forward (via the
    * catalog) before reading, so this read never observes duplicates.
    */
  def index(s: SparkSession, indexDir: String): DataFrame = {
    if (IngestPaths.readMarker(s, indexDir).isDefined) reconcile(s, indexDir)
    s.read.parquet(idxPath(indexDir)).filter(col("kind") === "s")
      .select(col("doc_id"), col("lang"), col("first_batch").as("batch"))
  }
}
