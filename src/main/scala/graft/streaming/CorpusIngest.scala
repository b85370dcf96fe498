package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

/** Incremental corpus ingestion with a PERSISTENT exact-dedup manifest —
  * the daily-ingest shape of a production training-data pipeline: each
  * arriving batch of documents is deduplicated within itself, checked
  * against every digest the manifest has ever seen, and only the NEW
  * documents' digests are appended. Re-ingesting yesterday's corpus adds
  * nothing; a crashed batch replays idempotently.
  *
  * Scale shape (the lifetime-cost design, VERDICT r9 #1): the manifest is
  * a digest-BUCKETED table — `CLUSTERED BY (__h, __len) INTO
  * [[ManifestBuckets]] BUCKETS`, partitioned by ingest batch — so the
  * per-batch anti-join reads the manifest side pre-hash-partitioned
  * (bucketed scan ⇒ `HashPartitioning` on the join keys) and ONLY the
  * small arriving batch is shuffled. Without this layout the whole
  * manifest was re-shuffled every micro-batch, i.e. daily ingest cost grew
  * with corpus LIFETIME; with it, the manifest side never moves over the
  * network again — the shuffle was paid once, at append time, per batch's
  * own (small) data.
  *
  * Bloom pre-filter (per-BUCKET sidecars, r11 — replacing r10's per-batch
  * files): exactly [[ManifestBuckets]] bloom files + one meta file live
  * beside the table, each covering the digests of one manifest bucket, so
  * sidecar file count is CONSTANT over the manifest's lifetime (the r10
  * design listed and merged O(batches) files per batch). The probe is a
  * codegen Catalyst expression — a bucket-id dispatch into a BROADCAST
  * bloom bank (`bloom_bank_might_contain`, [[probeColumn]]), visible in
  * EXPLAIN — not the r10 driver-side UDF. Digests the bucket's bloom has
  * never seen are definitely new (no false negatives) and skip the join
  * entirely; only probable duplicates (true dups + ~fpp of the batch)
  * join. When NOTHING probes probable the manifest's data files are not
  * opened at all — the frequent-small-batch case (P ≈ (1-fpp)^batch, so
  * minutes-cadence micro-batches skip routinely; a 10^6-doc daily drop
  * instead gets its probe side cut to ~1% before the join).
  *
  * Bloom sizing honesty at 100 TB: each bucket's bloom has a fixed
  * capacity (set by `spark.graft.ingest.bloomBucketCapacity` at manifest
  * creation, re-sized to 2× the observed bucket population — capped at
  * [[MaxBucketCapacity]] — on [[compact]]). A bucket whose insert count
  * exceeds its capacity is SATURATED: its branch of the probe degrades to
  * `true` (everything in that bucket routes to the always-correct bucket
  * anti-join) while every other bucket's pre-filter STAYS ACTIVE — the
  * r10 design dropped the whole pre-filter at its 256 MB cliff. At a true
  * 10^11-digest lifetime one sizes [[ManifestBuckets]] like any bucketed
  * fact table, keeping each bucket's sketch broadcast-block-friendly.
  *
  * The manifest stores 16-byte `(xxhash64, length)` digest keys plus doc
  * metadata — never text bodies — so even the residual bucket-local scan
  * moves digests, not documents (same rationale as `Dedup.exact`). State
  * is O(distinct documents ever seen), append-only between [[compact]]
  * calls; `first_batch` (a DATA column, r11) carries each doc's
  * first-seen batch so compaction is lossless on provenance.
  */
object CorpusIngest {

  /** Bucket count of the manifest table. 16 keeps test layouts small; a
    * 100 TB deployment would size this like any bucketed fact table
    * (buckets ≈ manifest bytes / target file size).
    */
  val ManifestBuckets = 16

  /** Reserved partition label for [[compact]]ed history — far outside any
    * replayable foreachBatch id (ids are ≥ 0; the catalog queries seed
    * with -1) and [[ingestBatch]] rejects it, so the consolidated
    * partition is never excluded by a replay's own-partition filter and
    * never overwritten by a batch write. (Not `Long.MinValue`: its SQL
    * literal form overflows before negation in a PARTITION spec.)
    */
  val CompactedBatch: Long = -(1L << 62)

  /** Per-bucket bloom capacity for NEW manifests (items per bucket);
    * overridable via `spark.graft.ingest.bloomBucketCapacity`, persisted
    * in the sidecar meta so later batches keep the manifest's own shape
    * (`BloomFilter`s merge only when their bit arrays agree).
    */
  val CapacityConf = "spark.graft.ingest.bloomBucketCapacity"
  val DefaultBucketCapacity: Long = 1L << 18

  /** Ceiling on per-bucket capacity at [[compact]] re-size: ~10 MB of
    * bits per bloom at the sidecar's 1e-4 fpp (~19 bits/key). The
    * sketches ride one torrent broadcast per batch ([[probeColumn]]), so
    * the cap bounds executor block-cache footprint (≤ ~160 MB at 16
    * buckets), not task-binary size; past this, buckets saturate
    * (join-only for that bucket) and the real fix is more
    * [[ManifestBuckets]].
    */
  val MaxBucketCapacity: Long = 1L << 22

  /** Catalog name of the manifest table for a manifest directory —
    * md5 of the CANONICAL dir URI (ADVICE r10: raw-string hashCode made
    * `/a/b` vs `/a/b/` two tables over one location, and 32-bit hashes of
    * distinct dirs can collide onto one table).
    */
  def tableName(s: SparkSession, manifestDir: String): String =
    "graft_manifest_" + IngestPaths.digest(s, manifestDir)

  /** Streaming entry: every micro-batch runs [[ingestBatch]].
    *
    * `compactEvery` > 0 opts into AUTO-compaction: after every Nth batch
    * the history strictly below it is consolidated ([[compact]]) in the
    * same foreachBatch slot — the operational answer to minutes-cadence
    * micro-batches, whose partition/file count otherwise grows O(batches)
    * between manual compact calls. The just-ingested batch always stays
    * in its own partition (foreachBatch may replay it), and a re-trigger
    * with nothing new to merge is a metadata no-op ([[runCompaction]]'s
    * fresh-partition guard), so compactEvery=1 costs O(new partitions),
    * not O(manifest), per batch.
    */
  def dedupIngest(docs: DataFrame, manifestDir: String,
      checkpointDir: String, compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestBatch(batch, id, manifestDir)
        maybeAutoCompact(batch.sparkSession, manifestDir, id, compactEvery)
      }
      .start()

  /** The auto-compaction decision — exactly what the foreachBatch hook
    * runs after [[ingestBatch]]; exposed for batch-mode specs. A replayed
    * trigger batch re-runs it harmlessly (compaction is idempotent and
    * the fresh-partition guard makes the repeat a metadata no-op).
    */
  private[graft] def maybeAutoCompact(s: SparkSession, manifestDir: String,
      batchId: Long, compactEvery: Int): Unit =
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      // NOT compact(): its manual-call guard compares upToBatch against
      // max(batch) over ROWS, which a fully-suppressed newest batch never
      // registers in — it would throw inside foreachBatch. Here
      // upToBatch = batchId−1 < the current trigger id by construction,
      // so run the same marker-guarded body directly.
      val tbl = tableName(s, manifestDir)
      // silent no-op before the first non-empty batch creates the table
      // (ADVICE r11: a require here would fail the whole streaming query
      // when the compaction trigger fires during an all-empty prefix)
      if (s.catalog.tableExists(tbl))
        IngestPaths.compactMarked(s, manifestDir, batchId - 1)(
          runCompaction(s, manifestDir, _))
    }

  /** Orderly writer-lease handover after this process is done with the
    * manifest (see [[IngestPaths.acquireLease]] — every ingest/compact
    * call acquires or refreshes the lease and REFUSES a dir held by
    * another live writer). Only this process's own lease is removed.
    */
  def releaseWriterLease(s: SparkSession, manifestDir: String): Unit =
    IngestPaths.releaseLease(s, manifestDir)

  /** Within-batch exact dedup + digest columns. Digests are NON-NULL by
    * construction — null text ↦ `(xxhash64(""), -1)`, distinct from empty
    * text's `(xxhash64(""), 0)` — so the manifest anti-join is a PLAIN
    * equi-join: null-safe `<=>` keys would be rewritten by the planner and
    * no longer match the table's bucket partitioning, silently
    * reintroducing the full-manifest exchange this layout exists to kill.
    */
  private def digested(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("__h"), col("__len")).orderBy(col("doc_id"))
    // __grp = this digest's group size, carried so docsIn never needs a
    // separate full pass over the raw batch (same shuffle as the dedup
    // window; r11 constant-shave). Dropped before anything is written.
    val wAll = Window.partitionBy(col("__h"), col("__len"))
    batch
      .withColumn("__h", xxhash64(coalesce(col("text"), lit(""))))
      .withColumn("__len", coalesce(length(col("text")), lit(-1)))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__grp", count(lit(1)).over(wAll))
      .filter(col("__rn") === 1).drop("__rn")
      .select(col("doc_id"), col("lang"), col("__h"), col("__len"),
        col("__grp"))
  }

  /** The digest's manifest bucket id — MUST be one expression used by
    * both the bloom build and the probe, so a digest always consults the
    * bloom it was inserted into ([[functions.hash]] is the same
    * seed-42 Murmur3 Spark's bucketing uses, so this also coincides with
    * the physical bucket files, which is what makes "sized to bucket
    * population" literal).
    */
  private def bucketId: Column =
    pmod(hash(col("__h"), col("__len")), lit(ManifestBuckets)).cast("int")

  /** The bucket-local probe: anti-join `b` against every manifest digest
    * outside `batchId` (a replayed batch must not be suppressed by its own
    * previous, possibly partial, attempt — the `batch` partition filter
    * also PRUNES that partition's files from the scan). Exposed for the
    * plan assertion in `CorpusIngestSpec`: the manifest side of this join
    * must show a bucketed scan and NO shuffle exchange.
    */
  private[graft] def manifestAntiJoin(b: DataFrame, batchId: Long,
      tbl: String): DataFrame = {
    val s = b.sparkSession
    val seen = s.table(tbl)
      .filter(col("batch") =!= batchId)
      .select(col("__h"), col("__len"))
    b.alias("b").join(seen.alias("m"),
        col("b.__h") === col("m.__h") && col("b.__len") === col("m.__len"),
        "left_anti")
      .select(col("b.doc_id"), col("b.lang"), col("b.__h"), col("b.__len"))
  }

  // ---------------------------------------------------------------------
  // Per-bucket bloom sidecar state (shared machinery: BloomSidecar)
  // ---------------------------------------------------------------------

  /** Bloom sidecars live BESIDE the table dir, not inside it: the batch-0
    * CTAS refuses a non-empty location, and this keeps the invariant
    * uniform — bloom state for a batch is always written BEFORE its
    * manifest rows (a crash in between leaves a bloom-ahead sketch, which
    * only produces false "probable duplicate"s — routed to the anti-join
    * and resolved correctly — never false "definitely new"s; pinned by
    * the FP-only spec).
    */
  private def bloomDir(manifestDir: String): String = s"${manifestDir}_bloom"

  private[graft] type BloomState = BloomSidecar.State

  /** The manifest digest frame keyed for the sidecar: bucket id + the
    * 64-bit digest hash (the bloom key; `__len` disambiguates only in the
    * join, the sketch is a pre-filter).
    */
  private def bloomKeyed(digests: DataFrame): DataFrame =
    digests.select(bucketId.as("__b"), col("__h").as("__k"))

  /** Sidecar state, or None when no usable per-bucket state exists (fresh
    * manifest, deleted sidecar, or a pre-r11 per-batch layout) — the
    * caller then takes the always-correct plain anti-join and [[compact]]
    * rebuilds the sketches.
    */
  private[graft] def loadBloomState(s: SparkSession,
      manifestDir: String): Option[BloomState] =
    BloomSidecar.load(s, bloomDir(manifestDir), ManifestBuckets)

  /** Merge this batch's digests into the per-bucket sketches (bloom-ahead
    * of the row write — see [[bloomDir]]; replay/no-state semantics in
    * [[BloomSidecar.merge]]).
    */
  private def mergeBloom(s: SparkSession, manifestDir: String, batchId: Long,
      b: DataFrame, st: Option[BloomState], manifestExists: Boolean): Unit =
    BloomSidecar.merge(s, bloomDir(manifestDir), ManifestBuckets, batchId,
      bloomKeyed(b), st, manifestExists, IngestPaths.defaultCapacity(s))

  /** The codegen probe: `bloom_bank_might_contain(<bucket id>, __h)` — a
    * single whole-stage-codegen'd expression dispatching into a BROADCAST
    * [[graft.functions.BloomBank]] (executor-side, visible in EXPLAIN —
    * VERDICT r10 #4). A SATURATED bucket's bank entry is null and probes
    * `true`: its rows route to the anti-join while every other bucket
    * keeps pre-filtering. See [[BloomSidecar.probeColumn]].
    */
  private[graft] def probeColumn(s: SparkSession, st: BloomState): Column =
    BloomSidecar.probeColumn(s, st, ManifestBuckets, bucketId, col("__h"))

  // ---------------------------------------------------------------------
  // Compaction intent log (the one-entry transaction log)
  // ---------------------------------------------------------------------

  /** The compaction INTENT record — a one-entry redo log (ADVICE r11: the
    * r11.0 compact was not crash-atomic; "a transaction-log table format
    * is the real fix"). [[compact]] durably records `upToBatch` here
    * (tmp+rename) BEFORE touching any state; every entry point that
    * serves the manifest ([[ingestBatch]] via reconcile, [[manifest]],
    * [[compact]] itself) first ROLLS the pending compaction FORWARD —
    * re-running the whole consolidate→drop→rebuild sequence, which is
    * idempotent because the consolidation re-reads whatever state the
    * crash left (including the previous consolidated partition) and
    * dedups by digest keeping the earliest `first_batch` — then deletes
    * the record. A crash at ANY point inside compact therefore leaves no
    * observable intermediate state: the next reader completes it. The
    * underscore prefix keeps the file invisible to parquet's FileIndex,
    * so it can live inside the table directory itself.
    */
  private[graft] def writeCompactMarker(s: SparkSession, manifestDir: String,
      upToBatch: Long): Unit = IngestPaths.writeMarker(s, manifestDir, upToBatch)

  // ---------------------------------------------------------------------
  // Catalog reconciliation + layout sniffing
  // ---------------------------------------------------------------------

  /** Reject a manifest this code version cannot safely serve (ADVICE
    * r10: registering the bucketed DDL over a pre-r10 PLAIN manifest made
    * Spark throw 'Invalid bucket file' mid-query, and a pre-r11 one lacks
    * `first_batch`). Detection is explicit and the error says what to do;
    * silently degrading would give legacy dirs different join semantics
    * (their null digests need `<=>`) on a code path no test exercises.
    */
  private def sniffLegacy(s: SparkSession, fs: FileSystem, mPath: Path): Unit = {
    val dataFile = IngestPaths.firstDataFile(fs, mPath)
    if (dataFile.isEmpty) return // no files yet: effectively absent
    val why =
      if (!dataFile.get.matches(""".*_\d{5}\.c\d+.*"""))
        Some(s"data file '${dataFile.get}' is not bucket-encoded (pre-r10 plain layout)")
      else {
        val schema = s.read.parquet(mPath.toString).schema
        if (!schema.fieldNames.contains("first_batch"))
          Some("schema lacks the first_batch column (r10 layout)")
        else None
      }
    why.foreach { w =>
      throw new IllegalStateException(
        s"manifest at $mPath was written by an older graft version ($w). " +
          "Re-ingest into a fresh manifestDir, or rewrite the old manifest " +
          "once with CorpusIngest.ingestBatch over its surviving documents.")
    }
  }

  /** Ensure catalog state matches the on-disk manifest: drop a stale entry
    * whose files are gone (scratch dirs are wiped between gate runs in one
    * JVM), and re-register a table for a manifest that outlived its
    * original session (new JVM / new cluster over a long-lived manifest —
    * the bucket spec in the DDL is what makes the layout survive restarts).
    * Throws on a legacy layout ([[sniffLegacy]]). Returns whether the
    * manifest table exists after reconciliation.
    */
  private def reconcileTable(s: SparkSession, manifestDir: String): Boolean = {
    val tbl = tableName(s, manifestDir)
    val (fs, mPath) = IngestPaths.fsOf(s, manifestDir)
    val pathExists = fs.exists(mPath)
    if (!pathExists && s.catalog.tableExists(tbl)) s.sql(s"DROP TABLE `$tbl`")
    if (pathExists) {
      // sniff only when the table is NOT yet registered: a registered
      // entry was created by this object's own saveAsTable or registered
      // here after a successful sniff, so re-reading the parquet schema
      // every micro-batch is a per-batch listing+footer job for nothing
      // (r11 constant-shave)
      if (!s.catalog.tableExists(tbl)) sniffLegacy(s, fs, mPath)
      if (!s.catalog.tableExists(tbl) &&
          IngestPaths.firstDataFile(fs, mPath).isDefined) {
        s.sql(
          s"""CREATE TABLE `$tbl` (
             |  doc_id BIGINT, lang STRING, `__h` BIGINT, `__len` INT,
             |  first_batch BIGINT, batch BIGINT)
             |USING PARQUET
             |PARTITIONED BY (batch)
             |CLUSTERED BY (`__h`, `__len`) SORTED BY (`__h`, `__len`)
             |INTO $ManifestBuckets BUCKETS
             |LOCATION '$manifestDir'""".stripMargin)
        s.catalog.recoverPartitions(tbl)
      }
      // heal a crashed compact before anything reads or merges (the
      // marker is the durable intent record — see IngestPaths.markerPath)
      IngestPaths.rollForward(s, manifestDir, tbl)(
        runCompaction(s, manifestDir, _))
    }
    s.catalog.tableExists(tbl)
  }

  private def stageView(s: SparkSession, manifestDir: String): String =
    "graft_ingest_stage_" + IngestPaths.digest(s, manifestDir)

  /** One ingest merge. Exposed for batch-mode tests; called per
    * micro-batch above.
    *
    * Idempotent replay: each batch lands as partition `batch=<id>` via
    * static partition overwrite, so foreachBatch's at-least-once delivery
    * re-running a batch replaces its own output instead of duplicating it —
    * the anti-join EXCLUDES the current batch's own partition, and the
    * bloom merge no-ops on its own `lastBatch`, so a replayed batch is
    * neither suppressed by its previous (possibly partial) attempt nor
    * double-counted into saturation.
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      manifestDir: String): Unit = {
    require(batchId != CompactedBatch,
      s"batch id $CompactedBatch is reserved for compacted history")
    val s = batch.sparkSession
    IngestPaths.acquireLease(s, manifestDir)
    val tbl = tableName(s, manifestDir)
    val manifestExists = reconcileTable(s, manifestDir)
    // persisted: reused by the bloom build, the probable/definite split,
    // and the final write; unpersisted deterministically below (ADVICE r9)
    val bg = digested(batch).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val st = if (manifestExists) loadBloomState(s, manifestDir) else None
      val probe = st.map(bs => probeColumn(s, bs))
      // ONE materializing action delivers both observability counts —
      // docsIn = Σ group sizes (replaces the former raw batch.count()
      // pass), uniqueIn = retained digests — AND, when sketches exist,
      // the bloom pre-probe count (r13: the probe over the digest key is
      // a pure scalar column, so the former separate probable.count()
      // job folds into this aggregate)
      val cntCols = Seq(coalesce(sum(col("__grp")), lit(0L)).as("d"),
        count(lit(1)).as("u")) ++
        probe.map(p =>
          coalesce(sum(when(p, lit(1L))), lit(0L)).as("p")).toSeq
      val cnts = bg.agg(cntCols.head, cntCols.tail: _*).head()
      val docsIn = cnts.getLong(0)
      val uniqueIn = cnts.getLong(1)
      val bloomProbable = if (probe.isDefined) cnts.getLong(2) else -1L
      val b = bg.drop("__grp")
      val survivors =
        if (!manifestExists) b
        else probe match {
          case Some(p) =>
            // empty probable set ⇒ the whole batch is definitely new and
            // the manifest's data files are never opened this batch
            if (bloomProbable == 0) b
            else b.filter(!p)
              .unionByName(manifestAntiJoin(b.filter(p), batchId, tbl))
          case None => manifestAntiJoin(b, batchId, tbl)
        }
      mergeBloom(s, manifestDir, batchId, b, st, manifestExists) // bloom-ahead
      val appended =
        if (!manifestExists) {
          // stage through a rebalance on the bucket key with the bucket
          // count as its initial partition count (EXPLAINS.md
          // "Batch-sized staged writes"; the LshIndex rationale):
          // HashPartitioning((__h, __len), ManifestBuckets)
          // .partitionIdExpression IS the bucket-id expression, so each
          // initial partition is one bucket, and AQE coalesces a
          // rebalance (never a fixed-count repartition) by merging
          // contiguous partitions — every write task holds whole buckets,
          // the write (one file per write task and bucket) lands at the
          // 16-file layout floor at any batch size, and a micro-batch
          // writes from one task, not one per bucket. Without any
          // exchange the seed partition wrote (window-shuffle tasks) ×
          // (buckets) tiny files that every later anti-join scan
          // re-opened. Batch-sized exchange only.
          survivors
            .hint("rebalance", ManifestBuckets, col("__h"), col("__len"))
            .withColumn("first_batch", lit(batchId))
            .withColumn("batch", lit(batchId)).write
            .partitionBy("batch")
            .bucketBy(ManifestBuckets, "__h", "__len").sortBy("__h", "__len")
            .option("path", manifestDir)
            .saveAsTable(tbl)
          uniqueIn
        } else {
          // the overwrite target is also the anti-join's read source, which
          // Spark's analyzer rejects (UNSUPPORTED_OVERWRITE). localCheckpoint
          // eagerly materializes the BATCH-sized survivor set (never the
          // manifest) and cuts the table read out of the insert's lineage —
          // read-old-state-then-overwrite, the semantics a merge wants.
          // STATIC partition overwrite (explicit PARTITION (batch=<id>))
          // replaces exactly this batch's partition and nothing else;
          // DataFrameWriter's dynamic-overwrite write-option is ignored by
          // insertInto and would truncate the whole table.
          // same bucket-aligned rebalance as the first-batch write: the
          // insert writes one file per (write task, bucket), so every
          // batch partition stays at the file floor whatever the
          // anti-join's output partitioning. Batch-sized exchange only.
          val staged = survivors
            .hint("rebalance", ManifestBuckets, col("__h"), col("__len"))
            .localCheckpoint(true)
          val view = stageView(s, manifestDir)
          staged.createOrReplaceTempView(view)
          try {
            val ins = s.sql(
              s"""INSERT OVERWRITE TABLE `$tbl` PARTITION (batch=$batchId)
                 |SELECT doc_id, lang, `__h`, `__len`, $batchId AS first_batch
                 |FROM `$view`""".stripMargin)
            // appended = the insert's own numOutputRows write metric
            // (BasicWriteJobStatsTracker on the DataWritingCommandExec —
            // NOT the CommandResultExec wrapper, whose own numOutputRows
            // metric is 0 for a rowless command) — the count is a fact
            // the write job already established; re-counting the
            // checkpointed frame was one more job + driver gap per
            // micro-batch (r20). The defensive fallback keeps the
            // observability contract if a future Spark moves the metric.
            IngestPaths.writtenRows(ins).getOrElse(staged.count())
          } finally {
            s.catalog.dropTempView(view)
            staged.unpersist()
          }
        }
      IngestEvents.post(IngestEvents.IngestProgress("corpus_ingest",
        manifestDir, batchId, docsIn, uniqueIn, appended, bloomProbable))
    } finally bg.unpersist()
  }

  /** Consolidate every manifest partition with `batch <= upToBatch`
    * (including any previous consolidation) into the single reserved
    * [[CompactedBatch]] partition — preserving the bucket spec (the
    * insert targets the bucketed table, so the no-exchange anti-join plan
    * survives compaction) and each doc's `first_batch` — then drop the
    * merged partitions' files and metadata and REBUILD the per-bucket
    * bloom sidecars sized to the surviving bucket populations
    * (VERDICT r10 #1: partition count and sidecar state stop growing
    * O(lifetime); this is also the upgrade path for a manifest whose
    * sidecars predate the per-bucket layout or were lost).
    *
    * `upToBatch` must be strictly below the newest batch: foreachBatch is
    * at-least-once and only its NEWEST batch can replay — a replay of a
    * compacted batch would find its rows in the consolidated partition,
    * which its own-partition exclusion cannot see past (self-suppression).
    *
    * Crash ATOMICITY via the intent log ([[IngestPaths.markerPath]]): the marker is
    * durably written before any state changes and cleared after the last;
    * a crash anywhere between is rolled forward by the next
    * [[ingestBatch]]/[[manifest]]/[[compact]] call before it serves data,
    * so the duplicate-rows window of the r11.0 design (insert committed,
    * drops not yet done, duplicates visible through the path-reading
    * [[manifest]]) no longer exists for any reader that goes through this
    * object's API.
    */
  def compact(s: SparkSession, manifestDir: String, upToBatch: Long): Unit = {
    // validate BEFORE taking the lease: a compact() against a wrong dir
    // must not strand a lease file that blocks that path's future first
    // writer for a TTL (r12 review)
    require(reconcileTable(s, manifestDir), s"no manifest at $manifestDir")
    IngestPaths.acquireLease(s, manifestDir)
    val tbl = tableName(s, manifestDir)
    s.catalog.refreshTable(tbl)
    val maxBatch = s.table(tbl).agg(max(col("batch"))).head().getAs[Number](0)
    require(maxBatch != null && upToBatch < maxBatch.longValue,
      s"compact(upToBatch=$upToBatch): the newest batch (${maxBatch}) may " +
        "still replay under foreachBatch's at-least-once contract and must " +
        "stay in its own partition")
    IngestPaths.compactMarked(s, manifestDir, upToBatch)(
      runCompaction(s, manifestDir, _))
  }

  /** The compaction body — everything between marker write and clear.
    * Idempotent: re-run from any crash point it converges (the
    * consolidation input includes the previous consolidated partition and
    * any not-yet-dropped merged partitions; the window dedups by digest).
    */
  private def runCompaction(s: SparkSession, manifestDir: String,
      upToBatch: Long): Unit = {
    val tbl = tableName(s, manifestDir)
    val toMerge = s.table(tbl).filter(col("batch") <= upToBatch)
    // fresh-partition guard: nothing below upToBatch outside the
    // consolidated partition ⇒ re-consolidating would rewrite the whole
    // history for zero layout change (auto-compaction would otherwise pay
    // O(manifest) per trigger). Partition-pruned probe — reads at most
    // one row. A roll-forward that crashed after the drops but before the
    // bloom rebuild also lands here: safe, because compaction MOVES
    // digests (never removes them), so the existing sketches stay valid
    // (possibly still saturated until the next real compact).
    if (toMerge.filter(col("batch") =!= CompactedBatch).isEmpty) {
      // …but a manual compact() is also the DOCUMENTED recovery path for
      // a deleted or saturated bloom sidecar (ADVICE r11): when the
      // sketches are absent or any bucket is saturated, rebuild them even
      // though the row layout has nothing to do.
      val st = loadBloomState(s, manifestDir)
      if (st.isEmpty ||
          st.exists(b => (0 until ManifestBuckets).exists(b.saturated)))
        rebuildBlooms(s, manifestDir)
      return
    }
    val w = Window.partitionBy(col("__h"), col("__len"))
      .orderBy(col("first_batch"), col("doc_id"))
    val staged = toMerge
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("__h"), col("__len"),
        col("first_batch"))
      .localCheckpoint(true)
    try {
      val view = stageView(s, manifestDir)
      staged.createOrReplaceTempView(view)
      try s.sql(
        s"""INSERT OVERWRITE TABLE `$tbl` PARTITION (batch=$CompactedBatch)
           |SELECT doc_id, lang, `__h`, `__len`, first_batch FROM `$view`""".stripMargin)
      finally s.catalog.dropTempView(view)
      // re-assert the writer lease before the DESTRUCTIVE phase: a
      // consolidation that outlived the TTL could have been stolen by a
      // new writer — refresh when still ours, abort loudly when not (the
      // intent marker then lets the new owner roll this compaction
      // forward; nothing has been dropped yet)
      IngestPaths.acquireLease(s, manifestDir)
      // files first (manifest() is a path read and must not resurrect
      // merged rows), then catalog metadata; both idempotent on re-run
      val (fs, mPath) = IngestPaths.fsOf(s, manifestDir)
      fs.listStatus(mPath).filter(_.isDirectory).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch=")) {
          val v = n.stripPrefix("batch=").toLong
          if (v <= upToBatch && v != CompactedBatch) {
            fs.delete(st.getPath, true)
            s.sql(s"ALTER TABLE `$tbl` DROP IF EXISTS PARTITION (batch=$v)")
          }
        }
      }
      s.catalog.refreshTable(tbl)
      rebuildBlooms(s, manifestDir)
    } finally staged.unpersist()
  }

  /** Rebuild the per-bucket sidecars from the (post-compaction) manifest,
    * capacity = 2× the largest bucket population (floored at the conf
    * default, capped at [[MaxBucketCapacity]]) — "sized to bucket
    * population", clearing any saturation the fixed per-batch capacity
    * accumulated.
    */
  private def rebuildBlooms(s: SparkSession, manifestDir: String): Unit = {
    val tbl = tableName(s, manifestDir)
    val maxBatch = s.table(tbl).agg(max(col("batch"))).head().getAs[Number](0)
    if (maxBatch == null) return
    BloomSidecar.rebuild(s, bloomDir(manifestDir), ManifestBuckets,
      bloomKeyed(s.table(tbl)), maxBatch.longValue, IngestPaths.defaultCapacity(s),
      MaxBucketCapacity)
  }

  /** EXPIRE (retention) — drop every document FIRST SEEN in a batch
    * <= `olderThanBatch`, the age-out companion of [[retract]] (a crawl
    * snapshot aged past its retention window; its docs may legitimately
    * re-enter later as fresh deliveries).
    *
    * Physical shape: a non-compacted partition `batch=v` holds exactly
    * the rows first seen in batch v, so expiry there is a whole-partition
    * drop (file delete + DROP PARTITION — metadata-cheap, no rewrite);
    * only the consolidated [[CompactedBatch]] partition, whose rows carry
    * mixed `first_batch` values, pays a staged filter rewrite. Same
    * newest-batch replay guard, FP-only-stale-bloom reasoning, and
    * partial-crash re-run contract as [[retract]].
    *
    * Returns the number of rows removed.
    */
  def expire(s: SparkSession, manifestDir: String,
      olderThanBatch: Long): Long = {
    require(reconcileTable(s, manifestDir), s"no manifest at $manifestDir")
    IngestPaths.acquireLease(s, manifestDir)
    val tbl = tableName(s, manifestDir)
    s.catalog.refreshTable(tbl)
    val maxBatch = s.table(tbl).filter(col("batch") =!= CompactedBatch)
      .agg(max(col("batch"))).head().getAs[Number](0)
    require(maxBatch == null || olderThanBatch < maxBatch.longValue,
      s"expire(olderThanBatch=$olderThanBatch): the newest batch " +
        s"($maxBatch) may still replay under foreachBatch's at-least-once " +
        "contract and must stay")
    var removed = 0L
    // whole-partition drops for the per-batch partitions
    val (fs, mPath) = IngestPaths.fsOf(s, manifestDir)
    fs.listStatus(mPath).filter(_.isDirectory).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch=")) {
        val v = n.stripPrefix("batch=").toLong
        if (v != CompactedBatch && v <= olderThanBatch) {
          removed += s.table(tbl).filter(col("batch") === v).count()
          fs.delete(st.getPath, true)
          s.sql(s"ALTER TABLE `$tbl` DROP IF EXISTS PARTITION (batch=$v)")
        }
      }
    }
    s.catalog.refreshTable(tbl)
    // filter rewrite of the consolidated partition (mixed first_batch)
    val compacted = s.table(tbl).filter(col("batch") === CompactedBatch)
    val nExpired = compacted.filter(col("first_batch") <= olderThanBatch).count()
    if (nExpired > 0) {
      val staged = compacted.filter(col("first_batch") > olderThanBatch)
        .select(col("doc_id"), col("lang"), col("__h"), col("__len"),
          col("first_batch"))
        .localCheckpoint(true)
      val view = stageView(s, manifestDir)
      staged.createOrReplaceTempView(view)
      try s.sql(
        s"""INSERT OVERWRITE TABLE `$tbl` PARTITION (batch=$CompactedBatch)
           |SELECT doc_id, lang, `__h`, `__len`, first_batch
           |FROM `$view`""".stripMargin)
      finally {
        s.catalog.dropTempView(view)
        staged.unpersist()
      }
      removed += nExpired
      s.catalog.refreshTable(tbl)
    }
    removed
  }

  /** MERGE two independently built manifests into a FRESH third — the
    * two-crawls-deduped-separately-then-unioned case: rows are unioned
    * and deduped by digest, the EARLIER `first_batch` (ties → smaller
    * doc_id) winning, and written as a single consolidated partition
    * with the standard bucket spec, so the destination is a normal
    * manifest ([[ingestBatch]]/[[dedupIngest]]/[[compact]]/[[retract]]
    * all continue from it) with freshly rebuilt bloom sidecars.
    *
    * One window shuffle keyed on the 16-byte digest — never text bodies;
    * O(|A| + |B|) like a compaction over the union.
    *
    * The destination must not exist (the reference's output-dir
    * fail-fast rule); a crash mid-write leaves a partial dst — delete it
    * and re-run (sources are read-only throughout). Returns the merged
    * row count.
    */
  def merge(s: SparkSession, aDir: String, bDir: String,
      dstDir: String): Long = {
    require(reconcileTable(s, aDir), s"no manifest at $aDir")
    require(reconcileTable(s, bDir), s"no manifest at $bDir")
    val (fs, dstPath) = IngestPaths.fsOf(s, dstDir)
    require(!fs.exists(dstPath), s"merge destination already exists: $dstDir")
    // same overlap guard as the fuzzy/embed twins (ADVICE r12): dedup is
    // digest-keyed, so two manifests sharing a doc_id under DIFFERENT
    // digests would silently put that id in the destination twice, and a
    // later retract() of the id would remove both — an inconsistent
    // family contract. Disjoint id spaces are required across the family.
    require(manifest(s, aDir).select(col("doc_id"))
        .join(manifest(s, bDir).select(col("doc_id")), "doc_id").isEmpty,
      "doc_id spaces of the two manifests overlap - remap ids before merging")
    val union = manifest(s, aDir).unionByName(manifest(s, bDir))
    val w = Window.partitionBy(col("__h"), col("__len"))
      .orderBy(col("batch"), col("doc_id"))
    val merged = union
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("__h"), col("__len"),
        col("batch").as("first_batch"))
    val tbl = tableName(s, dstDir)
    merged.withColumn("batch", lit(CompactedBatch)).write
      .partitionBy("batch")
      .bucketBy(ManifestBuckets, "__h", "__len").sortBy("__h", "__len")
      .option("path", dstDir)
      .saveAsTable(tbl)
    rebuildBlooms(s, dstDir)
    s.table(tbl).count()
  }

  /** RETRACT (takedown) documents from the manifest by doc_id — the
    * right-to-be-forgotten path a production corpus needs beside append
    * and compact: after retraction the digests are gone, so a
    * re-delivery of the same text is accepted as NEW (the owner removed
    * it deliberately; nothing remembers it).
    *
    * Mechanics: under the writer lease, each affected partition is
    * rewritten in place (staged `localCheckpoint` → static-partition
    * `INSERT OVERWRITE`, the ingest/compact read-old-then-overwrite
    * pattern), preserving the bucket spec. The bloom sidecars are left
    * as-is DELIBERATELY: they only over-approximate after a removal,
    * which is the FP-only direction — a probe that hits a retracted
    * digest opens the table, finds nothing, and correctly admits the
    * doc; the next [[compact]] rebuild re-tightens them.
    *
    * Crash contract (documented, spec-pinned): partition overwrites are
    * independently atomic, so a crash mid-retraction leaves a CONSISTENT
    * manifest with a PARTIAL retraction — re-run `retract` with the same
    * ids until it returns (idempotent; already-clean partitions no-op).
    * No intent marker is needed because, unlike compaction, no state is
    * ever duplicated or moved — only removed.
    *
    * Like [[compact]], ids living in the NEWEST batch are refused:
    * foreachBatch's at-least-once replay of that batch would rewrite its
    * partition from the source and silently resurrect the retracted
    * rows. Compact first (or wait for the next batch), then retract.
    *
    * Returns the number of manifest rows removed.
    */
  def retract(s: SparkSession, manifestDir: String, docIds: DataFrame): Long = {
    require(reconcileTable(s, manifestDir), s"no manifest at $manifestDir")
    IngestPaths.acquireLease(s, manifestDir)
    val tbl = tableName(s, manifestDir)
    s.catalog.refreshTable(tbl)
    val ids = docIds.select(col(docIds.columns.head).cast("long").as("doc_id"))
      .distinct().localCheckpoint(true)
    try {
      val t = s.table(tbl)
      // the replay guard applies to REAL batches only: the consolidated
      // partition is never replayed (a fully compacted/merged manifest,
      // e.g. a fresh merge() destination, is entirely retractable)
      val maxBatch = t.filter(col("batch") =!= CompactedBatch)
        .agg(max(col("batch"))).head().getAs[Number](0)
      val hits = t.join(ids, Seq("doc_id"), "left_semi")
        .groupBy(col("batch")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
      require(maxBatch == null || !hits.contains(maxBatch.longValue),
        s"retract: ${hits.getOrElse(if (maxBatch == null) 0L else maxBatch.longValue, 0L)} ids live in the " +
          s"newest batch (${maxBatch}) which may still replay under " +
          "foreachBatch's at-least-once contract and would resurrect them " +
          "- compact first or retract after the next batch")
      hits.keys.foreach { v =>
        val staged = s.table(tbl).filter(col("batch") === v)
          .join(ids, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("__h"), col("__len"),
            col("first_batch"))
          .localCheckpoint(true)
        val view = stageView(s, manifestDir)
        staged.createOrReplaceTempView(view)
        try s.sql(
          s"""INSERT OVERWRITE TABLE `$tbl` PARTITION (batch=$v)
             |SELECT doc_id, lang, `__h`, `__len`, first_batch
             |FROM `$view`""".stripMargin)
        finally {
          s.catalog.dropTempView(view)
          staged.unpersist()
        }
      }
      s.catalog.refreshTable(tbl)
      hits.values.sum
    } finally ids.unpersist()
  }

  /** The manifest as a DataFrame: every surviving (new-at-ingest-time)
    * document with its digest and the batch that FIRST saw it (the
    * `first_batch` data column — stable across [[compact]], unlike the
    * physical partition label). A plain path read — works with or without
    * the catalog entry (the bloom sidecar lives outside the table
    * location) — EXCEPT when a crashed compact left its intent marker, in
    * which case the compaction is rolled forward (via the catalog) before
    * reading, so this read never observes duplicate digests.
    */
  def manifest(s: SparkSession, manifestDir: String): DataFrame = {
    if (IngestPaths.readMarker(s, manifestDir).isDefined) reconcileTable(s, manifestDir)
    val df = s.read.parquet(manifestDir)
    if (df.schema.fieldNames.contains("first_batch"))
      df.select(col("doc_id"), col("lang"), col("__h"), col("__len"),
        col("first_batch").as("batch"))
    else df // pre-r11 layout: the partition label is the first-seen batch
  }
}
