package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** How one index kind lays its table out — every way the kinds differ
  * that is a value rather than a method.
  *
  * @param name        "corpus"/"fuzzy"/"embed": the `<name>_ingest`
  *                    progress events and the error messages
  * @param tablePrefix catalog table name prefix (md5-suffixed per dir)
  * @param viewPrefix  staging temp-view name prefix
  * @param tablePath   state dir → the table's LOCATION
  * @param bloomPath   state dir → the bloom sidecar dir
  * @param columns     typed data columns in DDL order (`batch` and the
  *                    sub-partition excluded)
  * @param bucketCols  the CLUSTERED BY key, also the staged write's
  *                    rebalance key
  * @param idCol       the item id: the retract, expire and merge key
  * @param sub         the partition column below `batch` and every value
  *                    it takes, if the table has one
  * @param items       which rows are items (the others are postings)
  * @param legacyDir   a pre-r14 layout's dir under the state dir, refused
  */
final case class IndexLayout(name: String, tablePrefix: String,
    viewPrefix: String, tablePath: String => String,
    bloomPath: String => String, columns: Seq[(String, String)],
    bucketCols: Seq[String], idCol: String, sub: Option[(String, Seq[String])],
    items: Column, legacyDir: Option[String])

/** The persistent dedup-index store behind all three ingest pipelines —
  * [[CorpusIngest]] (exact digests), [[FuzzyIngest]] and [[EmbedIngest]]
  * (LSH, through [[LshIndex]]). A kind supplies its [[IndexLayout]] and
  * a few methods (signing, the scalar bloom probe, its table rows, bloom
  * keys and consolidation window, and per call its suppression); the
  * layout, catalog reconcile, bloom glue, ingest skeleton and lifecycle
  * verbs are written once here.
  *
  * Storage: ONE table PARTITIONED BY batch (then the kind's
  * sub-partition) and CLUSTERED BY the bucket key into [[IndexBuckets]]
  * buckets. A micro-batch pays ONE bucketed insert and never re-shuffles
  * history; an index exists once its table path holds a `part-` file.
  *
  * Bloom pre-filter: a per-bucket sketch ([[BloomSidecar]]: FP-only,
  * bloom-ahead, replay no-op, per-bucket saturation) over the kind's
  * bloom keys. Rows it rules out are definitely new and skip the join;
  * when nothing probes probable the table's data is never opened. A lost
  * sidecar falls back to the always-correct join and [[compact]]
  * rebuilds it.
  *
  * Replay and crash contract (foreachBatch is at-least-once): a batch
  * lands as a static-prefix overwrite of `batch=<id>` in one job commit,
  * and every read excludes the batch's own partition, so a replay is
  * idempotent and never self-suppressing. Each lifecycle verb refuses to
  * touch the newest batch, which may still replay. [[compact]] is
  * crash-atomic through the intent marker ([[IngestPaths.markerPath]]):
  * every entry point rolls a pending compaction forward before it reads.
  * Writers hold the lease ([[IngestPaths.acquireLease]]).
  */
abstract class IndexStore(layout: IndexLayout) {
  import layout._

  /** Bucket count of every index table. 16 keeps test layouts small; a
    * 100 TB deployment would size it like any bucketed fact table.
    */
  val IndexBuckets = 16

  /** Reserved partition label for [[compact]]ed history — far outside any
    * replayable foreachBatch id (ids are ≥ 0; the catalog queries seed
    * with -1), and ingest rejects it, so the consolidated partition is
    * never excluded by a replay's own-partition filter nor overwritten by
    * a batch write. (Not `Long.MinValue`: its SQL literal form overflows
    * before negation in a PARTITION spec.)
    */
  val CompactedBatch: Long = -(1L << 62)

  /** Per-bucket bloom capacity for NEW indexes (items per bucket),
    * persisted in the sidecar meta so later batches keep the index's own
    * shape (`BloomFilter`s merge only when their bit arrays agree).
    */
  val CapacityConf = "spark.graft.ingest.bloomBucketCapacity"
  val DefaultBucketCapacity: Long = 1L << 18

  /** Ceiling on per-bucket capacity at a [[compact]] re-size: ~10 MB of
    * bits per bloom at the sidecar's 1e-4 fpp. The sketches ride one
    * torrent broadcast per batch, so the cap bounds executor block-cache
    * footprint (≤ ~160 MB at 16 buckets); past it buckets saturate
    * (join-only for that bucket) and the real fix is more buckets.
    */
  val MaxBucketCapacity: Long = 1L << 22

  /** A loaded sketch bank's probe: (bucket id, key) ⇒ might-contain. */
  protected type Probe = (Column, Column) => Column

  // ---------------------------------------------------------------------
  // What a kind supplies
  // ---------------------------------------------------------------------

  /** The signed-batch frame an ingest starts from: within-batch EXACT
    * dedup ([[firstPerKey]], so it carries `__grp`), the kind's
    * signature columns, persisted MEMORY_AND_DISK.
    */
  private[graft] def signBatch(batch: DataFrame): DataFrame

  /** TRUE iff a signed row probes probable — a scalar column, so the
    * pre-probe count fuses into the arrival aggregate.
    */
  protected def probable(probe: Probe): Column

  /** A staged survivor frame as table rows ([[writeCols]]). */
  protected def rowsOf(staged: DataFrame, firstBatch: Column): DataFrame

  /** Table rows (`__b` bucket, `__k` long key) for the sketches: the keys
    * of the rows that carry them. Bucket and key MUST be the expressions
    * [[probable]] probes with.
    */
  protected def bloomKeyed(rows: DataFrame): DataFrame

  /** The compaction window: table rows of partitions to consolidate,
    * deduped so each item keeps its earliest `first_batch`.
    */
  protected def consolidate(toMerge: DataFrame): DataFrame

  /** Table rows [[rowsOf]] writes per item: the write metric over this is
    * the appended item count.
    */
  protected def rowsPerItem: Int = 1

  // ---------------------------------------------------------------------
  // Layout
  // ---------------------------------------------------------------------

  /** Catalog name of the index table: md5 of the canonical dir URI (see
    * [[IngestPaths.digest]]).
    */
  private[graft] def table(s: SparkSession, dir: String): String =
    tablePrefix + IngestPaths.digest(s, dir)

  private def stageView(s: SparkSession, dir: String): String =
    viewPrefix + IngestPaths.digest(s, dir)

  private val subCol = sub.map(_._1).toSeq

  /** Every column an insert selects, in table order (`batch` excluded). */
  protected val writeCols: Seq[String] = columns.map(_._1) ++ subCol

  private def quoted(cs: Seq[String]) = cs.map(c => s"`$c`").mkString(", ")

  private def createDdl(s: SparkSession, dir: String): String = {
    val cols = columns ++ (("batch" -> "BIGINT") +: subCol.map(_ -> "STRING"))
    s"""CREATE TABLE `${table(s, dir)}` (
       |  ${cols.map { case (c, t) => s"`$c` $t" }.mkString(", ")})
       |USING PARQUET PARTITIONED BY (${quoted("batch" +: subCol)})
       |CLUSTERED BY (${quoted(bucketCols)}) SORTED BY (${quoted(bucketCols)})
       |INTO $IndexBuckets BUCKETS
       |LOCATION '${tablePath(dir)}'""".stripMargin
  }

  /** Create the (empty) table. mkdirs first: CREATE TABLE probes its
    * LOCATION and logs a noisy benign FileNotFoundException WARN on a
    * missing dir.
    */
  private def createTable(s: SparkSession, dir: String): Unit = {
    val (fs, p) = IngestPaths.fsOf(s, tablePath(dir))
    fs.mkdirs(p)
    s.sql(createDdl(s, dir))
  }

  /** Refuse an index written by an older code version with a clear error
    * instead of Spark's mid-query 'Invalid bucket file' (ADVICE r10), or —
    * for a pre-r14 two-table layout — instead of silently starting a
    * fresh EMPTY index beside the orphaned history.
    */
  private def sniffLegacy(s: SparkSession, fs: FileSystem, dir: String): Unit = {
    legacyDir.filter(d => fs.exists(new Path(s"$dir/$d"))).foreach { d =>
      throw new IllegalStateException(s"$name index at $dir uses the " +
        s"pre-r14 two-table ($d+bands) layout. Re-ingest into a fresh dir.")
    }
    val p = new Path(tablePath(dir))
    IngestPaths.firstDataFile(fs, p).foreach { dataFile =>
      val why =
        if (!dataFile.matches(""".*_\d{5}\.c\d+.*"""))
          Some(s"data file '$dataFile' is not bucket-encoded")
        else if (!s.read.parquet(p.toString).schema.fieldNames.contains("first_batch"))
          Some("schema lacks the first_batch column")
        else None
      why.foreach { w =>
        throw new IllegalStateException(s"$name index at $p was written " +
          s"by an older graft version ($w). Re-ingest into a fresh dir.")
      }
    }
  }

  /** Drop a stale catalog entry / re-register the long-lived table (the
    * bucket spec in the DDL is what makes the layout survive a new JVM or
    * cluster), then roll a crashed compaction forward. Returns whether
    * the index exists.
    */
  private[graft] def reconcile(s: SparkSession, dir: String): Boolean = {
    val (fs, p) = IngestPaths.fsOf(s, tablePath(dir))
    val tbl = table(s, dir)
    // sniff only when the table is NOT yet registered — a registered
    // entry already passed the sniff; re-reading the schema per
    // micro-batch is a wasted listing+footer job (r11 constant-shave)
    if (!s.catalog.tableExists(tbl)) sniffLegacy(s, fs, dir)
    val exists = IngestPaths.firstDataFile(fs, p).isDefined
    if (!exists && s.catalog.tableExists(tbl)) s.sql(s"DROP TABLE `$tbl`")
    if (exists && !s.catalog.tableExists(tbl)) {
      s.sql(createDdl(s, dir)); s.catalog.recoverPartitions(tbl)
    }
    if (exists) IngestPaths.rollForward(s, dir, tbl)(runCompaction(s, dir, _))
    exists
  }

  /** Item rows of the registered table (every column, `batch` included). */
  protected def storedItems(s: SparkSession, dir: String): DataFrame =
    s.table(table(s, dir)).filter(layout.items)

  /** The one write: `rows` ([[writeCols]]) replaces partition `batch=b`
    * in one job commit. STATIC-prefix overwrite wipes every (batch=b, *)
    * partition first, so a re-run is idempotent. `rows` must not read the
    * table it overwrites (the analyzer refuses): callers stage it through
    * `localCheckpoint`. Returns the executed insert (its write metrics).
    */
  private def overwrite(s: SparkSession, dir: String, b: Long,
      rows: DataFrame): DataFrame = {
    val view = stageView(s, dir)
    rows.createOrReplaceTempView(view)
    try s.sql(s"""INSERT OVERWRITE TABLE `${table(s, dir)}`
                 |PARTITION (${(s"batch=$b" +: subCol).mkString(", ")})
                 |SELECT ${quoted(writeCols)} FROM `$view`""".stripMargin)
    finally s.catalog.dropTempView(view)
  }

  /** Partition values with a `batch=` dir (files are the truth: a
    * crashed drop may have left the catalog ahead of them).
    */
  private def batchDirs(s: SparkSession, dir: String): Seq[Long] = {
    val (fs, p) = IngestPaths.fsOf(s, tablePath(dir))
    fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
  }

  /** Drop whole batch partitions: files first — the path read must not
    * resurrect dropped rows — then the catalog's FULL partition specs
    * (every sub-partition value spelled out; a partial spec would lean on
    * the session catalog's prefix matching, which IF EXISTS would make
    * silent on a miss). Both idempotent on re-run.
    */
  private def dropBatches(s: SparkSession, dir: String, batches: Seq[Long]): Unit = {
    val (fs, p) = IngestPaths.fsOf(s, tablePath(dir))
    batches.foreach { v =>
      fs.delete(new Path(p, s"batch=$v"), true)
      val specs = sub.fold(Seq(s"PARTITION (batch=$v)")) { case (c, vals) =>
        vals.map(x => s"PARTITION (batch=$v, $c='$x')")
      }
      s.sql(s"ALTER TABLE `${table(s, dir)}` DROP IF EXISTS ${specs.mkString(", ")}")
    }
  }

  private def maxBatch(df: DataFrame): Number =
    df.agg(max(col("batch"))).head().getAs[Number](0)

  /** The newest REAL batch: the consolidated partition never replays. */
  private def newestBatch(s: SparkSession, tbl: String): Number =
    maxBatch(s.table(tbl).filter(col("batch") =!= CompactedBatch))

  /** First row per `key` (by `order`) plus `__grp`, the key's group size
    * — the within-batch exact dedup, whose `__grp` sums to the arrival
    * count without a separate pass over the raw batch. A caller that does
    * not select `__grp` gets its window pruned by the optimizer.
    */
  protected def firstPerKey(df: DataFrame, key: Seq[String],
      order: String*): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*)
    df.withColumn("__rn", row_number().over(w.orderBy(order.map(col): _*)))
      .withColumn("__grp", count(lit(1)).over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---------------------------------------------------------------------
  // Bloom sidecar
  // ---------------------------------------------------------------------

  private[graft] def loadBloomState(s: SparkSession,
      dir: String): Option[BloomSidecar.State] =
    BloomSidecar.load(s, bloomPath(dir), IndexBuckets)

  private def defaultCapacity(s: SparkSession): Long =
    s.conf.getOption(CapacityConf).map(_.toLong).getOrElse(DefaultBucketCapacity)

  /** Rebuild the per-bucket sketches from the table, sized to bucket
    * population (clears saturation) — the tail of compaction and the
    * recovery path for a lost or saturated sidecar.
    */
  private def rebuildBlooms(s: SparkSession, dir: String): Unit = {
    val t = s.table(table(s, dir))
    val newest = maxBatch(t)
    if (newest != null)
      BloomSidecar.rebuild(s, bloomPath(dir), IndexBuckets, bloomKeyed(t),
        newest.longValue, defaultCapacity(s), MaxBucketCapacity)
  }

  // ---------------------------------------------------------------------
  // Ingest
  // ---------------------------------------------------------------------

  /** One ingest merge: sign, count arrivals, let the kind suppress what
    * the index already holds, then ONE insert of the survivors.
    * `preSigned`: a [[signBatch]] result for THIS batch. `collapse`: a
    * within-batch transform of the signed frame, applied before the
    * probe. `suppress(signed, probe, probable)` returns the survivors and
    * the bloom-probable count; it runs only on an existing index and gets
    * the fused pre-probe count, or -1 when none was fused.
    */
  protected def ingest(batch: DataFrame, batchId: Long, dir: String,
      preSigned: Option[DataFrame], collapse: Option[DataFrame => DataFrame])(
      suppress: (DataFrame, Option[Probe], Long) => (DataFrame, Long)): Unit = {
    require(batchId != CompactedBatch,
      s"batch id $CompactedBatch is reserved for compacted history")
    val s = batch.sparkSession
    IngestPaths.acquireLease(s, dir)
    val exists = reconcile(s, dir)
    // the single write path needs the table up front; driver-only DDL
    if (!exists) createTable(s, dir)
    val signed = preSigned.getOrElse(signBatch(batch))
    try {
      val sigs = collapse.fold(signed)(_(signed)).drop("__grp")
      val st = if (exists) loadBloomState(s, dir) else None
      val probe = st.map(BloomSidecar.probeFn(s, _, IndexBuckets))
      // the pre-probe fuses only without a collapse: it must count
      // POST-collapse survivors, which the kind then counts its own way
      val fused = probe.filter(_ => collapse.isEmpty)
      // ONE action yields the arrival counts (docsIn = Σ exact-dup group
      // sizes, uniqueIn = signed rows), MATERIALIZES the signed cache for
      // the suppression, and — fused — the bloom pre-probe count
      val arrivedCols = Seq(coalesce(sum(col("__grp")), lit(0L)).as("d"),
        count(lit(1)).as("u")) ++
        fused.map(p => coalesce(sum(when(probable(p), lit(1L))), lit(0L)).as("p"))
      val arrived = signed.agg(arrivedCols.head, arrivedCols.tail: _*).head()
      val docsIn = arrived.getLong(0)
      val uniqueIn = if (collapse.isDefined) sigs.count() else arrived.getLong(1)
      val (survivors, bloomProbable) =
        if (!exists) (sigs, -1L)
        else suppress(sigs, probe, if (fused.isDefined) arrived.getLong(2) else -1L)
      // read-old-then-overwrite via localCheckpoint (the insert reads the
      // table it overwrites); batch-sized, never index-sized. Staged
      // through a REBALANCE on the bucket key whose initial partition
      // count is the bucket count (EXPLAINS.md "Batch-sized staged
      // writes"): HashPartitioning(key, IndexBuckets).partitionIdExpression
      // IS the bucket-id expression, so each initial partition holds one
      // bucket, and AQE coalesces a rebalance (never a fixed-count
      // repartition) by merging contiguous partitions. Every write task
      // still holds whole buckets, so the insert — one file per (write
      // task, bucket[, sub-partition]) — lands at the 16-files floor at
      // any batch size, while a micro-batch coalesces to ONE task. (Only
      // a bucket above AQE's advisory size splits.) Without an exchange
      // the fuzzy seed batch wrote 437 files PER KIND at sf0.1; a
      // count-free exchange mixes buckets and wrote up to 72 at sf10.
      val staged = survivors
        .hint("rebalance", IndexBuckets +: bucketCols.map(col): _*)
        .localCheckpoint(true)
      try {
        lazy val stagedCount = staged.count()
        // bloom-ahead of the insert, survivors' keys only (a suppressed
        // row's keys are in the sketch already): a crash between merge
        // and insert leaves FP-only sketch state. The merge is skipped
        // when nothing is appended; a fresh index always merges, so its
        // sidecar exists from the first batch. When ANY row probed
        // improbable it is definitely new, so only the all-probable case
        // counts the staged frame to decide.
        val definitelyNew = bloomProbable >= 0 && bloomProbable < uniqueIn
        if (!exists || (st.isDefined && (definitelyNew || stagedCount > 0)))
          BloomSidecar.merge(s, bloomPath(dir), IndexBuckets, batchId,
            bloomKeyed(rowsOf(staged, lit(batchId))), st, exists, defaultCapacity(s))
        val ins = overwrite(s, dir, batchId, rowsOf(staged, lit(batchId)))
        // appended = the insert's own write metric (r20: the count is a
        // fact the write job already established); the fallback keeps
        // the observability contract if a future Spark moves the metric
        val appended = IngestPaths.writtenRows(ins).map(_ / rowsPerItem)
          .getOrElse(stagedCount)
        IngestEvents.post(IngestEvents.IngestProgress(s"${name}_ingest", dir,
          batchId, docsIn, uniqueIn, appended, bloomProbable))
      } finally staged.unpersist()
    } finally signed.unpersist()
  }

  /** A foreachBatch stream (AvailableNow) running `perBatch` per
    * micro-batch — the kinds' streaming entries.
    */
  protected def stream(input: DataFrame, checkpointDir: String)(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(perBatch)
      .start()

  // ---------------------------------------------------------------------
  // Lifecycle verbs
  // ---------------------------------------------------------------------

  /** The opening of every verb: the index must exist (checked BEFORE the
    * lease, so a verb against a wrong dir strands no lease that blocks
    * that path's first writer), then the lease and a fresh catalog view.
    */
  private def open(s: SparkSession, dir: String): String = {
    require(reconcile(s, dir), s"no $name index at $dir")
    IngestPaths.acquireLease(s, dir)
    val tbl = table(s, dir)
    s.catalog.refreshTable(tbl)
    tbl
  }

  /** Consolidate every partition with `batch <= upToBatch` (including
    * any previous consolidation) into the reserved [[CompactedBatch]]
    * partition: partition/file count stops growing O(lifetime) while the
    * bucket spec — and so the no-exchange probe plans — survives, and the
    * sketches are rebuilt sized to bucket population. `upToBatch` must be
    * strictly below the newest batch, which may still replay (a replay of
    * a compacted batch could not see past its rows in the consolidated
    * partition). Crash-atomic: the intent marker is written durably first
    * and cleared last; a crash between is rolled forward by the next call
    * into this index, so no reader sees the duplicate-rows window.
    */
  def compact(s: SparkSession, dir: String, upToBatch: Long): Unit = {
    val tbl = open(s, dir)
    val newest = maxBatch(s.table(tbl))
    require(newest != null && upToBatch < newest.longValue,
      s"compact(upToBatch=$upToBatch): the newest batch ($newest) may " +
        "still replay under foreachBatch's at-least-once contract")
    IngestPaths.compactMarked(s, dir, upToBatch)(runCompaction(s, dir, _))
  }

  /** The auto-compaction decision the streaming hook runs after each
    * batch. NOT via [[compact]]: its newest-batch check is a max over
    * ROWS, which a fully-suppressed newest batch never registers in, so it
    * would throw inside foreachBatch; here upToBatch = batchId−1 is below
    * the trigger id by construction. A no-op before the first batch
    * creates the table (ADVICE r11), and a replayed trigger re-runs it
    * harmlessly (the fresh-partition guard).
    */
  private[graft] def maybeAutoCompact(s: SparkSession, dir: String,
      batchId: Long, compactEvery: Int): Unit =
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0 &&
        s.catalog.tableExists(table(s, dir)))
      IngestPaths.compactMarked(s, dir, batchId - 1)(runCompaction(s, dir, _))

  /** The compaction body — everything between marker write and clear;
    * idempotent from any crash point: the consolidation re-reads whatever
    * the crash left (including the previous consolidated partition) and
    * [[consolidate]] keeps each item's earliest `first_batch`.
    */
  private def runCompaction(s: SparkSession, dir: String, upToBatch: Long): Unit = {
    val toMerge = s.table(table(s, dir)).filter(col("batch") <= upToBatch)
    // fresh-partition guard: nothing below upToBatch outside the
    // consolidated partition ⇒ metadata no-op, so auto-compaction costs
    // O(new partitions) per trigger, not O(index). Skipping the bloom
    // rebuild is safe: compaction moves keys, never removes them — but
    // a manual compact() is the documented recovery path for a deleted
    // or saturated sidecar, so an unusable one is rebuilt anyway.
    if (toMerge.filter(col("batch") =!= CompactedBatch).isEmpty) {
      val st = loadBloomState(s, dir)
      if (st.isEmpty || st.exists(b => (0 until IndexBuckets).exists(b.saturated)))
        rebuildBlooms(s, dir)
      return
    }
    val staged = consolidate(toMerge).localCheckpoint(true)
    try {
      overwrite(s, dir, CompactedBatch, staged)
      // re-assert the writer lease before the destructive drop phase:
      // refresh when ours, abort loudly if a TTL-expiry steal happened
      // mid-consolidation — the intent marker lets the new owner roll on
      IngestPaths.acquireLease(s, dir)
      dropBatches(s, dir,
        batchDirs(s, dir).filter(v => v <= upToBatch && v != CompactedBatch))
      s.catalog.refreshTable(table(s, dir))
    } finally staged.unpersist()
    rebuildBlooms(s, dir)
  }

  /** EXPIRE (retention): drop every item FIRST SEEN in a batch
    * <= `olderThanBatch` (a crawl snapshot aged past its retention
    * window; its content may re-enter later as fresh deliveries).
    * Per-batch partitions hold exactly the items first seen there, so
    * they are whole-partition drops; the consolidated partition pays ONE
    * staged rewrite — items filtered on `first_batch`, other rows
    * anti-joined against the expired ids (they carry no first_batch). The
    * sketches stay as they are (over-approximate: the FP-only direction).
    * Returns item rows removed.
    */
  def expire(s: SparkSession, dir: String, olderThanBatch: Long): Long = {
    val tbl = open(s, dir)
    val newest = newestBatch(s, tbl)
    require(newest == null || olderThanBatch < newest.longValue,
      s"expire(olderThanBatch=$olderThanBatch): the newest batch " +
        s"($newest) may still replay under foreachBatch's at-least-once " +
        "contract and must stay")
    val aged = batchDirs(s, dir).filter(v => v != CompactedBatch && v <= olderThanBatch)
    val dropped = if (aged.isEmpty) 0L else s.table(tbl)
      .filter(col("batch").isin(aged: _*) && layout.items).count()
    dropBatches(s, dir, aged)
    s.catalog.refreshTable(tbl)
    val consolidated = s.table(tbl).filter(col("batch") === CompactedBatch)
    val old = layout.items && col("first_batch") <= olderThanBatch
    val nExpired = consolidated.filter(old).count()
    if (nExpired > 0) {
      val staged = consolidated.filter(layout.items && !old)
        .unionByName(consolidated.filter(!layout.items)
          .join(consolidated.filter(old).select(col(idCol)), Seq(idCol), "left_anti"))
        .select(writeCols.map(col): _*)
        .localCheckpoint(true)
      try overwrite(s, dir, CompactedBatch, staged) finally staged.unpersist()
      s.catalog.refreshTable(tbl)
    }
    dropped + nExpired
  }

  /** RETRACT (takedown) items by id, with every row that carries the id,
    * so a re-delivery of a retracted item is accepted as new while
    * duplicates of SURVIVING items stay suppressed. Each touched batch
    * partition is rewritten in one staged overwrite; ids living in the
    * newest REAL batch are refused (its replay would resurrect them; the
    * consolidated partition never replays — compact first, or wait for
    * the next batch). The sketches stay as they are (FP-only direction;
    * the next [[compact]] re-tightens). Partitions are independently
    * atomic: after a crash, re-run with the same ids until it returns
    * (idempotent). Returns item rows removed.
    */
  def retract(s: SparkSession, dir: String, ids: DataFrame): Long = {
    val tbl = open(s, dir)
    val gone = ids.select(col(ids.columns.head).cast("long").as(idCol))
      .distinct().localCheckpoint(true)
    try {
      val newest = newestBatch(s, tbl)
      // per-batch hit counts over every row in one pass; n = item rows
      val hits = s.table(tbl).join(gone, Seq(idCol), "left_semi")
        .groupBy(col("batch"))
        .agg(sum(when(layout.items, 1L).otherwise(0L)).as("n"))
        .collect()
        .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
      require(newest == null || !hits.contains(newest.longValue),
        s"retract: ids live in the newest batch ($newest) which may " +
          "still replay under foreachBatch's at-least-once contract and " +
          "would resurrect them - compact first or retract after the " +
          "next batch")
      hits.keys.foreach { v =>
        val staged = s.table(tbl).filter(col("batch") === v)
          .join(gone, Seq(idCol), "left_anti")
          .select(writeCols.map(col): _*)
          .localCheckpoint(true)
        try overwrite(s, dir, v, staged) finally staged.unpersist()
      }
      s.catalog.refreshTable(tbl)
      hits.values.sum
    } finally gone.unpersist()
  }

  /** The tail every kind's MERGE shares: both sources must exist with
    * disjoint id spaces (an id under two different contents would land
    * twice, and a later retract of it would remove both), the destination
    * must not exist (a crash mid-write leaves a partial dst — delete it
    * and re-run; sources are read-only). `kept` — the kind's union of the
    * two sources as table rows — lands as one consolidated partition with
    * rebuilt sketches, so the destination is a normal index. Returns the
    * merged item count.
    */
  protected def mergeInto(s: SparkSession, aDir: String, bDir: String,
      dstDir: String)(kept: => DataFrame): Long = {
    require(reconcile(s, aDir), s"no $name index at $aDir")
    require(reconcile(s, bDir), s"no $name index at $bDir")
    val (fs, dstPath) = IngestPaths.fsOf(s, dstDir)
    require(!fs.exists(dstPath), s"merge destination already exists: $dstDir")
    require(storedItems(s, aDir).select(col(idCol))
        .join(storedItems(s, bDir).select(col(idCol)), idCol).isEmpty,
      s"$idCol spaces of the two indexes overlap - remap ids before merging")
    createTable(s, dstDir)
    overwrite(s, dstDir, CompactedBatch, kept)
    rebuildBlooms(s, dstDir)
    storedItems(s, dstDir).count()
  }

  /** Every surviving item row — a plain path read, catalog-independent,
    * EXCEPT when a crashed compact left its intent marker: the compaction
    * is rolled forward (via the catalog) first, so this read never
    * observes duplicates.
    */
  protected def read(s: SparkSession, dir: String): DataFrame = {
    if (IngestPaths.readMarker(s, dir).isDefined) reconcile(s, dir)
    s.read.parquet(tablePath(dir)).filter(layout.items)
  }

  /** Orderly writer-lease handover after this process is done with the
    * index: only this process's own lease is removed.
    */
  def releaseWriterLease(s: SparkSession, dir: String): Unit =
    IngestPaths.releaseLease(s, dir)
}
