package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.util.Par

/** A persistent near-dup LSH index — the store [[FuzzyIngest]] (MinHash)
  * and [[EmbedIngest]] (sign-LSH) share. A kind supplies its signature
  * kernel ([[signBatch]]), the (id, band, bh) postings of a signed frame,
  * the scalar band hashes and the verify predicate; everything else —
  * layout, bloom sidecar, probe/verify plan, staged insert and the
  * lifecycle verbs — is written once here.
  *
  * Storage: ONE table under `indexDir/idx`, PARTITIONED BY (batch, kind)
  * and CLUSTERED BY the id column into [[IndexBuckets]] buckets. Item
  * rows (`kind=rowKind`) carry (id, payload, first_batch); `kind='b'`
  * rows carry the (band, bh, id) postings with null wide columns (parquet
  * all-null chunks are metadata-sized). A micro-batch pays ONE bucketed
  * insert, never re-shuffles history, and kind-level partition pruning
  * keeps the two access paths separate file sets: a probe never reads
  * payload bytes and a verify never reads postings.
  *
  * Probe: the batch's (bloom-pre-shrunk, micro-batch bounded) postings
  * are BROADCAST against the `kind='b'` slice — zero index-side exchange,
  * plan-asserted in FuzzyIngestSpec — and the verify joins the (few)
  * candidates against the item slice bucket-locally on the id. Per-batch
  * cost is O(batch + candidates), never O(corpus lifetime).
  *
  * Band bloom pre-filter: a per-bucket sketch over the index's (band,bh)
  * keys lives at `indexDir/bands_bloom` ([[BloomSidecar]]: FP-only,
  * bloom-ahead, replay no-op, per-bucket saturation). Bands the sketch
  * rules out are definitely candidate-free, and when nothing probes
  * probable the band slice is never opened. A lost sidecar falls back to
  * the always-correct join and [[compact]] rebuilds it.
  *
  * Replay and crash contract (foreachBatch is at-least-once): a batch
  * lands as a static-prefix overwrite of `batch=<id>` with both kinds in
  * one job commit, and every read excludes the batch's own partitions, so
  * a replay is idempotent and never self-suppressing. Each lifecycle verb
  * refuses to touch the newest batch, which may still replay. [[compact]]
  * is crash-atomic through the intent marker ([[IngestPaths.markerPath]]):
  * every entry point ([[ingest]], [[index]], the verbs) rolls a pending
  * compaction forward before it reads. Writers hold the lease
  * ([[IngestPaths.acquireLease]]).
  *
  * @param kind     "fuzzy"/"embed": names the catalog objects, the error
  *                 messages and the `<kind>_ingest` progress events
  * @param idCol    the item id column (the bucket key)
  * @param rowKind  the `kind` letter of item rows
  * @param payload  item columns besides the id and `first_batch`, with
  *                 their SQL types; the first is the metadata [[index]]
  *                 returns
  * @param verifyCols payload columns the verify predicate reads
  * @param legacyDir the pre-r14 two-table layout's item-table dir
  */
abstract class LshIndex(kind: String, idCol: String, rowKind: String,
    payload: Seq[(String, String)], verifyCols: Seq[String],
    legacyDir: String, defaultThreshold: Double) {

  val IndexBuckets = 16

  /** The signed-batch frame an ingest starts from: within-batch EXACT
    * dedup, the kind's signature, `__grp` (the exact-dup group size, so
    * the arrival count needs no separate pass over the raw batch),
    * persisted MEMORY_AND_DISK. Signing reads no history, so a caller
    * driving several batches may sign them concurrently ([[preSign]]).
    */
  private[graft] def signBatch(batch: DataFrame): DataFrame

  /** (id, band, bh) postings of a signed (or staged) frame. */
  private[graft] def postings(signed: DataFrame): DataFrame

  /** Band b's hash of a signed row as a scalar column, in band order —
    * the same values [[postings]] explodes.
    */
  protected def bandHashes: Seq[Column]

  /** Similarity of a new and an old item, compared `>=` the threshold;
    * `n(c)`/`o(c)` are the two sides' [[verifyCols]].
    */
  protected def similarity(n: String => Column, o: String => Column): Column

  // ---------------------------------------------------------------------
  // Layout
  // ---------------------------------------------------------------------

  /** Index-table name: md5 of the canonical dir URI (see
    * [[IngestPaths.digest]]).
    */
  def idxTable(s: SparkSession, indexDir: String): String =
    s"graft_${kind}_idx_" + IngestPaths.digest(s, indexDir)

  private def idxPath(indexDir: String) = s"$indexDir/idx"

  private def stageView(s: SparkSession, indexDir: String): String =
    s"graft_${kind}_stage_" + IngestPaths.digest(s, indexDir)

  /** Every data column of the table, in DDL order (partition column
    * `batch` excluded).
    */
  private def dataCols: Seq[String] =
    (idCol +: payload.map(_._1)) ++ Seq("first_batch", "band", "bh", "kind")

  /** Item rows (`kind=rowKind`): (id, payload…, first_batch, batch). */
  protected def rows(s: SparkSession, indexDir: String): DataFrame =
    s.table(idxTable(s, indexDir)).filter(col("kind") === rowKind)
      .select(((idCol +: payload.map(_._1)) ++
        Seq("first_batch", "batch")).map(col): _*)

  /** Band-posting rows (`kind='b'`): (band, bh, id, batch). */
  def bands(s: SparkSession, indexDir: String): DataFrame =
    s.table(idxTable(s, indexDir)).filter(col("kind") === "b")
      .select(col("band"), col("bh"), col(idCol), col("batch"))

  private def createDdl(s: SparkSession, indexDir: String): String = {
    val cols = ((idCol -> "BIGINT") +: payload) ++ Seq("first_batch" -> "BIGINT",
      "band" -> "INT", "bh" -> "BIGINT", "batch" -> "BIGINT", "kind" -> "STRING")
    s"""CREATE TABLE `${idxTable(s, indexDir)}` (
       |  ${cols.map { case (c, t) => s"$c $t" }.mkString(", ")})
       |USING PARQUET PARTITIONED BY (batch, kind)
       |CLUSTERED BY ($idCol) SORTED BY ($idCol) INTO $IndexBuckets BUCKETS
       |LOCATION '${idxPath(indexDir)}'""".stripMargin
  }

  /** Create the (empty) index table. mkdirs first: CREATE TABLE probes
    * its LOCATION and logs a noisy benign FileNotFoundException WARN on a
    * missing dir.
    */
  private def createTable(s: SparkSession, indexDir: String): Unit = {
    val (fs, idxP) = IngestPaths.fsOf(s, idxPath(indexDir))
    fs.mkdirs(idxP)
    s.sql(createDdl(s, indexDir))
  }

  /** Refuse an index written by an older code version with a clear error
    * instead of Spark's mid-query 'Invalid bucket file' (ADVICE r10), or —
    * for the pre-r14 two-table layout — instead of silently starting a
    * fresh EMPTY index beside the orphaned history.
    */
  private def sniffLegacy(s: SparkSession, fs: FileSystem,
      indexDir: String): Unit = {
    if (fs.exists(new Path(s"$indexDir/$legacyDir")))
      throw new IllegalStateException(
        s"$kind index at $indexDir uses the pre-r14 two-table " +
          s"($legacyDir+bands) layout. Re-ingest into a fresh indexDir.")
    val idxP = new Path(idxPath(indexDir))
    IngestPaths.firstDataFile(fs, idxP).foreach { dataFile =>
      val why =
        if (!dataFile.matches(""".*_\d{5}\.c\d+.*"""))
          Some(s"index file '$dataFile' is not bucket-encoded")
        else if (!s.read.parquet(idxP.toString).schema.fieldNames
            .contains("first_batch"))
          Some("index schema lacks the first_batch column")
        else None
      why.foreach { w =>
        throw new IllegalStateException(
          s"$kind index at $idxP was written by an older graft version ($w). " +
            "Re-ingest into a fresh indexDir.")
      }
    }
  }

  /** Drop a stale catalog entry / re-register the long-lived index table
    * (the bucket spec in the DDL is what makes the layout survive a new
    * JVM or cluster), then roll a crashed compaction forward. An index
    * exists once a data file does. Returns whether it exists.
    */
  private[graft] def reconcile(s: SparkSession, indexDir: String): Boolean = {
    val (fs, idxP) = IngestPaths.fsOf(s, idxPath(indexDir))
    val tbl = idxTable(s, indexDir)
    // sniff only when the table is NOT yet registered — a registered
    // entry already passed the sniff; re-reading the schema per
    // micro-batch is a wasted listing+footer job (r11 constant-shave)
    if (!s.catalog.tableExists(tbl)) sniffLegacy(s, fs, indexDir)
    val exists = IngestPaths.firstDataFile(fs, idxP).isDefined
    if (!exists && s.catalog.tableExists(tbl)) s.sql(s"DROP TABLE `$tbl`")
    if (exists && !s.catalog.tableExists(tbl)) {
      s.sql(createDdl(s, indexDir)); s.catalog.recoverPartitions(tbl)
    }
    val ok = s.catalog.tableExists(tbl) && exists
    if (ok) IngestPaths.rollForward(s, indexDir, tbl)(runCompaction(s, indexDir, _))
    ok
  }

  /** Item rows in table layout: `df`'s id and payload, band columns null. */
  private def itemRows(df: DataFrame, firstBatch: Column): DataFrame =
    df.select((col(idCol) +: payload.map(p => col(p._1))) ++
      Seq(firstBatch.as("first_batch"), lit(null).cast("int").as("band"),
        lit(null).cast("bigint").as("bh"), lit(rowKind).as("kind")): _*)

  /** Posting rows in table layout: `p`'s (id, band, bh), wide columns null. */
  private def bandRows(p: DataFrame): DataFrame =
    p.select((col(idCol) +: payload.map { case (c, t) => lit(null).cast(t).as(c) }) ++
      Seq(lit(null).cast("bigint").as("first_batch"), col("band"), col("bh"),
        lit("b").as("kind")): _*)

  /** The one write: `rows` (every data column) replaces partition
    * `batch=b` of the index — both kinds in one job commit. STATIC-prefix
    * overwrite wipes every (batch=b, *) partition first, so a re-run is
    * idempotent. `rows` must not read the table it overwrites (the
    * analyzer refuses): callers stage it through `localCheckpoint`.
    */
  private def overwrite(s: SparkSession, indexDir: String, b: Long,
      rows: DataFrame): Unit = {
    val view = stageView(s, indexDir)
    rows.createOrReplaceTempView(view)
    try s.sql(s"""INSERT OVERWRITE TABLE `${idxTable(s, indexDir)}`
                 |PARTITION (batch=$b, kind)
                 |SELECT ${dataCols.mkString(", ")} FROM `$view`""".stripMargin)
    finally s.catalog.dropTempView(view)
  }

  /** Partition values with a `batch=` dir under the index (files are the
    * truth: a crashed drop may have left the catalog ahead of them).
    */
  private def batchDirs(s: SparkSession, indexDir: String): Seq[Long] = {
    val (fs, idxP) = IngestPaths.fsOf(s, idxPath(indexDir))
    fs.listStatus(idxP).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
  }

  /** Drop whole batch partitions (both kinds): files first — [[index]] is
    * a path read and must not resurrect dropped rows — then catalog
    * metadata; both idempotent on re-run.
    */
  private def dropBatches(s: SparkSession, indexDir: String,
      batches: Seq[Long]): Unit = {
    val (fs, idxP) = IngestPaths.fsOf(s, idxPath(indexDir))
    batches.foreach { v =>
      fs.delete(new Path(idxP, s"batch=$v"), true)
      s.sql(s"""ALTER TABLE `${idxTable(s, indexDir)}` DROP IF EXISTS
               |PARTITION (batch=$v, kind='$rowKind'),
               |PARTITION (batch=$v, kind='b')""".stripMargin)
    }
  }

  private def maxBatch(df: DataFrame): Number =
    df.agg(max(col("batch"))).head().getAs[Number](0)

  /** The newest REAL batch: the consolidated partition never replays. */
  private def newestBatch(s: SparkSession, tbl: String): Number =
    maxBatch(s.table(tbl).filter(col("batch") =!= CorpusIngest.CompactedBatch))

  // ---------------------------------------------------------------------
  // Band bloom sidecar
  // ---------------------------------------------------------------------

  private def bloomDir(indexDir: String) = s"$indexDir/bands_bloom"

  /** Band bucket/key MUST match the table's physical bucketing hash
    * ([[org.apache.spark.sql.functions.hash]] is Spark's own bucketing
    * hash) so sketch population mirrors physical buckets.
    */
  private def bandBucket(band: Column, bh: Column): Column =
    pmod(hash(band, bh), lit(IndexBuckets)).cast("int")

  private def bloomKeyed(p: DataFrame): DataFrame =
    p.select(bandBucket(col("band"), col("bh")).as("__b"),
      xxhash64(col("band"), col("bh")).as("__k"))

  private[graft] def loadBloomState(s: SparkSession,
      indexDir: String): Option[BloomSidecar.State] =
    BloomSidecar.load(s, bloomDir(indexDir), IndexBuckets)

  /** TRUE iff ANY of a signed row's band keys probes probable — the
    * scalar (non-exploded) form of the probe-side filter, usable inside
    * the arrival aggregate (band index = position in [[bandHashes]]).
    */
  private def anyBandProbable(probe: (Column, Column) => Column): Column =
    bandHashes.zipWithIndex.map { case (bh, b) =>
      probe(bandBucket(lit(b), bh), xxhash64(lit(b), bh))
    }.reduce(_ || _)

  /** Rebuild the per-bucket sketches from the current postings, sized to
    * bucket population (clears saturation) — the tail of compaction and
    * the recovery path for a lost or saturated sidecar.
    */
  private def rebuildBlooms(s: SparkSession, indexDir: String): Unit = {
    val maxAfter = maxBatch(s.table(idxTable(s, indexDir)))
    if (maxAfter != null)
      BloomSidecar.rebuild(s, bloomDir(indexDir), IndexBuckets,
        bloomKeyed(bands(s, indexDir)), maxAfter.longValue,
        IngestPaths.defaultCapacity(s), CorpusIngest.MaxBucketCapacity)
  }

  // ---------------------------------------------------------------------
  // Probe, verify, ingest
  // ---------------------------------------------------------------------

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
      .select(col("band"), col("bh"), col(idCol).as("old_id"))
    broadcast(newBands).alias("n").join(idx.alias("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh"))
      .select(col(s"n.$idCol").as("new_id"), col("old_id"))
      .distinct()
  }

  /** Ids of `newRows` whose candidate partner in `oldRows` passes the
    * verify predicate. Not distinct: every consumer is a `left_anti`,
    * which ignores duplicates, and a distinct costs a shuffle.
    */
  private def verifiedDups(cand: DataFrame, oldRows: DataFrame,
      newRows: DataFrame, simThreshold: Double): DataFrame = {
    def side(df: DataFrame, p: String) =
      df.select(col(idCol).as(p + "id") +: verifyCols.map(c => col(c).as(p + c)): _*)
    cand.join(side(oldRows, "old_"), "old_id")
      .join(side(newRows, "new_"), "new_id")
      .filter(similarity(c => col("new_" + c), c => col("old_" + c)) >= simThreshold)
      .select(col("new_id").as(idCol))
  }

  /** [[signBatch]] + eager materialization — the overlapped-leg form:
    * run under [[graft.util.Par.async]] while earlier batches merge, then
    * pass the result as `preSigned` so the arrival aggregate reads a warm
    * cache instead of re-running the dedup + kernel on the critical path.
    */
  private[graft] def preSign(batch: DataFrame): DataFrame = {
    val signed = signBatch(batch)
    signed.count()
    signed
  }

  /** One ingest merge: sign, probe, verify, then ONE insert of the
    * survivors' rows and postings. `preSigned`: a [[preSign]] result for
    * THIS batch (same frame, same expressions). `collapse`: a within-batch
    * near-dup collapse of the signed frame, applied before the probe.
    */
  protected def ingest(batch: DataFrame, batchId: Long, indexDir: String,
      simThreshold: Double, preSigned: Option[DataFrame],
      collapse: Option[DataFrame => DataFrame]): Unit = {
    require(batchId != CorpusIngest.CompactedBatch,
      s"batch id ${CorpusIngest.CompactedBatch} is reserved for compacted history")
    val s = batch.sparkSession
    IngestPaths.acquireLease(s, indexDir)
    val exists = reconcile(s, indexDir)
    // the single write path needs the table up front; driver-only DDL
    if (!exists) createTable(s, indexDir)
    val signed = preSigned.getOrElse(signBatch(batch))
    try {
      val sigs = collapse.fold(signed)(_(signed))
      val st = if (exists) loadBloomState(s, indexDir) else None
      val probe = st.map(bs => BloomSidecar.probeFn(s, bs, IndexBuckets))
      // the scalar pre-probe fuses into the arrival agg only without a
      // collapse: the probe must count POST-collapse survivors, which
      // the collapse branch below counts the exploded way
      val fuseProbe = probe.isDefined && collapse.isEmpty
      // ONE action yields the arrival counts (docsIn = Σ exact-dup group
      // sizes, uniqueIn = signed rows), MATERIALIZES the signed cache for
      // the verify stage, and — fused — the bloom any-band pre-probe as a
      // scalar column: no explosion, no separate probe-count job
      val arrivedCols = Seq(coalesce(sum(col("__grp")), lit(0L)).as("d"),
        count(lit(1)).as("u")) ++
        (if (fuseProbe) Seq(coalesce(sum(when(anyBandProbable(probe.get),
          lit(1L))), lit(0L)).as("p"))
        else Nil)
      val arrived = signed.agg(arrivedCols.head, arrivedCols.tail: _*).head()
      val docsIn = arrived.getLong(0)
      val uniqueIn = if (collapse.isDefined) sigs.count() else arrived.getLong(1)
      var bloomProbable = if (fuseProbe) arrived.getLong(2) else -1L
      val survivors =
        if (!exists) sigs
        else {
          val newBands = postings(sigs)
          // bloom pre-filter: bands the index has definitely never seen
          // produce no candidates — when NONE survive the probe, the
          // band slice's data files are never opened this batch
          val probed = probe match {
            case Some(p) =>
              val probable = newBands.filter(p(bandBucket(col("band"), col("bh")),
                xxhash64(col("band"), col("bh"))))
              if (!fuseProbe)
                // ONE job decides the skip AND yields the observability
                // count over the post-collapse survivors
                bloomProbable = probable.select(col(idCol)).distinct().count()
              if (bloomProbable == 0) None else Some(probable)
            case None => Some(newBands)
          }
          probed.fold(sigs) { nb =>
            val cand = bandCandidates(nb, batchId, bands(s, indexDir))
            val old = rows(s, indexDir).filter(col("batch") =!= batchId)
            sigs.join(verifiedDups(cand, old, sigs, simThreshold), Seq(idCol),
              "left_anti")
          }
        }
      // read-old-then-overwrite via localCheckpoint (the insert reads the
      // table it overwrites); batch-sized, never index-sized. Staged
      // through a REBALANCE on the bucket key whose initial partition
      // count is the bucket count (EXPLAINS.md "Batch-sized staged
      // writes"): HashPartitioning(id, IndexBuckets).partitionIdExpression
      // IS the bucket-id expression, so each initial partition holds one
      // bucket, and AQE coalesces a rebalance (never a fixed-count
      // repartition) by merging contiguous partitions. Every write task
      // still holds whole buckets, so the insert — one file per (write
      // task, bucket, kind) — lands at the 16-files-per-kind floor at any
      // batch size, while a micro-batch coalesces to ONE task. (Only a
      // bucket above AQE's advisory size splits.) Without an exchange the
      // seed batch wrote 437 files PER KIND at sf0.1; a count-free
      // exchange mixes buckets and wrote up to 72 per kind at sf10.
      val staged = survivors.drop("__grp")
        .hint("rebalance", IndexBuckets, col(idCol))
        .localCheckpoint(true)
      try {
        // staged-count off the critical path (r20): when ANY item probed
        // bloom-improbable it is definitely new (no history band ⇒ no
        // candidates ⇒ it survives), so bloomProbable < uniqueIn proves
        // appended > 0 and the merge starts without the count, which runs
        // concurrently and is awaited for the progress event (or to gate
        // the merge when every item probed probable)
        val appendedF = Par.async(staged.count())
        val definitelyNew = bloomProbable >= 0 && bloomProbable < uniqueIn
        // bloom-ahead of the insert, survivors' bands only (suppressed
        // items' bands never reach the table): a crash between merge and
        // insert leaves FP-only sketch state. A fully-suppressed batch
        // skips the merge — unless the index is fresh, so its sidecar is
        // still created on the first batch.
        if (!exists || definitelyNew || Par.await(appendedF) > 0)
          BloomSidecar.merge(s, bloomDir(indexDir), IndexBuckets, batchId,
            bloomKeyed(postings(staged)), st, exists,
            IngestPaths.defaultCapacity(s))
        overwrite(s, indexDir, batchId,
          itemRows(staged, lit(batchId)).unionByName(bandRows(postings(staged))))
        IngestEvents.post(IngestEvents.IngestProgress(s"${kind}_ingest",
          indexDir, batchId, docsIn, uniqueIn, Par.await(appendedF),
          bloomProbable))
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

  /** Consolidate every index partition with `batch <= upToBatch` into the
    * reserved [[CorpusIngest.CompactedBatch]] partition (both kinds, one
    * insert): partition/file count stops growing O(lifetime) while the
    * bucket spec — and so the no-exchange probe/verify plans — survives.
    * `upToBatch` must be strictly below the newest batch, which may still
    * replay. Crash-atomic: the intent marker is written durably first and
    * cleared last; a crash between is rolled forward by the next call
    * into this index, so no reader sees the duplicate-rows window.
    */
  def compact(s: SparkSession, indexDir: String, upToBatch: Long): Unit = {
    // validate before taking the lease: a compact against a wrong dir
    // must not strand a lease that blocks that path's first writer
    require(reconcile(s, indexDir), s"no $kind index at $indexDir")
    IngestPaths.acquireLease(s, indexDir)
    val tbl = idxTable(s, indexDir)
    s.catalog.refreshTable(tbl)
    val newest = maxBatch(s.table(tbl))
    require(newest != null && upToBatch < newest.longValue,
      s"compact(upToBatch=$upToBatch): the newest batch ($newest) may " +
        "still replay under foreachBatch's at-least-once contract")
    IngestPaths.compactMarked(s, indexDir, upToBatch)(runCompaction(s, indexDir, _))
  }

  /** The auto-compaction decision the streaming hook runs after each
    * batch. NOT via [[compact]]: its newest-batch check is a max over
    * ROWS, which a fully-suppressed newest batch never registers in, so it
    * would throw inside foreachBatch; here upToBatch = batchId−1 is below
    * the trigger id by construction. A no-op before the first non-empty
    * batch creates the table (ADVICE r11), and a replayed trigger re-runs
    * it harmlessly (the fresh-partition guard).
    */
  private[graft] def maybeAutoCompact(s: SparkSession, indexDir: String,
      batchId: Long, compactEvery: Int): Unit =
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0 &&
        s.catalog.tableExists(idxTable(s, indexDir)))
      IngestPaths.compactMarked(s, indexDir, batchId - 1)(runCompaction(s, indexDir, _))

  /** The compaction body — everything between marker write and clear;
    * idempotent from any crash point: the consolidation re-reads whatever
    * the crash left (including the previous consolidated partition) and
    * dedups per kind, keeping each item's earliest `first_batch`.
    */
  private def runCompaction(s: SparkSession, indexDir: String,
      upToBatch: Long): Unit = {
    val sentinel = CorpusIngest.CompactedBatch
    val toMerge = s.table(idxTable(s, indexDir)).filter(col("batch") <= upToBatch)
    // fresh-partition guard: nothing below upToBatch outside the
    // consolidated partition ⇒ metadata no-op, so auto-compaction costs
    // O(new partitions) per trigger, not O(index). Skipping the bloom
    // rebuild is safe: compaction moves bands, never removes them — but
    // a manual compact() is the documented recovery path for a deleted
    // or saturated sidecar, so an unusable one is rebuilt anyway.
    if (toMerge.filter(col("batch") =!= sentinel).isEmpty) {
      val st = loadBloomState(s, indexDir)
      if (st.isEmpty || st.exists(b => (0 until IndexBuckets).exists(b.saturated)))
        rebuildBlooms(s, indexDir)
      return
    }
    val first = Window.partitionBy(col(idCol))
      .orderBy(col("first_batch"), col("batch"))
    val items = toMerge.filter(col("kind") === rowKind)
      .withColumn("__rn", row_number().over(first))
      .filter(col("__rn") === 1)
      .select(dataCols.map(col): _*)
    val staged = items.unionByName(bandRows(toMerge.filter(col("kind") === "b")
      .select(col(idCol), col("band"), col("bh")).distinct()))
      .localCheckpoint(true)
    try {
      overwrite(s, indexDir, sentinel, staged)
      // re-assert the writer lease before the destructive drop phase:
      // refresh when ours, abort loudly if a TTL-expiry steal happened
      // mid-consolidation — the intent marker lets the new owner roll on
      IngestPaths.acquireLease(s, indexDir)
      dropBatches(s, indexDir, batchDirs(s, indexDir).filter(v => v <= upToBatch && v != sentinel))
      s.catalog.refreshTable(idxTable(s, indexDir))
    } finally staged.unpersist()
    rebuildBlooms(s, indexDir)
  }

  /** EXPIRE (retention): drop every item FIRST SEEN in a batch
    * <= `olderThanBatch`. Per-batch partitions are whole-partition drops;
    * the consolidated partition pays ONE staged rewrite — item rows
    * filtered on `first_batch`, postings anti-joined against the expired
    * ids (they carry no first_batch). The sketches stay as they are
    * (over-approximate: the FP-only direction). Returns item rows removed.
    */
  def expire(s: SparkSession, indexDir: String, olderThanBatch: Long): Long = {
    require(reconcile(s, indexDir), s"no $kind index at $indexDir")
    IngestPaths.acquireLease(s, indexDir)
    val tbl = idxTable(s, indexDir)
    s.catalog.refreshTable(tbl)
    val sentinel = CorpusIngest.CompactedBatch
    val newest = newestBatch(s, tbl)
    require(newest == null || olderThanBatch < newest.longValue,
      s"expire(olderThanBatch=$olderThanBatch): the newest batch " +
        s"($newest) may still replay under foreachBatch's at-least-once " +
        "contract and must stay")
    val aged = batchDirs(s, indexDir).filter(v => v != sentinel && v <= olderThanBatch)
    var removed = if (aged.isEmpty) 0L else s.table(tbl)
      .filter(col("batch").isin(aged: _*) && col("kind") === rowKind).count()
    dropBatches(s, indexDir, aged)
    s.catalog.refreshTable(tbl)
    val consolidated = s.table(tbl).filter(col("batch") === sentinel)
    val expired = consolidated
      .filter(col("kind") === rowKind && col("first_batch") <= olderThanBatch)
      .select(col(idCol)).localCheckpoint(true)
    try {
      val nExpired = expired.count()
      if (nExpired > 0) {
        val staged = consolidated
          .filter(col("kind") === rowKind && col("first_batch") > olderThanBatch)
          .unionByName(consolidated.filter(col("kind") === "b")
            .join(expired, Seq(idCol), "left_anti"))
          .select(dataCols.map(col): _*)
          .localCheckpoint(true)
        try overwrite(s, indexDir, sentinel, staged) finally staged.unpersist()
        s.catalog.refreshTable(tbl)
        removed += nExpired
      }
    } finally expired.unpersist()
    removed
  }

  /** RETRACT (takedown) items by id: removes their rows AND their LSH
    * postings, so a re-delivered near-dup of a retracted item is accepted
    * as new while near-dups of SURVIVING items stay suppressed. Each
    * touched batch partition is rewritten in one staged overwrite (both
    * kinds in one commit); ids living in the newest REAL batch are
    * refused (its replay would resurrect them; the consolidated partition
    * never replays). The sketches stay as they are (FP-only direction;
    * the next [[compact]] re-tightens). Partitions are independently
    * atomic: after a crash, re-run with the same ids until it returns
    * (idempotent). Returns item rows removed.
    */
  def retract(s: SparkSession, indexDir: String, ids: DataFrame): Long = {
    require(reconcile(s, indexDir), s"no $kind index at $indexDir")
    IngestPaths.acquireLease(s, indexDir)
    val tbl = idxTable(s, indexDir)
    s.catalog.refreshTable(tbl)
    val gone = ids.select(col(ids.columns.head).cast("long").as(idCol))
      .distinct().localCheckpoint(true)
    try {
      val newest = newestBatch(s, tbl)
      // per-batch hit counts over BOTH kinds in one pass; n = item rows
      val hits = s.table(tbl).join(gone, Seq(idCol), "left_semi")
        .groupBy(col("batch"))
        .agg(sum(when(col("kind") === rowKind, 1L).otherwise(0L)).as("n"))
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
          .select(dataCols.map(col): _*)
          .localCheckpoint(true)
        try overwrite(s, indexDir, v, staged) finally staged.unpersist()
      }
      s.catalog.refreshTable(tbl)
      hits.values.sum
    } finally gone.unpersist()
  }

  /** MERGE two independently built indexes into a FRESH third, with the
    * cross-index step exact digests cannot do: index `a` is senior, and
    * every `b` item that passes the verify predicate against SOME `a`
    * item is suppressed (candidates from a shuffled (band,bh) join of the
    * two posting slices — O(|b| + collisions), acceptable for an offline
    * verb whose output write is O(index) anyway). Survivors and postings
    * land in one consolidated partition with rebuilt sketches, so the
    * destination is a normal index. `b`-internal near-dups are NOT
    * collapsed (each source already deduped itself). Id spaces must be
    * disjoint; the destination must not exist; a crash mid-write leaves
    * a partial dst — delete and re-run (sources are read-only). Returns
    * the merged item count.
    */
  def merge(s: SparkSession, aDir: String, bDir: String, dstDir: String,
      simThreshold: Double = defaultThreshold): Long = {
    require(reconcile(s, aDir), s"no $kind index at $aDir")
    require(reconcile(s, bDir), s"no $kind index at $bDir")
    val (fs, dstPath) = IngestPaths.fsOf(s, dstDir)
    require(!fs.exists(dstPath), s"merge destination already exists: $dstDir")
    val (aRows, bRows) = (rows(s, aDir), rows(s, bDir))
    require(aRows.select(col(idCol)).join(bRows.select(col(idCol)), idCol).isEmpty,
      s"$idCol spaces of the two indexes overlap - remap ids before merging")
    val aBands = bands(s, aDir).drop("batch")
    val bBands = bands(s, bDir).drop("batch")
    val cand = bBands.alias("n").join(aBands.alias("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh"))
      .select(col(s"n.$idCol").as("new_id"), col(s"o.$idCol").as("old_id"))
      .distinct()
    val dup = verifiedDups(cand, aRows, bRows, simThreshold)
    val kept = itemRows(aRows.unionByName(bRows.join(dup, Seq(idCol), "left_anti")),
        col("first_batch"))
      .unionByName(bandRows(aBands
        .unionByName(bBands.join(dup, Seq(idCol), "left_anti")).distinct()))
    createTable(s, dstDir)
    overwrite(s, dstDir, CorpusIngest.CompactedBatch, kept)
    rebuildBlooms(s, dstDir)
    rows(s, dstDir).count()
  }

  /** Every surviving item with its metadata column and the batch that
    * FIRST saw it (`first_batch`, stable across [[compact]]). A plain
    * path read — catalog-independent, EXCEPT when a crashed compact left
    * its intent marker: the compaction is rolled forward (via the
    * catalog) before reading, so this read never observes duplicates.
    */
  def index(s: SparkSession, indexDir: String): DataFrame = {
    if (IngestPaths.readMarker(s, indexDir).isDefined) reconcile(s, indexDir)
    s.read.parquet(idxPath(indexDir)).filter(col("kind") === rowKind)
      .select(col(idCol), col(payload.head._1), col("first_batch").as("batch"))
  }
}
