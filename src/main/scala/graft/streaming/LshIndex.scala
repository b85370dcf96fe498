package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LSH probe/verify layer of the [[IndexStore]] — what
  * [[FuzzyIngest]] (MinHash) and [[EmbedIngest]] (sign-LSH) share. A
  * kind supplies its signature kernel ([[signBatch]]), the (id, band, bh)
  * postings of a signed frame, the scalar band hashes and the verify
  * predicate.
  *
  * Storage: the store's one table under `indexDir/idx`, sub-partitioned
  * by `kind` and CLUSTERED BY the id column. Item rows (`kind=rowKind`)
  * carry (id, payload, first_batch); `kind='b'` rows carry the (band,
  * bh, id) postings with null wide columns (parquet all-null chunks are
  * metadata-sized). Kind-level partition pruning keeps the two access
  * paths separate file sets: a probe never reads payload bytes and a
  * verify never reads postings.
  *
  * Probe: the batch's (bloom-pre-shrunk, micro-batch bounded) postings
  * are BROADCAST against the `kind='b'` slice — zero index-side exchange,
  * plan-asserted in FuzzyIngestSpec — and the verify joins the (few)
  * candidates against the item slice bucket-locally on the id. Per-batch
  * cost is O(batch + candidates), never O(corpus lifetime). The band
  * sketch lives at `indexDir/bands_bloom`, keyed by (band, bh).
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
    legacyDir: String, defaultThreshold: Double)
  extends IndexStore(IndexLayout(name = kind, tablePrefix = s"graft_${kind}_idx_",
    viewPrefix = s"graft_${kind}_stage_", tablePath = d => s"$d/idx",
    bloomPath = d => s"$d/bands_bloom",
    columns = ((idCol -> "BIGINT") +: payload) ++
      Seq("first_batch" -> "BIGINT", "band" -> "INT", "bh" -> "BIGINT"),
    bucketCols = Seq(idCol), idCol = idCol, sub = Some("kind" -> Seq(rowKind, "b")),
    items = col("kind") === rowKind, legacyDir = Some(legacyDir))) {

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

  /** Index-table name (see [[IndexStore.table]]). */
  def idxTable(s: SparkSession, indexDir: String): String = table(s, indexDir)

  /** Item rows (`kind=rowKind`): (id, payload…, first_batch, batch). */
  protected def rows(s: SparkSession, indexDir: String): DataFrame =
    storedItems(s, indexDir).select(((idCol +: payload.map(_._1)) ++
      Seq("first_batch", "batch")).map(col): _*)

  /** Band-posting rows (`kind='b'`): (band, bh, id, batch). */
  def bands(s: SparkSession, indexDir: String): DataFrame =
    s.table(table(s, indexDir)).filter(col("kind") === "b")
      .select(col("band"), col("bh"), col(idCol), col("batch"))

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

  protected def rowsOf(staged: DataFrame, firstBatch: Column): DataFrame =
    itemRows(staged, firstBatch).unionByName(bandRows(postings(staged)))

  /** Every item writes one posting per band (fixed-length band arrays). */
  override protected def rowsPerItem: Int = 1 + bandHashes.size

  /** Items keep their earliest `first_batch`; postings dedup. */
  protected def consolidate(toMerge: DataFrame): DataFrame =
    firstPerKey(toMerge.filter(col("kind") === rowKind), Seq(idCol),
        "first_batch", "batch")
      .select(writeCols.map(col): _*)
      .unionByName(bandRows(toMerge.filter(col("kind") === "b")
        .select(col(idCol), col("band"), col("bh")).distinct()))

  // ---------------------------------------------------------------------
  // Band bloom keys
  // ---------------------------------------------------------------------

  /** Band bucket/key MUST match the table's physical bucketing hash
    * ([[org.apache.spark.sql.functions.hash]] is Spark's own bucketing
    * hash) so sketch population mirrors physical buckets.
    */
  private def bandBucket(band: Column, bh: Column): Column =
    pmod(hash(band, bh), lit(IndexBuckets)).cast("int")

  private def bandKey(band: Column, bh: Column): Column = xxhash64(band, bh)

  protected def bloomKeyed(rows: DataFrame): DataFrame =
    rows.filter(col("kind") === "b").select(
      bandBucket(col("band"), col("bh")).as("__b"), bandKey(col("band"), col("bh")).as("__k"))

  /** TRUE iff ANY of a signed row's band keys probes probable — the
    * scalar (non-exploded) form of the probe-side filter (band index =
    * position in [[bandHashes]]).
    */
  protected def probable(probe: Probe): Column =
    bandHashes.zipWithIndex.map { case (bh, b) =>
      probe(bandBucket(lit(b), bh), bandKey(lit(b), bh))
    }.reduce(_ || _)

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

  /** One ingest merge through the store: probe the batch's postings
    * against the band slice, verify the candidates, suppress verified
    * near-dups. `preSigned`: a [[preSign]] result for THIS batch (same
    * frame, same expressions). `collapse`: a within-batch near-dup
    * collapse of the signed frame, applied before the probe.
    */
  protected def lshIngest(batch: DataFrame, batchId: Long, indexDir: String,
      simThreshold: Double, preSigned: Option[DataFrame],
      collapse: Option[DataFrame => DataFrame]): Unit =
    ingest(batch, batchId, indexDir, preSigned, collapse) { (sigs, probe, fused) =>
      val s = sigs.sparkSession
      val newBands = postings(sigs)
      var bloomProbable = fused
      // bloom pre-filter: bands the index has definitely never seen
      // produce no candidates — when NONE survive the probe, the band
      // slice's data files are never opened this batch
      val probed = probe match {
        case Some(p) =>
          val probableBands = newBands.filter(p(bandBucket(col("band"), col("bh")),
            bandKey(col("band"), col("bh"))))
          if (bloomProbable < 0)
            // not fused (a collapse ran): ONE job decides the skip AND
            // yields the count over the post-collapse survivors
            bloomProbable = probableBands.select(col(idCol)).distinct().count()
          if (bloomProbable == 0) None else Some(probableBands)
        case None => Some(newBands)
      }
      (probed.fold(sigs) { nb =>
        val cand = bandCandidates(nb, batchId, bands(s, indexDir))
        val old = rows(s, indexDir).filter(col("batch") =!= batchId)
        sigs.join(verifiedDups(cand, old, sigs, simThreshold), Seq(idCol), "left_anti")
      }, bloomProbable)
    }

  // ---------------------------------------------------------------------
  // Merge and read
  // ---------------------------------------------------------------------

  /** MERGE two independently built indexes into a FRESH third (the
    * store's [[IndexStore.mergeInto]] tail), with the cross-index step
    * exact digests cannot do: index `a` is senior, and every `b` item
    * that passes the verify predicate against SOME `a` item is suppressed
    * (candidates from a shuffled (band,bh) join of the two posting slices
    * — O(|b| + collisions), acceptable for an offline verb whose output
    * write is O(index) anyway). `b`-internal near-dups are NOT collapsed
    * (each source already deduped itself).
    */
  def merge(s: SparkSession, aDir: String, bDir: String, dstDir: String,
      simThreshold: Double = defaultThreshold): Long =
    mergeInto(s, aDir, bDir, dstDir) {
      val (aRows, bRows) = (rows(s, aDir), rows(s, bDir))
      val aBands = bands(s, aDir).drop("batch")
      val bBands = bands(s, bDir).drop("batch")
      val cand = bBands.alias("n").join(aBands.alias("o"),
          col("n.band") === col("o.band") && col("n.bh") === col("o.bh"))
        .select(col(s"n.$idCol").as("new_id"), col(s"o.$idCol").as("old_id"))
        .distinct()
      val dup = verifiedDups(cand, aRows, bRows, simThreshold)
      itemRows(aRows.unionByName(bRows.join(dup, Seq(idCol), "left_anti")),
          col("first_batch"))
        .unionByName(bandRows(aBands
          .unionByName(bBands.join(dup, Seq(idCol), "left_anti")).distinct()))
    }

  /** Every surviving item with its metadata column and the batch that
    * FIRST saw it (`first_batch`, stable across [[compact]]) — the
    * store's path read.
    */
  def index(s: SparkSession, indexDir: String): DataFrame =
    read(s, indexDir)
      .select(col(idCol), col(payload.head._1), col("first_batch").as("batch"))
}
