package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Incremental FUZZY (near-dup) corpus ingestion — the companion to
  * [[CorpusIngest]]'s exact manifest, covering the production case exact
  * digests cannot: a re-crawled page with a changed footer, a quoted
  * article with one new sentence. Each arriving batch is exact-deduped
  * within itself, MinHash-signed, LSH-probed against every band the
  * index has ever seen, signature-verified against only the CANDIDATE
  * historical docs, and the surviving (genuinely new) docs' signatures
  * and bands are appended. Storage, probe plan, bloom sidecar and the
  * lifecycle verbs are the shared [[IndexStore]] and its [[LshIndex]]
  * probe/verify layer: `kind='s'` rows
  * carry (doc_id, lang, minhash[32], first_batch) — signatures live ONCE
  * per doc (32×8 bytes), the band rows carry only (hash, id) pairs, never
  * text bodies.
  *
  * Suppression semantics: a new doc is dropped when ≥ `simThreshold` of
  * its minhash positions agree with SOME candidate historical doc (the
  * standard unbiased Jaccard estimate). Within-batch NEAR-dups are
  * collapsed only when `collapseWithinBatch` is set (VERDICT r10 #3):
  * the same agreement criterion over the batch's own LSH buckets, closed
  * transitively with `Dedup.connectedComponents`, keeps the min doc_id
  * per cluster — off by default because a daily batch is small against
  * history and the flag costs a batch-local self-join.
  */
object FuzzyIngest extends LshIndex(kind = "fuzzy", idCol = "doc_id",
    rowKind = "s", payload = Seq("lang" -> "STRING", "minhash" -> "ARRAY<BIGINT>"),
    verifyCols = Seq("minhash"), legacyDir = "sigs", defaultThreshold = 0.5) {

  /** Passed EXPLICITLY to [[Dedup.minhashSignatures]] (ADVICE r10: the
    * agreement fraction divides by these, so a drift in the Dedup
    * defaults must not silently reshape every stored index).
    */
  val NumHashes = 32
  val NumBands = 8

  /** Signature rows (`kind='s'`): (doc_id, lang, minhash, first_batch,
    * batch).
    */
  def sigs(s: SparkSession, indexDir: String): DataFrame = rows(s, indexDir)

  private[graft] def postings(signed: DataFrame): DataFrame =
    signed.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))

  protected def bandHashes: Seq[Column] =
    (0 until NumBands).map(col("bands").getItem(_))

  protected def similarity(n: String => Column, o: String => Column): Column =
    agreement(n("minhash"), o("minhash"))

  /** Minhash-position agreement fraction between two signature arrays —
    * the ONE similarity criterion, used by both the cross-batch verify
    * and the within-batch collapse.
    */
  private def agreement(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v))
      .cast("double") / NumHashes.toDouble

  /** Within-batch near-dup collapse (flag-gated — see object doc): LSH
    * buckets over the batch's own bands → agreement-verified pairs →
    * connected components → min doc_id per cluster survives. Batch-local:
    * O(batch²) only within shared LSH buckets, never against history.
    */
  private def collapseBatch(signed: DataFrame, simThreshold: Double): DataFrame = {
    val bandsX = postings(signed)
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

  /** Within-batch EXACT dedup (min doc_id per (xxhash64, len) text group,
    * null ids dropped at the door — ADVICE r13: a null-id doc would be an
    * unretractable, merge-invisible row), then minhash signatures with
    * lang/__grp carried through the kernel 1:1.
    */
  private[graft] def signBatch(batch: DataFrame): DataFrame = {
    val uniq = firstPerKey(batch
        .filter(col("doc_id").isNotNull)
        .withColumn("__h", xxhash64(coalesce(col("text"), lit(""))))
        .withColumn("__len", coalesce(length(col("text")), lit(-1))),
        Seq("__h", "__len"), "doc_id")
      .select(col("doc_id"), col("lang"), col("text"), col("__grp"))
    Dedup
      .minhashSignatures(uniq, "text", "doc_id", NumHashes, NumBands,
        carry = Seq("lang", "__grp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Streaming entry: every micro-batch runs [[ingestBatch]], then the
    * opt-in `compactEvery` auto-compaction ([[maybeAutoCompact]]: the
    * current trigger batch always stays replayable, and a re-trigger with
    * nothing new to merge is a metadata no-op).
    */
  def fuzzyIngest(docs: DataFrame, indexDir: String, checkpointDir: String,
      simThreshold: Double = 0.5, collapseWithinBatch: Boolean = false,
      compactEvery: Int = 0): StreamingQuery =
    stream(docs, checkpointDir) { (batch, id) =>
      ingestBatch(batch, id, indexDir, simThreshold, collapseWithinBatch)
      maybeAutoCompact(batch.sparkSession, indexDir, id, compactEvery)
    }

  /** One fuzzy ingest merge (batch mode; the streaming form above).
    * `preSigned`: a [[preSign]] result for THIS batch.
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, simThreshold: Double = 0.5,
      collapseWithinBatch: Boolean = false,
      preSigned: Option[DataFrame] = None): Unit =
    lshIngest(batch, batchId, indexDir, simThreshold, preSigned,
      if (collapseWithinBatch) Some(collapseBatch(_, simThreshold)) else None)
}
