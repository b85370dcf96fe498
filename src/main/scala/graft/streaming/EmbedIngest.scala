package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
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
  * Storage, probe plan, bloom sidecar and the lifecycle verbs are the
  * shared [[IndexStore]] and its [[LshIndex]] probe/verify layer:
  * `kind='v'` rows carry (vec_id, label,
  * embedding, nrm, fp, first_batch). Within-batch NEAR-dups are not
  * collapsed (matching [[FuzzyIngest]]'s default). Zero-norm, non-finite
  * (NaN/±Inf element), or null/empty embeddings are dropped at ingest (a
  * NaN cosine can neither suppress nor be suppressed — dropping beats
  * carrying rows no probe can ever match).
  */
object EmbedIngest extends LshIndex(kind = "embed", idCol = "vec_id",
    rowKind = "v", payload = Seq("label" -> "INT", "embedding" -> "ARRAY<FLOAT>",
      "nrm" -> "DOUBLE", "fp" -> "BIGINT"),
    verifyCols = Seq("embedding", "nrm"), legacyDir = "vecs",
    defaultThreshold = 0.99) {

  val NumPlanes = 64
  val NumBands = 4
  val BitsPerBand = 16

  /** Vector rows (`kind='v'`): (vec_id, label, embedding, nrm, fp,
    * first_batch, batch).
    */
  def vecs(s: SparkSession, indexDir: String): DataFrame = rows(s, indexDir)

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

  private[graft] def postings(signed: DataFrame): DataFrame = bandsOf(signed)

  protected def bandHashes: Seq[Column] = (0 until NumBands).map(bhOf)

  protected def similarity(n: String => Column, o: String => Column): Column =
    dot(n("embedding"), o("embedding")) / (n("nrm") * o("nrm"))

  /** Sign-LSH fingerprints (degenerate rows dropped in the kernel), then
    * within-batch EXACT dedup (min vec_id per (fp, embedding) group).
    */
  private[graft] def signBatch(batch: DataFrame): DataFrame =
    firstPerKey(fingerprints(batch), Seq("fp", "embedding"), "vec_id")
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** One embed ingest merge — batch columns `(vec_id, embedding, label)`.
    * `preSigned`: a [[preSign]] result for THIS batch. `docsIn` counts the
    * NON-DEGENERATE rows delivered.
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, simThreshold: Double = 0.99,
      preSigned: Option[DataFrame] = None): Unit =
    lshIngest(batch, batchId, indexDir, simThreshold, preSigned, None)

  /** Streaming entry — foreachBatch over [[ingestBatch]]. */
  def embedIngest(vecs: DataFrame, indexDir: String, checkpointDir: String,
      simThreshold: Double = 0.99): StreamingQuery =
    stream(vecs, checkpointDir)(ingestBatch(_, _, indexDir, simThreshold))
}
