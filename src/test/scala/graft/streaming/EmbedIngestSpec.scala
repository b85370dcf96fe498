package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental semantic-dedup index semantics: cross-batch cosine
  * near-dup suppression (the paraphrase/re-encode case neither the
  * exact digest nor the text-shingle index can see), exact-cosine
  * verification of band candidates (a band hit below the threshold
  * survives), positive-rescale fingerprint invariance, degenerate-row
  * drops, idempotent replay, and the streaming leg.
  */
class EmbedIngestSpec extends SparkSpec with IndexKinds {
  import spark.implicits._

  private def unit(i: Int): Array[Float] = {
    val v = Array.fill(8)(0.0f); v(i) = 1.0f; v
  }
  private def mix(base: Int, other: Int, w: Float): Array[Float] = {
    val v = Array.fill(8)(0.0f); v(base) = 1.0f; v(other) = w; v
  }
  private def vecs(rows: (Long, Array[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  test("rescaled vector has an identical fingerprint; orthogonal one differs in cosine") {
    val fp = EmbedIngest.fingerprints(vecs(
      (1L, unit(0), 0),
      (2L, unit(0).map(_ * 2.5f), 0),
      (3L, unit(1), 1)))
      .select(col("vec_id"), col("fp")).as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L), "positive rescale must not flip any sign bit")
  }

  test("cosine near-dups of earlier batches are suppressed; sub-threshold band hits survive") {
    val dir = graft.util.Scratch.fresh("embed_ingest")
    EmbedIngest.ingestBatch(vecs(
      (1L, unit(0), 0), (2L, unit(1), 1)), 0L, dir)
    // batch 1: a rescale of vec 1 (cos 1.0 -> suppressed), a tiny
    // perturbation (cos ~0.9989 >= 0.99 -> suppressed), a LARGER
    // perturbation that still lands in the same band (cos ~0.944 < 0.99
    // -> the verify step must keep it), and an orthogonal new vector
    EmbedIngest.ingestBatch(vecs(
      (10L, unit(0).map(_ * 1.01f), 0),
      (11L, mix(0, 2, 0.047f), 0),
      (12L, mix(0, 3, 0.35f), 0),
      (13L, unit(4), 4)), 1L, dir)
    val idx = EmbedIngest.index(spark, dir)
      .select(col("batch").cast("long"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    assert(idx == Set((0L, 1L), (0L, 2L), (1L, 12L), (1L, 13L)),
      s"embed index mismatch: $idx")
  }

  test("within-batch exact dup collapses; null/empty/zero-norm rows drop") {
    val dir = graft.util.Scratch.fresh("embed_degenerate")
    EmbedIngest.ingestBatch(vecs(
      (5L, unit(2), 0),
      (4L, unit(2), 0),                               // exact dup, smaller id wins
      (6L, null.asInstanceOf[Array[Float]], 0),       // null -> dropped
      (7L, Array.empty[Float], 0),                    // empty -> dropped
      (8L, Array.fill(8)(0.0f), 0)), 0L, dir)         // zero norm -> dropped
    val idx = EmbedIngest.index(spark, dir)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(idx == Set(4L), s"degenerate handling mismatch: $idx")
  }

  test("non-finite vectors (NaN/Inf element) drop at the door like zero-norm") {
    // r13 float-edges finding: a NaN vector's sign bits are all zero
    // (Java NaN >= 0 is false), so it finds no band candidates and
    // history can never suppress it, while NaN-greatest engines
    // (Spark SQL's >=, DuckDB) suppress it — a silent 1-row count
    // drift. The door drop removes the divergence by construction.
    val nanVec = { val v = unit(3); v(5) = Float.NaN; v }
    val infVec = { val v = unit(4); v(6) = Float.PositiveInfinity; v }
    val fp = EmbedIngest.fingerprints(vecs(
      (1L, unit(0), 0), (2L, nanVec, 0), (3L, infVec, 0)))
      .select(col("vec_id")).as[Long].collect().toSet
    assert(fp == Set(1L), s"non-finite rows must drop pre-kernel: $fp")
    val dir = graft.util.Scratch.fresh("embed_nonfinite")
    EmbedIngest.ingestBatch(vecs(
      (1L, unit(0), 0), (2L, nanVec, 0), (3L, infVec, 0)), 0L, dir)
    val idx = EmbedIngest.index(spark, dir)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(idx == Set(1L), s"non-finite handling mismatch: $idx")
  }

  test("replaying a batch is idempotent and not self-suppressing") {
    val dir = graft.util.Scratch.fresh("embed_replay")
    EmbedIngest.ingestBatch(vecs((1L, unit(0), 0)), 0L, dir)
    EmbedIngest.ingestBatch(vecs((2L, unit(1), 1)), 1L, dir)
    // replay batch 1 verbatim: same rows, no duplicates, no
    // self-suppression through its own previous output
    EmbedIngest.ingestBatch(vecs((2L, unit(1), 1)), 1L, dir)
    val idx = EmbedIngest.index(spark, dir)
      .select(col("vec_id")).as[Long].collect().toSeq.sorted
    assert(idx == Seq(1L, 2L), s"replay mismatch: $idx")
  }

  test("an all-dropped first batch leaves no index; the next batch starts it") {
    allDroppedFirstBatch(embed)
  }

  test("a legacy two-table (vecs+bands) index dir is rejected with a clear error") {
    // ADVICE r14 medium: without the sniff, reconcile on a pre-r14 layout
    // probed only indexDir/idx, returned false, and ingestBatch silently
    // created a fresh EMPTY idx beside the orphaned history — all
    // suppression against historical vectors lost. Must refuse loudly.
    val dir = graft.util.Scratch.fresh("embed_legacy_spec")
    vecs((1L, unit(0), 0)).write.parquet(s"$dir/vecs")
    val e = intercept[IllegalStateException](
      EmbedIngest.ingestBatch(vecs((2L, unit(1), 1)), 0L, dir))
    assert(e.getMessage.contains("pre-r14 two-table"), e.getMessage)
  }

  test("band bloom sidecar: created on batch 0, probe stays exact either way") {
    val dir = graft.util.Scratch.fresh("embed_bloom")
    EmbedIngest.ingestBatch(vecs((1L, unit(0), 0)), 0L, dir)
    assert(EmbedIngest.loadBloomState(spark, dir).isDefined,
      "sidecar must exist after the first batch")
    // all-miss fast path (orthogonal vector, its bands unseen) keeps the
    // vector; a true near-dup still suppresses THROUGH the bloom route
    EmbedIngest.ingestBatch(vecs(
      (10L, unit(0).map(_ * 2f), 0), (11L, unit(3), 3)), 1L, dir)
    val idx = EmbedIngest.index(spark, dir)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(idx == Set(1L, 11L), s"bloom-path suppression mismatch: $idx")
    // a deleted sidecar falls back to the always-correct join, and a
    // manual compact rebuilds it (family recovery contract)
    val (fs, p) = (new org.apache.hadoop.fs.Path(s"$dir/bands_bloom")
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$dir/bands_bloom"))
    fs.delete(p, true)
    EmbedIngest.ingestBatch(vecs((12L, unit(0).map(_ * 3f), 0)), 2L, dir)
    val idx2 = EmbedIngest.index(spark, dir)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(idx2 == Set(1L, 11L), s"bloomless fallback mismatch: $idx2")
    // (batch 2 was fully suppressed, so the newest ROW-bearing batch is
    // 1 and the replay guard pins it — consolidate batch 0 only)
    EmbedIngest.compact(spark, dir, upToBatch = 0L)
    assert(EmbedIngest.loadBloomState(spark, dir).isDefined,
      "compact must rebuild the deleted sidecar")
  }

  test("streaming leg: embedIngest drains a file stream through the index") {
    val dir = graft.util.Scratch.fresh("embed_stream")
    EmbedIngest.ingestBatch(vecs((1L, unit(0), 0)), -1L, s"$dir/index")
    val delivery = vecs((10L, unit(0).map(_ * 3f), 0), (11L, unit(5), 5))
    delivery.coalesce(1).write.parquet(s"$dir/in")
    val q = EmbedIngest.embedIngest(
      spark.readStream.schema(delivery.schema).parquet(s"$dir/in"),
      s"$dir/index", s"$dir/chk")
    q.awaitTermination()
    val idx = EmbedIngest.index(spark, s"$dir/index")
      .select(col("vec_id")).as[Long].collect().toSet
    assert(idx == Set(1L, 11L), s"streaming embed ingest mismatch: $idx")
  }

  // random 32-d vectors: pairwise cosine stays far below the 0.99 bar, so
  // every row of every batch survives
  private def distinctVecs(s: org.apache.spark.sql.SparkSession, batch: Int, n: Int) = {
    val rnd = new scala.util.Random(batch)
    s.createDataFrame((0 until n).map(i => (batch * 1000L + i,
      Array.fill(32)(rnd.nextGaussian().toFloat), i % 5)))
      .toDF("vec_id", "embedding", "label")
  }

  test("every batch partition holds at most IndexBuckets part files per kind") {
    val s2 = WriteLayout.manyTaskSession(spark)
    val dir = graft.util.Scratch.fresh("embed_file_floor")
    val tasks = WriteLayout.writeTasks(s2, new java.io.File(dir).getName)(
      (0 until 3).foreach(b =>
        EmbedIngest.ingestBatch(distinctVecs(s2, b, 300), b.toLong, dir)))
    assert(tasks.nonEmpty && tasks.max > 2, s"expected multi-task writes: $tasks")
    val files = WriteLayout.partFiles(spark, s"$dir/idx")
    assert(files.keySet === (0 until 3).flatMap(b =>
      Seq(s"batch=$b/kind=v", s"batch=$b/kind=b")).toSet, s"$files")
    assert(files.values.forall(n => n > 0 && n <= EmbedIngest.IndexBuckets),
      s"part files per (batch, kind) partition: $files")
  }

  test("a micro-batch's index insert runs one write task per kind") {
    // one staged partition, read once per unionByName side (vecs, bands)
    val dir = graft.util.Scratch.fresh("embed_write_tasks")
    EmbedIngest.ingestBatch(distinctVecs(spark, 0, 200), 0L, dir)
    val tasks = WriteLayout.writeTasks(spark, new java.io.File(dir).getName)(
      EmbedIngest.ingestBatch(distinctVecs(spark, 1, 200), 1L, dir))
    assert(tasks.size == 1 && tasks.head <= 2,
      s"tasks per insert execution: $tasks")
  }
}
