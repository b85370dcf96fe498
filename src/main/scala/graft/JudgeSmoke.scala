package graft

import org.apache.spark.sql.functions._
import graft.catalog.{FunctionQueries, LlmQueries, RelationalQueries, StreamingQueries}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

object JudgeSmoke {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(Session.cpus, d, "ERROR")

    val all = RelationalQueries.queries ++ FunctionQueries.queries ++
      StreamingQueries.queries ++ LlmQueries.queries
    all.toSeq.sortBy(_._1).foreach { case (k, fn) =>
      val t0 = System.nanoTime()
      try {
        val n = fn(spark, d).count()
        println(f"SMOKE OK   $k%-28s rows=$n%-8d ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        println(s"SMOKE ERR  $k  ${e.toString.replaceAll("\n", " ").take(180)}")
      }
      // deterministic cache lifetime per query (ADVICE r9), same as
      // Verify/Bench
      spark.catalog.clearCache()
    }

    def op(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      try println(f"SMOKE OK   $name%-28s rows=$f%-8d ${(System.nanoTime() - t0) / 1e9}%.1fs")
      catch { case e: Throwable =>
        println(s"SMOKE ERR  $name  ${e.toString.replaceAll("\n", " ").take(180)}")
      }
    }
    val docs = Tables.documents(spark, d)
    val emb = Tables.embeddings(spark, d)
    op("op_dedup_exact") { Dedup.exact(docs, "text", "doc_id").count() }
    op("op_minhash_pairs") { Dedup.minhashPairs(docs, "text", "doc_id").count() }
    op("op_minhash_bucket_stats") { Dedup.minhashBucketStats(docs, "text", "doc_id").count() }
    op("op_simhash_pairs") { Dedup.simhashPairs(docs, "text", "doc_id").count() }
    op("op_ngram_jaccard_pairs") { Dedup.ngramJaccardPairs(docs, 3, 100, 0.5).count() }
    op("op_sim_bruteforce_topk") { Similarity.bruteForceTopK(emb, 1L, 10).count() }
    op("op_sim_blocked_join") { Similarity.blockedSimilarityJoin(emb.withColumn("blk", col("label")), "blk", 0.2).count() }
    op("op_sim_ivf_topk") { Similarity.ivfTopK(spark, emb, 1L, 10).count() }
    op("op_text_langid") { TextAnalysis.langId(docs).count() }
    op("op_text_quality") { TextAnalysis.qualityScore(docs).count() }
    op("op_text_tokens") { TextAnalysis.tokenCounts(docs).count() }
    op("op_text_fingerprint") { TextAnalysis.fingerprint(docs).count() }
    op("op_multimodal_meta") {
      import spark.implicits._
      val m = Multimodal.withMediaColumn(docs).select(col("doc_id"), col("media")).as[Multimodal.MediaRow]
      Multimodal.decodeMeta(spark, m).count()
    }
    op("op_multimodal_frames") { Multimodal.sampleFrames(Multimodal.withMediaColumn(docs), 4).count() }
    op("op_shingle_pairs_global") {
      Dedup.shingleJaccardPairsGlobal(
        docs.select(col("doc_id"), col("text")), 3, 0.5).count()
    }
    // takedown drives: ingest two batches, retract one doc from the older
    // batch, count the survivors (both persistent indexes)
    op("op_manifest_retract") {
      val dir = graft.util.Scratch.fresh("smoke_retract_m")
      val b0 = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("lang"))
      graft.streaming.CorpusIngest.ingestBatch(b0, 0L, dir)
      graft.streaming.CorpusIngest.ingestBatch(
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"), col("lang")), 1L, dir)
      import spark.implicits._
      val victim = b0.select(col("doc_id")).as[Long].head()
      graft.streaming.CorpusIngest.retract(spark, dir,
        Seq(victim).toDF("doc_id"))
      graft.streaming.CorpusIngest.manifest(spark, dir).count()
    }
    // retention drive: expire the older batch, count survivors
    op("op_manifest_expire") {
      val dir = graft.util.Scratch.fresh("smoke_expire_m")
      val slim = docs.select(col("doc_id"), col("text"), col("lang"))
      graft.streaming.CorpusIngest.ingestBatch(
        slim.filter(col("doc_id") % 2 === 0), 0L, dir)
      graft.streaming.CorpusIngest.ingestBatch(
        slim.filter(col("doc_id") % 2 === 1), 1L, dir)
      graft.streaming.CorpusIngest.expire(spark, dir, 0L)
      graft.streaming.CorpusIngest.manifest(spark, dir).count()
    }
    // merge drives: two independently built indexes unioned into a fresh
    // third (digest / cross-index near-dup collapse), survivors counted
    op("op_manifest_merge") {
      val base = graft.util.Scratch.fresh("smoke_merge_m")
      val slim = docs.select(col("doc_id"), col("text"), col("lang"))
      // DISJOINT id spaces (the family contract, enforced since r13) with
      // overlapping CONTENT: the corpus carries exact-dup texts across
      // the parity split, so cross-source digest collapse still exercises
      graft.streaming.CorpusIngest.ingestBatch(
        slim.filter(col("doc_id") % 2 === 0), 0L, s"$base/a")
      graft.streaming.CorpusIngest.ingestBatch(
        slim.filter(col("doc_id") % 2 === 1), 0L, s"$base/b")
      graft.streaming.CorpusIngest.merge(spark, s"$base/a", s"$base/b",
        s"$base/dst")
    }
    op("op_fuzzy_merge") {
      val base = graft.util.Scratch.fresh("smoke_merge_f")
      val slim = docs.select(col("doc_id"), col("text"), col("lang"))
      graft.streaming.FuzzyIngest.ingestBatch(
        slim.filter(col("doc_id") % 2 === 0), 0L, s"$base/a")
      graft.streaming.FuzzyIngest.ingestBatch(
        slim.filter(col("doc_id") % 2 === 1), 0L, s"$base/b")
      graft.streaming.FuzzyIngest.merge(spark, s"$base/a", s"$base/b",
        s"$base/dst")
    }
    op("op_fuzzy_retract") {
      val dir = graft.util.Scratch.fresh("smoke_retract_f")
      val b0 = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("lang"))
      graft.streaming.FuzzyIngest.ingestBatch(b0, 0L, dir)
      graft.streaming.FuzzyIngest.ingestBatch(
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"), col("lang")), 1L, dir)
      import spark.implicits._
      val victim = b0.select(col("doc_id")).as[Long].head()
      graft.streaming.FuzzyIngest.retract(spark, dir,
        Seq(victim).toDF("doc_id"))
      graft.streaming.FuzzyIngest.index(spark, dir).count()
    }

    // dump a few results for DuckDB cross-check
    val out = "/tmp/judge_out"
    Seq("agg_pricing_summary", "join_asof", "window_running_sum", "fn_string",
        "stream_sliding_avg", "agg_custom_typed").foreach { k =>
      try all(k)(spark, d).coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
      catch { case e: Throwable => println(s"DUMP ERR $k ${e.getMessage.take(120)}") }
    }
    spark.stop()
  }
}
