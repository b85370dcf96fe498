package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive an sf-N× rehearsal dataset from a driver sf directory by
  * keyed replication: `runMain graft.ScaleUp <srcDir> <dstDir> [factor]`
  * (default 10× — sf0.1 → "sf1"). VERDICT r8 item 4: one measured decade
  * of scaling to confirm the flat bench profile holds, instead of
  * resting the 100 TB grading purely on plan-reading.
  *
  * Replication is CONSISTENT and NON-DEGENERATE by construction — each
  * copy i is the original with every primary key and its referencing
  * foreign keys shifted by i·stride (stride = max(key)+1 from the data),
  * so joins stay copy-local and scale linearly:
  *  - region/nation: single copy (broadcast dims; copies keep their
  *    nationkey/regionkey references valid)
  *  - customer/supplier/part/orders/lineitem: custkey/suppkey/partkey/
  *    orderkey shifted together
  *  - events: event_id shifted; user_id shifted modulo the copy-0
  *    customer stride, so every copy's users land on valid copy-0
  *    customers at any factor — the stream-enrich join stays
  *    non-degenerate. For factor ≤ 10 the wrap never fires (identical
  *    to a plain shift); at factor 100 users repeat with ~10× per-user
  *    event density. Timestamps unchanged: N× rows per time bucket,
  *    same bucket count, the realistic shape of a denser event stream.
  *  - documents: doc_id shifted and every TOKEN suffixed `_i`, making
  *    copy vocabularies disjoint — near-dup/containment/similarity pair
  *    outputs scale ~linearly (10× the sf0.1 pairs) instead of the ×100
  *    cross-copy pair blow-up verbatim replication would fabricate.
  *    n_chars is recomputed from the rewritten text (it feeds length
  *    blocking). Token-distribution queries (stopword hits, langid) see
  *    shifted distributions on copies 1..9 — runtime shape is what the
  *    rehearsal measures, not output semantics.
  *  - embeddings: vec_id shifted and each copy's vectors sign-flipped by
  *    a deterministic per-(copy, dim) ±1 mask: within-copy cosines are
  *    EXACTLY preserved (signs square away), cross-copy cosines collapse
  *    toward 0 (random-sign inner products), so blocked similarity joins
  *    scale like a 10× corpus, not like 10 mirrored corpora.
  *
  * `--skew` (VERDICT r9 #2): the uniform decade holds key/label/lang
  * density constant per copy — real corpora are Zipf. The skewed draw
  * additionally, on copies i>0 (copy 0 stays pristine so every key
  * range referenced by dims remains populated):
  *  - orders: a deterministic 20% of rows (`xxhash64(o_orderkey)%5==0`)
  *    point their o_custkey at ONE hot copy-0 customer — the skewed
  *    fact-to-dim join shape (FK still valid; equi-join output inflates
  *    linearly in the hot rows, never quadratically).
  *  - events: same 20% collapse of user_id onto one hot copy-0 user
  *    (hot-user sessionization / enrichment).
  *  - documents: half of each copy's docs (`xxhash64(doc_id)%2==0`)
  *    forced to lang 'en' — one dominant language ≈ 55% of the corpus,
  *    stressing every (lang, source)-blocked dedup path and the per-lang
  *    prefix-rank. Token vocabularies stay copy-disjoint, so the hot
  *    block grows WITHOUT fabricating cross-copy near-dup pairs — the
  *    stress is on candidate generation, not on a bloated result.
  *  - embeddings: 20% of each copy's vectors take copy 0's most frequent
  *    label — one hot label whose block is ~2.8× the uniform draw's,
  *    the declared stressor for the label-blocked similarity join
  *    (sign-flipped copies keep cross-copy cosines ~0, so again the
  *    work grows, not the output).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val skew = args.contains("--skew")
    val pos = args.filterNot(_ == "--skew")
    val src = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = pos.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = pos.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local(Session.cpus, src, "WARN")
    derive(spark, src, dst, factor, skew)
    spark.stop()
  }

  /** The derivation body, session-injected so specs can pin the chain
    * guard and the user-id wrap without owning a session lifecycle.
    */
  def derive(spark: SparkSession, src: String, dst: String, factor: Int,
      skew: Boolean): Unit = {
    // ADVICE r15: sequence(0L, factor-1L) DESCENDS when factor <= 0
    // (sequence(0,-1) = [0,-1]), which would silently write a bogus copy
    // -1 with negative-shifted keys where the pre-r15 union form failed
    // loudly on empty.reduce. Fail fast on the unvalidated CLI arg.
    require(factor >= 1, s"factor must be >= 1, got $factor")
    def tbl(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def write(df: DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$n.parquet")

    // CHAIN GUARD (r13): deriving from an already-derived directory is a
    // measurement bug, not a bigger corpus. The per-copy rewrites are
    // injective within ONE pass but NOT under composition — the token
    // suffix chains (inner k, outer 0) and (inner 0, outer k) both yield
    // `tok_k`, fabricating ~n_docs·(factor−1) identical cross-copy
    // document twins, and the embeddings sign masks commute
    // (m_a·m_b = m_b·m_a), mirroring copy pairs (a,b)/(b,a). A chained
    // sf10 measured near-dup pair counts 2.9× the true ×100 derivation
    // (49,608 fabricated cross-copy pairs at sf10 — EXPLAINS.md round-13
    // "the second decade"; `ScaleUpSpec` pins the guard), which
    // read as a fake superlinear exponent on the exact SSJoin family.
    // Always derive from the BASE sf directory in a single pass.
    require(!new java.io.File(s"$src/_scaleup_derived").exists(),
      s"$src is itself a ScaleUp derivation — chained derivation " +
        "fabricates cross-copy near-dup pairs; derive from the base sf " +
        "directory in one pass (factor 100 for sf10)")
    // getAs[Number]: a source parquet storing the key as INT32 would make
    // getLong throw ClassCastException (ADVICE r9); also fail with a clear
    // message on an empty table instead of an NPE
    def stride(df: DataFrame, key: String): Long = {
      val v = df.agg(max(col(key))).head().getAs[Number](0)
      require(v != null, s"stride($key): source table is empty")
      v.longValue + 1L
    }
    // r15: replication is EXPLODE-based — one generator row per copy —
    // not an N-way unionByName. The union form's plan is O(factor)
    // subtrees per table; at factor 1000 (sf0.1 → sf100, the third
    // decade) analysis alone ran >10 minutes on KB-sized inputs before
    // timing out, while the explode plan is O(1) regardless of factor.
    // Per-copy expressions are the SAME formulas with the literal copy
    // index replaced by the generated `__copy` column (ScaleUpSpec pins
    // copy-1 output against the literal-int formulas exactly — the
    // xxhash64 sign/skew masks hash (INT, INT), so `__copy` is cast to
    // INT wherever the literal was one).
    // repartition the (small) BASE before exploding: the driver sf tables
    // are single parquet files under the default split size, so without
    // it the whole factor-N explode and write run on ONE task (the union
    // path got its parallelism from the N scans). One cheap shuffle of
    // base-sized data buys cores× write parallelism on factor×-sized
    // output.
    val par = spark.sparkContext.defaultParallelism
    def replicated(df: DataFrame)(f: (DataFrame, Column) => DataFrame): DataFrame =
      f(df.repartition(par).withColumn("__copy",
          explode(expr(s"sequence(0L, ${factor - 1}L)"))), col("__copy"))
        .drop("__copy")

    // dims referenced by every copy: single copy, verbatim
    write(tbl("region"), "region")
    write(tbl("nation"), "nation")

    val customer = tbl("customer"); val cS = stride(customer, "c_custkey")
    write(replicated(customer)((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + i * lit(cS))), "customer")

    val supplier = tbl("supplier"); val sS = stride(supplier, "s_suppkey")
    write(replicated(supplier)((d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + i * lit(sS))), "supplier")

    val part = tbl("part"); val pS = stride(part, "p_partkey")
    write(replicated(part)((d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + i * lit(pS))), "part")

    val orders = tbl("orders"); val oS = stride(orders, "o_orderkey")
    // hot targets are copy-0 keys, so skewed FKs stay valid
    val hotCust = customer.agg(min(col("c_custkey"))).head().getAs[Number](0).longValue
    write(replicated(orders)((d, i) => {
      val shifted = d
        .withColumn("o_orderkey", col("o_orderkey") + i * lit(oS))
        .withColumn("o_custkey", col("o_custkey") + i * lit(cS))
      if (skew)
        shifted.withColumn("o_custkey",
          when(i > 0 && pmod(xxhash64(col("o_orderkey")), lit(5)) === 0,
            lit(hotCust)).otherwise(col("o_custkey")))
      else shifted
    }), "orders")

    val lineitem = tbl("lineitem")
    write(replicated(lineitem)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + i * lit(oS))
        .withColumn("l_partkey", col("l_partkey") + i * lit(pS))
        .withColumn("l_suppkey", col("l_suppkey") + i * lit(sS))), "lineitem")

    val events = Tables.normalizeEventTs(tbl("events"))
    val eS = stride(events, "event_id"); val uS = stride(events, "user_id")
    // r13: shifted user_ids WRAP modulo the copy-0 customer stride instead
    // of requiring uS·factor ≤ cS. For factor ≤ 10 the wrap never fires
    // (uS·10 = cS in the driver data), so sf1 derivations are bit-identical
    // to the old behavior; factor 100 now lands every user on a valid
    // copy-0 customer with ~10× the per-user event density — the denser-
    // stream shape a 100× corpus implies, instead of a hard failure.
    val hotUser = events.agg(min(col("user_id"))).head().getAs[Number](0).longValue
    write(replicated(events)((d, i) => {
      val shifted = d
        .withColumn("event_id", col("event_id") + i * lit(eS))
        .withColumn("user_id", pmod(col("user_id") + i * lit(uS), lit(cS)))
      if (skew)
        shifted.withColumn("user_id",
          when(i > 0 && pmod(xxhash64(col("event_id")), lit(5)) === 0,
            lit(hotUser)).otherwise(col("user_id")))
      else shifted
    }), "events")

    val documents = tbl("documents"); val dS = stride(documents, "doc_id")
    write(replicated(documents)((d, i) => {
      val copy = d.withColumn("doc_id", col("doc_id") + i * lit(dS))
        .withColumn("text",
          when(i === 0, col("text"))
            .when(col("text").isNull, col("text"))
            .when(length(col("text")) === 0, col("text"))
            .otherwise(array_join(
              transform(split(col("text"), " "),
                t => concat(t, lit("_"), i.cast("string"))),
              " ")))
        .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
      if (skew)
        copy.withColumn("lang",
          when(i > 0 && pmod(xxhash64(col("doc_id")), lit(2)) === 0, lit("en"))
            .otherwise(col("lang")))
      else copy
    }), "documents")

    val embeddings = tbl("embeddings"); val vS = stride(embeddings, "vec_id")
    val hotLabel =
      if (skew)
        embeddings.groupBy(col("label")).agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("label")).head().get(0)
      else null
    write(replicated(embeddings)((d, i) => {
      // CAST(__copy AS INT): the pre-r15 literal form hashed (INT, INT) —
      // xxhash64 is type-sensitive, so the cast keeps copy masks
      // bit-identical to every existing derivation (spec-pinned)
      val copy = d
        .withColumn("vec_id", col("vec_id") + i * lit(vS))
        .withColumn("embedding",
          when(i === 0, col("embedding"))
            .otherwise(expr(
              """transform(embedding, (v, d) ->
                  CAST(v * (1 - 2 * pmod(xxhash64(CAST(__copy AS INT), d), 2)) AS FLOAT))""")))
      if (skew)
        copy.withColumn("label",
          when(i > 0 && pmod(xxhash64(col("vec_id")), lit(5)) === 0, lit(hotLabel))
            .otherwise(col("label")))
      else copy
    }), "embeddings")

    // marker consumed by the chain guard above
    val mk = new java.io.File(s"$dst/_scaleup_derived")
    val w = new java.io.FileWriter(mk)
    try w.write(s"src=$src factor=$factor skew=$skew\n") finally w.close()

    println(s"[scaleup] wrote ${factor}x of $src to $dst" +
      (if (skew) " (SKEWED: hot custkey/user, dominant lang, hot label)" else ""))
  }
}
