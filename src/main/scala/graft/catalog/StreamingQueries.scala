package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.operators.Dedup
import graft.pipeline.{KafkaPipeline, PipelineConfig}
import graft.streaming.{CorpusIngest, EmbedIngest, EventTime, FuzzyIngest}

/** SURVEY §2.B streaming block. The windowed aggregations run here in
  * batch form over the same builders the streaming tests drive through
  * MemoryStream — identical logical plans, so the oracle checks the
  * event-time semantics. `kafka_pipeline` actually runs a Structured
  * Streaming query (file source standing in for the broker, AvailableNow
  * trigger) and returns the files it wrote.
  */
object StreamingQueries {
  type QFn = (SparkSession, String) => DataFrame

  /** Stage each of `deliveries` as ONE parquet file
    * `<base>/today/delivery_<i>.parquet`, mtimes 60 s apart —
    * modification-time order IS the micro-batch order under
    * maxFilesPerTrigger=1, and 60 s beats any FS mtime granularity. The
    * writes touch disjoint paths, so they run overlapped (guide §2.6,
    * r19). Hadoop FileSystem staging (VERDICT r9): rename/setTimes go
    * through the path's own filesystem, so this works identically on a
    * local or an hdfs://-s3a:// scratch root (java.io.File would
    * silently return false/null there).
    */
  private def stageDeliveries(s: SparkSession, base: String,
      deliveries: Seq[DataFrame]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/today"))
    deliveries.zipWithIndex.map { case (df, i) =>
      graft.util.Par.async {
        val tmp = s"$base/tmp$i"
        df.coalesce(1).write.parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file in $tmp"))
        val dst = new org.apache.hadoop.fs.Path(s"$base/today/delivery_$i.parquet")
        if (!fs.rename(part, dst)) sys.error(s"move failed: $part -> $dst")
        fs.setTimes(dst, 1600000000000L + i * 60000L, -1)
      }
    }.foreach(graft.util.Par.await)
  }

  val queries: Map[String, QFn] = Map(
    "stream_tumbling_counts" -> ((s, d) =>
      EventTime.tumblingCounts(Tables.events(s, d))
        .orderBy(col("ws"), col("event_type"))),

    "stream_sliding_avg" -> ((s, d) =>
      EventTime.slidingAvg(Tables.events(s, d))
        .orderBy(col("ws"))),

    // gap-based sessionization IS portable SQL (gaps-and-islands: lag →
    // new-session flag → running sum as session id) → full oracle below;
    // streaming semantics covered by the golden spec.
    "stream_session" -> ((s, d) =>
      EventTime.sessionStats(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_start"))),

    "stream_dedup" -> ((s, d) =>
      EventTime.dedupCounts(Tables.events(s, d))
        .orderBy(col("event_type"))),

    // batch form of the stream-stream interval join (clicks → following
    // buys within 1h per user); streaming form golden-tested with two
    // MemoryStreams + watermarks
    "stream_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      EventTime.intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
        .select(col("l_id"), col("r_id"),
          graft.functions.Rounding.roundTo(col("r_value") - col("l_value"), 2)
            .as("value_delta"))
        .orderBy(col("l_id"), col("r_id"))
    }),

    // batch form of the stream-static broadcast enrichment (join state
    // O(0) — the static side is a broadcast snapshot per micro-batch);
    // streaming form golden-tested in EventTimeSpec. Cent-scaled integer
    // value sums for cross-engine order-independence.
    "stream_enrich" -> ((s, d) =>
      EventTime.enrichStatic(Tables.events(s, d), Tables.customer(s, d),
          "user_id", "c_custkey")
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("value") * 100.0 + 0.5).cast("long")) / 100.0)
            .as("sum_value"))
        .orderBy(col("c_mktsegment"), col("event_type"))),

    // foreachBatch keyed upsert: a REAL streaming query (file source,
    // AvailableNow) maintains an external latest-event-per-user table via
    // merge + atomic state swap; the query returns the final state.
    // Multi-batch merge (later batch wins) is golden-tested in
    // EventTimeSpec via mergeLatest on split batches.
    "stream_upsert" -> ((s, d) => {
      val base = graft.util.Scratch.fresh("stream_upsert")
      val rawSchema = s.read.parquet(s"$d/events.parquet").schema
      val src = KafkaPipeline.tableFileStream(s, d, "events", rawSchema)
      // normalize nano-epoch longs to µs timestamps BEFORE the merge:
      // DuckDB compares µs-truncated times, and a sub-µs difference would
      // otherwise tie-break differently (shared helper with Tables.events)
      val ev = Tables.normalizeEventTs(src)
      val q = EventTime.upsertLatest(ev, s"$base/state", s"$base/chk")
      q.awaitTermination()
      s.read.parquet(s"$base/state")
        .select(col("user_id"), col("event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy(col("user_id"))
    }),

    // Incremental corpus ingestion against a persistent dedup manifest —
    // the daily-ingest pattern: the manifest is seeded with "yesterday's
    // corpus" (doc_id % 5 == 0), then TWO delivery days (doc_id % 5 in
    // (1,2), then (3,4)) stream through CorpusIngest.dedupIngest as TWO
    // real micro-batches (maxFilesPerTrigger=1, one file per day,
    // staggered mtimes so the file source's modification-time order is
    // deterministic); only documents whose digest the manifest has never
    // seen — in the seed OR an earlier delivery — survive. Result = new
    // docs per lang across both deliveries. The oracle twin replays the
    // same batch-ordered first-wins semantics in SQL; idempotent replay
    // is unit-tested in CorpusIngestSpec.
    // The r13 quality classifier as a STREAMING curation gate — the shape
    // a corpus pipeline actually deploys the model in (score each arriving
    // delivery, persist only keepers). The gate is a STATELESS per-row
    // map (compiled kernel, stream-compatible mapPartitions), so the sink
    // contents are batch-split independent by construction and the DuckDB
    // twin is the batch classifier filtered to keepers — while the query
    // still exercises the real streaming machinery: two mtime-ordered
    // deliveries through maxFilesPerTrigger=1, checkpointed parquet sink,
    // AvailableNow termination. Scale path: zero state, zero shuffle in
    // the hot loop (one small agg AFTER the stream) — linear in executors.
    "stream_quality_gate" -> ((s, d) => {
      val base = graft.util.Scratch.fresh("quality_gate")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      // pmod over a null-coalesced id: every document (null or negative
      // doc_id included) rides EXACTLY one delivery — the twin scores
      // every non-null-text doc, so a plain `% 2 === i` split would
      // silently drop null-id rows from both deliveries (ADVICE r13)
      stageDeliveries(s, base, Seq(0, 1).map(i =>
        docs.filter(pmod(coalesce(col("doc_id"), lit(0L)), lit(2)) === i)))
      val src = KafkaPipeline.fileStream(s, s"$base/today",
        docs.schema, glob = "*.parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
      val q = graft.operators.TextAnalysis.qualityClassifier(src)
        .filter(col("score_milli") >= 0)
        .writeStream
        .format("parquet")
        .option("path", s"$base/kept")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/kept")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_keep"),
          min(col("doc_id")).as("min_keep"),
          sum(col("score_milli")).as("sum_score_milli"))
        .orderBy(col("lang"))
    }),

    // The composed curation pipeline (VERDICT r13 item 5): the quality
    // gate FEEDING the persistent dedup manifest in one foreachBatch —
    // CurationPipeline.gatedIngestBatch scores each delivery and ingests
    // only keepers, so this key pins the interaction the two standalone
    // keys (stream_quality_gate, llm_dedup_incremental) cannot see: a
    // gated-out document must not claim a text digest, and the gate's
    // keepers ride the manifest's batch-ordered first-wins replay. The
    // oracle composes the two existing twins (score → keep → first-wins).
    // Replay idempotence of the composition is spec-pinned in
    // CurationPipelineSpec.
    "stream_curation_pipeline" -> ((s, d) => {
      val base = graft.util.Scratch.fresh("curation_pipeline")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      s.conf.set(CorpusIngest.CapacityConf, (1L << 16).toString)
      // seed = yesterday's (already curated) corpus — enters UNGATED, so
      // a seed text suppresses a later keeper even if the seed doc itself
      // would score below the gate today.
      // pmod routing (ADVICE r14): plain `% 5` gives NEGATIVE residues for
      // negative doc_ids, which ride no seed and no delivery while the
      // DuckDB twin's `<> 0` shape would bucket them into delivery 1 —
      // pmod on this side + ((x%5)+5)%5 on the twin puts every non-null
      // id on exactly one leg. Null ids ride NO leg on either side
      // (pmod(NULL)=NULL fails every filter; the twin's NULL residue
      // fails every predicate) — pinned convention, not an accident.
      // Overlapped setup (guide §2.6, r19) — the llm_dedup_incremental
      // rationale verbatim: seed ingest ∥ the two delivery writes,
      // awaited before the stream (batch 0 reads the seeded manifest).
      val seedIngest = graft.util.Par.async {
        CorpusIngest.ingestBatch(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), -1L, s"$base/manifest")
      }
      stageDeliveries(s, base, Seq(Seq(1, 2), Seq(3, 4)).map(residues =>
        docs.filter(pmod(col("doc_id"), lit(5)).isin(residues: _*))))
      graft.util.Par.await(seedIngest)
      val src = KafkaPipeline.fileStream(s, s"$base/today",
        docs.schema, glob = "*.parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
      val q = graft.streaming.CurationPipeline.gatedIngest(
        src, s"$base/manifest", s"$base/chk")
      q.awaitTermination()
      val m = CorpusIngest.manifest(s, s"$base/manifest")
      val maxBatch = m.agg(max(col("batch"))).head().getAs[Number](0).longValue
      require(maxBatch == 1,
        s"stream_curation_pipeline expects two micro-batches, saw max batch=$maxBatch")
      m.filter(col("batch") >= 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_new"), min(col("doc_id")).as("min_new"))
        .orderBy(col("lang"))
    }),

    "llm_dedup_incremental" -> ((s, d) => {
      val base = graft.util.Scratch.fresh("dedup_incr")
      val docs = Tables.documents(s, d)
      // capacity sized to the rehearsal corpus (the conf is read once, at
      // manifest CREATION, and persisted in the sidecar meta): the 2^18
      // default targets production bucket populations and makes the
      // sketch build/write the dominant per-batch constant at sf≤10 —
      // 2^16/bucket holds ~1M digests before saturation, plenty for the
      // decade, at 1/4 the sidecar bytes
      s.conf.set(CorpusIngest.CapacityConf, (1L << 16).toString)
      // pmod routing — same ADVICE r14 convention as the curation key
      // above: every non-null doc_id rides exactly one leg in BOTH
      // engines (negative ids included); null ids ride none in both.
      // Overlapped setup (guide §2.6, r19): the seed ingest and the two
      // delivery-file writes touch disjoint paths (manifest vs today/)
      // and are all independent — run the three concurrently. The
      // awaits sit before the stream starts: batch 0's suppression
      // reads the manifest, so the seed MUST be fully ingested first.
      val seedIngest = graft.util.Par.async {
        CorpusIngest.ingestBatch(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), -1L, s"$base/manifest")
      }
      stageDeliveries(s, base, Seq(Seq(1, 2), Seq(3, 4)).map(residues =>
        docs.filter(pmod(col("doc_id"), lit(5)).isin(residues: _*))))
      graft.util.Par.await(seedIngest)
      val src = KafkaPipeline.fileStream(s, s"$base/today",
        docs.schema, glob = "*.parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
      val q = CorpusIngest.dedupIngest(src, s"$base/manifest", s"$base/chk")
      q.awaitTermination()
      val m = CorpusIngest.manifest(s, s"$base/manifest")
      // The multi-batch semantics are the point: fail loudly if the two
      // deliveries collapsed into one micro-batch (oracle would still
      // match on this data, but the query would no longer test what it
      // claims to test).
      // getAs[Number]: the partition column's inferred type depends on the
      // reader (int from dir-name inference, bigint via the catalog table)
      val maxBatch = m.agg(max(col("batch"))).head().getAs[Number](0).longValue
      require(maxBatch == 1,
        s"llm_dedup_incremental expects two ingest micro-batches, saw max batch=$maxBatch")
      m.filter(col("batch") >= 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_new"), min(col("doc_id")).as("min_new"))
        .orderBy(col("lang"))
    }),

    // Incremental FUZZY dedup against a persistent MinHash band index —
    // the near-dup companion of llm_dedup_incremental (a re-crawl with
    // one changed token must be suppressed even though its digest is
    // new). Seed = yesterday's corpus; delivery 0 = near-dup re-crawls
    // of the seed (one token appended, fresh doc_ids) + genuinely new
    // docs; delivery 1 = near-dups of delivery-0 docs + more new docs.
    // Only genuinely new docs enter the index.
    //
    // Hash-oracled late in r12 (the IVF verdict pattern): the hashed
    // surface is the EXACT REPLAY of the same batch protocol — per
    // delivery, within-batch exact dedup (min doc_id per text, the
    // ingestBatch rule), then a doc survives iff it has NO true
    // 3-shingle-Jaccard >= 0.5 partner in (seed ∪ earlier survivors);
    // that is precisely the quantity the index's minhash agreement
    // fraction ESTIMATES, and it is deterministic SQL (the DuckDB twin
    // reconstructs the deliveries and replays them with brute-force
    // Jaccard at oracle scale). The persistent-index pipeline still
    // runs in full: `fuzzy_agree_ok` pins the symmetric difference
    // between the index's survivor set and the replay's at <= max(2,
    // 2% of delivered uniques) — estimation noise lives only at the
    // 0.5 agreement boundary, and the data's true pairs sit at
    // shingle-J >= 0.9, so the sets agree up to degenerate-text edge
    // rows (null-text docs sign as "" and can suppress each other in
    // the index while the replay, like the twin's string_split(NULL),
    // never pairs them — the adversarial fixtures exercise exactly
    // this, inside the band). A broken band index, probe, or signature
    // kernel flips the verdict and reddens the driver row
    // (falsifiability spec-pinned). Suppression/replay/plan contracts
    // stay in FuzzyIngestSpec.
    "llm_dedup_fuzzy_incremental" -> ((s, d) => {
      val base = graft.util.Scratch.fresh("fuzzy_incr")
      s.conf.set(CorpusIngest.CapacityConf, (1L << 16).toString) // see above
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"))
      def nearDup(src: org.apache.spark.sql.DataFrame, off: Long, pad: String) =
        src.select((col("doc_id") + off).as("doc_id"),
          concat(col("text"), lit(pad)).as("text"), col("lang"))
      val seed = docs.filter(col("doc_id") % 5 === 0)
      val b0 = nearDup(seed, 1000000L, " recrawl")
        .unionByName(docs.filter(col("doc_id") % 5 === 1))
      val b1 = nearDup(docs.filter(col("doc_id") % 5 === 1), 2000000L, " mirror")
        .unionByName(docs.filter(col("doc_id") % 5 === 2))
      // Overlapped legs (guide §2.6, r19): the three index ingests and
      // the exact replay below share NO state until the verdict (the
      // ingests write $base/index; the replay reads only the source
      // frames), and both legs are chains of small jobs that leave most
      // cores idle at bench scale — so the ingest chain runs
      // concurrently with the replay's materialization and the wall
      // cost is max(legs), not their sum. The await sits before
      // FuzzyIngest.index() (the first read of ingest-written state).
      // Pre-sign every batch concurrently (r20, guide §2.6): signing is
      // the one per-batch ingest stage that reads no history, so all
      // three window-dedup+kernel jobs run at leg start instead of
      // serializing inside the merge chain — the merges themselves stay
      // strictly ordered (batch N's suppression reads batches < N).
      val sSeed = graft.util.Par.async(FuzzyIngest.preSign(seed))
      val sB0 = graft.util.Par.async(FuzzyIngest.preSign(b0))
      val sB1 = graft.util.Par.async(FuzzyIngest.preSign(b1))
      val ingests = graft.util.Par.async {
        FuzzyIngest.ingestBatch(seed, -1L, s"$base/index",
          preSigned = Some(graft.util.Par.await(sSeed)))
        FuzzyIngest.ingestBatch(b0, 0L, s"$base/index",
          preSigned = Some(graft.util.Par.await(sB0)))
        FuzzyIngest.ingestBatch(b1, 1L, s"$base/index",
          preSigned = Some(graft.util.Par.await(sB1)))
      }
      // ---- exact replay (the hashed ground truth) ----
      // within-batch exact dedup, the ingestBatch rule: min doc_id per
      // (digest, length) text group — null and empty text are distinct
      // groups, matching (xxhash64(coalesce(text,'')), len|-1)
      def uniqByText(df: org.apache.spark.sql.DataFrame) = {
        val w = Window
          .partitionBy(xxhash64(coalesce(col("text"), lit(""))),
            coalesce(length(col("text")), lit(-1)))
          .orderBy(col("doc_id"))
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
      // localCheckpoint, not persist (r19, guide §3.3): each uniq frame
      // feeds the SSJoin union, a survivors probe, and the verdict — and
      // under persist() those consumers' plans NEST the window lineage
      // (the committed before-plan of this query is ~90k lines of
      // recursively stacked InMemoryRelations), so every downstream
      // action re-pays analyzer/optimizer/AQE walks over the giant tree
      // on the single-threaded driver. Eager lineage truncation makes
      // every consumer plan start from a leaf — the replay's driver
      // planning cost collapses, which is also what lets the overlapped
      // ingest leg actually run in parallel instead of queueing behind
      // plan compilation.
      // Cluster-posture note (ADVICE r19): localCheckpoint blocks are
      // NON-RECOVERABLE on executor loss, and the eager form
      // materializes the whole replay while the ingest leg runs
      // concurrently — acceptable here because the bench/oracle posture
      // is local-mode (no executor loss; both legs are batch-sized, the
      // same assumption Dedup.connectedComponents documents). A cluster
      // run that must survive executor loss should switch these to
      // reliable checkpoint(), the escape hatch connectedComponents
      // already takes via its checkpointDir parameter.
      // the three window dedups are independent — checkpoint them
      // concurrently (r20, guide §2.6); each is eager, so the await
      // returns materialized leaves exactly as the sequential form did
      val fSeedU = graft.util.Par.async(uniqByText(seed).localCheckpoint(true))
      val fB0u = graft.util.Par.async(uniqByText(b0).localCheckpoint(true))
      val fB1u = graft.util.Par.async(uniqByText(b1).localCheckpoint(true))
      val seedU = graft.util.Par.await(fSeedU)
      val b0u = graft.util.Par.await(fB0u)
      val b1u = graft.util.Par.await(fB1u)
      // ONE corpus-global SSJoin over every constructed doc (ids are
      // disjoint across the three frames by construction) — the global
      // pair set contains every batch×history pair, so both deliveries'
      // suppression reads from the same persisted edge frame instead of
      // re-running the join per step (the first cut re-executed the
      // SSJoin four times and tripled the query's bench time)
      // persisted: `edges` reads it twice (both directions) and both
      // deliveries probe it — without this the SSJoin DAG re-executes
      // per branch
      val pairs = Dedup.shingleJaccardPairsGlobal(
        seedU.select(col("doc_id"), col("text"))
          .unionByName(b0u.select(col("doc_id"), col("text")))
          .unionByName(b1u.select(col("doc_id"), col("text"))),
        n = 3, threshold = 0.5)
        .localCheckpoint(true) // result-sized; cuts the SSJoin lineage
      val edges = pairs.select(col("a_id").as("x"), col("b_id").as("y"))
        .unionByName(pairs.select(col("b_id").as("x"), col("a_id").as("y")))
      // batch docs with a true shingle-J >= 0.5 partner in `histIds` are
      // suppressed; within-batch near-dups are NOT (collapseWithinBatch
      // stays at its default false in the ingest above)
      def survivors(batch: org.apache.spark.sql.DataFrame,
          histIds: org.apache.spark.sql.DataFrame) = {
        val sup = edges
          .join(histIds.select(col("doc_id").as("y")), Seq("y"), "left_semi")
          .select(col("x").as("doc_id")).distinct()
        batch.join(sup, Seq("doc_id"), "left_anti")
      }
      val kept0 = survivors(b0u, seedU).localCheckpoint(true)
      val kept1 = survivors(b1u,
        seedU.select(col("doc_id")).unionByName(kept0.select(col("doc_id"))))
      // the eager checkpoints above already materialized the whole
      // replay DAG while the ingests run; replayKept is a union of two
      // checkpointed leaves, so the verdict and the returned frame
      // re-plan only batch-sized leaf unions
      val replayKept = kept0.unionByName(kept1).localCheckpoint(true)
      graft.util.Par.await(ingests)
      // ---- verdict: index survivors vs replay survivors ----
      // ONE aggregate action (r13: this replaced two anti-join counts +
      // two cached counts — four driver actions): tag membership bits,
      // sum per doc_id (each source contributes an id at most once, and
      // b0u/b1u id spaces are disjoint by construction), then count the
      // idx/replay bit disagreements (= |idx Δ replay|) and the uniq rows
      // in the same pass.
      val fuzzyKept = FuzzyIngest.index(s, s"$base/index")
        .filter(col("batch") >= 0).select(col("doc_id"))
      val replayIds = replayKept.select(col("doc_id"))
      val vr = fuzzyKept.select(col("doc_id"), lit(1).as("__src"))
        .unionByName(replayIds.select(col("doc_id"), lit(2).as("__src")))
        .unionByName(b0u.select(col("doc_id"), lit(4).as("__src")))
        .unionByName(b1u.select(col("doc_id"), lit(4).as("__src")))
        .groupBy(col("doc_id")).agg(sum(col("__src")).as("__m"))
        .agg(
          coalesce(sum(when((col("__m").bitwiseAND(1) === 1) =!=
            (col("__m").bitwiseAND(2) === 2), lit(1L))), lit(0L)),
          coalesce(sum(when(col("__m").bitwiseAND(4) === 4, lit(1L))),
            lit(0L)))
        .head()
      val symDiff = vr.getLong(0)
      val nUniq = vr.getLong(1)
      val agreeOk =
        if (symDiff <= math.max(2L, math.ceil(0.02 * nUniq).toLong)) 1L else 0L
      replayKept
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_new"), min(col("doc_id")).as("min_new"))
        .withColumn("fuzzy_agree_ok", lit(agreeOk))
        .orderBy(col("lang"))
    }),

    // Incremental SEMANTIC dedup against a persistent sign-LSH embedding
    // index (EmbedIngest, late r12) — the third member of the ingest
    // family: a paraphrase/re-encode whose TEXT is new but whose
    // embedding sits within 0.99 cosine of history is suppressed. Seed =
    // vec_id%5==0; delivery 0 = positive RESCALES of the seed (x1.01,
    // fresh ids — cosine exactly 1, sign fingerprint identical by
    // construction) + genuinely new vectors; delivery 1 = rescales
    // (x0.5) of delivery-0's new class + more new vectors.
    //
    // Verdict pattern (the fuzzy_incremental shape): the hashed surface
    // is the EXACT REPLAY — within-batch exact dedup (identical
    // embedding -> min vec_id, the ingestBatch rule; degenerate rows
    // dropped), then a vector survives iff NO history vector reaches
    // cosine >= 0.99 (common-prefix dot, the DotProduct convention) —
    // deterministic SQL (the DuckDB twin reconstructs the deliveries
    // with list_transform and replays them brute-force at oracle scale;
    // organic cosines top out at 0.51 on this corpus, so only the
    // planted rescales qualify and the index agrees with the replay
    // exactly). The persistent index still runs in full;
    // `embed_agree_ok` pins the symdiff at <= max(2, 2%). Since r13 the
    // replay finds candidates from the SAME sign bands the index uses
    // (a positive rescale changes no sign bit, so every qualifying pair
    // is candidate-guaranteed) and exact-verifies only those — the
    // whole query is O(batch + collisions), no broadcast-history NLJ
    // left — while the DuckDB twin stays brute-force exact, so a band
    // recall miss reddens the driver hash row.
    "llm_dedup_embed_incremental" -> ((s, d) => {
      val base = graft.util.Scratch.fresh("embed_incr")
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      def rescale(src: org.apache.spark.sql.DataFrame, off: Long, f: Double) =
        src.select((col("vec_id") + off).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * f).cast("float")).as("embedding"),
          col("label"))
      val seed = vecs.filter(col("vec_id") % 5 === 0)
      val b0 = rescale(seed, 1000000L, 1.01)
        .unionByName(vecs.filter(col("vec_id") % 5 === 1))
      val b1 = rescale(vecs.filter(col("vec_id") % 5 === 1), 2000000L, 0.5)
        .unionByName(vecs.filter(col("vec_id") % 5 === 2))
      // Overlapped legs (guide §2.6, r19) — the fuzzy_incremental
      // rationale verbatim: ingests write $base/index, the replay reads
      // only the source frames, first dependent read is
      // EmbedIngest.index() after the await below.
      // pre-sign every batch concurrently — the fuzzy_incremental
      // rationale verbatim (r20, guide §2.6): signing reads no history;
      // the merges stay strictly ordered
      val sSeed = graft.util.Par.async(EmbedIngest.preSign(seed))
      val sB0 = graft.util.Par.async(EmbedIngest.preSign(b0))
      val sB1 = graft.util.Par.async(EmbedIngest.preSign(b1))
      val ingests = graft.util.Par.async {
        EmbedIngest.ingestBatch(seed, -1L, s"$base/index",
          preSigned = Some(graft.util.Par.await(sSeed)))
        EmbedIngest.ingestBatch(b0, 0L, s"$base/index",
          preSigned = Some(graft.util.Par.await(sB0)))
        EmbedIngest.ingestBatch(b1, 1L, s"$base/index",
          preSigned = Some(graft.util.Par.await(sB1)))
      }
      // ---- exact replay (the hashed ground truth) ----
      // localCheckpoint, not persist (r19, guide §3.3) — the
      // fuzzy_incremental rationale verbatim: eager lineage truncation
      // keeps every downstream consumer's plan leaf-sized instead of
      // nesting the window/fingerprint lineage per reference, which is
      // where this query's driver time went.
      def uniq(df: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy(col("fp"), col("embedding"))
          .orderBy(col("vec_id"))
        EmbedIngest.fingerprints(df)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
      // independent window dedups, checkpointed concurrently (r20)
      val fSeedU = graft.util.Par.async(uniq(seed).localCheckpoint(true))
      val fB0u = graft.util.Par.async(uniq(b0).localCheckpoint(true))
      val fB1u = graft.util.Par.async(uniq(b1).localCheckpoint(true))
      val seedU = graft.util.Par.await(fSeedU)
      val b0u = graft.util.Par.await(fB0u)
      val b1u = graft.util.Par.await(fB1u)
      import graft.functions.VectorFns.dot
      // candidates-from-the-fingerprint, then exact-verify (r13; VERDICT
      // r12 #3): the replay probes the SAME 4×16-bit sign bands the
      // index uses — a positive rescale changes no sign bit, so every
      // planted near-dup (the only cosine ≥ 0.99 pairs in this corpus;
      // organics top out at 0.51) is candidate-guaranteed — and verifies
      // only candidates with the exact codegen cosine. This replaces a
      // broadcast-HISTORY NLJ whose build side grew with history (the
      // last BNLJ allowlist entry that wasn't a scalar cross): the
      // replay is now the same O(batch + collisions) shape as the index
      // itself, while the DuckDB twin stays brute-force exact — a recall
      // miss here would redden the driver hash row, which is the
      // falsifiability this oracle pins.
      def survivors(batch: org.apache.spark.sql.DataFrame,
          hist: org.apache.spark.sql.DataFrame) = {
        val cand = EmbedIngest.bandsOf(batch)
          .join(EmbedIngest.bandsOf(hist.select(col("vec_id").as("h_id"),
            col("fp")), "h_id"), Seq("band", "bh"))
          .select(col("vec_id"), col("h_id")).distinct()
        val dup = cand
          .join(hist.select(col("vec_id").as("h_id"),
            col("embedding").as("h_emb"), col("nrm").as("h_nrm")), "h_id")
          .join(batch.select(col("vec_id"), col("embedding").as("b_emb"),
            col("nrm").as("b_nrm")), "vec_id")
          .filter(dot(col("b_emb"), col("h_emb")) /
            (col("b_nrm") * col("h_nrm")) >= 0.99)
          .select(col("vec_id")).distinct()
        batch.join(dup, Seq("vec_id"), "left_anti")
      }
      val kept0 = survivors(b0u, seedU).localCheckpoint(true)
      val kept1 = survivors(b1u, seedU.unionByName(kept0))
      // eager checkpoints materialized the replay while the ingests run
      val replayKept = kept0.unionByName(kept1).localCheckpoint(true)
      graft.util.Par.await(ingests)
      // ---- verdict: index survivors vs replay survivors ----
      // one aggregate action — the fuzzy twin's r13 bit-tag shape
      val idxKept = EmbedIngest.index(s, s"$base/index")
        .filter(col("batch") >= 0).select(col("vec_id"))
      val replayIds = replayKept.select(col("vec_id"))
      val vr = idxKept.select(col("vec_id"), lit(1).as("__src"))
        .unionByName(replayIds.select(col("vec_id"), lit(2).as("__src")))
        .unionByName(b0u.select(col("vec_id"), lit(4).as("__src")))
        .unionByName(b1u.select(col("vec_id"), lit(4).as("__src")))
        .groupBy(col("vec_id")).agg(sum(col("__src")).as("__m"))
        .agg(
          coalesce(sum(when((col("__m").bitwiseAND(1) === 1) =!=
            (col("__m").bitwiseAND(2) === 2), lit(1L))), lit(0L)),
          coalesce(sum(when(col("__m").bitwiseAND(4) === 4, lit(1L))),
            lit(0L)))
        .head()
      val symDiff = vr.getLong(0)
      val nUniq = vr.getLong(1)
      val agreeOk =
        if (symDiff <= math.max(2L, math.ceil(0.02 * nUniq).toLong)) 1L else 0L
      replayKept
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_new"), min(col("vec_id")).as("min_new"))
        .withColumn("embed_agree_ok", lit(agreeOk))
        .orderBy(col("label"))
    }),

    // R1→R4 end-to-end (SURVEY §2.A): stream the events table through the
    // reference's projection + size-batched parquet sink, then return what
    // landed on disk.
    "kafka_pipeline" -> ((s, d) => {
      // fresh() wipes the previous run's out+checkpoint together: a stale
      // checkpoint with AvailableNow would silently skip the (already
      // processed) input and this query would return zero new files.
      val base = graft.util.Scratch.fresh("kafka_pipeline")
      val cfg = PipelineConfig(batchSize = 1000,
        outputDir = s"$base/out", checkpointDir = s"$base/chk")
      KafkaPipeline.initOutput(cfg.outputDir)
      // schema from a raw read (ts may arrive as nano-epoch long under
      // nanosAsLong — passed through untouched here)
      val rawSchema = s.read.parquet(s"$d/events.parquet").schema
      val src = KafkaPipeline.tableFileStream(s, d, "events", rawSchema)
        .select(encode(col("props"), "UTF-8").as("value"), col("event_id"), col("ts"))
      val q = KafkaPipeline.parquetSink(
        KafkaPipeline.payloadAsString(src).select(col("b"), col("event_id"), col("ts")),
        cfg, Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(cfg.outputDir).select(col("b"), col("event_id")).orderBy(col("event_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    // the upsert's final state is just the per-user argmax over all events
    "stream_upsert" ->
      """SELECT user_id, event_id, event_type AS last_type, value AS last_value
         FROM (SELECT user_id, event_id, event_type, value,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id""",

    // Spark's session_window starts a NEW session when the gap is >= 30
    // minutes (windows are [start, last+gap) half-open); the lag-based
    // flag mirrors that. session_value = cent-scaled integer sum (order-
    // independent) / 100, matching EventTime.sessionStats exactly.
    "stream_session" ->
      """WITH o AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           >= INTERVAL 30 MINUTES
                       THEN 1 ELSE 0 END AS new_s
           FROM events
         ), s AS (
           SELECT user_id, ts, value,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM o
         )
         SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
                CAST(count(*) AS BIGINT) AS n,
                sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0 AS session_value
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start""",

    "stream_tumbling_counts" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws, event_type,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1, 2 ORDER BY ws, event_type""",

    // End-to-end pipeline oracle: what the streaming sink persisted must
    // be exactly the projected source rows — no loss (tail batch
    // included), no duplicates (checkpointed exactly-once), b = the
    // invalid-UTF-8→"" projection of props (a parquet VARCHAR is always
    // valid UTF-8, so only the null→"" leg differs from identity).
    "kafka_pipeline" ->
      """SELECT coalesce(props, '') AS b, event_id
         FROM events ORDER BY event_id""",

    // dropDuplicates("event_id") → per-type counts is portable WHEN
    // event_id → event_type is functional (true of this data, asserted in
    // EventTimeSpec): keeping an arbitrary row per id then counting by
    // type equals counting distinct ids per type.
    "stream_dedup" ->
      """SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    // Batch-ordered first-wins twin of the two-micro-batch ingest: b is
    // the delivery (micro-batch) each doc rides in; a text's survivor is
    // the min doc_id WITHIN the earliest delivery containing it, and only
    // if no seed doc shares the text. IS NOT DISTINCT FROM (the <=> twin)
    // everywhere so a null-text seed/early-batch doc suppresses later
    // null-text docs in both engines.
    // ((x%5)+5)%5 = pmod: the Spark side routes on pmod(doc_id,5), so a
    // negative id lands on the same leg here (plain % would bucket it
    // into delivery 1 via the <> 0 shape while riding no delivery there).
    // Null ids ride NO leg in both engines (NULL residue fails every
    // predicate) — pinned convention.
    "llm_dedup_incremental" ->
      """WITH seedd AS (
           SELECT text FROM documents WHERE ((doc_id % 5) + 5) % 5 = 0
         ), today AS (
           SELECT *, CASE WHEN ((doc_id % 5) + 5) % 5 IN (1, 2)
                          THEN 0 ELSE 1 END AS b
           FROM documents WHERE ((doc_id % 5) + 5) % 5 <> 0
         ), k AS (
           SELECT min(t.doc_id) AS keep_id
           FROM today t
           WHERE NOT EXISTS (SELECT 1 FROM seedd sd
                             WHERE sd.text IS NOT DISTINCT FROM t.text)
             AND t.b = (SELECT min(e.b) FROM today e
                        WHERE e.text IS NOT DISTINCT FROM t.text)
           GROUP BY t.text
         )
         SELECT lang, CAST(count(*) AS BIGINT) AS n_new,
                min(doc_id) AS min_new
         FROM today JOIN k ON doc_id = keep_id
         GROUP BY lang ORDER BY lang NULLS FIRST""",

    // exact replay of the fuzzy-ingest protocol: reconstruct the three
    // deliveries (seed, recrawls+new, mirrors+new), within-batch exact
    // dedup (min doc_id per text group, null/empty distinct), then a doc
    // survives iff it has NO true 3-shingle-Jaccard >= 0.5 partner in
    // (seed ∪ earlier survivors). The verdict column is literal TRUE —
    // the Spark side compares the persistent band index's survivors
    // against this replay there
    "llm_dedup_fuzzy_incremental" ->
      """WITH docs AS (SELECT doc_id, text, lang FROM documents),
         seed0 AS (SELECT * FROM docs WHERE doc_id % 5 = 0),
         seedu AS (SELECT doc_id, text, lang FROM (
             SELECT *, row_number() OVER (PARTITION BY text IS NULL,
                 coalesce(text, '') ORDER BY doc_id) AS rn FROM seed0)
           WHERE rn = 1),
         b0 AS (SELECT doc_id + 1000000 AS doc_id,
                       text || ' recrawl' AS text, lang FROM seed0
                UNION ALL
                SELECT doc_id, text, lang FROM docs WHERE doc_id % 5 = 1),
         b0u AS (SELECT doc_id, text, lang FROM (
             SELECT *, row_number() OVER (PARTITION BY text IS NULL,
                 coalesce(text, '') ORDER BY doc_id) AS rn FROM b0)
           WHERE rn = 1),
         b1 AS (SELECT doc_id + 2000000 AS doc_id,
                       text || ' mirror' AS text, lang
                FROM docs WHERE doc_id % 5 = 1
                UNION ALL
                SELECT doc_id, text, lang FROM docs WHERE doc_id % 5 = 2),
         b1u AS (SELECT doc_id, text, lang FROM (
             SELECT *, row_number() OVER (PARTITION BY text IS NULL,
                 coalesce(text, '') ORDER BY doc_id) AS rn FROM b1)
           WHERE rn = 1),
         gs AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                  for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS grams
                FROM (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM seedu WHERE text IS NOT NULL)),
         g0 AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                  for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS grams
                FROM (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM b0u WHERE text IS NOT NULL)),
         g1 AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                  for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS grams
                FROM (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM b1u WHERE text IS NOT NULL)),
         kept0 AS (SELECT u.* FROM b0u u
           WHERE NOT EXISTS (
             SELECT 1 FROM g0 gu JOIN gs h ON gu.doc_id = u.doc_id
             WHERE len(list_intersect(gu.grams, h.grams))::DOUBLE /
                   len(list_distinct(list_concat(gu.grams, h.grams)))::DOUBLE
                   >= 0.5)),
         h1 AS (SELECT * FROM gs
                UNION ALL
                SELECT g0.* FROM g0 JOIN kept0 k ON g0.doc_id = k.doc_id),
         kept1 AS (SELECT u.* FROM b1u u
           WHERE NOT EXISTS (
             SELECT 1 FROM g1 gu JOIN h1 h ON gu.doc_id = u.doc_id
             WHERE len(list_intersect(gu.grams, h.grams))::DOUBLE /
                   len(list_distinct(list_concat(gu.grams, h.grams)))::DOUBLE
                   >= 0.5))
         SELECT lang, CAST(count(*) AS BIGINT) AS n_new,
                min(doc_id) AS min_new,
                CAST(1 AS BIGINT) AS fuzzy_agree_ok
         FROM (SELECT * FROM kept0 UNION ALL SELECT * FROM kept1)
         GROUP BY lang ORDER BY lang NULLS FIRST""",

    // exact replay of the semantic-ingest protocol: reconstruct the
    // three deliveries (seed, rescales+new, rescales+new), within-batch
    // exact dedup on the embedding list, then a vector survives iff no
    // history vector reaches cosine >= 0.99. Dot products run over the
    // COMMON PREFIX of the two lists (the DotProduct convention — a
    // short fixture vector must behave identically in both engines);
    // degenerate (null/zero-norm) rows are excluded like the ingest
    // drops them. Verdict literal TRUE; the Spark side compares the
    // persistent index's survivors against this replay there.
    "llm_dedup_embed_incremental" ->
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         seed AS (SELECT * FROM e WHERE vec_id % 5 = 0),
         b0 AS (SELECT vec_id + 1000000 AS vec_id,
                       list_transform(embedding,
                         x -> CAST(x::DOUBLE * 1.01 AS FLOAT)) AS embedding,
                       label
                FROM seed
                UNION ALL
                SELECT vec_id, embedding, label FROM e WHERE vec_id % 5 = 1),
         b1 AS (SELECT vec_id + 2000000 AS vec_id,
                       list_transform(embedding,
                         x -> CAST(x::DOUBLE * 0.5 AS FLOAT)) AS embedding,
                       label
                FROM e WHERE vec_id % 5 = 1
                UNION ALL
                SELECT vec_id, embedding, label FROM e WHERE vec_id % 5 = 2),
         b0u AS (SELECT vec_id, embedding, label FROM (
             SELECT *, row_number() OVER (PARTITION BY embedding
                 ORDER BY vec_id) AS rn FROM b0) WHERE rn = 1),
         b1u AS (SELECT vec_id, embedding, label FROM (
             SELECT *, row_number() OVER (PARTITION BY embedding
                 ORDER BY vec_id) AS rn FROM b1) WHERE rn = 1),
         -- isfinite mirrors the Spark kernel's door: zero-norm AND
         -- non-finite (NaN/Inf element) vectors are DROPPED, not
         -- suppressed (r13 float-edges fix — without it DuckDB's
         -- NaN-greatest >= silently suppressed what Spark kept)
         ns AS (SELECT vec_id, embedding, label, nrm FROM (
                  SELECT *, sqrt(list_sum(list_transform(embedding,
                    x -> x::DOUBLE * x::DOUBLE))) AS nrm
                  FROM seed WHERE embedding IS NOT NULL)
                WHERE isfinite(nrm)),
         n0 AS (SELECT vec_id, embedding, label, nrm FROM (
                  SELECT *, sqrt(list_sum(list_transform(embedding,
                    x -> x::DOUBLE * x::DOUBLE))) AS nrm
                  FROM b0u WHERE embedding IS NOT NULL)
                WHERE isfinite(nrm)),
         n1 AS (SELECT vec_id, embedding, label, nrm FROM (
                  SELECT *, sqrt(list_sum(list_transform(embedding,
                    x -> x::DOUBLE * x::DOUBLE))) AS nrm
                  FROM b1u WHERE embedding IS NOT NULL)
                WHERE isfinite(nrm)),
         kept0 AS (SELECT u.* FROM n0 u
           WHERE u.nrm > 0 AND NOT EXISTS (
             SELECT 1 FROM ns h WHERE h.nrm > 0 AND
               list_sum(list_transform(
                 range(1, least(len(u.embedding), len(h.embedding)) + 1),
                 i -> u.embedding[i]::DOUBLE * h.embedding[i]::DOUBLE))
               / (u.nrm * h.nrm) >= 0.99)),
         h1 AS (SELECT * FROM ns UNION ALL SELECT * FROM kept0),
         kept1 AS (SELECT u.* FROM n1 u
           WHERE u.nrm > 0 AND NOT EXISTS (
             SELECT 1 FROM h1 h WHERE h.nrm > 0 AND
               list_sum(list_transform(
                 range(1, least(len(u.embedding), len(h.embedding)) + 1),
                 i -> u.embedding[i]::DOUBLE * h.embedding[i]::DOUBLE))
               / (u.nrm * h.nrm) >= 0.99))
         SELECT label, CAST(count(*) AS BIGINT) AS n_new,
                min(vec_id) AS min_new,
                CAST(1 AS BIGINT) AS embed_agree_ok
         FROM (SELECT * FROM kept0 UNION ALL SELECT * FROM kept1)
         GROUP BY label ORDER BY label NULLS FIRST""",

    // composed twin: the full classifier replay (the stream_quality_gate
    // twin) picks the keepers, then the batch-ordered first-wins replay
    // (the llm_dedup_incremental twin) runs over KEEPERS ONLY — the seed
    // stays ungated, mirroring the Spark side's direct seed ingest. Every
    // `today` row has non-null text by construction (keepers are scored),
    // but a null-text SEED doc still holds its digest, so the seed
    // NOT-EXISTS keeps the null-safe compare.
    "stream_curation_pipeline" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
                    FROM documents WHERE text IS NOT NULL),
         f AS (SELECT doc_id, lang,
                 list_distinct(list_concat(toks,
                   [array_to_string(toks[i:i+1], ' ')
                    for i in range(1, greatest(len(toks) - 1, 0) + 1)]))
                   AS feats
               FROM t),
         sc AS (SELECT doc_id,
                 CAST(floor(1000.0 * list_sum(list_transform(feats,
                        ft -> CAST(md5_number_upper(ft) >> 1 AS BIGINT)
                              % 2001 - 1000))
                      / len(feats)) AS BIGINT) AS score_milli
               FROM f),
         keep AS (SELECT doc_id FROM sc WHERE score_milli >= 0),
         seedd AS (SELECT text FROM documents
                   WHERE ((doc_id % 5) + 5) % 5 = 0),
         today AS (
           SELECT d.doc_id, d.lang, d.text,
                  CASE WHEN ((d.doc_id % 5) + 5) % 5 IN (1, 2)
                       THEN 0 ELSE 1 END AS b
           FROM documents d JOIN keep k ON d.doc_id = k.doc_id
           WHERE ((d.doc_id % 5) + 5) % 5 <> 0
         ), w AS (
           SELECT min(t.doc_id) AS keep_id
           FROM today t
           WHERE NOT EXISTS (SELECT 1 FROM seedd sd
                             WHERE sd.text IS NOT DISTINCT FROM t.text)
             AND t.b = (SELECT min(e.b) FROM today e
                        WHERE e.text IS NOT DISTINCT FROM t.text)
           GROUP BY t.text
         )
         SELECT lang, CAST(count(*) AS BIGINT) AS n_new,
                min(doc_id) AS min_new
         FROM today JOIN w ON doc_id = keep_id
         GROUP BY lang ORDER BY lang NULLS FIRST""",

    // the streaming gate is a stateless per-row map, so the sink contents
    // equal the batch classifier's keepers regardless of micro-batch split
    "stream_quality_gate" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
                    FROM documents WHERE text IS NOT NULL),
         f AS (SELECT doc_id, lang,
                 list_distinct(list_concat(toks,
                   [array_to_string(toks[i:i+1], ' ')
                    for i in range(1, greatest(len(toks) - 1, 0) + 1)]))
                   AS feats
               FROM t),
         s AS (SELECT doc_id, lang,
                 CAST(floor(1000.0 * list_sum(list_transform(feats,
                        ft -> CAST(md5_number_upper(ft) >> 1 AS BIGINT)
                              % 2001 - 1000))
                      / len(feats)) AS BIGINT) AS score_milli
               FROM f)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_keep,
                min(doc_id) AS min_keep,
                CAST(sum(score_milli) AS BIGINT) AS sum_score_milli
         FROM s WHERE score_milli >= 0
         GROUP BY lang ORDER BY lang NULLS FIRST""",

    "stream_enrich" ->
      """SELECT c_mktsegment, event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS sum_value
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY c_mktsegment, event_type
         ORDER BY c_mktsegment NULLS FIRST, event_type""",

    "stream_interval_join" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id,
                floor((r.value - l.value) * 100.0 + 0.5) / 100.0 AS value_delta
         FROM (SELECT * FROM events WHERE event_type = 'click') l
         JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id
          AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 60 MINUTES
         ORDER BY l_id, r_id""",

    // every event belongs to the 4 sliding 1h/15m windows ending at or
    // after it: starts time_bucket(15m, ts) - {0,15,30,45} minutes.
    "stream_sliding_avg" ->
      """SELECT CAST(epoch(ws) AS BIGINT) AS ws,
                floor(avg(value) * 100.0 + 0.5) / 100.0 AS avg_value,
                CAST(count(*) AS BIGINT) AS n
         FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) - (n * INTERVAL '15 minutes') AS ws,
                      value
               FROM events, range(0, 4) t(n))
         GROUP BY 1 ORDER BY ws"""
  )
}
