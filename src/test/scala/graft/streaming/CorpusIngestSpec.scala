package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental-dedup manifest semantics: cross-batch suppression,
  * within-batch dedup, idempotent replay, null-digest handling.
  */
class CorpusIngestSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  test("manifest suppresses re-ingested digests across batches") {
    val dir = graft.util.Scratch.fresh("ingest_spec")
    // batch 0: two distinct texts + one within-batch duplicate
    CorpusIngest.ingestBatch(docs(
      (1L, "alpha", "en"), (2L, "beta", "en"), (3L, "alpha", "es")), 0L, dir)
    // batch 1: one already-seen text, one new, plus a null text
    CorpusIngest.ingestBatch(docs(
      (10L, "alpha", "de"), (11L, "gamma", "en"), (12L, null, "fr")), 1L, dir)
    // batch 2: null text again — must be suppressed by batch 1's null digest
    CorpusIngest.ingestBatch(docs(
      (20L, null, "en"), (21L, "delta", "en")), 2L, dir)

    val m = CorpusIngest.manifest(spark, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(m === Set(
      (0L, 1L), (0L, 2L),       // alpha keeps min doc_id, beta new
      (1L, 11L), (1L, 12L),     // alpha suppressed; gamma + first null new
      (2L, 21L)))               // later null suppressed; delta new
  }

  test("replaying a batch is idempotent and not self-suppressing") {
    val dir = graft.util.Scratch.fresh("ingest_replay_spec")
    CorpusIngest.ingestBatch(docs((1L, "alpha", "en")), 0L, dir)
    CorpusIngest.ingestBatch(docs((10L, "beta", "en")), 1L, dir)
    // crash/replay of batch 1: its own previous output must NOT
    // anti-join it away, and the overwrite must not duplicate rows
    CorpusIngest.ingestBatch(docs((10L, "beta", "en")), 1L, dir)
    val m = CorpusIngest.manifest(spark, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(m === Seq((0L, 1L), (1L, 10L)),
      s"replay must reproduce the same manifest: $m")
  }

  test("manifest anti-join is bucket-local: NO exchange on the manifest side") {
    // a child session with broadcast off: at test row counts Catalyst
    // would broadcast the tiny manifest, hiding the partitioning this
    // test exists to pin (at scale the manifest side is the huge one)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    def docs2(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "lang")

    val dir = graft.util.Scratch.fresh("ingest_plan_spec")
    // ≥3 replayed batches (VERDICT r10 #1): the layout must hold as the
    // manifest accumulates partitions, not just for the first append
    CorpusIngest.ingestBatch(docs2((1L, "alpha", "en"), (2L, "beta", "en")), 0L, dir)
    CorpusIngest.ingestBatch(docs2((10L, "gamma", "en"), (11L, "alpha", "de")), 1L, dir)
    CorpusIngest.ingestBatch(docs2((20L, "delta", "en"), (21L, "beta", "fr")), 2L, dir)

    val probe = docs2((30L, "alpha", "en"), (31L, "epsilon", "en"))
      .withColumn("__h", xxhash64(coalesce(col("text"), lit(""))))
      .withColumn("__len", coalesce(length(col("text")), lit(-1)))
      .select(col("doc_id"), col("lang"), col("__h"), col("__len"))
    val joined = CorpusIngest.manifestAntiJoin(probe, 3L, CorpusIngest.tableName(s2, dir))

    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(joins.nonEmpty, s"expected a sort-merge anti-join:\n$plan")
    // the manifest is the RIGHT (build) side of the left_anti join: its
    // subtree must contain a bucketed scan and no shuffle — only the
    // small probe side is allowed to move
    val manifestSide = joins.head.right
    val manifestShuffles = manifestSide.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(manifestShuffles.isEmpty,
      s"manifest side must not be re-shuffled per batch:\n$plan")
    val scans = manifestSide.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.head.bucketedScan,
      s"manifest scan fell back to unbucketed:\n${scans.headOption.map(_.metadata)}")

    // and the join is semantically right: alpha suppressed, epsilon new
    assert(joined.select(col("doc_id")).as[Long].collect().toSet === Set(31L))

    // end-to-end through ingestBatch on the same session (bloom split +
    // bucket-wise join), manifest stays consistent
    CorpusIngest.ingestBatch(docs2((30L, "alpha", "en"), (31L, "epsilon", "en")), 3L, dir)
    val m = CorpusIngest.manifest(s2, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(m === Set((0L, 1L), (0L, 2L), (1L, 10L), (2L, 20L), (3L, 31L)))
  }

  test("a manifest whose bloom sidecar is lost still dedups (fallback join)") {
    // pre-upgrade manifests / a deleted sidecar: loadBloom returns None
    // and ingestBatch must fall back to the plain bucket-wise anti-join
    val dir = graft.util.Scratch.fresh("ingest_nobloom_spec")
    CorpusIngest.ingestBatch(docs((1L, "alpha", "en"), (2L, "beta", "en")), 0L, dir)
    graft.util.Scratch.delete(s"${dir}_bloom")
    CorpusIngest.ingestBatch(docs((10L, "alpha", "de"), (11L, "gamma", "en")), 1L, dir)
    val m = CorpusIngest.manifest(spark, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(m === Set((0L, 1L), (0L, 2L), (1L, 11L)),
      "alpha must be suppressed by the fallback anti-join without a sidecar")
  }

  test("bloom-ahead sidecar is FP-only: a sketch entry without manifest rows never suppresses") {
    // the crash-ordering contract: bloom is written BEFORE the manifest
    // rows, so a crash in between leaves a sketch that knows a digest the
    // manifest does not hold — that doc must be routed to the anti-join
    // (a false "probable duplicate") and SURVIVE, never be dropped as a
    // false "definitely seen"
    val dir = graft.util.Scratch.fresh("ingest_fponly_spec")
    CorpusIngest.ingestBatch(docs((1L, "alpha", "en")), 0L, dir)
    // simulate the crashed batch 1: its bloom landed, its rows did not
    val crashed = docs((10L, "beta", "en"))
    CorpusIngest.ingestBatch(crashed, 1L, dir)
    graft.util.Scratch.delete(s"$dir/batch=1") // rows gone, bloom stays
    spark.catalog.refreshTable(CorpusIngest.tableName(spark, dir))
    // batch 2 re-delivers beta: the stale bloom flags it probable, the
    // join finds no manifest row — beta must survive
    CorpusIngest.ingestBatch(docs((20L, "beta", "fr"), (21L, "gamma", "en")), 2L, dir)
    val m = CorpusIngest.manifest(spark, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(m === Set((0L, 1L), (2L, 20L), (2L, 21L)),
      s"stale bloom entry must not suppress an unwritten digest: $m")
  }

  test("bloom sidecar: a batch of fresh digests skips the manifest scan") {
    val dir = graft.util.Scratch.fresh("ingest_bloom_spec")
    CorpusIngest.ingestBatch(docs((1L, "alpha", "en"), (2L, "beta", "en")), 0L, dir)
    // all-new batch: correctness (everything survives) — the scan-skip
    // itself is exercised by ingestBatch's probable.isEmpty branch
    CorpusIngest.ingestBatch(docs((10L, "gamma", "en"), (11L, "delta", "de")), 1L, dir)
    // mixed batch: bloom routes only the probable duplicate to the join
    CorpusIngest.ingestBatch(docs((20L, "alpha", "fr"), (21L, "epsilon", "en")), 2L, dir)
    val m = CorpusIngest.manifest(spark, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(m === Set((0L, 1L), (0L, 2L), (1L, 10L), (1L, 11L), (2L, 21L)))
  }

  test("compact consolidates history, preserves first-seen batches, survives replay") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    def docs2(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "lang")
    val dir = graft.util.Scratch.fresh("ingest_compact_spec")
    // seed (-1) + four deliveries, with cross-batch dups along the way
    CorpusIngest.ingestBatch(docs2((1L, "alpha", "en")), -1L, dir)
    CorpusIngest.ingestBatch(docs2((10L, "beta", "en"), (11L, "alpha", "de")), 0L, dir)
    CorpusIngest.ingestBatch(docs2((20L, "gamma", "en")), 1L, dir)
    CorpusIngest.ingestBatch(docs2((30L, "delta", "en"), (31L, "beta", "fr")), 2L, dir)
    CorpusIngest.ingestBatch(docs2((40L, "epsilon", "en")), 3L, dir)

    CorpusIngest.compact(s2, dir, 2L)

    def manifestSet() = CorpusIngest.manifest(s2, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    val expected = Set((-1L, 1L), (0L, 10L), (1L, 20L), (2L, 30L), (3L, 40L))
    assert(manifestSet() === expected,
      "first-seen batches must survive compaction (first_batch column)")

    // physical layout: exactly TWO batch partitions remain (compacted +
    // newest) and the sidecar is a FIXED 16 blooms + 1 meta — file count
    // no longer grows with lifetime (VERDICT r10 #1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s2.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(parts === Set(s"batch=${CorpusIngest.CompactedBatch}", "batch=3"),
      s"partitions after compact: $parts")
    val bloomFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"${dir}_bloom"))
      .map(_.getPath.getName).toSet
    assert(bloomFiles.count(_.endsWith(".bloom")) === CorpusIngest.ManifestBuckets)
    assert(bloomFiles.contains("_meta"))

    // the bucket-local no-exchange contract survives compaction
    val probe = docs2((90L, "alpha", "en"), (91L, "zeta", "en"))
      .withColumn("__h", xxhash64(coalesce(col("text"), lit(""))))
      .withColumn("__len", coalesce(length(col("text")), lit(-1)))
      .select(col("doc_id"), col("lang"), col("__h"), col("__len"))
    val joined = CorpusIngest.manifestAntiJoin(probe, 4L, CorpusIngest.tableName(s2, dir))
    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(joins.nonEmpty, s"expected a sort-merge anti-join:\n$plan")
    assert(joins.head.right.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, s"compacted manifest must not be re-shuffled:\n$plan")
    val scans = joins.head.right.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.head.bucketedScan,
      "compacted manifest scan fell back to unbucketed")
    assert(joined.select(col("doc_id")).as[Long].collect().toSet === Set(91L))

    // replay of the NEWEST (uncompacted) batch across the boundary:
    // idempotent, not self-suppressed, compacted history intact
    CorpusIngest.ingestBatch(docs2((40L, "epsilon", "en")), 3L, dir)
    assert(manifestSet() === expected,
      "replay across the compaction boundary must be idempotent")

    // ingest continues after compaction: compacted digests still suppress
    CorpusIngest.ingestBatch(docs2((50L, "gamma", "it"), (51L, "eta", "en")), 4L, dir)
    assert(manifestSet() === expected + ((4L, 51L)))

    // compacting again folds the previous consolidation + newer batches
    CorpusIngest.compact(s2, dir, 3L)
    assert(manifestSet() === expected + ((4L, 51L)))

    // the newest batch must stay replayable: compact refuses it
    val e = intercept[IllegalArgumentException](CorpusIngest.compact(s2, dir, 4L))
    assert(e.getMessage.contains("replay"))
  }

  test("bloom cache is stat-validated: unchanged serves from memory, " +
      "foreign meta rewrite forces reload, deletion drops the entry") {
    val dir = graft.util.Scratch.fresh("bloom_cache_spec")
    CorpusIngest.ingestBatch(docs((1L, "alpha", "en")), 0L, dir)
    val h0 = BloomSidecar.cacheHits.get()
    assert(CorpusIngest.loadBloomState(spark, dir).exists(_.lastBatch == 0L))
    assert(BloomSidecar.cacheHits.get() == h0 + 1,
      "an unchanged sidecar must be served from the in-session cache")

    // foreign writer: rewrite _meta directly with DIFFERENT length (the
    // single-writer contract's escape hatch — the stat must catch it);
    // the next load re-reads instead of serving the cached state
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaPath = new org.apache.hadoop.fs.Path(s"${dir}_bloom", "_meta")
    val in = fs.open(metaPath)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val out = fs.create(metaPath, true)
    try out.write(meta.replace("lastBatch=0", "lastBatch=77")
      .getBytes("UTF-8")) finally out.close()
    val h1 = BloomSidecar.cacheHits.get()
    assert(CorpusIngest.loadBloomState(spark, dir).exists(_.lastBatch == 77L),
      "a foreign meta rewrite must be re-read, never served stale")
    assert(BloomSidecar.cacheHits.get() == h1,
      "the forced reload must not count as a cache hit")

    // deletion drops the entry entirely
    graft.util.Scratch.delete(s"${dir}_bloom")
    assert(CorpusIngest.loadBloomState(spark, dir).isEmpty)
  }

  test("auto-compaction every N batches: layout bounded, results exact, replay safe") {
    val dir = graft.util.Scratch.fresh("ingest_autocompact_spec")
    // exactly what dedupIngest's foreachBatch hook runs per trigger
    def step(id: Long, rows: (Long, String, String)*): Unit = {
      CorpusIngest.ingestBatch(docs(rows: _*), id, dir)
      CorpusIngest.maybeAutoCompact(spark, dir, id, 2)
    }
    step(0L, (1L, "alpha", "en"), (2L, "beta", "en"))
    step(1L, (10L, "alpha", "de"), (11L, "gamma", "en"))
    step(2L, (20L, "beta", "fr"), (21L, "delta", "en"))   // compacts <= 1
    step(3L, (30L, "delta", "it"), (31L, "epsilon", "en"))
    step(4L, (40L, "zeta", "en"))                          // compacts <= 3

    def manifestSet() = CorpusIngest.manifest(spark, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    val expected = Set((0L, 1L), (0L, 2L), (1L, 11L), (2L, 21L),
      (3L, 31L), (4L, 40L))
    assert(manifestSet() === expected)

    // a FULLY-SUPPRESSED newest batch must not break the auto trigger
    // (compact()'s manual guard reads max(batch) over rows, which an
    // all-dup batch never registers in — the auto path bypasses it)
    step(5L, (50L, "alpha", "en"))                         // all dups
    step(6L, (60L, "beta", "en"))                          // all dups; compacts <= 5
    assert(manifestSet() === expected)

    // physical layout: nothing below the newest trigger survives outside
    // the consolidated partition
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
      .filter(v => v <= 5L && v != CorpusIngest.CompactedBatch)
    assert(stale.isEmpty, s"stale partitions survived auto-compaction: ${stale.toSeq}")

    // replay of the newest trigger re-runs ingest AND the auto-compact
    // hook: idempotent (the fresh-partition guard makes the repeat a
    // metadata no-op), nothing self-suppressed
    step(6L, (60L, "beta", "en"))
    assert(manifestSet() === expected,
      "replaying the trigger incl. auto-compaction must be idempotent")
  }

  test("auto-compaction trigger before any manifest exists is a silent no-op") {
    // ADVICE r11: an all-empty batch prefix reaches the compaction
    // trigger before ingestBatch ever creates the table — a require here
    // would fail the whole streaming query
    val dir = graft.util.Scratch.fresh("ingest_autocompact_fresh_spec")
    CorpusIngest.maybeAutoCompact(spark, dir, 2L, 2) // must not throw
    CorpusIngest.ingestBatch(docs((1L, "alpha", "en")), 3L, dir)
    CorpusIngest.maybeAutoCompact(spark, dir, 4L, 2) // and still works after
    val m = CorpusIngest.manifest(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(m === Seq(1L))
  }

  test("manual compact() restores a deleted bloom sidecar on consolidated history") {
    // ADVICE r11: the fresh-partition guard used to return BEFORE the
    // bloom rebuild, so the documented recovery path (compact() after a
    // sidecar deletion) silently no-opped
    val dir = graft.util.Scratch.fresh("ingest_bloomrecover_spec")
    CorpusIngest.ingestBatch(docs((1L, "alpha", "en"), (2L, "beta", "en")), 0L, dir)
    CorpusIngest.ingestBatch(docs((10L, "gamma", "en")), 1L, dir)
    CorpusIngest.compact(spark, dir, 0L)
    assert(CorpusIngest.loadBloomState(spark, dir).isDefined)
    graft.util.Scratch.delete(s"${dir}_bloom")
    assert(CorpusIngest.loadBloomState(spark, dir).isEmpty)
    // history <= 0 is fully consolidated: the guard finds nothing fresh,
    // but the rebuild must still run
    CorpusIngest.compact(spark, dir, 0L)
    val st = CorpusIngest.loadBloomState(spark, dir)
    assert(st.isDefined, "compact() must rebuild a missing sidecar")
    // and the restored sketches are live: a re-ingest of a known text is
    // still suppressed (probe + anti-join agree)
    CorpusIngest.ingestBatch(docs((20L, "alpha", "fr"), (21L, "delta", "en")), 2L, dir)
    val m = CorpusIngest.manifest(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(m === Set(1L, 2L, 10L, 21L))
  }

  test("writer lease: a second live writer is refused, an expired one is stolen") {
    // VERDICT r11 item 5: the single-writer contract is now asserted, not
    // assumed — interleaved sessions fail loudly instead of corrupting
    // the manifest. A "foreign session" is simulated by planting a lease
    // with a different owner id (the protocol is pure file state).
    val dir = graft.util.Scratch.fresh("ingest_lease_spec")
    CorpusIngest.ingestBatch(docs((1L, "alpha", "en")), 0L, dir)
    val leaseP = IngestPaths.leasePath(dir)
    val fs = leaseP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(leaseP), "first ingest must acquire the lease")

    // foreign + fresh ⇒ both ingest and compact refuse
    def plantForeign(ageMs: Long): Unit = {
      val out = fs.create(leaseP, true)
      try out.write(
        s"owner=other-writer\nts=${System.currentTimeMillis() - ageMs}\n"
          .getBytes("UTF-8"))
      finally out.close()
    }
    plantForeign(ageMs = 0L)
    val e1 = intercept[IllegalStateException](
      CorpusIngest.ingestBatch(docs((2L, "beta", "en")), 1L, dir))
    assert(e1.getMessage.contains("other-writer"), e1.getMessage)
    intercept[IllegalStateException](CorpusIngest.compact(spark, dir, 0L))
    // the refused write left no trace
    assert(CorpusIngest.manifest(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSeq === Seq(1L))

    // foreign + expired ⇒ stolen, ingest proceeds (crashed writers never
    // brick the table)
    spark.conf.set(IngestPaths.LeaseTtlConf, "50")
    try {
      plantForeign(ageMs = 10000L)
      CorpusIngest.ingestBatch(docs((2L, "beta", "en")), 1L, dir)
    } finally spark.conf.unset(IngestPaths.LeaseTtlConf)
    assert(IngestPaths.readLease(spark, dir).exists(
      _._1 == IngestPaths.leaseOwner), "expired lease must be stolen")
    assert(CorpusIngest.manifest(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet === Set(1L, 2L))

    // orderly release removes only our own lease
    CorpusIngest.releaseWriterLease(spark, dir)
    assert(!fs.exists(leaseP))
    plantForeign(ageMs = 0L)
    CorpusIngest.releaseWriterLease(spark, dir) // must not delete a foreign lease
    assert(fs.exists(leaseP))
    fs.delete(leaseP, false)

    // FuzzyIngest twin: same protocol on the index dir
    val fdir = graft.util.Scratch.fresh("fuzzy_lease_spec")
    val longText = (1 to 40).map(i => s"tok$i").mkString(" ")
    FuzzyIngest.ingestBatch(docs((1L, longText, "en")), 0L, fdir)
    val fLease = IngestPaths.leasePath(fdir)
    val out = fs.create(fLease, true)
    try out.write(
      s"owner=other-writer\nts=${System.currentTimeMillis()}\n".getBytes("UTF-8"))
    finally out.close()
    intercept[IllegalStateException](
      FuzzyIngest.ingestBatch(docs((2L, "short new", "en")), 1L, fdir))
    FuzzyIngest.releaseWriterLease(spark, fdir) // foreign: left in place
    assert(fs.exists(fLease))
  }

  test("roll-forward takes the lease: live foreign writer refused, crashed one stolen") {
    // r12: the crashed-compact roll-forward is a WRITE reachable from
    // pure readers (manifest()) — it must not interleave a second
    // consolidation under a LIVE writer, and must still complete a
    // genuinely crashed writer's compaction
    val dir = graft.util.Scratch.fresh("ingest_rollfwd_lease_spec")
    CorpusIngest.ingestBatch(docs((1L, "alpha", "en")), 0L, dir)
    CorpusIngest.ingestBatch(docs((10L, "beta", "en")), 1L, dir)
    CorpusIngest.releaseWriterLease(spark, dir)
    // simulate a foreign writer that crashed (or is live) mid-compact:
    // its intent marker is pending and its lease file present
    IngestPaths.writeMarker(spark, dir, 0L)
    val leaseP = IngestPaths.leasePath(dir)
    val fs = leaseP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plant(ageMs: Long): Unit = {
      val out = fs.create(leaseP, true)
      try out.write(
        s"owner=other-writer\nts=${System.currentTimeMillis() - ageMs}\n"
          .getBytes("UTF-8"))
      finally out.close()
    }
    plant(0L) // LIVE foreign writer → the reader must refuse, not write
    val e = intercept[IllegalStateException](
      CorpusIngest.manifest(spark, dir).collect())
    assert(e.getMessage.contains("other-writer"), e.getMessage)
    // crashed foreign writer (stale lease) → steal, roll forward, serve
    spark.conf.set(IngestPaths.LeaseTtlConf, "50")
    try {
      plant(10000L)
      val m = CorpusIngest.manifest(spark, dir)
        .select(col("doc_id")).as[Long].collect().toSet
      assert(m === Set(1L, 10L))
    } finally spark.conf.unset(IngestPaths.LeaseTtlConf)
    assert(IngestPaths.readMarker(spark, dir).isEmpty,
      "the stolen roll-forward must clear the crashed writer's marker")
    // and the reader does NOT retain the stolen lease: a pure reader
    // holding it for a TTL would block the replacement writer
    assert(IngestPaths.readLease(spark, dir).isEmpty,
      "reader-path roll-forward must release the lease it took")
  }

  test("per-bucket bloom probe is codegen might_contain; saturated buckets degrade alone") {
    val s2 = spark.newSession()
    s2.conf.set(CorpusIngest.CapacityConf, "8")
    import s2.implicits._
    val dir = graft.util.Scratch.fresh("ingest_sat_spec")
    // deterministically pick texts landing in bucket 0 vs elsewhere, via
    // the same (hash → pmod) expression the pipeline buckets by
    val cands = (0 until 400)
      .map(i => (i.toLong, s"text body number $i", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("__h", xxhash64(col("text")))
      .withColumn("__len", length(col("text")))
      .withColumn("__b",
        pmod(hash(col("__h"), col("__len")), lit(CorpusIngest.ManifestBuckets)))
    val byBucket = cands.select(col("doc_id"), col("__b").cast("int"))
      .as[(Long, Int)].collect().groupBy(_._2)
    val bucket0 = byBucket(0).map(_._1).take(12).toSeq // 12 > capacity 8 → saturates
    val otherBucket = byBucket
      .collectFirst { case (k, v) if k != 0 && v.length >= 4 => k }.get
    val others = byBucket(otherBucket).map(_._1).toSeq
    assert(bucket0.length === 12, s"need ≥12 bucket-0 texts, got ${bucket0.length}")

    def mk(ids: Seq[Long]) =
      ids.map(i => (i, s"text body number $i", "en")).toDF("doc_id", "text", "lang")
    CorpusIngest.ingestBatch(mk(bucket0 ++ others.take(3)), 0L, dir)

    val st = CorpusIngest.loadBloomState(s2, dir).get
    assert(st.capacity === 8L)
    assert(st.saturated(0), s"bucket 0 holds ${bucket0.length} > capacity 8")
    assert(!st.saturated(otherBucket), "an under-capacity bucket must stay live")

    // the probe is a native codegen expression, visible in the plan — and
    // still ACTIVE despite the saturated bucket (the r10 design dropped
    // the whole pre-filter at its cap). Probe a parquet-backed frame as
    // the pipeline does (a purely-local frame is constant-folded away).
    val probeSrc = graft.util.Scratch.fresh("ingest_sat_probe")
    mk(bucket0.take(1))
      .withColumn("__h", xxhash64(col("text")))
      .withColumn("__len", length(col("text")))
      .write.parquet(probeSrc)
    val probe = BloomSidecar.probeFn(s2, st, CorpusIngest.ManifestBuckets)
    val planStr = s2.read.parquet(probeSrc)
      .filter(probe(pmod(hash(col("__h"), col("__len")),
        lit(CorpusIngest.ManifestBuckets)).cast("int"), col("__h")))
      .queryExecution.executedPlan.toString
    assert(planStr.contains("bloom_bank_might_contain"),
      s"probe must be the broadcast bloom-bank expression:\n$planStr")
    assert(!planStr.contains("0x"), // no multi-MB binary literal hexdump
      s"probe plan must carry the broadcast handle, not sketch bytes:\n$planStr")

    // end-to-end: saturated-bucket dup still suppressed (join path),
    // live-bucket dup suppressed via bloom→join, live-bucket new survives
    CorpusIngest.ingestBatch(
      mk(Seq(bucket0.head, others.head) :+ others(3)), 1L, dir)
    val m = CorpusIngest.manifest(s2, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    val expect0 = (bucket0 ++ others.take(3)).map(id => (0L, id)).toSet
    assert(m === expect0 + ((1L, others(3))))
  }

  test("a legacy-layout manifest is rejected with a clear error") {
    val dir = graft.util.Scratch.fresh("ingest_legacy_spec")
    // fake a pre-r11 manifest: plain (unbucketed) parquet partition
    docs((1L, "alpha", "en"))
      .withColumn("__h", xxhash64(col("text")))
      .withColumn("__len", length(col("text")))
      .select(col("doc_id"), col("lang"), col("__h"), col("__len"))
      .write.parquet(s"$dir/batch=0")
    val e = intercept[IllegalStateException](
      CorpusIngest.ingestBatch(docs((2L, "beta", "en")), 1L, dir))
    assert(e.getMessage.contains("older graft version"), e.getMessage)
    // the read has the one shape every kind's read has: a manifest
    // without first_batch is refused there too, never served
    val r = intercept[org.apache.spark.sql.AnalysisException](
      CorpusIngest.manifest(spark, dir).collect())
    assert(r.getMessage.contains("first_batch"), r.getMessage)
  }

  test("per-batch progress events: docs in, suppressed, appended, bloom routing") {
    val dir = graft.util.Scratch.fresh("ingest_events_spec")
    CorpusIngest.ingestBatch(docs(
      (1L, "alpha", "en"), (2L, "beta", "en"), (3L, "alpha", "es")), 0L, dir)
    CorpusIngest.ingestBatch(docs(
      (10L, "alpha", "de"), (11L, "gamma", "en")), 1L, dir)
    val ev = IngestEvents.recent(Some(dir))
    assert(ev.map(_.batchId) === Seq(0L, 1L))
    val e0 = ev(0); val e1 = ev(1)
    assert(e0.docsIn === 3 && e0.uniqueIn === 2 && e0.appended === 2 &&
      e0.suppressed === 0)
    assert(e0.bloomProbable === -1L, "batch 0 has no manifest to probe")
    assert(e1.docsIn === 2 && e1.uniqueIn === 2 && e1.appended === 1 &&
      e1.suppressed === 1)
    assert(e1.bloomProbable >= 1,
      "the re-delivered digest must route through the bloom to the join")
    assert(e1.line.contains("suppressed=1"), e1.line)
  }

  test("a crashed compact is rolled forward before any read or merge (intent log)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    import s2.implicits._
    def docs2(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "lang")
    val dir = graft.util.Scratch.fresh("ingest_crash_compact_spec")
    CorpusIngest.ingestBatch(docs2((1L, "alpha", "en"), (2L, "beta", "en")), 0L, dir)
    CorpusIngest.ingestBatch(docs2((10L, "gamma", "en"), (11L, "alpha", "de")), 1L, dir)
    CorpusIngest.ingestBatch(docs2((20L, "delta", "en")), 2L, dir)
    val expected = Set((0L, 1L), (0L, 2L), (1L, 10L), (2L, 20L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s2.sparkContext.hadoopConfiguration)
    def partitions() = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSet
    def manifestSet() = CorpusIngest.manifest(s2, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet

    // crash point A — earliest: compact durably recorded its intent and
    // died before touching ANY state. The next manifest() read completes
    // the whole compaction before serving.
    IngestPaths.writeMarker(s2, dir, 1L)
    assert(manifestSet() === expected,
      "roll-forward must yield exactly the compacted rows, no duplicates")
    assert(partitions() === Set(s"batch=${CorpusIngest.CompactedBatch}", "batch=2"),
      s"roll-forward must consolidate the marked batches: ${partitions()}")
    assert(!fs.exists(IngestPaths.markerPath(dir)),
      "the intent marker must be cleared once rolled forward")

    // crash point B — latest: everything done, marker not yet cleared.
    // Re-running the body over already-compacted state must converge
    // (consolidation re-reads the consolidated partition and dedups).
    IngestPaths.writeMarker(s2, dir, 1L)
    assert(manifestSet() === expected, "re-rolled compaction must converge")
    assert(!fs.exists(IngestPaths.markerPath(dir)))

    // and the heal also runs on the MERGE path: a pending marker plus an
    // arriving batch → reconcile rolls forward first, then ingests
    IngestPaths.writeMarker(s2, dir, 1L)
    CorpusIngest.ingestBatch(docs2((30L, "alpha", "fr"), (31L, "zeta", "en")), 3L, dir)
    assert(!fs.exists(IngestPaths.markerPath(dir)))
    assert(manifestSet() === expected + ((3L, 31L)),
      "post-heal ingest must suppress compacted digests and append the new one")
  }

  // distinct texts, so every row of every batch survives into the manifest
  private def distinctDocs(s: org.apache.spark.sql.SparkSession, batch: Int, n: Int) =
    s.createDataFrame((0 until n).map(i => (batch * 1000L + i, s"text $batch $i", "en")))
      .toDF("doc_id", "text", "lang")

  test("every batch partition holds at most ManifestBuckets part files") {
    val s2 = WriteLayout.manyTaskSession(spark)
    val dir = graft.util.Scratch.fresh("ingest_file_floor")
    // every batch, the first included, lands through the staged
    // static-partition INSERT OVERWRITE
    val tasks = WriteLayout.writeTasks(s2, new java.io.File(dir).getName)(
      (0 until 3).foreach(b =>
        CorpusIngest.ingestBatch(distinctDocs(s2, b, 300), b.toLong, dir)))
    assert(tasks.nonEmpty && tasks.max > 1, s"expected multi-task writes: $tasks")
    val files = WriteLayout.partFiles(spark, dir)
    assert(files.keySet === Set("batch=0", "batch=1", "batch=2"), s"$files")
    assert(files.values.forall(n => n > 0 && n <= CorpusIngest.ManifestBuckets),
      s"part files per batch partition: $files")
  }

  test("a micro-batch's manifest insert runs one write task") {
    // the staging exchange is sized to the batch, not to the 16 buckets:
    // AQE coalesces a ~200-row batch to one partition, so one task writes it
    val dir = graft.util.Scratch.fresh("ingest_write_tasks")
    CorpusIngest.ingestBatch(distinctDocs(spark, 0, 200), 0L, dir)
    val tasks = WriteLayout.writeTasks(spark, new java.io.File(dir).getName)(
      CorpusIngest.ingestBatch(distinctDocs(spark, 1, 200), 1L, dir))
    assert(tasks === Seq(1), s"tasks per insert execution: $tasks")
  }
}
