package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental fuzzy-dedup index semantics: cross-batch NEAR-dup
  * suppression (the case the exact manifest cannot see), unrelated docs
  * passing through, idempotent replay, and the bucket-local probe plan.
  * The specs about the shared store run over several kinds
  * ([[IndexKinds]]): the LSH probe plan over both LSH kinds, the crashed
  * compaction, the roll-forward lease and the all-dropped first batch
  * over every kind; their other-kind cases carry a " (<kind>)" suffix.
  */
class FuzzyIngestSpec extends SparkSpec with IndexKinds {
  import spark.implicits._

  // long texts so a one-token edit stays far above the 0.5 agreement bar
  private val baseA = (1 to 40).map(i => s"alpha$i").mkString(" ")
  private val baseB = (1 to 40).map(i => s"beta$i").mkString(" ")
  private val baseC = (1 to 40).map(i => s"gamma$i").mkString(" ")

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  test("near-dups of earlier batches are suppressed; new docs survive") {
    val dir = graft.util.Scratch.fresh("fuzzy_ingest_spec")
    FuzzyIngest.ingestBatch(docs(
      (1L, baseA, "en"), (2L, baseB, "en")), 0L, dir)
    // batch 1: an EXACT dup of A, a NEAR dup of B (one token changed),
    // and a genuinely new doc
    FuzzyIngest.ingestBatch(docs(
      (10L, baseA, "de"),
      (11L, baseB.replace("beta7", "edited"), "en"),
      (12L, baseC, "fr")), 1L, dir)
    // batch 2: a near dup of batch-1's SURVIVOR C (tail token appended)
    FuzzyIngest.ingestBatch(docs(
      (20L, baseC + " tail", "en"), (21L, "tiny unrelated text here", "es")),
      2L, dir)

    val idx = FuzzyIngest.index(spark, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(idx === Set((0L, 1L), (0L, 2L), (1L, 12L), (2L, 21L)),
      s"fuzzy index mismatch: $idx")
  }

  test("streaming leg: fuzzyIngest drains a file stream through the index") {
    val dir = graft.util.Scratch.fresh("fuzzy_stream_spec")
    FuzzyIngest.ingestBatch(docs((1L, baseA, "en")), -1L, s"$dir/index")
    // one delivery file: a near-dup of the seed + a new doc
    val delivery = docs((10L, baseA + " tail", "de"), (11L, baseB, "en"))
    delivery.coalesce(1).write.parquet(s"$dir/in")
    val q = FuzzyIngest.fuzzyIngest(
      spark.readStream.schema(delivery.schema).parquet(s"$dir/in"),
      s"$dir/index", s"$dir/chk")
    q.awaitTermination()
    val idx = FuzzyIngest.index(spark, s"$dir/index")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(idx === Set(1L, 11L), s"streaming ingest mismatch: $idx")
  }

  test("replaying a batch is idempotent and not self-suppressing") {
    val dir = graft.util.Scratch.fresh("fuzzy_replay_spec")
    FuzzyIngest.ingestBatch(docs((1L, baseA, "en")), 0L, dir)
    FuzzyIngest.ingestBatch(docs((10L, baseB, "en")), 1L, dir)
    FuzzyIngest.ingestBatch(docs((10L, baseB, "en")), 1L, dir) // replay
    val idx = FuzzyIngest.index(spark, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(idx === Seq((0L, 1L), (1L, 10L)),
      s"replay must reproduce the same index: $idx")
  }

  for (k <- Seq(fuzzy, embed))
    test(s"LSH probe ships the BATCH side: NO exchange on the band-index side${k.suffix(fuzzy)}") {
      // r14 single-table contract: the probe broadcasts the (micro-batch
      // bounded) new bands, the kind='b' partition slice scans with no
      // shuffle and no sort — partition pruning must reach the scan so a
      // probe never reads signature bytes
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dir = graft.util.Scratch.fresh("fuzzy_plan_spec")
      k.ingest(k.rows(s2, Seq(1L -> 0, 2L -> 1)), 0L, dir)
      k.ingest(k.rows(s2, Seq(10L -> 2)), 1L, dir)

      val probe = k.idx.postings(k.idx.signBatch(k.rows(s2, Seq(30L -> NearA))))
      val cand = k.idx.bandCandidates(probe, 2L, k.idx.bands(s2, dir))

      val plan = cand.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(joins.nonEmpty, s"expected a broadcast probe join:\n$plan")
      val idxSide = joins.head.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => joins.head.right
        case _ => joins.head.left
      }
      assert(idxSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"band index must not re-shuffle per batch:\n$plan")
      val scans = idxSide.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty &&
        scans.head.metadata("PartitionFilters").contains("kind"),
        s"probe scan must partition-prune to kind='b':\n${scans.headOption.map(_.metadata)}")
      // and the near-dup of item 0 is a candidate against it
      assert(cand.select(col("old_id")).as[Long].collect().toSet === Set(1L))
    }

  test("within-batch near-dup collapse: flag on keeps min id, off keeps both") {
    val twoNear = docs((5L, baseA, "en"), (6L, baseA + " tail", "en"),
      (7L, baseB, "en"))
    val dirOff = graft.util.Scratch.fresh("fuzzy_collapse_off")
    FuzzyIngest.ingestBatch(twoNear, 0L, dirOff)
    val off = FuzzyIngest.index(spark, dirOff)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(off === Set(5L, 6L, 7L),
      "default (documented contract) keeps both within-batch near-dups")

    val dirOn = graft.util.Scratch.fresh("fuzzy_collapse_on")
    FuzzyIngest.ingestBatch(twoNear, 0L, dirOn, collapseWithinBatch = true)
    val on = FuzzyIngest.index(spark, dirOn)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(on === Set(5L, 7L),
      "collapse keeps the min doc_id per within-batch near-dup cluster")

    // replay stays idempotent with the flag, and cross-batch suppression
    // still applies to the collapsed survivors
    FuzzyIngest.ingestBatch(docs((10L, baseC, "en")), 1L, dirOn,
      collapseWithinBatch = true)
    FuzzyIngest.ingestBatch(docs((10L, baseC, "en")), 1L, dirOn,
      collapseWithinBatch = true)
    val idx = FuzzyIngest.index(spark, dirOn)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(idx === Seq((0L, 5L), (0L, 7L), (1L, 10L)))
  }

  test("auto-compaction: layout bounded across triggers, suppression and replay intact") {
    val dir = graft.util.Scratch.fresh("fuzzy_autocompact_spec")
    // exactly what fuzzyIngest's foreachBatch hook runs per trigger
    def step(id: Long, rows: (Long, String, String)*): Unit = {
      FuzzyIngest.ingestBatch(docs(rows: _*), id, dir)
      FuzzyIngest.maybeAutoCompact(spark, dir, id, 2)
    }
    step(0L, (1L, baseA, "en"))
    step(1L, (10L, baseB, "en"))
    step(2L, (20L, baseC, "en"))                       // compacts <= 1
    // near-dup of a COMPACTED doc must still be suppressed; a
    // fully-suppressed trigger that ALSO auto-compacts must not throw
    step(3L, (30L, baseA + " tail", "de"))             // suppressed
    step(4L, (40L, baseB.replace("beta7", "x"), "fr")) // suppressed; compacts <= 3

    def idxSet() = FuzzyIngest.index(spark, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    val expected = Set((0L, 1L), (1L, 10L), (2L, 20L))
    assert(idxSet() === expected, s"index after auto-compaction: ${idxSet()}")

    // nothing below the newest trigger survives outside the consolidated
    // partition
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/idx"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
      .filter(v => v <= 3L && v != CorpusIngest.CompactedBatch)
    assert(stale.isEmpty, s"idx: stale partitions ${stale.toSeq}")

    // replay of the newest trigger re-runs ingest + the auto hook:
    // idempotent (fresh-partition guard), nothing self-suppressed
    step(4L, (40L, baseB.replace("beta7", "x"), "fr"))
    assert(idxSet() === expected,
      "replaying the trigger incl. auto-compaction must be idempotent")
  }

  test("auto-compaction trigger before any index exists is a silent no-op") {
    // ADVICE r11 (CorpusIngest twin): an all-empty batch prefix reaches
    // the trigger before ingestBatch creates the tables
    val dir = graft.util.Scratch.fresh("fuzzy_autocompact_fresh_spec")
    FuzzyIngest.maybeAutoCompact(spark, dir, 2L, 2) // must not throw
    FuzzyIngest.ingestBatch(docs((1L, baseA, "en")), 3L, dir)
    FuzzyIngest.maybeAutoCompact(spark, dir, 4L, 2)
    val ids = FuzzyIngest.index(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(ids === Seq(1L))
  }

  test("manual compact() restores a deleted band sidecar on consolidated history") {
    // ADVICE r11 (CorpusIngest twin): the fresh-partition guard used to
    // skip the bloom rebuild, stranding the documented recovery path
    val dir = graft.util.Scratch.fresh("fuzzy_bloomrecover_spec")
    FuzzyIngest.ingestBatch(docs((1L, baseA, "en")), 0L, dir)
    FuzzyIngest.ingestBatch(docs((10L, baseB, "en")), 1L, dir)
    FuzzyIngest.compact(spark, dir, 0L)
    assert(FuzzyIngest.loadBloomState(spark, dir).isDefined)
    graft.util.Scratch.delete(s"$dir/bands_bloom")
    assert(FuzzyIngest.loadBloomState(spark, dir).isEmpty)
    FuzzyIngest.compact(spark, dir, 0L)
    assert(FuzzyIngest.loadBloomState(spark, dir).isDefined,
      "compact() must rebuild a missing band sidecar")
    // restored sketches still suppress a near-dup of a compacted doc
    FuzzyIngest.ingestBatch(docs((20L, baseA + " tail", "de")), 2L, dir)
    val ids = FuzzyIngest.index(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(ids === Set(1L, 10L))
  }

  for (k <- Seq(fuzzy, embed, corpus))
    test(s"roll-forward takes the lease: a live foreign writer blocks the reader (twin)${k.suffix(fuzzy)}") {
      // CorpusIngest twin of the r12 roll-forward lease rule on the LSH
      // index: index() hitting a pending marker under a LIVE foreign lease
      // must refuse rather than interleave a second consolidation
      val dir = graft.util.Scratch.fresh("fuzzy_rollfwd_lease_spec")
      k.put(0L, dir, 1L -> 0)
      k.put(1L, dir, 10L -> 1)
      IngestPaths.releaseLease(spark, dir)
      IngestPaths.writeMarker(spark, dir, 0L)
      val leaseP = IngestPaths.leasePath(dir)
      val fs = leaseP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(leaseP, true)
      try out.write(
        s"owner=other-writer\nts=${System.currentTimeMillis()}\n".getBytes("UTF-8"))
      finally out.close()
      val e = intercept[IllegalStateException](
        k.read(spark, dir).collect())
      assert(e.getMessage.contains("other-writer"), e.getMessage)
      // stale lease → stolen, rolled forward, served — marker cleared
      spark.conf.set(IngestPaths.LeaseTtlConf, "50")
      try {
        val out2 = fs.create(leaseP, true)
        try out2.write(
          s"owner=other-writer\nts=${System.currentTimeMillis() - 10000}\n"
            .getBytes("UTF-8"))
        finally out2.close()
        assert(k.indexSet(spark, dir).map(_._2) === Set(1L, 10L))
      } finally spark.conf.unset(IngestPaths.LeaseTtlConf)
      assert(IngestPaths.readMarker(spark, dir).isEmpty)
      assert(IngestPaths.readLease(spark, dir).isEmpty,
        "reader-path roll-forward must release the lease it took")
    }

  test("compact consolidates both index tables; probe plan and suppression survive") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    def docs2(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "lang")
    val dir = graft.util.Scratch.fresh("fuzzy_compact_spec")
    FuzzyIngest.ingestBatch(docs2((1L, baseA, "en")), 0L, dir)
    FuzzyIngest.ingestBatch(docs2((10L, baseB, "en")), 1L, dir)
    FuzzyIngest.ingestBatch(docs2((20L, baseC, "en")), 2L, dir)
    FuzzyIngest.ingestBatch(docs2((30L, "unrelated little text", "en")), 3L, dir)

    FuzzyIngest.compact(s2, dir, 2L)

    def idxSet() = FuzzyIngest.index(s2, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    val expected = Set((0L, 1L), (1L, 10L), (2L, 20L), (3L, 30L))
    assert(idxSet() === expected, "first-seen batches survive compaction")

    // batch partitions consolidated (both kinds live under one batch dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s2.sparkContext.hadoopConfiguration)
    def parts(sub: String) = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSet
    val want = Set(s"batch=${CorpusIngest.CompactedBatch}", "batch=3")
    assert(parts("idx") === want, s"idx partitions: ${parts("idx")}")

    // near-dups of COMPACTED docs are still suppressed post-compaction
    FuzzyIngest.ingestBatch(docs2((40L, baseA + " tail", "de"),
      (41L, "fresh new doc text", "en")), 4L, dir)
    assert(idxSet() === expected + ((4L, 41L)))

    // the no-index-exchange probe contract survives compaction
    val probe = graft.operators.Dedup
      .minhashSignatures(docs2((90L, baseB + " x", "en")), "text", "doc_id",
        FuzzyIngest.NumHashes, FuzzyIngest.NumBands)
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
    val cand = FuzzyIngest.bandCandidates(probe, 5L, FuzzyIngest.bands(s2, dir))
    val plan = cand.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    // nonEmpty BEFORE the head deref (ADVICE r14): a regression away from
    // BHJ must fail with this diagnostic, not NoSuchElementException
    assert(joins.nonEmpty, s"expected a broadcast probe join:\n$plan")
    val idxSide2 = joins.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => joins.head.right
      case _ => joins.head.left
    }
    assert(idxSide2.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, s"compacted band index must not be re-shuffled:\n$plan")
    assert(cand.select(col("old_id")).as[Long].collect().toSet === Set(10L))

    // replay of the newest batch across the boundary is idempotent
    FuzzyIngest.ingestBatch(docs2((40L, baseA + " tail", "de"),
      (41L, "fresh new doc text", "en")), 4L, dir)
    assert(idxSet() === expected + ((4L, 41L)))

    // the newest batch must stay replayable: compact refuses it
    intercept[IllegalArgumentException](FuzzyIngest.compact(s2, dir, 4L))
  }

  test("fuzzy ingest posts per-batch progress events") {
    val dir = graft.util.Scratch.fresh("fuzzy_events_spec")
    FuzzyIngest.ingestBatch(docs((1L, baseA, "en"), (2L, baseA, "es")), 0L, dir)
    FuzzyIngest.ingestBatch(docs((10L, baseA + " tail", "en")), 1L, dir)
    val ev = IngestEvents.recent(Some(dir))
    assert(ev.map(_.batchId) === Seq(0L, 1L))
    assert(ev(0).docsIn === 2 && ev(0).uniqueIn === 1 && ev(0).appended === 1)
    assert(ev(1).docsIn === 1 && ev(1).appended === 0 && ev(1).suppressed === 1)

    // ADVICE r11: arrival counts come from the pre-join frame — a doc_id
    // shared by two distinct text groups must count twice, not four times
    // (the doc_id join used to double-count the shared id)
    val dir2 = graft.util.Scratch.fresh("fuzzy_events_dupid_spec")
    FuzzyIngest.ingestBatch(docs((7L, baseB, "en"), (7L, baseC, "en")), 0L, dir2)
    val ev2 = IngestEvents.recent(Some(dir2))
    assert(ev2(0).docsIn === 2 && ev2(0).uniqueIn === 2,
      s"pre-join arrival counts: ${ev2(0).line}")
  }

  test("null-id rows are degenerate: dropped at the door, excluded from counts") {
    // ADVICE r13: carry mode rides rows 1:1 through the signature kernel,
    // so without the door filter a null-id doc would enter the index as
    // an unretractable, merge-invisible row (the pre-r13 join-back
    // dropped it implicitly). The door makes the old contract explicit:
    // not indexed, not counted.
    val dir = graft.util.Scratch.fresh("fuzzy_nullid_spec")
    val d = Seq((Some(1L), baseA, "en"), (Option.empty[Long], baseB, "en"))
      .toDF("doc_id", "text", "lang")
    FuzzyIngest.ingestBatch(d, 0L, dir)
    val idx = FuzzyIngest.index(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(idx === Set(1L), s"null-id row must not enter the index: $idx")
    val ev = IngestEvents.recent(Some(dir))
    assert(ev(0).docsIn === 1 && ev(0).uniqueIn === 1 && ev(0).appended === 1,
      s"null-id row must not count as an arrival: ${ev(0).line}")
  }

  test("band bloom: a fresh batch skips the bands join; near-dups still route through it") {
    val dir = graft.util.Scratch.fresh("fuzzy_bloom_spec")
    FuzzyIngest.ingestBatch(docs((1L, baseA, "en"), (2L, baseB, "en")), 0L, dir)
    // batch 1: entirely fresh docs — every band must miss the sketch, so
    // the bands table is never consulted (bloomProbable == 0)
    FuzzyIngest.ingestBatch(docs(
      (10L, baseC, "en"), (11L, "totally unrelated little text", "es")), 1L, dir)
    // batch 2: a near-dup of batch-0's A — its shared bands hit the
    // sketch, route to the join, and the verify suppresses it
    FuzzyIngest.ingestBatch(docs(
      (20L, baseA.replace("alpha7", "edited"), "fr"), (21L, "more fresh text", "en")),
      2L, dir)
    val ev = IngestEvents.recent(Some(dir))
    assert(ev.map(_.batchId) === Seq(0L, 1L, 2L))
    assert(ev(0).bloomProbable === -1L, "batch 0 has no index to probe")
    assert(ev(1).bloomProbable === 0L,
      s"fresh batch must skip the bands join entirely: ${ev(1).line}")
    assert(ev(1).appended === 2L)
    assert(ev(2).bloomProbable >= 1L,
      s"the near-dup's bands must route through the join: ${ev(2).line}")
    assert(ev(2).appended === 1L && ev(2).suppressed === 1L)
  }

  test("a lost band sidecar falls back to the join; compact rebuilds it") {
    val dir = graft.util.Scratch.fresh("fuzzy_bloom_lost_spec")
    FuzzyIngest.ingestBatch(docs((1L, baseA, "en")), 0L, dir)
    FuzzyIngest.ingestBatch(docs((10L, baseB, "en")), 1L, dir)
    graft.util.Scratch.delete(s"$dir/bands_bloom")
    // suppression must still work through the always-correct join path
    FuzzyIngest.ingestBatch(docs(
      (20L, baseA.replace("alpha7", "edited"), "de"), (21L, baseC, "en")), 2L, dir)
    val idx = FuzzyIngest.index(spark, dir)
      .select(col("batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(idx === Set((0L, 1L), (1L, 10L), (2L, 21L)),
      "near-dup must be suppressed with no sidecar present")
    assert(FuzzyIngest.loadBloomState(spark, dir).isEmpty)
    // compact rebuilds the sketches from the consolidated bands table
    FuzzyIngest.compact(spark, dir, 1L)
    val st = FuzzyIngest.loadBloomState(spark, dir)
    assert(st.isDefined, "compact must rebuild the band sidecar")
    assert(st.get.counts.values.sum > 0)
    // and the rebuilt sketch routes a re-delivered near-dup to the join
    FuzzyIngest.ingestBatch(docs(
      (30L, baseB.replace("beta7", "edited"), "en")), 3L, dir)
    val ev = IngestEvents.recent(Some(dir)).last
    assert(ev.bloomProbable >= 1L && ev.suppressed === 1L, ev.line)
  }

  for (k <- Seq(fuzzy, embed, corpus))
    test(s"a crashed compact is rolled forward before any read or merge (intent log)${k.suffix(fuzzy)}") {
      val dir = graft.util.Scratch.fresh("fuzzy_crash_compact_spec")
      k.put(0L, dir, 1L -> 0, 2L -> 1)
      k.put(1L, dir, 10L -> 2)
      k.put(2L, dir, 20L -> 3)
      val expected = Set((0L, 1L), (0L, 2L), (1L, 10L), (2L, 20L))
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)

      // crash right after the intent write: the next index() read completes
      // the compaction (BOTH kinds) before serving
      IngestPaths.writeMarker(spark, dir, 1L)
      assert(k.indexSet(spark, dir) === expected,
        "roll-forward must yield exactly the compacted index, no duplicates")
      assert(!fs.exists(IngestPaths.markerPath(dir)), "marker must be cleared")
      val partsAfter = fs.listStatus(new org.apache.hadoop.fs.Path(k.tableDir(dir)))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("batch=")).toSet
      assert(partsAfter === Set(s"batch=${CorpusIngest.CompactedBatch}", "batch=2"),
        s"idx partitions after roll-forward: $partsAfter")

      // heal also runs on the merge path, and suppression still sees the
      // consolidated history: a near-dup of compacted item 0 is dropped
      IngestPaths.writeMarker(spark, dir, 1L)
      k.put(3L, dir, 30L -> NearA, 31L -> 4)
      assert(!fs.exists(IngestPaths.markerPath(dir)))
      assert(k.indexSet(spark, dir) === expected + ((3L, 31L)),
        "post-heal ingest must suppress near-dups of compacted items")
    }

  for (k <- Seq(fuzzy, corpus))
    test(s"an all-dropped first batch leaves no index; the next batch starts it${k.suffix(fuzzy)}") {
      allDroppedFirstBatch(k)
    }

  // unrelated docs (no shared tokens), so every row of every batch survives
  private def distinctDocs(s: org.apache.spark.sql.SparkSession, batch: Int, n: Int) =
    s.createDataFrame((0 until n).map { i =>
      val id = batch * 1000L + i
      (id, (1 to 12).map(j => s"w${id}x$j").mkString(" "), "en")
    }).toDF("doc_id", "text", "lang")

  test("every batch partition holds at most IndexBuckets part files per kind") {
    val s2 = WriteLayout.manyTaskSession(spark)
    val dir = graft.util.Scratch.fresh("fuzzy_file_floor")
    val tasks = WriteLayout.writeTasks(s2, new java.io.File(dir).getName)(
      (0 until 3).foreach(b =>
        FuzzyIngest.ingestBatch(distinctDocs(s2, b, 300), b.toLong, dir)))
    assert(tasks.nonEmpty && tasks.max > 2, s"expected multi-task writes: $tasks")
    val files = WriteLayout.partFiles(spark, s"$dir/idx")
    assert(files.keySet === (0 until 3).flatMap(b =>
      Seq(s"batch=$b/kind=s", s"batch=$b/kind=b")).toSet, s"$files")
    assert(files.values.forall(n => n > 0 && n <= FuzzyIngest.IndexBuckets),
      s"part files per (batch, kind) partition: $files")
  }

  test("a micro-batch's index insert runs one write task per kind") {
    // one staged partition, read once per unionByName side (sigs, bands)
    val dir = graft.util.Scratch.fresh("fuzzy_write_tasks")
    FuzzyIngest.ingestBatch(distinctDocs(spark, 0, 200), 0L, dir)
    val tasks = WriteLayout.writeTasks(spark, new java.io.File(dir).getName)(
      FuzzyIngest.ingestBatch(distinctDocs(spark, 1, 200), 1L, dir))
    assert(tasks.size == 1 && tasks.head <= 2,
      s"tasks per insert execution: $tasks")
  }
}
