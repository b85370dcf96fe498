package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus, sfDir, "WARN")
    // Untimed warmup: first-touch costs (JIT, codegen cache, parquet
    // footers, FS cache) otherwise land entirely on whichever query sorts
    // first and distort its number by ~10s.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => () }
    try SparkEntry.queries("agg_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Median-of-N timing (default 3, SPARK_GRAFT_BENCH_RUNS to override):
    // machine-level variance on identical code measured 49-98 s for the
    // full sweep, so a single run is noise — report the per-query median
    // (and min as the contention-free floor), total = sum of medians.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt max 1
    // SPARK_GRAFT_BENCH_QUERIES=a,b,c restricts the sweep (scale/skew
    // subset decades); unset = the full surface the driver measures
    val names = sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some(list) =>
        val want = list.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val known = SparkEntry.queries.keySet
        val unknown = want -- known
        require(unknown.isEmpty, s"unknown bench queries: $unknown")
        SparkEntry.queries.filter { case (k, _) => want(k) }.toSeq.sortBy(_._1)
      case None => SparkEntry.queries.toSeq.sortBy(_._1)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // One DRAW = `runs` timed passes over the surface + its summary
    // stats; `steal` = the draw window's hypervisor-steal percentage
    // (None when /proc/stat is unreadable).
    final case class Draw(
        times: scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Double]],
        fails: scala.collection.mutable.LinkedHashMap[String, Int],
        totalMin: Double, totalMedian: Double, ratio: Double,
        steal: Option[Double])
    // Steal-gated draw start (VERDICT r18 item 1): before each draw,
    // probe /proc/stat in short windows and defer while the co-tenant
    // is bursting — up to SPARK_GRAFT_BENCH_STEAL_WAIT seconds per draw
    // (default 300; 0 disables). A calm close costs minutes of waiting;
    // a contended one costs a round.
    val stealBar = sys.env.get("SPARK_GRAFT_BENCH_STEAL_BAR")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(StealMeter.StealBar)
    val stealWaitMs = sys.env.get("SPARK_GRAFT_BENCH_STEAL_WAIT")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(300L) * 1000L
    def runDraw(drawNo: Int): Draw = {
      if (stealWaitMs > 0)
        StealMeter.awaitCalm(stealBar, stealWaitMs,
          log = m => System.err.println(s"[bench] d$drawNo gate: $m"))
      val stealBefore = StealMeter.sample()
      val times = scala.collection.mutable.LinkedHashMap(
        names.map { case (n, _) => n -> scala.collection.mutable.ArrayBuffer.empty[Double] }: _*)
      // Failed runs are EXCLUDED from the stats and reported separately: a
      // query that throws returns in milliseconds, and folding that into a
      // min-of-N silently replaces the query's real cost with garbage (the
      // r13 sf10 rehearsal summed 8 ms "times" for 56 queries whose run
      // died with the tmp dir). An artifact with an "errors" map is
      // self-describing; one with a tiny min is a trap.
      val fails = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      for (run <- 1 to runs) {
        names.foreach { case (name, fn) =>
          val t0 = System.nanoTime()
          // Execute the query's OWN physical plan via the noop sink:
          // df.count() would replan as Aggregate(count(1)) — column pruning
          // and sort elimination would then benchmark a different (cheaper)
          // query than the one declared. (Not toRdd: it bypasses the SQL
          // execution context and deadlocks AQE's final-plan update.)
          val n = try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            -2L // rows not observable through the noop sink
          } catch { case e: Throwable =>
            System.err.println(s"[bench] d$drawNo run$run $name FAILED: " +
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
            -1L
          }
          val dt = (System.nanoTime() - t0) / 1e9
          // optional untimed sanity count, first run only (doubles per-query
          // work — off by default; correctness rows are Verify's job)
          val rows = if (n == -2L && run == 1 && drawNo == 1 &&
              sys.env.contains("SPARK_GRAFT_BENCH_ROWS")) {
            try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
          } else n
          System.err.println(f"[bench] d$drawNo run$run $name%-28s rows=$rows%-8d $dt%.1fs")
          if (n == -1L) fails(name) = fails.getOrElse(name, 0) + 1
          else times(name) += dt
          // Untimed, after the clock stops: the dedup/ccnet families persist
          // corpus-sized gram frames (Dedup.persistGrams), and CacheManager's
          // plan-matching would hand run N+1 the run-N cache — later runs
          // would measure cache hits, and 143 queries' frames would pile up
          // on LRU eviction (ADVICE r9). Clearing per query makes every
          // measured run cold and the cache lifetime deterministic.
          spark.catalog.clearCache()
        }
      }
      // Queries whose every run failed have no measurements at all — drop
      // them from the stats (they live in the errors map instead).
      val allFailed = times.collect { case (k, v) if v.isEmpty => k }.toSet
      allFailed.foreach(times.remove)
      val tMin = times.valuesIterator.map(_.min).sum
      val tMed = times.valuesIterator.map(v => median(v.toSeq)).sum
      val steal = StealMeter.stealPct(stealBefore, StealMeter.sample())
      steal.foreach(s => System.err.println(f"[bench] d$drawNo steal $s%.1f%%"))
      Draw(times, fails, tMin, tMed,
        if (tMin > 0) tMed / tMin else 1.0, steal)
    }
    // Calm-draw convention (VERDICT r13 #4): the 2x-vs-baseline gate is
    // judged on single driver draws inside a wide machine band (identical
    // code measured 110-150 s across same-day draws). A total med/min
    // above 1.15 marks a CONTENDED draw, so re-draw automatically (up to
    // SPARK_GRAFT_BENCH_MAX_DRAWS, default 2) and headline the calmest
    // draw — every draw's summary stays in the artifact, so the band is
    // visible instead of laundered.
    // Default raised 2 → 3 (VERDICT r17 item 3): both r17 draws came up
    // contended and the budget was exhausted — with a two-draw budget a
    // loaded box can never produce a calm close. A third draw costs one
    // more sweep only when the first two were already flagged.
    val maxDraws = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_DRAWS", "3").toInt max 1
    val CalmRatio = 1.15
    // Cross-round drift (VERDICT r16 #5): med/min is blind to UNIFORM
    // load that moves min and median together (r16: every key a flat
    // ~1.25x over r15 on a 1.143 draw). Compare each draw's mins on a
    // fixed committed anchor subset against the last calm close; a
    // median ratio > 1.2 marks the draw contended too.
    val anchors = BenchAnchor.load()
    def anchorDrift(d: Draw): Option[Double] =
      BenchAnchor.drift(d.times.map { case (k, v) => k -> v.min }, anchors)
    // A draw is contended on ANY of: internal med/min spread, anchor
    // drift, or a mid-draw steal window over the bar (r19 — the direct
    // cause measurement; drift and ratio are its downstream symptoms).
    def isContended(d: Draw): Boolean =
      d.ratio > CalmRatio ||
        anchorDrift(d).exists(_ > BenchAnchor.DriftBar) ||
        d.steal.exists(_ > stealBar)
    val drawsBuf = scala.collection.mutable.ArrayBuffer(runDraw(1))
    while (isContended(drawsBuf.last) && drawsBuf.size < maxDraws) {
      System.err.println(f"[bench] draw ${drawsBuf.size} contended " +
        f"(med/min ${drawsBuf.last.ratio}%.2f, anchor drift " +
        f"${anchorDrift(drawsBuf.last).getOrElse(Double.NaN)}%.2f, steal " +
        f"${drawsBuf.last.steal.getOrElse(Double.NaN)}%.1f%%) - redrawing")
      drawsBuf += runDraw(drawsBuf.size + 1)
    }
    // Drift is BUCKETED before ranking (ADVICE r17): raw drift as the
    // primary key let noise-level differences (well under DriftBar)
    // override med/min calmness. Drift now only demotes draws OVER the
    // bar (unmeasurable anchors rank with the over-bar bucket, not as
    // perfectly calm); within a bucket the LOWEST totalMin wins, med/min
    // ratio last. Rationale, learned from two r18 measurements:
    // contention only ever ADDS time, so the lowest realized floor is
    // the most accurate one — the ratio-first form headlined a 229 s
    // full close over a 166 s draw on a 0.03 ratio difference, and a
    // ratio-BUCKET form headlined a 342 s subset draw over a 201 s one
    // because the slow draw happened to be internally consistent. A
    // uniformly-inflated draw cannot win here: its totalMin is inflated
    // too, and the drift bucket demotes it besides.
    // Steal over the bar demotes with the over-drift bucket (r19): the
    // two flags measure the same co-tenant from opposite ends, so either
    // one disqualifies a draw from beating a clean-windowed one on time.
    // An UNMEASURABLE steal (None, off-Linux) does not demote — there is
    // no evidence against that draw, unlike unmeasurable anchors whose
    // absence usually means the subset skipped the anchor rows.
    val best = drawsBuf.minBy(d =>
      (anchorDrift(d).forall(_ > BenchAnchor.DriftBar) ||
        d.steal.exists(_ > stealBar),
        d.totalMin, d.ratio))
    val times = best.times
    val fails = best.fails
    val med = times.map { case (k, v) => k -> median(v.toSeq) }
    // Headline = per-query MIN of N from the CALMEST draw: on identical
    // code the full sweep measured 49-101 s across closes (uniform moves
    // on untouched queries — machine contention, not the plans), so the
    // min is the contention-free floor that tracks CODE changes; the
    // median rides along as total_median for honesty about a typical draw.
    val mins = times.map { case (k, v) => k -> v.min }
    // The stdout JSON line must stay SHORT: the driver keeps only the last
    // ~2000 chars of the sbt output (the line shares that window with the
    // `[info] ` prefix and the `[success] Total time...` trailer, ≈ 1910
    // usable), and every prior round's line — full-precision doubles +
    // an inline queries_min map — overflowed it, so the driver never got
    // a parseable line. Full precision goes to stderr; stdout precision
    // adapts so the line ALWAYS fits: centiseconds, else deciseconds,
    // else (last resort) total-only.
    // Locale.ROOT: a comma-decimal default locale would emit "74,6" and
    // make the line exactly as unparseable as the bug this fixes
    def fmt(d: Double, dp: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(d))
        .reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
    val totalMin = mins.values.sum
    val totalMedian = med.values.sum
    // median/min ratio (VERDICT r8 item 8): one number that shows how much
    // of a round-over-round headline move is the machine-variance band
    // rather than code — a ratio jump with a flat min means contention
    // moved the median, not the plans. (The min-of-N headline itself was
    // the r7→r8 metric cutover; see BASELINE.md "Bench metric".)
    val medMinRatio = if (totalMin > 0) totalMedian / totalMin else 1.0
    // anchor-drift stamp: present whenever the committed anchor subset
    // was measurable; "contended":true whenever the HEADLINED draw still
    // exceeds the bar after the redraw budget — a loaded box is visible
    // in the artifact instead of laundered into a "calm" close
    val bestDrift = anchorDrift(best)
    // implied_calm_total (r18): on a stamped draw the drift IS a measured
    // calibration against the committed calm anchor (12 keys untouched
    // since ~r8), so totalMin/drift is the calm-equivalent estimate the
    // judge otherwise derives by hand — emitted only alongside the stamp,
    // never in place of the raw number, so a loaded board stays visible.
    // r18 ground truth for the band: 11.4% hypervisor CPU steal sampled
    // mid-close (56% of runnable time in low-parallelism phases).
    // "contended" covers BOTH symptoms (r19): drift vs the committed
    // calm anchor, and the draw window's own measured steal — either
    // one over its bar means the headline was drawn on a loaded box.
    val bestSteal = best.steal
    val headlineContended =
      bestDrift.exists(_ > BenchAnchor.DriftBar) ||
        bestSteal.exists(_ > stealBar)
    val driftJson = bestDrift.map(d =>
      s""","anchor_drift":${fmt(d, 2)}""" +
        (if (d > BenchAnchor.DriftBar)
          s""","implied_calm_total":${fmt(totalMin / d, 1)}"""
         else ""))
      .getOrElse("") +
      bestSteal.map(s => s""","steal_pct":${fmt(s, 1)}""").getOrElse("") +
      (if (headlineContended) s""","contended":true""" else "")
    // multi-draw band, compact (stdout) and full (artifact) forms — only
    // emitted on stdout when a redraw actually happened, to protect the
    // driver's 2000-char window
    val drawsShort =
      if (drawsBuf.size <= 1) ""
      else s""","draws":${drawsBuf.size}""" +
        s""","draw_ratios":[${drawsBuf.map(d => fmt(d.ratio, 2)).mkString(",")}]""" +
        s""","draw_mins":[${drawsBuf.map(d => fmt(d.totalMin, 1)).mkString(",")}]"""
    val drawsFull =
      s""","draws":[${drawsBuf.map(d =>
        s"""{"value":${fmt(d.totalMin, 3)},"total_median":${fmt(d.totalMedian, 3)}""" +
          s""","med_min_ratio":${fmt(d.ratio, 3)}""" +
          d.steal.map(s => s""","steal_pct":${fmt(s, 2)}""").getOrElse("") +
          "}").mkString(",")}]""" +
        s""","draw_used":${drawsBuf.indexOf(best) + 1}"""
    // name -> failed-run count for every query with at least one failure;
    // present in BOTH json forms whenever nonEmpty, so a partial artifact
    // can never be mistaken for a healthy one
    val errorsJson =
      if (fails.isEmpty) ""
      else fails.toSeq.sortBy(_._1)
        .map { case (k, c) => s"\"" + k + "\":" + c }
        .mkString(""","errors":{""", ",", "}")
    val sf = scala.util.Try(sfDir.split('/').last.stripPrefix("sf").toDouble)
      .map(_.toString).getOrElse("\"" + sfDir + "\"")
    def build(dp: Int, keep: Int): String = {
      // keep = how many queries to inline, slowest first (they are the
      // profile that matters); the dropped tail is summarized so the
      // line still accounts for the whole total. keep >= |mins| → full map.
      // The inlined map carries the MIN values, matching the headline.
      val bySlow = mins.toSeq.sortBy { case (k, v) => (-v, k) }
      val (kept, dropped) = bySlow.splitAt(keep)
      val qs =
        if (keep <= 0) ""
        else {
          val entries = kept.sortBy(_._1)
            .map { case (k, v) => s"\"" + k + "\":" + fmt(v, dp) }
            .mkString(""","queries":{""", ",", "}")
          val omitted =
            if (dropped.isEmpty) ""
            else s""","queries_omitted":${dropped.size}""" +
              s""","queries_omitted_sum":${fmt(dropped.map(_._2).sum, 2)}"""
          entries + omitted
        }
      s"""{"metric":"total","value":${fmt(totalMin, 2)},"unit":"sec"""" +
        s""","runs":$runs,"total_median":${fmt(totalMedian, 2)}""" +
        s""","med_min_ratio":${fmt(medMinRatio, 2)}$driftJson$drawsShort$qs$errorsJson,"sf":$sf}"""
    }
    System.err.println("[bench] medians=" +
      med.map { case (k, v) => s"$k=$v" }.mkString(",") +
      " mins=" + times.map { case (k, v) => s"$k=${v.min}" }.mkString(","))
    // Full-precision artifact for plan audits: the stdout budget below can
    // force a subset, so the complete min AND median maps always land in
    // BENCH_full.json at the repo root (the driver runs Bench from there).
    // env-sourced values may be non-numeric (e.g. cpus "*"): quote those
    def jnum(s: String): String =
      if (s.nonEmpty && s.forall(_.isDigit)) s else "\"" + s + "\""
    def conf(key: String): String = spark.conf.get(s"spark.sql.$key")
    def fullMap(m: scala.collection.Map[String, Double]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + fmt(v, 3) }
        .mkString("{", ",", "}")
    // per-query med/min (VERDICT r12 #5): a contended SINGLE query is
    // machine-readable from the artifact — a ratio > ~1.15 on one row
    // with flat neighbours means that row's headline min was drawn under
    // contention, not that its plan changed; re-measure before chasing it
    val ratios = times.map { case (k, v) =>
      k -> (if (v.min > 0) median(v.toSeq) / v.min else 1.0)
    }
    val fullJson =
      s"""{"metric":"total","value":${fmt(totalMin, 3)},"unit":"sec"""" +
        s""","runs":$runs,"total_median":${fmt(totalMedian, 3)}""" +
        s""","med_min_ratio":${fmt(medMinRatio, 3)}$driftJson""" +
        s""","queries":${fullMap(mins)},"queries_median":${fullMap(med)}""" +
        s""","queries_med_min_ratio":${fullMap(ratios)}""" +
        s"""$drawsFull$errorsJson,"cpus":${jnum(Session.cpus)}""" +
        s""","shuffle_partitions":${jnum(conf("shuffle.partitions"))}""" +
        s""","initial_partitions":${conf("adaptive.coalescePartitions.initialPartitionNum")}""" +
        s""","sf":$sf}"""
    // subset runs (SPARK_GRAFT_BENCH_QUERIES) write to an override path so
    // they never clobber the driver's full-surface artifact
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (sys.env.contains("SPARK_GRAFT_BENCH_QUERIES")) "BENCH_subset.json"
      else "BENCH_full.json")
    scala.util.Try(java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fullPath), fullJson + "\n"))
      .failed.foreach(e =>
        System.err.println(s"[bench] $fullPath write FAILED (stale artifact may remain): $e"))
    // Budget: the driver keeps the last 2000 chars of the sbt output; the
    // line shares that window only with sbt's "[success] Total time..."
    // trailer (~75 chars) now that forked-run stdout passes through
    // unprefixed (build.sbt outputStrategy). Fallback order: full map at
    // centiseconds, full at deciseconds, slowest-40 with an omitted-tail
    // summary, total-only.
    val line = Seq(build(2, mins.size), build(1, mins.size), build(2, 40),
        build(2, 0))
      .find(_.length <= 1920)
      .getOrElse(build(2, 0))
    println(line)
    spark.stop()
  }
}
