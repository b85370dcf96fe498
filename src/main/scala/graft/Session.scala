package graft

import org.apache.spark.sql.SparkSession

/** The one local-session config Bench, Verify, JudgeSmoke, Explain,
  * ScaleUp and the test suite run under, so the session the oracle
  * verifies is the session Bench times (same splits, same extensions).
  * The reference CLIs (`pipeline.PipelineCli`, `pipeline.IndexCli`) keep
  * their own deliberately default sessions.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`: the `local[N]` width of every main (default 4). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Runs the JDK module-option guard, then builds (or joins) the session
    * for `local[cpus]` reading from `sfDir`. `sfDir` sizes the initial
    * AQE partition count; `logLevel` is the SparkContext log level.
    */
  def local(cpus: String, sfDir: String, logLevel: String): SparkSession = {
    JvmGuard.assertSparkModuleAccess()
    // Shuffle-partition override for scale rehearsals (r13): the default
    // (= cpus) is sized for sf0.1 — at sf10 a corpus-sized shuffle body
    // split 32 ways spills, which is a LOCAL-BENCH artifact (a cluster
    // sizes initialPartitionNum to the data; AQE then coalesces down,
    // but never splits an oversized uniform shuffle up). The decade
    // analysis uses this to separate spill effects from plan shape.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // AQE sizes DOWN, never up: with initialPartitionNum at the plain
    // shuffle count (32), every corpus-sized exchange at rehearsal scale
    // sorts ≥1 GB per task and spills — the r18 sf100 walls
    // (llm_dedup_substring 597 s, the ann join's 315 s output sort) were
    // exactly this local-bench artifact, and both collapsed at 128
    // partitions (BENCH_walls_p128_sf100_r18.json). A cluster sets a
    // generous initial count and lets AQE coalesce small exchanges back
    // to few tasks; mirroring that here keeps sf0.1 plans unchanged
    // post-coalesce while rehearsal-scale exchanges split to fit memory.
    // An EXPLICIT shuffle-partition override is used verbatim (ADVICE
    // r18): the env is documented as the sweep knob, so flooring it at
    // 256 made pre-r18 low-partition behavior (the plain-32 spill
    // baseline) unreproducible. SPARK_GRAFT_INITIAL_PARTITIONS overrides
    // independently; only the no-env default derives a floor.
    //
    // The default floor is sized to the DATA, not fixed (r19): the r18
    // fixed-256 floor was bisected as a measured 2-3x tax on the
    // micro-batch ingest rows at sf0.1 (same subset, same box:
    // llm_dedup_incremental 7.7 s at 32 initial partitions vs 17.5 s at
    // 256; stream_curation_pipeline 6.8 vs 20.4 — every foreachBatch
    // body is a batch plan whose tiny exchanges each pay the 256-bucket
    // fixed cost, dozens of micro-batches per query). A cluster sizes
    // initialPartitionNum to the data and lets AQE coalesce; Bench now
    // does the same: one initial partition per 32 MB of source parquet,
    // clamped to [shuffle.partitions, 1024]. sf0.1 (17 MB) -> 32 = the
    // pre-r18 plans; sf10 (1.2 GB) -> ~37; sf100 (12.7 GB) -> ~400 —
    // MORE headroom than the fixed 256 for the rehearsal-scale spill
    // walls the floor exists for (llm_dedup_substring 597 -> 144-242 s
    // at >=128 partitions, BENCH_walls_p128_sf100_r18.json).
    def dirBytes(dir: String): Long =
      scala.util.Try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p))
          .map(p => java.nio.file.Files.size(p)).sum
      }.getOrElse(0L)
    val initialPartitions =
      sys.env.get("SPARK_GRAFT_INITIAL_PARTITIONS")
        .orElse(sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"))
        .flatMap(s => scala.util.Try(s.toInt).toOption)
        .getOrElse {
          val shuf = scala.util.Try(shufflePartitions.toInt).getOrElse(32)
          val fromData = dirBytes(sfDir) / (32L * 1024 * 1024)
          math.max(shuf, math.min(1024L, fromData).toInt)
        }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // ContextCleaner frees shuffle files / broadcasts only on GC; a
      // multi-query session otherwise accumulates state until execution
      // degrades (measured 57s → 338s over 57 queries). 30s periodic GC
      // keeps the session flat.
      .config("spark.cleaner.periodicGC.interval", "30s")
      // sf0.1 files are under the 128 MB default split size, so every
      // map stage would serialize on ONE core — split finer so local[N]
      // exercises the multi-partition plans a cluster would run.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
