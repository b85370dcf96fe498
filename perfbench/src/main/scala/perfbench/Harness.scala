package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.pipeline.{KafkaPipeline, PipelineConfig}
import graft.streaming.{CorpusIngest, EmbedIngest, FuzzyIngest, IngestEvents}

/** The benchmark's JVM side: sets the program up, drives one workload
  * through its public entry points in a closed loop for a fixed amount of
  * work, and writes every raw measurement to a JSON file that `run.py`
  * turns into metrics and checks. Usage (normally started by run.py):
  *
  *   Harness <workload> <inputDir> <workDir> <seconds> <trace 0|1> <out.json>
  *
  * A pass is one fixed unit of work on fresh output directories: the whole
  * delivery backlog (pipeline, ingest) or the whole key sample (catalog).
  * A run times a fixed number of passes after one untimed warm-up pass:
  * `seconds` divided by the workload's nominal pass length (its warm pass's
  * wall on a calm 4-core host), rounded, at least one. A run that timed as
  * many passes as fit in its length would time less work on a slower host.
  */
object Harness {
  val BatchSize = 1000
  /** Auto-compaction runs on the exact manifest only: on the fuzzy index
    * it would add ~4.5 s to every run, more than the time budget holds.
    */
  val CompactEvery = 1

  final case class Op(name: String, pass: Int, var latS: Double = 0.0,
      var ok: Boolean = true, var error: String = "",
      parts: scala.collection.mutable.Map[String, Any] = scala.collection.mutable.Map.empty)

  def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds of the whole process so far (every thread, GC and JIT
    * included; time the host stole from the VM is not counted). */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** CPU seconds so far of the JVM's compiler threads and of its GC
    * threads (ParallelGC's workers), from each thread's schedstat. run.py
    * fixes the number of compiler threads, so none exits and takes its time
    * along. */
  def vmThreadCpuS(): (Double, Double) = {
    var jit, gc = 0.0
    Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty).foreach { t =>
      scala.util.Try {
        val comm = Files.readString(t.toPath.resolve("comm"))
        val isJit = comm.contains("CompilerThre")
        if (isJit || comm.startsWith("GC Thread")) {
          val s = Files.readString(t.toPath.resolve("schedstat")).split(" ")(0).toLong / 1e9
          if (isJit) jit += s else gc += s
        }
      }
    }
    (jit, gc)
  }

  /** CPU seconds so far of the process's other threads: the program's. */
  def appCpuS: Double = { val (jit, gc) = vmThreadCpuS(); cpuS - jit - gc }

  def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, secondsArg, traceArg, out) = args
    val seconds = secondsArg.toDouble
    graft.JvmGuard.assertSparkModuleAccess()
    val w: Workload = workload match {
      case "pipeline" => new PipelineWorkload(in, work)
      case "ingest" => new IngestWorkload(in, work)
      case "catalog" => new CatalogWorkload(in, work)
      case other => sys.error(s"unknown workload $other")
    }
    // Set-up: one session, then an untimed warm-up pass on it, so that JIT
    // and first-use costs stay out of the timed ops. setup_s runs from JVM
    // start to the first timed op.
    val s0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val w0 = System.nanoTime()
    w.warmUp(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val trace = if (traceArg == "1") Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val heapPools = ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gcBefore = gcMs()
    val steal0 = graft.StealMeter.sample()
    val setupS = (nowMs - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val timed = math.max(1, math.round(seconds / w.nominalPassS).toInt)
    for (pass <- 0 until timed) {
      val p0 = System.nanoTime()
      val c0 = cpuS
      val (j0, g0) = vmThreadCpuS()
      val passOps = w.runPass(spark, pass, trace)
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = cpuS - c0
      val (j1, g1) = vmThreadCpuS()
      ops ++= passOps
      passes += Map("pass" -> pass, "wall_s" -> wall, "cpu_s" -> cpu,
        "jit_cpu_s" -> (j1 - j0), "gc_cpu_s" -> (g1 - g0),
        "ops" -> passOps.length, "ok" -> passOps.forall(_.ok))
    }
    val measured = elapsed
    val steal = graft.StealMeter.stealPct(steal0, graft.StealMeter.sample())
    val gcS = (gcMs() - gcBefore) / 1e3
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    trace.foreach(_.stop())
    // Untimed: hand the outputs to the checks.
    val e0 = System.nanoTime()
    val exports = w.exportOutputs(spark, passes.length)
    val exportS = (System.nanoTime() - e0) / 1e9
    val res = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "export_s" -> exportS,
      "measured_s" -> measured,
      "passes" -> passes.toSeq,
      "ops" -> ops.toSeq.map(o => Map("name" -> o.name, "pass" -> o.pass,
        "lat_s" -> o.latS, "ok" -> o.ok, "error" -> o.error,
        "parts" -> o.parts.toMap)),
      "exports" -> exports,
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeak,
        "peak_rss_mb" -> peakRssMb()),
      "context" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> spark.sparkContext.master,
        "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "spark_version" -> spark.version,
        "steal_pct" -> steal.getOrElse(-1.0)),
      "spans" -> trace.map(_.result().map(s => Map("id" -> s.id,
        "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent, "op_id" -> s.opId, "attrs" -> s.attrs))).getOrElse(Seq.empty))
    Files.writeString(Paths.get(out), json(res))
    spark.stop()
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def peakRssMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Wraps one operation: failures are recorded, never rethrown. */
  def attempt(op: Op)(body: => Unit): Op = {
    try body catch { case e: Throwable =>
      op.ok = false
      op.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      System.err.println(s"[perfbench] ${op.name} FAILED: ${op.error}")
    }
    op
  }

  /** The result file's JSON (maps, sequences, scalars). */
  def json(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats)
}

trait Workload {
  /** Untimed work on the measured session before timing starts: one pass
    * of the workload, which warms every code path a timed pass takes. */
  def warmUp(spark: SparkSession): Unit = runPass(spark, -1, None)
  /** Wall seconds of one warm pass on a calm 4-core host. */
  def nominalPassS: Double
  /** One timed pass; returns its ops with their latencies. */
  def runPass(spark: SparkSession, pass: Int, trace: Option[Trace]): Seq[Harness.Op]
  /** After timing: write what the correctness checks read. */
  def exportOutputs(spark: SparkSession, passes: Int): Map[String, Any]
}

/** Shared by the two streaming workloads: drain a file backlog through one
  * query, one delivery file per trigger, and read back its triggers.
  */
object Streams {
  def source(spark: SparkSession, dir: String, glob: String = "*.parquet"): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    KafkaPipeline.fileStream(spark, dir, schema, glob = glob,
      options = Map("maxFilesPerTrigger" -> "1"))
  }

  /** Runs the query to completion; non-empty triggers by batch id. */
  def drain(q: StreamingQuery): Map[Long, StreamingQueryProgress] = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.filter(_.numInputRows > 0).map(p => p.batchId -> p).toMap
  }

  /** Order in which MicroBatchExecution runs a trigger's timed slots. */
  val Slots = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** A traced trigger is its own op (a delivery's triggers in different
    * sinks are seconds apart, so one op span per delivery would overlap
    * the others): op → trigger span → its slots. A progress report gives
    * each slot's duration but not its start, so the slots are laid end to
    * end from the trigger's start and marked `slot`: listener spans hang
    * under the trigger, never under a slot, and analyze.py charges the
    * Spark work inside the trigger to its addBatch slot.
    */
  def traceTrigger(t: Trace, layer: String, p: StreamingQueryProgress,
      opId: Int, delivery: String, pass: Int): Unit = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = durations(p)
    val end = start + d.getOrElse("triggerExecution", 0L)
    t.opId = opId
    val op = t.add("op", start, end,
      attrs = Map("name" -> delivery, "sink" -> layer, "pass" -> pass))
    val id = t.add(layer, start, end, parent = op,
      attrs = Map("batch" -> p.batchId, "rows" -> p.numInputRows))
    var at = start
    Slots.foreach { s =>
      d.get(s).filter(_ > 0).foreach { ms =>
        val name = if (s == "queryPlanning") "spark.plan.query_planning" else s"$layer.$s"
        t.add(name, at, at + ms, parent = id, attrs = Map("slot" -> true))
        at += ms
      }
    }
  }

  /** Trace every trigger of a pass, numbering ops by pass, sink, batch. */
  def traceAll(t: Trace, pass: Int,
      bySink: Seq[(String, Map[Long, StreamingQueryProgress])]): Unit =
    bySink.zipWithIndex.foreach { case ((layer, triggers), k) =>
      triggers.foreach { case (b, p) =>
        traceTrigger(t, layer, p, (pass * 10 + k) * 10000 + b.toInt,
          s"delivery_$b", pass)
      }
    }

  def durations(p: StreamingQueryProgress): Map[String, Long] =
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap

  /** One timed pass over a backlog of `deliveries` files: `drainAll` runs
    * every query of the workload; each delivery's op gets its trigger in
    * every query (plus `extra` facts), and a delivery that some query never
    * committed, or a pass that throws, fails its ops.
    */
  def timedPass(deliveries: Int, pass: Int, trace: Option[Trace])(
      drainAll: => Seq[(String, Map[Long, StreamingQueryProgress])])(
      extra: (String, Int) => Map[String, Any]): Seq[Harness.Op] = {
    val ops = (0 until deliveries).map(i => Harness.Op(s"delivery_$i", pass))
    try {
      val byQuery = drainAll
      ops.zipWithIndex.foreach { case (op, i) =>
        byQuery.foreach { case (name, triggers) =>
          triggers.get(i.toLong) match {
            case Some(p) =>
              val d = durations(p)
              op.latS += d("triggerExecution") / 1e3
              op.parts(name) = d ++ Map("rows" -> p.numInputRows) ++ extra(name, i)
            case None =>
              op.ok = false
              op.error = s"$name committed no trigger for delivery $i"
          }
        }
      }
      trace.foreach(traceAll(_, pass, byQuery))
    } catch { case e: Throwable =>
      ops.foreach { op => op.ok = false; op.error = e.toString.take(300) }
      System.err.println(s"[perfbench] pass $pass FAILED: $e")
    }
    ops
  }
}

/** Kafka-schema delivery files → fidelity projection → parquetSink, then
  * the same backlog → fidelityFileSink. One op = one delivery, its latency
  * the sum of its trigger in each sink.
  */
final class PipelineWorkload(in: String, work: String) extends Workload {
  private val files = new java.io.File(in).list().count(_.endsWith(".parquet"))

  private def sinks(spark: SparkSession, dir: String, glob: String)
      : Seq[(String, Map[Long, StreamingQueryProgress])] = {
    val src = Streams.source(spark, in, glob)
    val parquet = PipelineConfig(batchSize = Harness.BatchSize,
      outputDir = s"$dir/parquet/out", checkpointDir = s"$dir/parquet/chk")
    KafkaPipeline.initOutput(parquet.outputDir)
    val p = Streams.drain(KafkaPipeline.parquetSink(
      KafkaPipeline.payloadAsString(src)
        .select(col("b"), col("partition"), col("offset")), parquet).start())
    val fidelity = PipelineConfig(batchSize = Harness.BatchSize,
      outputDir = s"$dir/fidelity/out", checkpointDir = s"$dir/fidelity/chk")
    KafkaPipeline.initOutput(fidelity.outputDir)
    val f = Streams.drain(KafkaPipeline.fidelityFileSink(src, fidelity).start())
    Seq("pipeline.parquet" -> p, "pipeline.fidelity" -> f)
  }

  def nominalPassS: Double = 5.0

  def runPass(spark: SparkSession, pass: Int, trace: Option[Trace]): Seq[Harness.Op] =
    Streams.timedPass(files, pass, trace)(
      sinks(spark, s"$work/pass$pass", "*.parquet"))((_, _) => Map.empty)

  def exportOutputs(spark: SparkSession, passes: Int): Map[String, Any] =
    Map("pass_dirs" -> (0 until passes).map(p => s"$work/pass$p"))
}

/** Documents → dedupIngest and fuzzyIngest, embeddings → embedIngest,
  * one delivery file per trigger. One op = one delivery, its latency the
  * sum of its trigger in each of the three pipelines.
  */
final class IngestWorkload(in: String, work: String) extends Workload {
  private val deliveries =
    new java.io.File(s"$in/docs").list().count(_.endsWith(".parquet"))

  private def run(spark: SparkSession, dir: String, glob: String)
      : Seq[(String, Map[Long, StreamingQueryProgress])] = {
    // the catalog's *_incremental keys' bloom sizing for rehearsal corpora
    spark.conf.set(CorpusIngest.CapacityConf, (1L << 16).toString)
    val docs = Streams.source(spark, s"$in/docs", glob)
    val vecs = Streams.source(spark, s"$in/vecs", glob)
    Seq(
      "streaming.corpus" -> Streams.drain(CorpusIngest.dedupIngest(docs, s"$dir/corpus",
        s"$dir/chk_corpus", compactEvery = Harness.CompactEvery)),
      "streaming.fuzzy" -> Streams.drain(FuzzyIngest.fuzzyIngest(docs, s"$dir/fuzzy",
        s"$dir/chk_fuzzy")),
      "streaming.embed" -> Streams.drain(EmbedIngest.embedIngest(vecs, s"$dir/embed",
        s"$dir/chk_embed")))
  }

  def nominalPassS: Double = 17.0

  def runPass(spark: SparkSession, pass: Int, trace: Option[Trace]): Seq[Harness.Op] = {
    IngestEvents.clear()
    Streams.timedPass(deliveries, pass, trace)(
      run(spark, s"$work/pass$pass", "*.parquet")) { (name, i) =>
      val kind = name.stripPrefix("streaming.")
      val ev = IngestEvents.recent().find(e => e.pipeline == s"${kind}_ingest" && e.batchId == i)
      Map("compacted" -> (kind == "corpus" && i > 0 && i % Harness.CompactEvery == 0),
        "unique_in" -> ev.map(_.uniqueIn).getOrElse(-1L),
        "appended" -> ev.map(_.appended).getOrElse(-1L),
        "bloom_probable" -> ev.map(_.bloomProbable).getOrElse(-1L))
    }
  }

  def exportOutputs(spark: SparkSession, passes: Int): Map[String, Any] = {
    val dirs = (0 until passes).map { p =>
      val d = s"$work/pass$p"
      scala.util.Try {
        CorpusIngest.manifest(spark, s"$d/corpus").select(col("doc_id"))
          .write.parquet(s"$d/export/corpus")
        FuzzyIngest.index(spark, s"$d/fuzzy").select(col("doc_id"))
          .write.parquet(s"$d/export/fuzzy")
        EmbedIngest.index(spark, s"$d/embed").select(col("vec_id"))
          .write.parquet(s"$d/export/embed")
      }.failed.foreach(e => System.err.println(s"[perfbench] export pass $p: $e"))
      d
    }
    Map("pass_dirs" -> dirs)
  }
}

/** A fixed sample of catalog keys, each through the noop sink then
  * clearCache(), as graft.Bench times them. One op = one key.
  */
final class CatalogWorkload(in: String, work: String) extends Workload {
  private val keys = Files.readAllLines(Paths.get(s"$in/keys.txt")).asScala
    .map(_.trim).filter(_.nonEmpty).toSeq
  private val family: Map[String, String] = Seq(
    "relational" -> graft.catalog.RelationalQueries.queries.keySet,
    "function" -> graft.catalog.FunctionQueries.queries.keySet,
    "streaming" -> graft.catalog.StreamingQueries.queries.keySet,
    "llm" -> graft.catalog.LlmQueries.queries.keySet)
    .flatMap { case (f, ks) => ks.map(_ -> f) }.toMap
  private val verify = s"$work/verify"

  def nominalPassS: Double = 6.5

  def runPass(spark: SparkSession, pass: Int, trace: Option[Trace]): Seq[Harness.Op] =
    keys.zipWithIndex.map { case (key, i) =>
      val op = Harness.Op(key, pass)
      trace.foreach(_.opId = pass * 100000 + i)
      val fam = family.getOrElse(key, "unknown")
      val c0 = Harness.appCpuS
      val t0 = Harness.nowMs
      var t1 = t0
      var df: DataFrame = null
      Harness.attempt(op) {
        df = graft.SparkEntry.queries(key)(spark, in)
        t1 = Harness.nowMs
        df.write.format("noop").mode("overwrite").save()
      }
      val t2 = Harness.nowMs
      op.parts("cpu_s") = Harness.appCpuS - c0
      spark.catalog.clearCache()
      op.latS = (t2 - t0) / 1e3
      op.parts("family") = fam
      op.parts("build_s") = (t1 - t0) / 1e3
      trace.foreach { t =>
        val id = t.add("op", t0, t2, attrs = Map("name" -> key, "pass" -> pass))
        t.add("catalog.build", t0, t1, parent = id)
        t.add(s"catalog.$fam", t1, t2, parent = id)
        // the key's DataFrame was analyzed eagerly while it was built; no
        // listener sees that phase, its own planning tracker does
        if (df != null) df.queryExecution.tracker.phases.get("analysis").foreach { p =>
          t.add("spark.plan.analysis", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
      }
      op
    }

  private var dumpFailed = Map.empty[String, String]

  /** The warm-up pass dumps each key's result as graft.Verify dumps it,
    * for the checks: the same keys, each through a parquet sink instead of
    * the noop one, then clearCache().
    */
  override def warmUp(spark: SparkSession): Unit =
    dumpFailed = keys.flatMap { key =>
      val r = scala.util.Try(graft.SparkEntry.queries(key)(spark, in)
        .coalesce(1).write.mode("overwrite").parquet(s"$verify/$key"))
      spark.catalog.clearCache()
      r.failed.toOption.map(e => key -> e.toString.take(300))
    }.toMap

  /** After timing: the oracle files tools/check_oracle.py reads next to the
    * dumps, restricted to the sample.
    */
  def exportOutputs(spark: SparkSession, passes: Int): Map[String, Any] = {
    Files.createDirectories(Paths.get(verify))
    val sample = keys.toSet
    Files.writeString(Paths.get(s"$verify/oracle_sql.json"), Harness.json(
      graft.SparkEntry.oracleSql.filter { case (k, _) => sample(k) }))
    Files.writeString(Paths.get(s"$verify/tolerance_oracle.json"), Harness.json(
      graft.SparkEntry.toleranceOracle.collect { case (k, (sql, tol)) if sample(k) =>
        k -> Map("sql" -> sql, "tolerance" -> tol) }))
    Map("verify_dir" -> verify, "dump_failed" -> dumpFailed)
  }
}
