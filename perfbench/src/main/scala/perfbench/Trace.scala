package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds. `parent` is the id of
  * the span that caused this one; spans recorded by listeners get theirs
  * by interval containment when the run is written out.
  */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, opId: Int, attrs: Map[String, Any])

/** In-memory span recorder for the traced run. The harness records `op`
  * spans and the layer slots around its calls into the program; Spark's
  * listener bus and the JVM's GC notifications supply the `spark.plan.*`,
  * `spark.job`, `spark.stage` and `jvm.gc` spans beneath them. Nothing is
  * written until the run ends.
  */
final class Trace(spark: SparkSession) {
  private val spans = ArrayBuffer.empty[Span]
  @volatile var opId: Int = -1

  def add(name: String, start: Double, end: Double, parent: Int = -1,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = spans.length
    spans += Span(id, name, start, end, parent, opId, attrs)
    id
  }

  // ---- Spark: jobs, stages, tasks -----------------------------------
  private final class TaskAgg(val durs: ArrayBuffer[Double] = ArrayBuffer.empty,
      var gcMs: Long = 0, var shufR: Long = 0, var shufW: Long = 0,
      var spill: Long = 0)
  private val tasks = scala.collection.mutable.Map.empty[(Int, Int), TaskAgg]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobStarts(e.jobId) = (e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, stages) =>
        val id = add("spark.job", t0.toDouble, e.time.toDouble,
          attrs = Map("job" -> e.jobId))
        stages.foreach(stageJob(_) = id)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskAgg())
        a.durs += m.executorRunTime.toDouble
        a.gcMs += m.jvmGCTime
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val si = e.stageInfo
        val a = tasks.remove((si.stageId, si.attemptNumber())).getOrElse(new TaskAgg())
        for (t0 <- si.submissionTime; t1 <- si.completionTime) {
          val sorted = a.durs.sorted
          add("spark.stage", t0.toDouble, t1.toDouble,
            parent = stageJob.getOrElse(si.stageId, -1),
            attrs = Map("stage" -> si.stageId, "tasks" -> sorted.length,
              "task_busy_ms" -> sorted.sum,
              "task_max_ms" -> sorted.lastOption.getOrElse(0.0),
              "task_median_ms" -> (if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2)),
              "task_gc_ms" -> a.gcMs, "shuffle_read_bytes" -> a.shufR,
              "shuffle_write_bytes" -> a.shufW, "spill_bytes" -> a.spill))
        }
      }
  }

  // ---- Catalyst phases of every completed query execution --------------
  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        add(s"spark.plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  // ---- stop-the-world GC pauses ------------------------------------------
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        if (!info.getGcName.contains("Concurrent")) {
          val g = info.getGcInfo
          add("jvm.gc", (jvmStart + g.getStartTime).toDouble,
            (jvmStart + g.getEndTime).toDouble,
            attrs = Map("collector" -> info.getGcName))
        }
      }
  }
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case b: NotificationEmitter => b }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    gcBeans.foreach(_.addNotificationListener(gcListener, null, null))
  }

  /** Detach, after every queued listener event has been delivered. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    gcBeans.foreach(b => scala.util.Try(b.removeNotificationListener(gcListener)))
  }

  /** Kinds a listener span may hang under, innermost last. */
  private def rank(name: String): Int =
    if (name == "op") 0
    else if (name.startsWith("spark.job")) 3
    else if (name.startsWith("spark.stage")) 4
    else if (name.startsWith("spark.plan.") && name.count(_ == '.') == 2) 3
    else if (name.startsWith("jvm.")) 5
    else 1

  /** Every span, with listener spans parented by containment and tagged
    * with their op. A trigger's slots host no listener span: their
    * positions are laid out, not measured. Spans outside every op (set-up,
    * checks) are dropped.
    */
  def result(): Seq[Span] = synchronized {
    val all = spans.toIndexedSeq
    val resolved = all.map { s =>
      if (s.parent >= 0 || s.name == "op") s
      else {
        val r = rank(s.name)
        val host = all.filter(h => h.id != s.id && rank(h.name) < r &&
            !h.attrs.contains("slot") &&
            h.start <= s.start + 1 && s.end <= h.end + 1)
          .sortBy(h => (-rank(h.name), h.end - h.start)).headOption
        s.copy(parent = host.map(_.id).getOrElse(-1))
      }
    }
    val byId = resolved.map(s => s.id -> s).toMap
    def opOf(s: Span): Int =
      if (s.name == "op") s.opId
      else byId.get(s.parent).map(opOf).getOrElse(-1)
    resolved.flatMap { s =>
      val op = opOf(s)
      if (op < 0) None else Some(s.copy(opId = op))
    }
  }
}
