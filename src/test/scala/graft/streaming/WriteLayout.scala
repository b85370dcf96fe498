package graft.streaming

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What the ingest pipelines' staged writes leave behind and cost: the
  * part-file count of every leaf partition of a bucketed table, and the
  * tasks its file-writing executions run.
  */
object WriteLayout {
  /** A child session whose AQE coalesce target is ~1 KB, with skew splits
    * off, so a batch of a few hundred rows stages in many write tasks,
    * and whose shuffles start from 7 partitions, a count that (like the
    * data-derived 37 at sf10) does not divide the 16 buckets: the layout
    * must hold whatever the write-task count.
    */
  def manyTaskSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "7")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "7")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
    s2.conf.set("spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled", "false")
    s2
  }

  /** `part-` file count per leaf partition directory under `root`
    * (`batch=<id>` or `batch=<id>/kind=<k>`), keyed by the path below it.
    */
  def partFiles(s: SparkSession, root: String): Map[String, Int] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: Path, rel: String): Seq[(String, Int)] = {
      val kids = fs.listStatus(p).toSeq
      val dirs = kids.filter(k => k.isDirectory && k.getPath.getName.contains("="))
      if (dirs.isEmpty) Seq(rel -> kids.count(_.getPath.getName.startsWith("part-")))
      else dirs.flatMap(d => walk(d.getPath,
        if (rel.isEmpty) d.getPath.getName else s"$rel/${d.getPath.getName}"))
    }
    walk(rootPath, "").filter(_._1.nonEmpty).toMap
  }

  /** Runs `body` and returns the task count of each SQL execution in it
    * whose plan writes files into a path containing `target`, in
    * execution order.
    */
  def writeTasks(s: SparkSession, target: String)(body: => Unit): Seq[Int] = {
    val sc = s.sparkContext
    val tasks = mutable.LinkedHashMap.empty[Long, Int]
    val stageExec = mutable.Map.empty[Int, Long]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
              x.physicalPlanDescription.contains(target) =>
          synchronized(tasks(x.executionId) = 0)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).filter(tasks.contains)
          .foreach(id => e.stageIds.foreach(stageExec(_) = id))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        stageExec.get(e.stageId).foreach(id => tasks(id) += 1)
      }
    }
    sc.addSparkListener(listener)
    try body
    finally {
      SpecBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    listener.synchronized(tasks.values.toSeq)
  }
}
