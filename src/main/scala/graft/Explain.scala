package graft

/** Plan-inspection utility: `runMain graft.Explain <sfDir> <query...>`
  * prints each query's formatted physical plan and wall time — the
  * iterate-on-the-plan loop (SURVEY §7: explain until it's the plan you
  * want, not the first one that passes).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(Session.cpus, sfDir, "WARN")
    names.foreach { name =>
      println(s"========== $name ==========")
      graft.operators.Dedup.lastRounds = -1
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      // connected-components queries iterate during construction; surface
      // how many star rounds that took at this SF (see EXPLAINS.md)
      if (graft.operators.Dedup.lastRounds >= 0)
        println(s"ccRounds=${graft.operators.Dedup.lastRounds}")
    }
    spark.stop()
  }
}
