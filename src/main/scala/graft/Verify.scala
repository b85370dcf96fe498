package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // Bench's session, so the oracle checks the splits Bench times
    val spark = Session.local(Session.cpus, sfDir, "WARN")
    new java.io.File(outDir).mkdirs()
    // optional 3rd+ args: restrict to named queries (local iteration only;
    // the driver passes exactly two args → full run)
    val subset = args.drop(2).toSet
    val selected =
      if (subset.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => subset(k) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // deterministic cache lifetime (ADVICE r9): drop the query's
      // persisted gram/score frames instead of letting 143 queries'
      // MEMORY_AND_DISK blocks ride LRU eviction
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Approx-family tolerance oracles (VERDICT r8 item 7): exact SQL +
    // relative band for the sketch-valued queries oracle_sql.json cannot
    // hash-match. tools/check_oracle.py consumes this; a driver that
    // adopts it gains TOLOK rows for agg_approx_* instead of rows-only.
    val tolJson = SparkEntry.toleranceOracle
      .map { case (k, (sql, tol)) =>
        s"${q(k)}: {${q("sql")}: ${q(sql)}, ${q("tolerance")}: $tol}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/tolerance_oracle.json"), tolJson)
    spark.stop()
  }
}
