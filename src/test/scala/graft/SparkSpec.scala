package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: graft.Session's config (UTC,
  * nanos-tolerant parquet reads, GraftExtensions) at a small fan-out for
  * test-sized data.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session(sfDir)

  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  private var shared: SparkSession = _

  // one session per JVM — suites share it so `sbt test` doesn't pay a
  // context start/stop per suite. Bench's config at a fixed local[4]:
  // suites exercise the config-registered GraftExtensions path (cluster
  // deployment), not just GraftFunctions.register
  def session(sfDir: String): SparkSession = synchronized {
    if (shared == null) shared = Session.local("4", sfDir, "ERROR")
    shared
  }
}
