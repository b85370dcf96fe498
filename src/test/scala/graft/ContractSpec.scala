package graft

/** Driver-contract invariants: every oracle key has a query, the entry
  * query returns rows, and names stay collision-free across catalogs.
  * Plus the entry-point contract, read from the `src/main` sources: every
  * main runs the JDK module-option guard before any session exists, and
  * `graft.Session` is the one place Bench's session config is built.
  */
class ContractSpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("catalog names are collision-free") {
    val cats = Seq(
      catalog.RelationalQueries.queries, catalog.FunctionQueries.queries,
      catalog.StreamingQueries.queries, catalog.LlmQueries.queries)
    val total = cats.map(_.size).sum
    assert(SparkEntry.queries.size == total,
      "a query key is shadowed across catalogs")
  }

  test("entry (t1 smoke) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL mentions every output column name of its spark twin") {
    // cheap guard against the rename-in-one-place bug the driver's
    // sorted-column hash compare would flag late
    val skip = Set("llm_dedup_ngram") // alias appears via subquery projection
    for ((name, fn) <- SparkEntry.queries if SparkEntry.oracleSql.contains(name)
         if !skip(name)) {
      val sql = SparkEntry.oracleSql(name).toLowerCase
      val cols = fn(spark, sfDir).schema.fieldNames
      val missing = cols.filterNot(c => sql.contains(c.toLowerCase))
      assert(missing.isEmpty, s"$name: oracle SQL lacks columns ${missing.toSeq}")
    }
  }

  test("every main calls JvmGuard before any session exists") {
    val guard = """(?<!def )(JvmGuard\.)?assertSparkModuleAccess\(\)""".r
    val session = s"${ContractSpec.builder}|getOrCreate\\(".r
    def at(re: scala.util.matching.Regex, text: String): Int =
      re.findFirstMatchIn(text).map(_.start).getOrElse(-1)
    // graft.Session counts as the guard only because it guards first
    val factory = ContractSpec.source("graft/Session.scala")
    assert(at(guard, factory) >= 0 && at(guard, factory) < at(session, factory),
      "graft.Session must call JvmGuard.assertSparkModuleAccess() before its builder")
    val viaFactory = """(?<![A-Za-z])Session\.local\(""".r
    for ((file, text) <- ContractSpec.mainFiles) {
      val guards = Seq(at(guard, text), at(viaFactory, text)).filter(_ >= 0)
      val first = guards.minOption.getOrElse(-1)
      val sess = at(session, text)
      assert(first > text.indexOf("def main("),
        s"$file: main never calls JvmGuard.assertSparkModuleAccess() or Session.local")
      assert(sess < 0 || first < sess, s"$file: a session is built before the guard")
    }
  }

  test("SparkSession.builder appears only in graft.Session and the reference CLIs") {
    val builders = ContractSpec.mainSources.collect {
      case (file, text) if ContractSpec.builder.findFirstIn(text).isDefined => file
    }.toSet
    assert(builders == Set("graft/Session.scala", "graft/pipeline/PipelineCli.scala",
      "graft/pipeline/IndexCli.scala"),
      "build the session through graft.Session instead of a copied builder")
  }

  test("no library source under operators, streaming, catalog or functions reads the environment") {
    val readers = ContractSpec.mainSources.collect {
      case (file, text) if ContractSpec.libraryDirs.exists(d => file.startsWith(s"graft/$d/")) &&
          ContractSpec.envRead.findFirstIn(text).isDefined => file
    }
    assert(readers.isEmpty,
      s"runtime knobs belong in the mains, graft.Session and the CLIs; found env reads in $readers")
  }
}

object ContractSpec {
  private val root = java.nio.file.Paths.get("src/main/scala")
  val builder = """SparkSession\s*\.\s*builder""".r
  val envRead = """sys\s*\.\s*env\b|System\s*\.\s*getenv""".r
  val libraryDirs = Seq("operators", "streaming", "catalog", "functions")

  /** (path under src/main/scala, text) of every main source file. */
  lazy val mainSources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
      .sortBy(_._1)
  }

  def source(file: String): String =
    mainSources.collectFirst { case (`file`, text) => text }
      .getOrElse(throw new NoSuchElementException(file))

  /** The main sources that define `def main(`. */
  def mainFiles: Seq[(String, String)] =
    mainSources.filter(_._2.contains("def main("))

  /** Fully qualified names of the objects that define `def main(`. */
  def mainObjects: Set[String] = mainFiles.map { case (file, text) =>
    val pkg = """(?m)^package ([\w.]+)""".r.findFirstMatchIn(text).map(_.group(1))
      .getOrElse(throw new IllegalStateException(s"$file: no package"))
    val obj = """object (\w+)""".r.findAllMatchIn(text.take(text.indexOf("def main(")))
      .map(_.group(1)).toSeq.lastOption
      .getOrElse(throw new IllegalStateException(s"$file: main outside an object"))
    s"$pkg.$obj"
  }.toSet
}
