package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins README.md's declared surface counts to the LIVE surface
  * (VERDICT r7 item 6: the counts drifted one round stale twice). No
  * SparkSession needed — this is pure map arithmetic vs the doc text.
  */
class ReadmeCountsSpec extends AnyFunSuite {

  private lazy val readme = {
    val p = java.nio.file.Paths.get("README.md")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  private def firstGroup(pattern: String): Int = {
    val m = pattern.r.findFirstMatchIn(readme)
      .getOrElse(fail(s"README.md no longer contains /$pattern/ — " +
        "update the count there AND this spec's anchor together"))
    m.group(1).toInt
  }

  test("README query-key count equals SparkEntry.queries.size") {
    assert(firstGroup("""query surface \((\d+) keys\)""") ==
      SparkEntry.queries.size)
  }

  test("README hash-verified count equals SparkEntry.oracleSql.size") {
    assert(firstGroup("""\((\d+) hash-verified""") ==
      SparkEntry.oracleSql.size)
  }

  test("README adversarial-sweep count equals the oracle surface") {
    // the sweep replays every oracle-declared query on the adversarial
    // fixtures, so its N/N must track oracleSql.size
    assert(firstGroup("""(\d+)/\d+\s*\n?\s*hash-match""") ==
      SparkEntry.oracleSql.size)
  }

  test("README rows-only count equals queries minus oracles") {
    assert(firstGroup("""with unit coverage otherwise \((\d+),""") ==
      SparkEntry.queries.size - SparkEntry.oracleSql.size)
  }

  test("every oracle key exists in queries (driver would NODUMP otherwise)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("README's entry-point list names exactly the mains in src/main") {
    val para = """(?s)- Entry points.*?(?=\n\s*\n)""".r.findFirstIn(readme)
      .getOrElse(fail("README.md no longer has its '- Entry points' list"))
    val listed = """`(graft\.[\w.]+)""".r.findAllMatchIn(para).map(_.group(1)).toSet
    assert(listed == ContractSpec.mainObjects,
      s"README lists ${listed.toSeq.sorted}; src/main defines " +
        ContractSpec.mainObjects.toSeq.sorted)
  }
}
