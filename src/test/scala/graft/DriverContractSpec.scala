package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract: the registry's query names and their DuckDB
  * oracles. No Spark session is needed — the registry is plain data.
  */
class DriverContractSpec extends AnyFunSuite {

  private val names = SparkEntry.all.map(_.name)

  test("the registry declares 235 queries, each name once") {
    assert(names.size == 235)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString("duplicates: ", ", ", ""))
  }

  test("every query has exactly one oracle, and no oracle is blank") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, blank.mkString("blank oracles: ", ", ", ""))
  }

  test("every name a Bench section schedules is a registry query") {
    val unknown = Bench.scheduledNames.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, unknown.mkString("unknown: ", ", ", ""))
  }

  test("query names and oracle text match the pinned contract") {
    val md = MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (n, sql) =>
      md.update(n.getBytes(UTF_8)); md.update(0.toByte)
      md.update(sql.getBytes(UTF_8)); md.update(0.toByte)
    }
    val sha = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(sha == "e597f67e66c883aaff249f90a830ade502b0366485fcbeb0826bff39bfe81ecd",
      "query names and oracle text are the fixed driver contract (ROADMAP " +
        "aim 2): a renamed query or an edited oracle changes what the " +
        "correctness gate compares, so change them only on purpose and " +
        "re-pin this hash in the same change")
  }
}
