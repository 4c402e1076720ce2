package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `SparkEntry.oracleSql` are views of one list of
  * records, so a query cannot lack its oracle. What is left to pin is the
  * list itself (a duplicate name would silently drop a query from both
  * maps) and the oracle text. */
class SparkEntrySpec extends AnyFunSuite {

  test("record names are unique and there are exactly 103 records") {
    val names = SparkEntry.records.map(_.name)
    assert(names.diff(names.distinct).isEmpty, "duplicate record names")
    assert(names.size == 103)
  }

  test("oracle SQL is pinned: MD5 of the sorted (name, oracleSql) pairs") {
    // each pair as "name\nsql\n", concatenated in name order, UTF-8
    val text = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (name, sql) => s"$name\n$sql\n" }.mkString
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
    assert(md5 == "931d661fb5a53c7a843ac5f342c02e99")
  }
}
