package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's oracle_sql.json writer: the DuckDB SQL must read back exactly,
  * whatever characters a gate's oracle contains. */
class VerifySpec extends AnyFunSuite {

  test("oracle_sql.json round-trips SQL with control characters, quotes " +
      "and backslashes") {
    val sql = Map(
      "odd" -> "SELECT '\t' AS tab,\r\n 'a\"b' AS q, 'c\\d' AS bs, '\u0001' AS ctl",
      "plain" -> "SELECT 1")
    val back = Json.mapper.readTree(Verify.oracleJson(sql))
    assert(back.size == sql.size)
    sql.foreach { case (k, v) => assert(back.path(k).asText == v) }
  }

  test("oracle_sql.json holds every oracled gate") {
    val back = Json.mapper.readTree(Verify.oracleJson(SparkEntry.oracleSql))
    assert(back.size == SparkEntry.oracleSql.size)
    SparkEntry.oracleSql.foreach { case (k, v) => assert(back.path(k).asText == v) }
  }
}
