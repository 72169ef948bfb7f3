package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** oracle_sql.json must parse back to the map it was written from, or the
  * DuckDB compare reads the wrong SQL (or none). */
class VerifySpec extends AnyFunSuite {

  test("oracle_sql.json round-trips quotes, backslashes and control characters") {
    val sql = Map(
      "q_escape" -> "SELECT '\"a\"', '\\\\b' AS x\tFROM t\r\nWHERE s = '\u0001'",
      "q_plain" -> "SELECT 1")
    val json = Verify.oracleJson(sql)
    assert(!json.exists(_ < ' '), "a raw control character reached the file")
    val back = new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap == sql)
  }
}
