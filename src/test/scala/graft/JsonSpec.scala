package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.util.Locale
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The writer every tool artifact goes through (Verify's
  * oracle_sql.json and gates.json, the Bench, StreamBench, QueryAb,
  * RecallGate and GraphScale records): each must parse back exactly. */
class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def parse(s: String): AnyRef = mapper.readValue(s, classOf[AnyRef])

  test("strings escape quote, backslash and every control character") {
    val nasty = "q\"b\\s/" + (0 until 0x20).map(_.toChar).mkString + "é end"
    val js = Json(nasty)
    assert(parse(js) == nasty)
    assert(js.forall(_ >= ' '), s"raw control character in $js")
    assert(Json("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(Json("\n\t\r\u0001\u001f") == "\"\\n\\t\\r\\u0001\\u001f\"")
  }

  test("non-finite doubles are written as null") {
    for (d <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      assert(Json(d) == "null")
      assert(Json(Json.Fixed(d, 4)) == "null")
    }
    assert(parse(Json(ListMap("x" -> Double.NaN, "y" -> Json.Fixed(Double.NegativeInfinity, 2))))
      == Map[String, AnyRef]("x" -> null, "y" -> null).asJava)
  }

  test("fixed digits print a '.' whatever the default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(Json(Json.Fixed(1234.56789, 4)) == "1234.5679")
      assert(Json(Json.Fixed(-1.0, 4)) == "-1.0000")
      assert(Json(Json.Fixed(0.125, 2)) == "0.13")
      assert(Json(Json.Fixed(2.0, 3)) == "2.000")
      assert(Json(0.5) == "0.5")
      assert(Json("\u0001") == "\"\\u0001\"")
    } finally Locale.setDefault(saved)
  }

  test("maps keep their key order; nested values round-trip") {
    val keys = Seq("zeta", "alpha", "mid", "beta", "omega", "a1", "b0", "c9", "q", "k")
    val m = ListMap(keys.zipWithIndex: _*)
    val back = parse(Json(m)).asInstanceOf[java.util.Map[String, AnyRef]]
    assert(back.keySet.asScala.toSeq == keys)
    val nested = ListMap[String, Any]("xs" -> Seq(1, 2L, true, "s"), "o" -> ListMap("n" -> Seq.empty[Int]),
      "d" -> Seq(1.5, 2.5))
    assert(Json(nested) == """{"xs":[1,2,true,"s"],"o":{"n":[]},"d":[1.5,2.5]}""")
  }

  test("oracle_sql.json and gates.json parse back to exactly SparkEntry's maps") {
    for (m <- Seq(SparkEntry.oracleSql, SparkEntry.gates)) {
      assert(m.nonEmpty)
      assert(parse(Json(m)).asInstanceOf[java.util.Map[String, String]].asScala.toMap == m)
    }
  }
}
