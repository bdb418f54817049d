package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The Verify preflight guard (round-5 lesson): the driver's comparator
  * coerces DecimalType cells to float on one side only, so a raw decimal
  * output column hash-mismatches even when values are identical
  * ("1234.5" vs "1234.50"). q152 shipped one and cost a round; this guard
  * makes the next violation fail loudly at dump time instead.
  */
class VerifyGuardSpec extends AnyFunSuite {

  test("trips on a DecimalType output column, naming it") {
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("revenue", DecimalType(38, 2))))
    val e = intercept[IllegalArgumentException] {
      Verify.assertNoDecimalOutput("q_decimal_test", schema)
    }
    assert(e.getMessage.contains("revenue"))
    assert(e.getMessage.contains("q_decimal_test"))
  }

  test("passes a schema whose sums were cast to DOUBLE (Num.dsum rule)") {
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("revenue", DoubleType)))
    Verify.assertNoDecimalOutput("q_ok", schema) // must not throw
  }

  test("trips on decimals nested anywhere in the top-level column list") {
    val schema = StructType(Seq(
      StructField("a", StringType),
      StructField("b", DecimalType(10, 0)),
      StructField("c", DecimalType(38, 6))))
    val e = intercept[IllegalArgumentException] {
      Verify.assertNoDecimalOutput("q_two", schema)
    }
    assert(e.getMessage.contains("b") && e.getMessage.contains("c"))
  }

  // ---- oracle_sql.json strict round-trip (round-7 lesson: the driver's
  // t2 record arrived as `{}` once; the builder-side failure mode must
  // be ruled out mechanically, not by eyeballing the emitted file) ----

  private val nasty = Map(
    "q1_agg" -> "SELECT 1 AS a",
    "q2_quotes" -> """SELECT 'it''s "quoted"' AS s""",
    "q3_ctl" -> "SELECT\n\t'tabandctl' AS s,\r\n '\\back\\slash'")

  test("oracleJson → strict parse round-trips keys and values exactly") {
    Verify.assertOracleRoundTrip(Verify.oracleJson(nasty), nasty)
  }

  test("round-trip check names missing / extra / drifted entries") {
    val emitted = Verify.oracleJson((nasty - "q1_agg") ++
      Map("q2_quotes" -> "SELECT 2", "q_extra" -> "SELECT 3"))
    val e = intercept[IllegalArgumentException] {
      Verify.assertOracleRoundTrip(emitted, nasty)
    }
    assert(e.getMessage.contains("q1_agg"), "missing key named")
    assert(e.getMessage.contains("q_extra"), "extra key named")
    assert(e.getMessage.contains("q2_quotes"), "drifted key named")
  }

  test("a malformed emit fails the strict parse loudly") {
    intercept[Exception] {
      Verify.assertOracleRoundTrip("""{"q1": "SELECT 1",}""", nasty)
    }
    intercept[Exception] { // the round-7 driver symptom: a non-object
      Verify.assertOracleRoundTrip("null", nasty)
    }
    intercept[Exception] { // value not a string
      Verify.assertOracleRoundTrip("""{"q1": 42}""", Map("q1" -> "42"))
    }
  }

  test("the real SparkEntry oracle map round-trips (all entries)") {
    val m = SparkEntry.oracleSql
    assert(m.size > 150, s"oracle map unexpectedly small: ${m.size}")
    Verify.assertOracleRoundTrip(Verify.oracleJson(m), m)
  }

  // ---- the same discipline on the perf record: the driver json.loads
  // the bench line, so a malformed emit would zero the round's bench ----

  test("a well-formed bench line round-trips") {
    Bench.assertBenchRoundTrip(
      """{"metric":"total","value":1.5,"unit":"sec","failed":[],"queries":{"q1":1.0,"q2":0.5},"sf":"x"}""",
      Set("q1", "q2"))
  }

  test("bench-line drift and malformation fail loudly") {
    val e = intercept[IllegalArgumentException] {
      Bench.assertBenchRoundTrip(
        """{"value":1.0,"queries":{"q1":1.0}}""", Set("q1", "q_gone"))
    }
    assert(e.getMessage.contains("q_gone"))
    intercept[Exception] { // malformed JSON
      Bench.assertBenchRoundTrip("""{"queries":{"q1":1.0},}""", Set("q1"))
    }
    intercept[IllegalArgumentException] { // missing queries object
      Bench.assertBenchRoundTrip("""{"value":1.0}""", Set("q1"))
    }
    intercept[IllegalArgumentException] { // non-numeric per-query value
      Bench.assertBenchRoundTrip(
        """{"value":1.0,"queries":{"q1":"NaN"}}""", Set("q1"))
    }
  }

  test("the test session runs the session config Verify and Bench run") {
    // the specs must exercise production's shuffle writer and time zone:
    // SparkSpec builds through GraftSession, like the mains
    val spark = SparkSpec.spark
    val conf = spark.sparkContext.getConf
    assert(conf.getOption("spark.shuffle.sort.bypassMergeThreshold")
      .contains("0"))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.getOption("spark.ui.enabled").contains("false"))
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
