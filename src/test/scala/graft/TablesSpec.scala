package graft

import org.apache.spark.sql.types._
import graft.core.Tables

/** Fixture-drift preflight: pins the dtype of every column the engine's
  * queries depend on, with a loud observed-vs-expected message on mismatch.
  *
  * Motivation: between rounds the driver regenerated `events.parquet` from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS); the engine's unconditional
  * nanos→µs normalization then crashed 15 queries and 17 tests with an
  * opaque `pmod(ts, 1000)` analysis error. This spec turns any future
  * fixture-encoding swap into a one-line diagnosis.
  */
class TablesSpec extends SparkSpec {
  private lazy val t = Tables(spark, sfDir)

  private def assertDtype(table: String, df: org.apache.spark.sql.DataFrame,
                          expect: Map[String, Set[DataType]]): Unit = {
    val schema = df.schema
    expect.foreach { case (col, allowed) =>
      val field = schema.find(_.name == col)
      assert(field.isDefined,
        s"fixture drift: $sfDir/$table.parquet lacks expected column '$col'; observed schema = ${schema.simpleString}")
      assert(allowed.contains(field.get.dataType),
        s"fixture drift: $sfDir/$table.parquet column '$col' is ${field.get.dataType.simpleString}, " +
          s"expected one of ${allowed.map(_.simpleString).mkString("{", ", ", "}")}")
    }
  }

  test("events.ts resolves to a timestamp regardless of fixture encoding") {
    // Tables.events must absorb both encodings (raw nanos long behind the
    // legacy flag, and native TIMESTAMP(MICROS)) and always hand downstream
    // code a timestamp column.
    val dt = t.events.schema("ts").dataType
    assert(dt == TimestampType,
      s"Tables.events must normalize ts to TimestampType (watermark-compatible, " +
        s"r1–r3-verified dtype); got ${dt.simpleString} — " +
        "did the driver regenerate events.parquet with a new encoding?")
  }

  test("driver-main preflight is clean on the current fixtures") {
    // Verify/Bench print these at startup; a non-empty result here means
    // the driver would see drift warnings on every run
    val msgs = Tables.preflight(spark, sfDir)
    assert(msgs.isEmpty, msgs.mkString("\n"))
  }

  test("preflight diagnoses a drifted fixture with observed vs expected") {
    // point it at a directory whose "events" table has the wrong shape
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    spark.range(3).selectExpr("CAST(id AS STRING) AS ts", "id AS user_id",
        "'x' AS event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val msgs = Tables.preflight(spark, dir)
    assert(msgs.exists(m => m.contains("events") && m.contains("'ts' is string")),
      msgs.mkString("\n"))
  }

  test("a fixture rewritten at the same path resolves its new schema") {
    // the schema cache is keyed by the file's version as well as its
    // path: a fixture regenerated in place must not keep its first
    // schema for the life of the JVM
    val dir = java.nio.file.Files.createTempDirectory("rewrite")
    def writeFixture(df: org.apache.spark.sql.DataFrame): Unit = {
      val staging = dir.resolve("staging").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, dir.resolve("probe.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeFixture(spark.range(3).toDF("id"))
    assert(Tables(spark, dir.toString).t("probe").columns.toSeq == Seq("id"))
    writeFixture(spark.range(3).selectExpr("id", "id * 2 AS extra"))
    val again = Tables(spark, dir.toString).t("probe")
    assert(again.columns.toSeq == Seq("id", "extra"))
    assert(again.selectExpr("sum(extra)").head().getLong(0) == 6L)
  }

  test("raw fixture schemas match the dtypes the queries were written against") {
    assertDtype("events", spark.read.parquet(s"$sfDir/events.parquet"), Map(
      "ts"         -> Set[DataType](TimestampType, TimestampNTZType, LongType),
      "user_id"    -> Set[DataType](LongType, IntegerType),
      "event_type" -> Set[DataType](StringType)))
    assertDtype("lineitem", spark.read.parquet(s"$sfDir/lineitem.parquet"), Map(
      "l_quantity"      -> Set[DataType](DoubleType, DecimalType(12, 2), DecimalType(15, 2)),
      "l_extendedprice" -> Set[DataType](DoubleType, DecimalType(12, 2), DecimalType(15, 2)),
      "l_shipdate"      -> Set[DataType](DateType, TimestampType, TimestampNTZType)))
    assertDtype("orders", spark.read.parquet(s"$sfDir/orders.parquet"), Map(
      "o_orderkey"   -> Set[DataType](LongType, IntegerType),
      "o_orderdate"  -> Set[DataType](DateType, TimestampType, TimestampNTZType),
      "o_totalprice" -> Set[DataType](DoubleType, DecimalType(12, 2), DecimalType(15, 2))))
    assertDtype("documents", spark.read.parquet(s"$sfDir/documents.parquet"), Map(
      "doc_id" -> Set[DataType](LongType, IntegerType, StringType),
      "text"   -> Set[DataType](StringType)))
    assertDtype("embeddings", spark.read.parquet(s"$sfDir/embeddings.parquet"), Map(
      "embedding" -> Set[DataType](ArrayType(FloatType, containsNull = true),
                                   ArrayType(FloatType, containsNull = false),
                                   ArrayType(DoubleType, containsNull = true),
                                   ArrayType(DoubleType, containsNull = false))))
  }
}
