package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** House rule (round-5 lesson, q152): no dumped query may output a raw
    * DecimalType column. The driver's comparator coerces decimals to float
    * on one side only ("1234.5" vs "1234.50" → hash fail), while the local
    * oracle gate str()s them — so a decimal output passes locally and fails
    * the round. Decimal-exact arithmetic is for INTERNAL sums (Num.dsum);
    * the final column must be cast to DOUBLE.
    */
  def assertNoDecimalOutput(name: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    val decimals = schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] => f.name
    }
    require(decimals.isEmpty,
      s"$name outputs DecimalType column(s) ${decimals.mkString(", ")} — " +
        "cast the final column to DOUBLE (Num.dsum rule); raw decimals " +
        "hash-mismatch in the driver's comparator")
  }

  /** Serialize the oracle map as one JSON object. String escape covers
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness.
    */
  private[graft] def oracleJson(m: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  /** Strict parse of an emitted oracle_sql.json (round-7 lesson: the
    * driver's t2 record arrived as `{}` once; the builder-side failure
    * mode — a malformed or lossy emit zeroing every per-query row — is
    * ruled out MECHANICALLY by re-reading the file with a strict JSON
    * parser). Jackson ships in the Spark jars; readTree is strict.
    */
  private[graft] def parseOracleJson(s: String): Map[String, String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    require(node != null && node.isObject,
      "oracle_sql.json: top level is not a JSON object")
    import scala.jdk.CollectionConverters._
    node.properties().asScala.map { e =>
      require(e.getValue.isTextual,
        s"oracle_sql.json: value for '${e.getKey}' is not a string")
      e.getKey -> e.getValue.asText()
    }.toMap
  }

  /** The emitted file must round-trip to EXACTLY the source map — a
    * self-check run at the end of every dump, so Verify cannot exit 0
    * having written an oracle file the driver's json.load would reject
    * or read differently than authored.
    */
  private[graft] def assertOracleRoundTrip(emitted: String,
      expected: Map[String, String]): Unit = {
    val back = parseOracleJson(emitted)
    val missing = expected.keySet -- back.keySet
    val extra = back.keySet -- expected.keySet
    val drifted = expected.keysIterator
      .filter(k => back.contains(k) && back(k) != expected(k)).toSeq
    require(missing.isEmpty && extra.isEmpty && drifted.isEmpty,
      "oracle_sql.json failed the strict round-trip self-check — " +
        s"missing=${missing.toSeq.sorted.take(5)} extra=${extra.toSeq.sorted.take(5)} " +
        s"drifted=${drifted.sorted.take(5)} (of ${expected.size} entries)")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional query-name subset (dev iteration)
    val spark = graft.core.GraftSession.local(graft.core.GraftSession.envCpus)
    // fixture-drift preflight: a regenerated fixture should fail with a
    // diagnosis up front, not as per-query analysis errors mid-run
    graft.core.Tables.preflight(spark, sfDir)
      .foreach(m => System.err.println(s"[verify] $m"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        assertNoDecimalOutput(name, df.schema) // q152 lesson — see Scaladoc
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = oracleJson(SparkEntry.oracleSql)
    val jsonPath = Paths.get(s"$outDir/oracle_sql.json")
    Files.writeString(jsonPath, json)
    // strict round-trip: re-read the file ON DISK (not the in-memory
    // string) and fail loudly on any parse or content drift — the one
    // builder-side way a round's correctness record could silently zero
    assertOracleRoundTrip(Files.readString(jsonPath), SparkEntry.oracleSql)
    spark.stop()
  }
}
