package graft

import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import scala.util.{Failure, Success, Try}

import graft.sources.{Discovery, FsKeyValueSink, JdbcSource, KeyValueSink}

/** Connectivity smoke-check CLI — the reference's third entry point
  * (`/root/reference/test_index_align.py:266-306`): probe every source,
  * read one row, round-trip the sink (write → verify readback → delete),
  * print a pass/fail summary, exit non-zero on any failure.
  *
  * Usage: `runMain graft.ConnectionCheck [sfDir]` (default
  * `/root/testdata/sf0.001`). The JDBC leg spins up an embedded Derby
  * catalog — same driver class a production MySQL/Postgres URL would go
  * through — so the check exercises a real `DriverManager` connection,
  * metadata probing, and `spark.read.jdbc` without needing the network.
  */
object ConnectionCheck {

  private def check(name: String)(body: => String): (String, Boolean, String) =
    Try(body) match {
      case Success(detail) => (name, true, detail)
      case Failure(e)      => (name, false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.local(4)

    val results = Seq(
      check("parquet source probe") {
        val (name, df) = Discovery
          .probeTable(spark, sfDir, Seq("no_such_table", "orders", "lineitem"))
          .getOrElse(sys.error(s"no candidate table found under $sfDir"))
        val n = df.limit(1).count()
        require(n == 1, s"probe read returned $n rows")
        s"resolved '$name', read 1 row"
      },
      check("jdbc catalog probe + read") {
        val dir = Files.createTempDirectory("graft_conncheck_derby").resolve("db")
        val url = s"jdbc:derby:$dir;create=true"
        val conn = DriverManager.getConnection(url)
        try {
          val st = conn.createStatement()
          st.executeUpdate("CREATE TABLE probe_target (id INT, v VARCHAR(8))")
          st.executeUpdate("INSERT INTO probe_target VALUES (1, 'ok')")
        } finally conn.close()
        val (name, df) = JdbcSource
          .probeTable(spark, url, Seq("missing_table", "probe_target"))
          .getOrElse(sys.error("JDBC probe found no candidate"))
        val n = df.limit(1).count()
        require(n == 1, s"JDBC read returned $n rows")
        s"resolved '$name' via DatabaseMetaData, read 1 row"
      },
      check("kv sink write/readback/delete round-trip") {
        import spark.implicits._
        val root = Files.createTempDirectory("graft_conncheck_sink").toString
        val df = Seq(("k1", 1.0), ("k2", 2.0)).toDF("key", "value")
        val report = KeyValueSink.write(df, "key", () => new FsKeyValueSink(root))
        require(report.written == 2 && report.skipped == 0,
          s"expected 2 written / 0 skipped, got $report")
        require(report.verifiedCount == 2, s"readback count ${report.verifiedCount} != 2")
        val back = new String(
          Files.readAllBytes(Paths.get(root, "k1.json")),
          java.nio.charset.StandardCharsets.UTF_8)
        require(back.contains("\"value\":1.0"), s"unexpected readback payload: $back")
        val listed = Files.list(Paths.get(root))
        try listed.forEach(p => Files.delete(p)) finally listed.close()
        val after = new FsKeyValueSink(root).count()
        require(after == 0, s"delete left $after files")
        "wrote 2, verified 2, deleted 2"
      })

    println("== ConnectionCheck ==")
    results.foreach { case (name, ok, detail) =>
      println(f"${if (ok) "PASS" else "FAIL"}%s  $name%-42s $detail")
    }
    val failed = results.count(!_._2)
    println(s"${results.size - failed}/${results.size} checks passed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
