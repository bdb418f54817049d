package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Dev tool (optimization round): empirical floor of one Spark action
  * in this environment — tiny counts, collects, parquet writes,
  * insertInto, saveAsTable, localCheckpoint — so operator-level job
  * budgets have a measured per-job fixed cost to multiply against
  * (guide §1.1 first-principles arm).
  */
object ProfileMicro {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(graft.core.GraftSession.envCpus)
    import spark.implicits._

    def time(label: String, n: Int)(f: Int => Unit): Unit = {
      f(0) // warm
      val t0 = System.nanoTime()
      (1 to n).foreach(f)
      val dt = (System.nanoTime() - t0) / 1e6 / n
      println(f"MICRO $label: $dt%8.1f ms/op (n=$n)")
    }

    val root = graft.core.Scratch.path("micro")
    val df1 = Seq((1L, "a")).toDF("k", "v")

    if (args.headOption.exists(_.startsWith("spin"))) {
      val mode = args.head
      // sample every runnable thread while spinning the cheapest SQL
      // action: the histogram is the anatomy of the per-action floor
      val hist = new java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.atomic.AtomicInteger]
      val sampler = new Thread(() => {
        while (true) {
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
            if (t.getState == Thread.State.RUNNABLE && st.nonEmpty &&
                t.getName != "micro-sampler") {
              val frames = st.map(e => s"${e.getClassName}.${e.getMethodName}")
              val skip = Set("java.lang.Thread.getStackTrace",
                "java.lang.Thread.dumpThreads")
              frames.headOption.filterNot(skip).foreach { _ =>
                val top = frames.take(18).filter(f =>
                  !f.startsWith("java.") && !f.startsWith("jdk.") &&
                  !f.startsWith("scala.") && !f.startsWith("sun."))
                  .take(3).mkString(" < ")
                val key = if (top.isEmpty) frames.head else top
                hist.computeIfAbsent(key,
                  _ => new java.util.concurrent.atomic.AtomicInteger)
                  .incrementAndGet()
              }
            }
          }
          Thread.sleep(7)
        }
      }, "micro-sampler")
      sampler.setDaemon(true); sampler.start()
      val op: () => Unit = mode match {
        case "spin1" => () => { df1.count(); () }
        case "spinw" => () => df1.write.mode(SaveMode.Overwrite)
          .parquet(s"$root/spinw")
        case _ => () => { spark.range(1).count(); () }
      }
      op() // warm
      val until = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var n = 0
      while (System.nanoTime() < until) { op(); n += 1 }
      println(s"MICRO spin: $n counts in 15s (${15000.0 / n} ms each)")
      import scala.jdk.CollectionConverters._
      val tot = hist.asScala.values.map(_.get).sum.max(1)
      hist.asScala.toSeq.sortBy(-_._2.get).take(25).foreach { case (k, v) =>
        println(f"MICRO   ${v.get * 100.0 / tot}%5.1f%% $k")
      }
      spark.stop(); return
    }

    time("range(1).count", 30)(_ => { spark.range(1).count(); () })
    time("1row-df.count", 30)(_ => { df1.count(); () })
    time("1row-df.collect", 30)(_ => { df1.collect(); () })
    time("1row groupBy.count [shuffle]", 20)(_ =>
      { df1.groupBy("k").count().collect(); () })
    time("1row localCheckpoint", 20)(_ => { df1.localCheckpoint(); () })
    time("1row write.parquet", 20)(i =>
      df1.write.mode(SaveMode.Overwrite).parquet(s"$root/w$i"))
    time("1row saveAsTable(path)", 10)(i =>
      df1.write.mode(SaveMode.Overwrite).option("path", s"$root/t$i")
        .format("parquet").saveAsTable(s"graft_micro_t$i"))
    spark.sql("DROP TABLE IF EXISTS graft_micro_app")
    df1.write.option("path", s"$root/app").format("parquet")
      .saveAsTable("graft_micro_app")
    time("1row append insertInto", 20)(_ =>
      df1.write.mode(SaveMode.Append).insertInto("graft_micro_app"))
    time("read _meta-like table.count", 20)(_ =>
      { spark.table("graft_micro_app").count(); () })
    // bucketed write: the writeBucketed shape at its smallest
    time("1row writeBucketed(16)", 10)(i =>
      graft.sources.TableWriter.writeBucketed(df1, s"graft_micro_b$i",
        s"$root/b$i", "k", 16))
    // 100k-row frame: does the floor move with real (small) data?
    val df100k = spark.range(100000).select(col("id").as("k"),
      (col("id") % 97).cast("string").as("v")).localCheckpoint()
    time("100k groupBy.count [shuffle]", 10)(_ =>
      { df100k.groupBy("v").count().collect(); () })
    time("100k write.parquet", 10)(i =>
      df100k.write.mode(SaveMode.Overwrite).parquet(s"$root/big$i"))
    spark.stop()
  }
}
