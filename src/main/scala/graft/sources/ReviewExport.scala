package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Reviewable canonical-JSON export (reference S5:
  * `/root/reference/index_align_to_firebase.py:317-383`,
  * `executive_review_tool.py:384-437`): the dataset a human signs off on
  * before the sink runs, plus a metadata envelope.
  *
  * Canonical = deterministic: callers pass the sort keys; rows are written
  * in that order as JSON lines with fields in schema order. Review exports
  * are human-scale by contract, so the export gathers every row into ONE
  * partition and sorts it there (`repartition(1)` +
  * `sortWithinPartitions`) — one sorting task instead of a range-sampling
  * job plus an N-way range shuffle. It is a deliberate non-distributed
  * step: the full dataset never goes through here.
  */
object ReviewExport {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Write `df` as one sorted JSON-lines file under `outDir`, then the
    * envelope as one JSON line in `outDir/_metadata/` (fields
    * `total_records`, `exported_at` = `yyyy-MM-dd'T'HH:mm:ss` in the
    * session time zone, `context` = the entries as a JSON-object string;
    * readable with `spark.read.json(s"$outDir/_metadata")`).
    *
    * One Spark action over one evaluation of `df`: the row count is an
    * [[Observation]] on the single sorted partition — the rows actually
    * written — and the envelope is written by the driver AFTER the data,
    * so a crash between the two leaves no envelope.
    *
    * @return the row count exported
    */
  def write(df: DataFrame, outDir: String, sortKeys: Seq[String],
      context: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    val obs = Observation()
    df.repartition(1)
      .sortWithinPartitions(sortKeys.map(col): _*)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .json(outDir)
    // an absent metric (an EMPTY metrics map) is a count of 0
    val n = obs.get.getOrElse("n", 0L).asInstanceOf[Long]

    val zone = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
    val meta = mapper.createObjectNode()
      .put("total_records", n)
      .put("exported_at", java.time.ZonedDateTime.now(zone).format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")))
      .put("context", mapper.writeValueAsString(context.asJava))
    val p = new org.apache.hadoop.fs.Path(s"$outDir/_metadata/part-00000.json")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try {
      out.write(mapper.writeValueAsBytes(meta))
      out.write('\n')
    } finally out.close()
    n
  }
}
