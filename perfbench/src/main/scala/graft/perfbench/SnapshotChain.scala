package graft.perfbench

import graft.Schemas
import graft.operators.{Dedup, SnapshotPipeline, StreamsEtl}
import graft.plans.{BinPacking, Orchestrator}
import graft.sources.Layers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one snapshot left behind for the checks. */
final case class ChainOut(key: SnapshotKey, traced: Boolean, packRows: Long, packWeight: Long,
                          packGroupsOk: Boolean, deltaRows: Long, rawRows: Long,
                          curatedRows: Long, filesRead: Int)

/** One pipeline instance: a users dimension under `stateRoot` and the
  * `streams` fact in an in-memory embedded Derby database.
  *
  * `run` carries one raw snapshot directory through the reference's chain:
  * read -> process -> curate -> users upsert -> popularity -> pack plan ->
  * JDBC load, each public call inside its own span.
  */
final class SnapshotChain(spark: SparkSession, trace: Trace, stateRoot: String,
                          val derbyName: String) {
  /** Self-test defect: drop the streams whose id ends in 7 before the
    * popularity and the load, and the users whose id ends in 7 before the
    * upsert (about a tenth of each).
    */
  var plantDefect = false
  val url = s"jdbc:derby:memory:$derbyName;create=true"
  val dimPath = s"$stateRoot/users"
  val numGroups = 25
  val props: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p.setProperty("createTableColumnTypes",
      "stream_id VARCHAR(32), day_date_id VARCHAR(8), time_of_day_id VARCHAR(4), " +
        "user_id VARCHAR(32), category_id VARCHAR(16), language_id VARCHAR(16)")
    p
  }

  def run(key: SnapshotKey, rawDir: String): ChainOut = trace.span("bench.snapshot") {
    val (read, raw) = trace.span("sources.read") {
      val r = Layers.readEnvelopes(spark, s"$rawDir/*.json", Schemas.rawStream)
      (r, trace.close(r))
    }
    val processed = trace.span("operators.process") {
      trace.close(StreamsEtl.processStreams(raw))
    }
    val curatedOk = trace.span("operators.curate") {
      trace.close(StreamsEtl.curateStreams(processed, key.day, key.time))
    }
    def planted(df: DataFrame, id: String) = if (plantDefect) df.filter(!col(id).endsWith("7")) else df
    val curated = planted(curatedOk, "stream_id")
    val delta = trace.span("plans.upsert_dim") {
      val users = Dedup.keepFirst(
        planted(processed, "user_id").select(col("user_id"), col("user_name"),
          col("user_login").as("login_name"), lit("normal").as("broadcaster_type")),
        Seq("user_id"), Seq(col("login_name").asc))
      Orchestrator.upsertDim(spark, users, dimPath, Seq("user_id"))
    }
    val popularity = trace.span("operators.popularity") {
      trace.close(SnapshotPipeline.popularity(
        curated.withColumnRenamed("stream_id", "event_id"), "category_id"))
    }
    val plan = trace.span("plans.pack") {
      BinPacking.packDF(spark, popularity, "category_id", "num_of_streamers")
    }
    trace.span("sink.load") {
      Layers.loadSnapshotJdbc(curated, url, "streams", props, key.day, key.time)
    }
    // checks and traced-only counts run outside the timed layer spans; the
    // pack plan is a local relation, so collecting it runs no job
    trace.span("bench.check") {
      val rows = plan.select(col("weight"), col("group_id")).collect()
      val counts =
        if (trace.traced) (delta.count(), raw.count(), curated.count(), read.inputFiles.length)
        else (0L, 0L, 0L, 0)
      ChainOut(key, trace.traced, rows.length, rows.map(_.getLong(0)).sum,
        rows.forall { r => val g = r.getInt(1); g >= 0 && g < numGroups },
        counts._1, counts._2, counts._3, counts._4)
    }
  }

  /** Per snapshot in Derby: (fact rows, `notavailable` rows). */
  def servedCounts(): Map[(String, String), (Long, Long)] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "day_date_id", "time_of_day_id", COUNT(*),
          |SUM(CASE WHEN "language_id" = 'notavailable' THEN 1 ELSE 0 END)
          |FROM streams GROUP BY "day_date_id", "time_of_day_id"""".stripMargin)
      val b = Map.newBuilder[(String, String), (Long, Long)]
      while (rs.next()) b += (rs.getString(1), rs.getString(2)) -> (rs.getLong(3), rs.getLong(4))
      b.result()
    } finally conn.close()
  }

  def dimRows(): Long = spark.read.parquet(dimPath).count()

  def dimBytes(): Long = {
    val p = new org.apache.hadoop.fs.Path(dimPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  /** Drop the in-memory database (Derby signals success with an exception). */
  def dropDatabase(): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$derbyName;drop=true")
    catch { case _: java.sql.SQLException => () }
}
