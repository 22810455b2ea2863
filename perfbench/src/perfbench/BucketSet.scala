package perfbench

import graft.query.QueryBuilder
import graft.solar.Topics
import org.apache.spark.sql.SparkSession

/** The query set a user runs over an ingested bucket once it has landed:
  * the panel over the whole stream, a field pivot, a histogram, a dense
  * downsample with fill, and a derivative. Its summed time is
  * `battery_total_s` on the ingest workloads. */
object BucketSet {
  def queries(spark: SparkSession, bucket: String, n: Int): Seq[(String, () => Long)] = {
    val now = new java.sql.Timestamp((Gen.Epoch0 + n + 60) * 1000)
    val span = s"-${n / 60 + 2}m"
    def qb = QueryBuilder(spark, bucket).withNow(now).range(span)
    def noop(df: org.apache.spark.sql.DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); 1L
    }
    Seq(
      "panel" -> (() => Panel.query(spark, bucket, now, n / 60 + 2).build().collect().length.toLong),
      "pivot" -> (() => qb.appendFilter("_measurement", Topics.FxName)
        .pivotFields(Seq("battery_voltage", "input_voltage", "output_voltage")).collect().length.toLong),
      "histogram" -> (() => qb.appendFilter("_measurement", Topics.DcName)
        .appendFilter("_field", "bat_voltage")
        .histogram(Seq(-1000.0, -500.0, 0.0, 500.0, 1000.0)).collect().length.toLong),
      "downsample" -> (() => noop(qb.appendAggregate("10m", "max", createEmpty = true)
        .fillPrevious().build())),
      "derivative" -> (() => noop(qb.appendFilter("_measurement", Topics.MxName)
        .appendAggregate("1m", "mean").derivative("1m").build())))
  }

  /** Run the set once; per-query seconds. */
  def run(spark: SparkSession, bucket: String, n: Int): Seq[(String, Double)] =
    queries(spark, bucket, n).map { case (name, f) =>
      spark.sparkContext.setJobGroup(s"bucketset.$name", name)
      val t = System.nanoTime()
      Spans.time(s"bucketset.$name")(f())
      spark.sparkContext.clearJobGroup()
      name -> (System.nanoTime() - t) / 1e9
    }
}
