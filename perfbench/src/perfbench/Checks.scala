package perfbench

import graft.solar.PointStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Output checks, run outside every timed region. */
object Checks {
  /** The bucket against the closed-form expectation: points and
    * sum(round(value * 100)) per measurement, and dead-letter rows. */
  def bucket(spark: SparkSession, bucket: String, e: Expect): Seq[String] = {
    val got = PointStore.read(spark, bucket)
      .groupBy("measurement")
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bad = Gen.Measurements.flatMap { m =>
      val (n, c) = got.getOrElse(m, (0L, 0L))
      if (n != e.points(m) || c != e.centis(m))
        Some(s"bucket: $m has $n points (sum $c), expected ${e.points(m)} (sum ${e.centis(m)})")
      else None
    }
    val deadDir = new java.io.File(s"${bucket}_deadletter")
    val dead = if (deadDir.exists()) spark.read.parquet(deadDir.getPath).count() else 0L
    bad ++ (if (dead != e.deadLetters) Seq(s"bucket: $dead dead letters, expected ${e.deadLetters}") else Nil)
  }
}
