package perfbench

import scala.collection.mutable.ArrayBuffer
import graft.streaming.{MqttSimBroker, StreamingIngest}

/** `backfill`: a preloaded ingest log drained by one
  * `StreamingIngest.start` in a single micro-batch, then read back. */
object Backfill {
  final case class Drain(startNs: Long, drainedNs: Long, firstSeenNs: Long, readDetail: Seq[Panel.Read],
      bucket: String, progress: Option[org.apache.spark.sql.streaming.StreamingQueryProgress],
      runId: java.util.UUID, failures: Seq[String])

  /** Preload `msgs` into a fresh ingest log. The gate orders a batch by
    * arrival milliseconds, so arrivals are stamped 1 ms apart. */
  def preload(log: String, msgs: Array[Msg]): Unit = {
    MqttSimBroker.clear(log)
    val base = Gen.Epoch0 * 1000000L
    msgs.foreach(m => MqttSimBroker.publish(log, m.topic, m.payload, base + m.seq * 1000L))
  }

  /** The same messages as a batch frame of `StreamingIngest.RawMsg` rows. */
  def rawFrame(spark: org.apache.spark.sql.SparkSession, msgs: Array[Msg]): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(msgs.toSeq.map(m =>
      (m.topic, m.payload, new java.sql.Timestamp(Gen.Epoch0 * 1000 + m.seq))))
      .toDF("topic", "payload", "arrival")

  /** Drain the whole log into a fresh bucket with a new query, then
    * `reads` panel reads over it; `check` compares the bucket with
    * `expect`. */
  def drain(ctx: Ctx, log: String, n: Int, expect: Expect, reads: Int, check: Boolean): Drain = {
    val spark = ctx.spark
    val dir = ctx.fresh("backfill")
    val bucket = s"$dir/bucket"
    val t0 = System.nanoTime()
    val q = StreamingIngest.start(spark, log, bucket, s"$dir/chk")
    q.processAllAvailable()
    val t1 = System.nanoTime()
    q.stop()
    val now = new java.sql.Timestamp((Gen.Epoch0 + n + 60) * 1000)
    val rs = (0 until reads).map(_ => Panel.read(spark, ctx.probes, bucket, now, n / 60 + 2, ctx.traced))
    val firstSeen = rs.find(_.newestEnd >= Gen.Epoch0 + n - 60).map(_.end).getOrElse(-1L)
    val fails = ArrayBuffer.empty[String]
    if (reads > 0 && firstSeen < 0) fails += "dashboard: drained bucket never showed the newest minute"
    if (check) fails ++= Checks.bucket(spark, bucket, expect)
    ctx.probes.settle()
    val prog = ctx.probes.progress.batches(q.runId).lastOption
    Drain(t0, t1, firstSeen, rs, bucket, prog, q.runId, fails.toSeq)
  }
}
