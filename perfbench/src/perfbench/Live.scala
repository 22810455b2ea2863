package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import graft.query.QueryBuilder
import graft.solar.Topics
import graft.streaming.{IngestBridge, LoopbackBroker, MqttCallbacks, MqttConnectConfig,
  MqttReturnCode, MqttSimBroker, MqttSocketClient, StreamingIngest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The dashboard's panel query: the last `rangeMin` minutes of event time
  * before a pinned now, the three measurements' battery voltages,
  * 1-minute means, sorted by time. */
object Panel {
  def query(spark: SparkSession, bucket: String, now: java.sql.Timestamp, rangeMin: Int): QueryBuilder =
    QueryBuilder(spark, bucket)
      .withNow(now)
      .range(s"-${rangeMin}m")
      .appendFilter("_measurement", Topics.DcName, "or")
      .appendFilter("_measurement", Topics.FxName, "or")
      .appendFilter("_measurement", Topics.MxName)
      .appendFilter("_field", "bat_voltage", "or", newBand = true)
      .appendFilter("_field", "battery_voltage")
      .appendAggregate("1m", "mean")
      .appendSort("_time")

  /** One read: build, execute, and the newest window end it returned
    * (epoch seconds; Long.MinValue when empty). */
  final case class Read(start: Long, end: Long, buildNs: Long, execNs: Long, rows: Int,
      newestEnd: Long, files: Int, jobs: Long)

  def read(spark: SparkSession, probes: Probes, bucket: String, now: java.sql.Timestamp,
      rangeMin: Int, traced: Boolean): Read = {
    val group = "dashboard"
    spark.sparkContext.setJobGroup(group, group)
    val jobs0 = probes.tasks.snapshot(group).jobs
    val t0 = System.nanoTime()
    val df = Spans.time("query.build")(query(spark, bucket, now, rangeMin).build())
    val t1 = System.nanoTime()
    val rows = Spans.time("query.exec")(df.select(col("time")).collect())
    val t2 = System.nanoTime()
    spark.sparkContext.clearJobGroup()
    val newest = if (rows.isEmpty) Long.MinValue else rows.map(_.getTimestamp(0).getTime / 1000).max
    val files = if (traced) df.inputFiles.length else 0
    Read(t0, t2, t1 - t0, t2 - t1, rows.length, newest, files,
      probes.tasks.snapshot(group).jobs - jobs0)
  }
}

/** `live`: an open-loop publisher at a fixed rate over real TCP (QoS 0
  * into a [[LoopbackBroker]] that forwards at QoS 2 to the ingest
  * subscriber), the streaming ingest query, and one closed-loop dashboard
  * reader competing for the same cores. */
object Live {
  final case class Result(e2e: Seq[Metric], layers: Map[String, Double], attempted: Long, failed: Long,
      failures: Seq[String], bucket: String, n: Int, preRollS: Double)

  /** Delegating callbacks: stamps each delivery, then hands it on. */
  private final class Tap(inner: MqttCallbacks, n: Int) extends MqttCallbacks {
    val at = new Array[Long](n + 1024)
    val seq = new Array[Int](n + 1024)
    val count = new AtomicInteger(0)
    val extra = new AtomicInteger(0) // deliveries beyond the log's size
    override def onConnect(rc: Int): Unit = inner.onConnect(rc)
    override def onDisconnect(rc: Int): Unit = inner.onDisconnect(rc)
    override def onMessage(topic: String, payload: Array[Byte], arrivalMicros: Long): Unit = {
      val k = count.get()
      if (k < at.length) {
        at(k) = System.nanoTime()
        seq(k) = if (Topics.dataTopics.contains(topic) && payload.length >= 3) Gen.seqOf(payload) else -1
      } else extra.incrementAndGet()
      inner.onMessage(topic, payload, arrivalMicros)
      count.incrementAndGet()
    }
    override def onSubscribe(topic: String, grantedQos: Int): Unit = inner.onSubscribe(topic, grantedQos)
    override def onUnsubscribe(topic: String): Unit = inner.onUnsubscribe(topic)
    override def onSocketOpen(): Unit = inner.onSocketOpen()
    override def onSocketClose(): Unit = inner.onSocketClose()
  }

  private def await(cond: => Boolean, timeoutMs: Long, what: String): Unit = {
    val end = System.nanoTime() + timeoutMs * 1000000L
    while (!cond) {
      if (System.nanoTime() > end) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(1)
    }
  }

  /** Run one live phase: a pre-roll at `preRate` msg/s until the query
    * has committed `warmBatches` batches and the reader has read, then
    * `seconds` at `rate` msg/s, then until every measured message is
    * visible. `drop` withholds that many landing messages from the
    * publisher (a fault the checks must catch). */
  def run(ctx: Ctx, seed: Long, rate: Int, seconds: Double, preRoll: Int, preRate: Int,
      warmBatches: Int, drop: Int = 0): Result = {
    val spark = ctx.spark
    val tag = "live"
    val n = preRoll + math.max(200, (rate * seconds).toInt)
    val msgs = Gen.stream(seed, n)
    val dropped: Set[Int] = msgs.filter(_.lands).map(_.seq).slice(n / 2, n / 2 + drop).toSet
    val expect = Gen.expect(msgs)
    val dir = ctx.fresh(tag)
    val bucket = s"$dir/bucket"
    val logName = s"perfbench-$tag-${System.nanoTime()}"

    val broker = new LoopbackBroker("perfbench", "perfbench")
    broker.forwardQos = 2
    val cfg = MqttConnectConfig("127.0.0.1", broker.port, "perfbench", "perfbench", useTls = false)
    val sub = new MqttSocketClient(s"perfbench-sub-$tag")
    val bridge = new IngestBridge(sub, logName, "mate/#")
    val tap = new Tap(bridge, n)
    require(sub.connect(cfg, tap) == MqttReturnCode.Accepted, "subscriber connect")
    await(bridge.events.count("subscribe") >= 1, 10000, "SUBACK")
    val pub = new MqttSocketClient(s"perfbench-pub-$tag")
    require(pub.connect(cfg, new MqttCallbacks {}) == MqttReturnCode.Accepted, "publisher connect")

    ctx.syncClocks()
    val query = StreamingIngest.start(spark, logName, bucket, s"$dir/chk")
    val published = new AtomicInteger(0)
    val lastPublished = new AtomicInteger(-1)
    val due = new Array[Long](n)
    val pubAt = new Array[Long](n)
    val backlog = ArrayBuffer.empty[Long]
    val stop = new AtomicBoolean(false)
    val reads = ArrayBuffer.empty[Panel.Read]
    val readErrors = ArrayBuffer.empty[String]
    val periodNs = 1e9 / rate
    @volatile var t0 = Long.MaxValue
    @volatile var tEnd = Long.MaxValue
    def committed: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      ctx.probes.progress.batches(query.runId)
    // warm: the query has committed `warmBatches` batches, or all of the
    // pre-roll in fewer (a JVM that is already warm), and the reader has read
    def warm: Boolean = {
      val bs = committed
      (bs.size >= warmBatches || bs.nonEmpty && bs.map(ProgressProbe.endOffset).max >= published.get()) &&
        reads.synchronized(reads.nonEmpty)
    }

    // the generator: the pre-roll, then every message at its due time;
    // around a status flip it lets the subscriber drain and leaves a few
    // ms of silence, so no data message shares the flip's millisecond
    // arrival stamp (the gate orders a batch by arrival milliseconds)
    @volatile var genError: Throwable = null
    val gen = new Thread(() => try {
      var i = 0
      while (i < n && !stop.get()) {
        val m = msgs(i)
        if (i == preRoll) {
          await(warm || stop.get() || !query.isActive, 120000, "the pre-roll")
          query.exception.foreach(e => throw e)
          t0 = System.nanoTime() + 50000000L
          tEnd = t0 + ((n - preRoll) * periodNs).toLong
          (preRoll until n).foreach(j => due(j) = t0 + ((j - preRoll) * periodNs).toLong)
        }
        if (i < preRoll) due(i) = System.nanoTime() + 1000000000L / preRate
        if (m.isStatus && i >= 4) {
          await(tap.count.get() >= published.get(), 10000, "delivery before a status flip")
          Thread.sleep(3)
        }
        var wait = due(i) - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due(i) - System.nanoTime() }
        val s = System.nanoTime()
        if (!dropped.contains(i)) {
          require(pub.publish(m.topic, m.payload, qos = 0), s"publish ${m.seq}")
          published.incrementAndGet()
        }
        lastPublished.set(i)
        pubAt(i) = System.nanoTime()
        Spans.add("publish", s, pubAt(i))
        if (m.isStatus) {
          await(tap.count.get() >= published.get(), 10000, "status delivery")
          Thread.sleep(3)
        }
        if (i % 500 == 0) backlog.synchronized {
          val done = Option(query.lastProgress).map(ProgressProbe.endOffset).getOrElse(0L)
          backlog += MqttSimBroker.size(logName) - done
        }
        i += 1
      }
    } catch { case e: Throwable => genError = e }, "perfbench-generator")

    // the dashboard: closed loop; now is pinned to the event time of the
    // newest published message, and the range spans 30 s of publishing,
    // so the panel always covers what freshness can reach
    val rangeMin = math.max(1, rate / 2)
    val lastLanding = msgs.filter(m => m.lands && !dropped.contains(m.seq)).map(_.seq).lastOption
      .getOrElse(0)
    // the newest window the panel can show; a read that shows it has seen
    // every message stamped before its start
    val lastWindowEnd = ((Gen.Epoch0 + lastLanding) / 60 + 1) * 60
    val capNs = (60 * 1e9).toLong
    val reader = new Thread(() => {
      var seen = Long.MinValue
      val safety = System.nanoTime() + 150 * 1000000000L
      def limit = if (tEnd == Long.MaxValue) safety else math.min(safety, tEnd + capNs)
      while (!stop.get() && seen < lastWindowEnd && System.nanoTime() < limit) {
        if (!new java.io.File(bucket, "_SUCCESS").exists()) Thread.sleep(5)
        else {
          val now = new java.sql.Timestamp((Gen.Epoch0 + lastPublished.get() + 1) * 1000)
          try {
            val r = Panel.read(spark, ctx.probes, bucket, now, rangeMin, ctx.traced)
            reads.synchronized { reads += r }
            seen = math.max(seen, r.newestEnd)
          } catch {
            case e: Exception => readErrors += e.toString; Thread.sleep(50)
          }
        }
      }
    }, "perfbench-dashboard")

    val tStart = System.nanoTime()
    gen.start(); reader.start()
    val jvm0 = { while (t0 == Long.MaxValue && gen.isAlive) Thread.sleep(1); Jvm.snap() }
    val setupNs = t0 - tStart
    gen.join()
    if (genError != null) stop.set(true)
    reader.join()
    val jvm1 = Jvm.snap()
    // the source must see everything before the stream stops: wait for
    // the log to hold every delivery, then for the query to commit it
    try {
      await(tap.count.get() >= published.get(), 10000, "final deliveries")
      query.processAllAvailable()
    } finally {
      stop.set(true)
      query.stop()
      pub.disconnect(); sub.disconnect(); broker.close()
    }
    ctx.probes.settle()
    if (genError != null) throw genError

    // ---------------- correctness, outside the timed region -------------
    val failures = ArrayBuffer.empty[String]
    val delivered = tap.count.get()
    var dupes = 0
    val seenSeq = new java.util.BitSet(n)
    (0 until math.min(delivered, tap.seq.length)).foreach { k =>
      val s = tap.seq(k)
      if (s >= 0) { if (seenSeq.get(s)) dupes += 1 else seenSeq.set(s) }
    }
    val lost = msgs.count(_.isData) - seenSeq.cardinality()
    if (lost != 0) failures += s"wire: $lost data messages not delivered"
    if (dupes + tap.extra.get() > 0) failures += s"wire: $dupes duplicate deliveries"
    val statusDelivered = (0 until math.min(delivered, tap.seq.length)).count(k => tap.seq(k) < 0)
    if (statusDelivered != msgs.count(_.isStatus))
      failures += s"wire: $statusDelivered status deliveries, expected ${msgs.count(_.isStatus)}"
    failures ++= Checks.bucket(spark, bucket, expect)
    readErrors.foreach(e => failures += s"dashboard: $e")

    // ---------------- metrics -------------------------------------------
    val batches = ctx.probes.progress.batches(query.runId).sortBy(_.batchId)
    // visibility: a read whose newest window ends at E saw a message at
    // or after E-60, so (commits being prefix-ordered) every message
    // stamped before E-60 was visible to it
    val sortedReads = reads.sortBy(_.end).toArray
    def visibleAt(seq: Int): Long = {
      val t = Gen.Epoch0 + seq
      sortedReads.find(r => r.newestEnd != Long.MinValue && r.newestEnd - 60 > t).map(_.end).getOrElse(-1L)
    }
    // measured: landed messages due after the pre-roll, except the last
    // minute of event time, which can only show as a partial window
    val landing = msgs.filter(m => m.lands && seenSeq.get(m.seq) && m.seq >= preRoll &&
      Gen.Epoch0 + m.seq < lastWindowEnd - 60)
    val fresh = ArrayBuffer.empty[Double]
    var invisible = 0
    landing.foreach { m =>
      val v = visibleAt(m.seq)
      if (v < 0) invisible += 1 else fresh += Stats.ms(v - due(m.seq))
    }
    if (invisible > 0) failures += s"dashboard: $invisible landed messages never became visible"
    val timedReads = reads.filter(r => r.start >= t0).toSeq
    val dash = timedReads.map(r => Stats.ms(r.end - r.start))
    // landing rate: points committed from the first to the last commit of
    // the batches that start and end inside the timed window, per second
    // between those two commits. Those batches admit only messages
    // published at the full rate, so the figure stays at the offered rate
    // unless batches fall behind and a backlog grows. Log offsets name
    // messages through the delivery order. A tiny run takes its last two
    // commits instead.
    val landedBefore = new Array[Long](math.min(delivered, tap.seq.length) + 1)
    (1 until landedBefore.length).foreach { k =>
      val s = tap.seq(k - 1)
      landedBefore(k) = landedBefore(k - 1) + (if (s >= 0 && msgs(s).lands) Gen.fieldsOf(msgs(s).kind) else 0)
    }
    val commits = batches.map(b => (ctx.nanoOfWallMs(ProgressProbe.startMs(b)),
      ctx.nanoOfWallMs(ProgressProbe.endMs(b)), math.min(ProgressProbe.endOffset(b), landedBefore.length - 1L).toInt))
    val inWindow = commits.filter { case (s, e, _) => s >= t0 && e <= tEnd }
    val span = if (inWindow.size >= 2) inWindow else commits.takeRight(2)
    val pps = (landedBefore(span.last._3) - landedBefore(span.head._3)) / ((span.last._2 - span.head._2) / 1e9)
    val genLate = (preRoll until n).map(i => pubAt(i) - due(i)).max / 1e6

    val attempted = n.toLong + reads.length
    val failedOps = lost.toLong + dupes + tap.extra.get() + invisible + readErrors.length +
      failures.count(_.startsWith("bucket"))

    val e2e = Seq(
      Metric("freshness_p50_ms", Stats.pct(fresh.toSeq, 50), "ms"),
      Metric("freshness_p99_ms", Stats.pct(fresh.toSeq, 99), "ms"),
      Metric("dashboard_p50_ms", Stats.pct(dash, 50), "ms"),
      Metric("dashboard_p90_ms", Stats.pct(dash, 90), "ms"),
      Metric("points_per_s", pps, "points/s"))
    ctx.note(f"live: pre-roll ${setupNs / 1e9}%.1f s, ${n - preRoll} msgs at $rate/s, ${batches.size} batches, " +
      s"${timedReads.size} timed reads, landing rate over ${inWindow.size} batches in the window, gen late max ${"%.1f".format(genLate)} ms; batches (rows/ms): " +
      batches.map(b => s"${b.numInputRows}/${ProgressProbe.duration(b, "triggerExecution").toInt}").mkString(" "))

    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else Layers.live(ctx, query.runId, batches.filter(b => ctx.nanoOfWallMs(ProgressProbe.startMs(b)) >= t0),
        tap.at, tap.seq, delivered, due, pubAt, msgs, timedReads, backlog.toSeq, genLate,
        published.get(), dupes, t0, tEnd, jvm0, jvm1, landing.toSeq, bucket, visibleAt _)
    Result(e2e, layers, attempted, failedOps, failures.toSeq, bucket, n, setupNs / 1e9)
  }
}
