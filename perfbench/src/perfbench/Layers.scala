package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import ProgressProbe.duration

/** Per-layer metrics of a traced run. Every traced run reports the whole
  * list; a layer the workload does not exercise reports 0. */
object Layers {
  /** (name, unit) of every per-layer metric, grouped by layer. */
  def catalog(battery: Seq[String]): Seq[(String, String)] = Seq(
    "wire.self_ms" -> "ms", "wire.deliver_p50_ms" -> "ms", "wire.deliver_p99_ms" -> "ms",
    "wire.published" -> "count", "wire.delivered" -> "count", "wire.duplicates" -> "count",
    "gen.late_max_ms" -> "ms",
    "source.self_ms" -> "ms", "source.backlog_max_msgs" -> "count", "source.wait_p50_ms" -> "ms",
    "source.latest_offset_ms" -> "ms", "source.get_batch_ms" -> "ms",
    "batch.self_ms" -> "ms", "batch.count" -> "count", "batch.rows_p50" -> "count",
    "batch.trigger_p50_ms" -> "ms", "batch.trigger_p99_ms" -> "ms", "batch.plan_ms" -> "ms",
    "batch.add_ms" -> "ms", "batch.wal_ms" -> "ms", "batch.commit_ms" -> "ms",
    "batch.jobs" -> "count", "batch.stages" -> "count", "batch.tasks" -> "count",
    "batch.busy" -> "ratio",
    "gate.self_ms" -> "ms", "gate.state_rows" -> "count", "gate.state_update_ms" -> "ms",
    "gate.state_commit_ms" -> "ms", "gate.state_mem_bytes" -> "bytes",
    "gate.max_task_share" -> "ratio", "gate.rows_per_s" -> "rows/s",
    "decode.self_ms" -> "ms", "decode.points_per_s" -> "points/s", "decode.deadletter_rows" -> "count",
    "sink.self_ms" -> "ms", "sink.files" -> "count", "sink.bytes_per_point" -> "bytes",
    "sink.commit_lag_p50_ms" -> "ms", "sink.commit_lag_p99_ms" -> "ms", "sink.write_ms" -> "ms",
    "query.self_ms" -> "ms", "query.build_ms" -> "ms", "query.exec_ms" -> "ms",
    "query.files_read" -> "count", "query.jobs" -> "count", "query.rows_out" -> "count",
    "battery.self_ms" -> "ms", "battery.plan_s" -> "s", "battery.action_s" -> "s",
    "battery.jobs" -> "count", "battery.stages" -> "count", "battery.tasks" -> "count",
    "battery.shuffle_mb" -> "MB", "battery.spill_mb" -> "MB", "battery.peak_task_mb" -> "MB",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.cpu_s" -> "s") ++
    battery.flatMap(q => Seq(s"battery.$q.s" -> "s", s"battery.$q.jobs" -> "count"))

  /** The full catalog, filled from `got` (absent names report 0). */
  def emit(got: Map[String, Double]): Seq[Metric] =
    catalog(Workloads.BatterySet).map { case (n, u) =>
      Metric(n, got.get(n).filterNot(v => v.isNaN || v.isInfinite).getOrElse(0.0), u) }

  private def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  /** Micro-batch and gate-state metrics from progress events plus the
    * bench listener's view of the query's jobs. */
  def batchMetrics(ctx: Ctx, runId: java.util.UUID, bs: Seq[StreamingQueryProgress],
      wallS: Double): Map[String, Double] = {
    val g = ctx.probes.tasks.snapshot(runId.toString)
    val n = math.max(1, bs.size).toDouble
    val ops = bs.map(_.stateOperators.toSeq)
    Map(
      "batch.count" -> bs.size.toDouble,
      "batch.rows_p50" -> med(bs.map(_.numInputRows.toDouble)),
      "batch.trigger_p50_ms" -> med(bs.map(duration(_, "triggerExecution"))),
      "batch.trigger_p99_ms" -> Stats.pct(bs.map(duration(_, "triggerExecution")), 99),
      "batch.plan_ms" -> med(bs.map(duration(_, "queryPlanning"))),
      "batch.add_ms" -> med(bs.map(duration(_, "addBatch"))),
      "batch.wal_ms" -> med(bs.map(duration(_, "walCommit"))),
      "batch.commit_ms" -> med(bs.map(duration(_, "commitOffsets"))),
      "batch.jobs" -> g.jobs / n, "batch.stages" -> g.stages / n, "batch.tasks" -> g.tasks / n,
      "batch.busy" -> g.runMs / (wallS * 1000 * ctx.cpus),
      "batch.self_ms" -> med(bs.map(b => duration(b, "triggerExecution") - duration(b, "addBatch"))),
      "source.latest_offset_ms" -> med(bs.map(duration(_, "latestOffset"))),
      "source.get_batch_ms" -> med(bs.map(duration(_, "getBatch"))),
      "gate.state_rows" -> ops.lastOption.map(_.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "gate.state_update_ms" -> med(ops.map(_.map(_.allUpdatesTimeMs).sum.toDouble)),
      "gate.state_commit_ms" -> med(ops.map(_.map(_.commitTimeMs).sum.toDouble)),
      "gate.state_mem_bytes" -> ops.lastOption.map(_.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "gate.max_task_share" -> g.maxTaskShare())
  }

  /** Files and bytes a bucket holds. */
  def sink(bucket: String, points: Long): Map[String, Double] = {
    val files = org.apache.commons.io.FileUtils.listFiles(new java.io.File(bucket), Array("parquet"), true)
      .asScala.toSeq
    Map("sink.files" -> files.size.toDouble,
      "sink.bytes_per_point" -> files.map(_.length).sum.toDouble / math.max(1L, points))
  }

  def query(reads: Seq[Panel.Read]): Map[String, Double] = Map(
    "query.build_ms" -> med(reads.map(r => r.buildNs / 1e6)),
    "query.exec_ms" -> med(reads.map(r => r.execNs / 1e6)),
    "query.files_read" -> med(reads.map(_.files.toDouble)),
    "query.jobs" -> med(reads.map(_.jobs.toDouble)),
    "query.rows_out" -> med(reads.map(_.rows.toDouble)))

  def jvm(a: Jvm.Snap, b: Jvm.Snap): Map[String, Double] =
    Jvm.layer(a, b).map { case (n, v, _) => n -> v }.toMap

  def live(ctx: Ctx, runId: java.util.UUID, bs: Seq[StreamingQueryProgress], at: Array[Long],
      seqOfLog: Array[Int], delivered: Int, due: Array[Long], pubAt: Array[Long], msgs: Array[Msg],
      reads: Seq[Panel.Read], backlog: Seq[Long], genLate: Double, published: Int, dupes: Int,
      t0: Long, tEnd: Long, jvm0: Jvm.Snap, jvm1: Jvm.Snap, landing: Seq[Msg], bucket: String,
      visibleAt: Int => Long): Map[String, Double] = {
    // per delivered data message: its log index k, batch start and end
    val starts = bs.map(b => (ProgressProbe.startOffset(b), ProgressProbe.endOffset(b),
      ctx.nanoOfWallMs(ProgressProbe.startMs(b)), ctx.nanoOfWallMs(ProgressProbe.endMs(b)))).toArray
    def batchOf(k: Long) = starts.find { case (s, e, _, _) => k >= s && k < e }
    val kOf = new Array[Int](msgs.length); java.util.Arrays.fill(kOf, -1)
    (0 until math.min(delivered, seqOfLog.length)).foreach(k => if (seqOfLog(k) >= 0) kOf(seqOfLog(k)) = k)
    val wire = Seq.newBuilder[Double]; val deliver = Seq.newBuilder[Double]
    val wait = Seq.newBuilder[Double]; val inBatch = Seq.newBuilder[Double]
    val lag = Seq.newBuilder[Double]; val vis = Seq.newBuilder[Double]
    bs.foreach(b => Spans.batchPhases(ctx.nanoOfWallMs(ProgressProbe.startMs(b)), b))
    landing.foreach { m =>
      val k = kOf(m.seq)
      if (k >= 0) Spans.add("deliver", pubAt(m.seq), at(k))
      if (k >= 0) batchOf(k).foreach { case (_, _, bStart, bEnd) =>
        deliver += Stats.ms(at(k) - due(m.seq))
        wire += Stats.ms(at(k) - pubAt(m.seq))
        wait += Stats.ms(bStart - at(k))
        inBatch += Stats.ms(bEnd - bStart)
        lag += Stats.ms(bEnd - due(m.seq))
        val v = visibleAt(m.seq)
        if (v > 0) vis += Stats.ms(v - bEnd)
      }
    }
    val d = deliver.result()
    batchMetrics(ctx, runId, bs, (tEnd - t0) / 1e9) ++ query(reads) ++ jvm(jvm0, jvm1) ++
      sink(bucket, landing.map(m => Gen.fieldsOf(m.kind).toLong).sum) ++ Map(
      "wire.self_ms" -> med(wire.result()),
      "wire.deliver_p50_ms" -> Stats.pct(d, 50), "wire.deliver_p99_ms" -> Stats.pct(d, 99),
      "wire.published" -> published.toDouble, "wire.delivered" -> delivered.toDouble,
      "wire.duplicates" -> dupes.toDouble, "gen.late_max_ms" -> genLate,
      "source.self_ms" -> med(wait.result()), "source.wait_p50_ms" -> med(wait.result()),
      "source.backlog_max_msgs" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "batch.self_ms" -> med(inBatch.result()),
      "sink.commit_lag_p50_ms" -> Stats.pct(lag.result(), 50),
      "sink.commit_lag_p99_ms" -> Stats.pct(lag.result(), 99),
      "query.self_ms" -> med(vis.result()))
  }

  /** Backfill: the drains' progress, then the gate, decode and sink
    * called one at a time on the same input in batch mode. */
  def backfill(ctx: Ctx, msgs: Array[Msg], drains: Seq[Backfill.Drain], bucket: String,
      jvm0: Jvm.Snap, jvm1: Jvm.Snap): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val bs = drains.flatMap(_.progress)
    drains.foreach(d => d.progress.foreach(p => Spans.batchPhases(d.startNs, p)))
    val byRun = drains.map(d => batchMetrics(ctx, d.runId, d.progress.toSeq, (d.drainedNs - d.startNs) / 1e9))
    val merged = byRun.head.keys.map(k => k -> med(byRun.map(_(k)))).toMap
    val raw = Backfill.rawFrame(spark, msgs).cache()
    raw.count()
    def timeIt(name: String)(f: => Unit): Double = {
      spark.sparkContext.setJobGroup(name, name)
      val t = System.nanoTime(); Spans.time(name)(f); spark.sparkContext.clearJobGroup()
      (System.nanoTime() - t) / 1e9
    }
    val inRows = msgs.length.toDouble
    val gateS = med((0 until 3).map(_ => timeIt("gate")(
      graft.streaming.StreamingIngest.gated(raw.as[graft.streaming.StreamingIngest.RawMsg])
        .write.format("noop").mode("overwrite").save())))
    val points = Gen.expect(msgs.toSeq.map(_.copy(passes = true))).totalPoints.toDouble
    val decodeS = med((0 until 3).map(_ => timeIt("decode")(
      graft.solar.SolarIngest.points(raw).write.format("noop").mode("overwrite").save())))
    val dead = graft.solar.SolarIngest.deadLetter(raw).count().toDouble
    val decoded = graft.solar.SolarIngest.points(raw).cache()
    decoded.count()
    val sinkS = med((0 until 3).map(_ => timeIt("sink")(
      graft.solar.PointStore.write(decoded, s"${ctx.fresh("sink")}/bucket"))))
    decoded.unpersist(); raw.unpersist()
    merged ++ jvm(jvm0, jvm1) ++ query(drains.flatMap(_.readDetail)) ++
      sink(bucket, Gen.expect(msgs.toSeq).totalPoints) ++ Map(
      "gate.rows_per_s" -> inRows / gateS, "gate.self_ms" -> gateS * 1000,
      "decode.points_per_s" -> points / decodeS, "decode.self_ms" -> decodeS * 1000,
      "decode.deadletter_rows" -> dead,
      "sink.write_ms" -> sinkS * 1000, "sink.self_ms" -> sinkS * 1000,
      "sink.commit_lag_p50_ms" -> med(drains.map(d => Stats.ms(d.drainedNs - d.startNs))),
      "sink.commit_lag_p99_ms" -> Stats.pct(drains.map(d => Stats.ms(d.drainedNs - d.startNs)), 99),
      "source.backlog_max_msgs" -> msgs.length.toDouble,
      "source.self_ms" -> med(bs.map(b => duration(b, "latestOffset") + duration(b, "getBatch"))),
      "query.self_ms" -> med(drains.map(d => Stats.ms(d.firstSeenNs - d.drainedNs))))
  }

  /** Battery passes; the listener was reset when the timed passes began. */
  def battery(ctx: Ctx, passes: Seq[Seq[Battery.Run]]): Map[String, Double] = {
    val names = passes.head.map(_.name)
    val gs = names.map(n => ctx.probes.tasks.snapshot(s"battery.$n"))
    val np = passes.size.toDouble
    val perQuery = names.flatMap { n =>
      val rs = passes.flatMap(_.filter(_.name == n))
      Seq(s"battery.$n.s" -> med(rs.map(_.totalS)), s"battery.$n.jobs" -> med(rs.map(_.jobs.toDouble)))
    }
    perQuery.toMap ++ Map(
      "battery.self_ms" -> med(passes.map(_.map(_.totalS).sum)) * 1000,
      "battery.plan_s" -> med(passes.map(_.map(_.planS).sum)),
      "battery.action_s" -> med(passes.map(_.map(_.actionS).sum)),
      "battery.jobs" -> med(passes.map(_.map(_.jobs.toDouble).sum)),
      "battery.stages" -> gs.map(_.stages).sum / np,
      "battery.tasks" -> gs.map(_.tasks).sum / np,
      "battery.shuffle_mb" -> gs.map(g => g.shuffleRead + g.shuffleWrite).sum / np / 1e6,
      "battery.spill_mb" -> gs.map(_.spill).sum / np / 1e6,
      "battery.peak_task_mb" -> (if (gs.isEmpty) 0.0 else gs.map(_.peakTaskMem).max / 1e6))
  }
}
