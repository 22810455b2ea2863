package perfbench

import scala.collection.mutable.ArrayBuffer

/** The two workloads: sizes, warm-up, the timed phase and the checks.
  * Each returns its set-up seconds (session start to timed phase) and its
  * outcome. */
object Workloads {
  val LiveRate = 1000
  val BackfillMsgs = 100000
  /** The registry queries the traced backfill run times one by one: the
    * order-statistics family (q_bin_equidepth, q_mad_outliers), a rank
    * correlation, a graph, the solar gate and the core aggregate. */
  val BatterySet = Seq("q_bin_equidepth", "q_mad_outliers", "q_spearman", "q_kcore",
    "q_status_gate", "q1_agg")

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The bucket query set's summed seconds over `bucket`: the median of
    * `runs` runs after `warm` runs that are not reported (the first run of
    * a session compiles its plans). */
  private def bucketSet(ctx: Ctx, bucket: String, n: Int, warm: Int, runs: Int): Double = {
    val sums = (0 until warm + runs).map(_ => BucketSet.run(ctx.spark, bucket, n).map(_._2).sum)
    ctx.note("bucket set runs " + sums.map("%.2f".format(_)).mkString(" ") + " s")
    Stats.median(sums.drop(warm))
  }


  def live(ctx: Ctx, seed: Long, seconds: Double, tiny: Boolean, inject: Option[String],
      t0: Long): (Double, Outcome) = {
    Spans.enabled = ctx.traced
    // the pre-roll (100 msg/s until two batches are committed and the
    // reader has read once) is the warm-up: the first batch of a fresh
    // JVM compiles every plan, and the backlog it leaves stays small
    val before = since(t0)
    val r = Live.run(ctx, seed, if (tiny) 200 else LiveRate, if (tiny) 1.5 else seconds,
      preRoll = if (tiny) 100 else 600, preRate = 100, warmBatches = 2,
      drop = if (inject.contains("drop")) 1 else 0)
    val set = bucketSet(ctx, r.bucket, r.n, warm = 1, runs = 2)
    Spans.enabled = false
    (before + r.preRollS, Outcome(r.e2e :+ Metric("battery_total_s", set, "s"), Layers.emit(r.layers),
      r.attempted, r.failed, r.failures))
  }

  /** `backfill`. `inject` puts in one fault the checks must catch: `drop`
    * withholds one landing message from the log, `expect` expects one
    * more point of the first measurement, `hash` expects another content
    * hash for the first battery query (traced runs only). */
  def backfill(ctx: Ctx, seed: Long, seconds: Double, tiny: Boolean, inject: Option[String],
      data: String, expectPath: String, t0: Long): (Double, Outcome) = {
    val n = if (tiny) 2000 else BackfillMsgs
    val msgs = Gen.stream(seed, n)
    val log = s"perfbench-backfill-$seed"
    val landing = msgs.filter(_.lands)
    Backfill.preload(log,
      if (inject.contains("drop")) msgs.filterNot(_ eq landing(landing.length / 2)) else msgs)
    val expect = Gen.expect(msgs)
    val wanted = if (!inject.contains("expect")) expect else {
      val m = Gen.Measurements.head
      expect.copy(points = expect.points.updated(m, expect.points(m) + 1))
    }
    val fails = ArrayBuffer.empty[String]
    val reads = 3
    // warm-up: two drains of the same log, each read back once; the first
    // drain of a fresh JVM compiles every plan and JIT-compiles the per-row
    // code, and drains still sped up by 10-20% over the next two
    val warm = Seq(Backfill.drain(ctx, log, n, wanted, 1, check = true),
      Backfill.drain(ctx, log, n, wanted, 1, check = false))
    ctx.note("backfill warm-up drains " + warm.map(w => "%.1f s, read %.1f s".format(
      (w.drainedNs - w.startNs) / 1e9, (w.readDetail.head.end - w.readDetail.head.start) / 1e9)).mkString("; "))
    bucketSet(ctx, warm.last.bucket, n, warm = 1, runs = 0)
    val setup = since(t0)
    Spans.enabled = ctx.traced
    val timed = ArrayBuffer.empty[Backfill.Drain]
    val jvm0 = Jvm.snap()
    val tStart = System.nanoTime()
    while (timed.size < 3 || since(tStart) < seconds)
      timed += Backfill.drain(ctx, log, n, wanted, reads, check = false)
    val jvm1 = Jvm.snap()
    val set = bucketSet(ctx, timed.last.bucket, n, warm = 0, runs = 2)
    fails ++= Checks.bucket(ctx.spark, timed.last.bucket, wanted)
    fails ++= (warm ++ timed).flatMap(_.failures)
    val pts = expect.totalPoints.toDouble
    // freshness: every message was due when the drain started
    val fresh = timed.map(d => Stats.ms(d.firstSeenNs - d.startNs)).toSeq
    val dash = timed.flatMap(_.readDetail.map(r => Stats.ms(r.end - r.start))).toSeq
    val e2e = Seq(
      Metric("freshness_p50_ms", Stats.pct(fresh, 50), "ms"),
      Metric("freshness_p99_ms", Stats.pct(fresh, 99), "ms"),
      Metric("dashboard_p50_ms", Stats.pct(dash, 50), "ms"),
      Metric("dashboard_p90_ms", Stats.pct(dash, 90), "ms"),
      Metric("points_per_s", Stats.median(timed.map(d => pts / ((d.drainedNs - d.startNs) / 1e9)).toSeq), "points/s"),
      Metric("battery_total_s", set, "s"))
    ctx.note(s"backfill: $n msgs (${expect.totalPoints} points) x ${timed.size} timed drains: " +
      timed.map(d => "%.2f".format((d.drainedNs - d.startNs) / 1e9)).mkString(" ") + " s; " +
      Jvm.layer(jvm0, jvm1).map { case (k, v, u) => f"$k $v%.2f $u" }.mkString(", "))
    val attempted = 2L * n * (warm.size + timed.size) + dash.size + warm.size
    val layers =
      if (!ctx.traced) Nil
      else {
        // the drains' layers first: the reset below clears the listener's
        // per-query job, stage and task counts
        val drainLayers = Layers.backfill(ctx, msgs, timed.toSeq, timed.last.bucket, jvm0, jvm1)
        val qs = Battery.set(if (tiny) BatterySet.filter(Set("q1_agg", "q_status_gate")) else BatterySet)
        // the check pass is the battery's warm-up; one timed pass follows
        val hashes = Battery.readExpect(expectPath)
        val first = qs.head.name
        fails ++= Battery.check(ctx, qs, data, if (!inject.contains("hash")) hashes else
          hashes.updated(first, (hashes(first)._1, hashes(first)._2.map(c => if (c == '0') '1' else '0'))))
        ctx.probes.settle(); ctx.probes.tasks.reset()
        val pass = qs.map(q => Battery.runOne(ctx, q, data))
        Layers.emit(drainLayers ++ Layers.battery(ctx, Seq(pass)))
      }
    Spans.enabled = false
    (setup, Outcome(e2e, layers, attempted, fails.size.toLong, fails.toSeq))
  }
}
