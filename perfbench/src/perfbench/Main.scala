package perfbench

import scala.collection.mutable.ArrayBuffer
import graft.GraftSession
import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What every workload shares: the session, the listeners, a scratch
  * directory, trace mode and the notes printed before the result. */
final class Ctx(val spark: SparkSession, val probes: Probes, val work: String,
    val traced: Boolean, val cpus: Int) {
  /** A new empty directory for one phase. */
  def fresh(tag: String): String = {
    val d = new java.io.File(work, s"$tag-${Ctx.dirs.incrementAndGet()}")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    d.getPath
  }
  @volatile private var wallMinusNano = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def syncClocks(): Unit = wallMinusNano = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** A wall-clock millisecond (as Spark's progress events carry) on the
    * `System.nanoTime` axis the benchmark times with. */
  def nanoOfWallMs(ms: Long): Long = ms * 1000000L - wallMinusNano
  val notes = ArrayBuffer.empty[String]
  def note(s: String): Unit = { notes += s; System.err.println(s"[perfbench] $s") }
}

object Ctx {
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Workload outcome: end-to-end metrics (untraced runs), per-layer
  * metrics (traced runs), and the failure count behind `failed_ratio`. */
final case class Outcome(e2e: Seq[Metric], layers: Seq[Metric], attempted: Long, failed: Long,
    failures: Seq[String])

/** Entry point: `--workload live|backfill|smoke --seed N --seconds S
  * --trace 0|1 --work DIR`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val work = opts("work")
    val cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    // the smoke run: every workload at tiny size, traced and untraced, plus
    // the injected faults (a dropped message on each workload, a wrong
    // ingest expectation, a wrong battery hash), in one session
    val cases: Seq[(String, Boolean, Option[String])] =
      if (opts.get("workload").contains("smoke"))
        Seq(("live", false, None), ("backfill", false, None), ("live", true, None),
          ("backfill", true, None), ("live", false, Some("drop")), ("backfill", false, Some("drop")),
          ("backfill", false, Some("expect")), ("backfill", true, Some("hash")))
      else Seq((opts("workload"), opts.getOrElse("trace", "0") == "1", None))
    val tiny = cases.size > 1

    val t0 = System.nanoTime()
    // the session the repo's Bench and Verify mains build: local[cpus]
    // with one shuffle partition per core
    val spark = GraftSession.builder(s"local[$cpus]", "perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probes = new Probes(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    cases.foreach { case (workload, traced, inject) =>
      val ctx = new Ctx(spark, probes, work, traced, cpus)
      Spans.all.clear()
      val start = if (cases.size > 1) System.nanoTime() else t0
      val (setupS, out) = workload match {
        case "live" => Workloads.live(ctx, seed, seconds, tiny, inject, start)
        case "backfill" => Workloads.backfill(ctx, seed, seconds, tiny, inject, opts("data"),
          opts("expect"), start)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (cases.size > 1) println(s"# case $workload trace=${if (traced) 1 else 0} inject=${inject.getOrElse("none")}")
      report(ctx, out, setupS, sessionS)
      if (traced) opts.get("spans").foreach(Spans.write)
    }
    System.out.flush()
    spark.stop()
  }

  private def report(ctx: Ctx, out: Outcome, setupS: Double, sessionS: Double): Unit = {
    out.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAIL $f"))
    val metrics =
      if (ctx.traced) out.layers
      else Metric("setup_s", setupS, "s") +: out.e2e :+ Metric("peak_rss_mb", Jvm.peakRssMb(), "MB")
    ctx.note(f"session $sessionS%.2f s, setup $setupS%.2f s")
    ctx.notes.foreach(n => println(s"# $n"))
    def obj(ms: Seq[Metric]) = ms.map(m => s""""${m.name}": ${fmt(m.value)}""").mkString("{", ", ", "}")
    if (ctx.traced) {
      // the end-to-end figures as measured with tracing on, for the overhead
      println(s"# traced-e2e ${obj(out.e2e)}")
      println("# per-layer table:")
      out.layers.foreach(m => println(f"#   ${m.name}%-36s ${m.value}%16.3f ${m.unit}"))
    } else
      out.e2e.foreach(m => println(f"#   ${m.name}%-20s ${m.value}%14.3f ${m.unit}"))
    val ratio = if (out.attempted > 0) out.failed.toDouble / out.attempted else 1.0
    println(f"#   failed_ratio         $ratio%14.6f ratio (${out.failed} of ${out.attempted})")
    val bad = metrics.filter(m => m.value.isNaN || m.value.isInfinite)
    bad.foreach(m => System.err.println(s"[perfbench] FAIL metric ${m.name} has no value"))
    val ok = out.failures.isEmpty && bad.isEmpty
    val json = metrics.map(m => s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
      .mkString("{", ", ", "}")
    println(s"""{"correct": $ok, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": $json}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
