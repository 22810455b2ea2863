package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Percentiles and small numeric helpers shared by the workloads. */
object Stats {
  /** Nearest-rank percentile of `xs` (`p` in 0..100); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def ms(ns: Long): Double = ns / 1e6
}

/** Work counted per Spark job group: jobs, stages, tasks, executor time,
  * shuffle, spill and the largest per-task memory peak. */
final class GroupAgg {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var peakTaskMem = 0L
  /** Per stage: (task count, total task run ms, longest task run ms). */
  val stageRun = mutable.Map.empty[Int, (Int, Long, Long)]

  /** Longest task over its stage's total run time, for the stages that
    * carry at least `minShare` of the group's run time and have >1 task. */
  def maxTaskShare(minShare: Double = 0.05): Double = {
    val heavy = stageRun.values.filter { case (n, tot, _) =>
      n > 1 && tot > 0 && tot >= minShare * runMs }
    if (heavy.isEmpty) 0.0 else heavy.map { case (_, tot, mx) => mx.toDouble / tot }.max
  }
}

/** Bench-owned SparkListener: attributes every task to the job group its
  * job ran under (`SparkContext.setJobGroup`; a streaming query's jobs
  * run under the query's run id). */
final class TaskProbe extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groups = mutable.Map.empty[String, GroupAgg]

  def agg(group: String): GroupAgg = synchronized { groups.getOrElseUpdate(group, new GroupAgg) }
  def snapshot(group: String): GroupAgg = synchronized {
    val g = groups.getOrElse(group, new GroupAgg); val c = new GroupAgg
    c.jobs = g.jobs; c.stages = g.stages; c.tasks = g.tasks; c.runMs = g.runMs
    c.shuffleRead = g.shuffleRead; c.shuffleWrite = g.shuffleWrite; c.spill = g.spill
    c.peakTaskMem = g.peakTaskMem; c.stageRun ++= g.stageRun
    c
  }
  def reset(): Unit = synchronized { groups.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    synchronized { agg(g).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "none")
    synchronized { agg(g).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = stageGroup.getOrDefault(e.stageId, "none")
    synchronized {
      val a = agg(g)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakTaskMem = math.max(a.peakTaskMem, m.peakExecutionMemory)
      val (n, tot, mx) = a.stageRun.getOrElse(e.stageId, (0, 0L, 0L))
      a.stageRun(e.stageId) = (n + 1, tot + m.executorRunTime, math.max(mx, m.executorRunTime))
    }
  }
}

/** Bench-owned streaming listener: keeps every progress event with the
  * wall clock at which it arrived. */
final class ProgressProbe extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress of batches that read rows, of the query `runId`. */
  def batches(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(p => p.runId == runId && p.numInputRows > 0)
}

object ProgressProbe {
  def duration(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  /** Wall-clock ms at which the batch started (progress `timestamp`). */
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + duration(p, "triggerExecution").toLong
  def endOffset(p: StreamingQueryProgress): Long = p.sources.head.endOffset.trim.toLong
  def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).map(_.trim).filter(_ != "null").map(_.toLong).getOrElse(0L)
}

/** In-memory span recorder: (name, start ns, end ns). Only records while
  * enabled, so untraced runs pay one volatile read per call site. */
object Spans {
  final case class Span(name: String, start: Long, end: Long)
  @volatile var enabled = false
  val all = new ConcurrentLinkedQueue[Span]()
  def add(name: String, start: Long, end: Long): Unit = if (enabled) all.add(Span(name, start, end))
  def time[T](name: String)(f: => T): T = {
    val s = System.nanoTime()
    try f finally add(name, s, System.nanoTime())
  }
  /** A batch's phases as spans, laid end to end from its start in the
    * order Spark runs them (progress events carry durations only). */
  def batchPhases(start: Long, p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    var t = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        val d = (ProgressProbe.duration(p, k) * 1e6).toLong
        add(s"batch.$k", t, t + d); t += d
      }
  }

  /** Write every span as one JSON line, times in ns from the first span. */
  def write(path: String): Unit = {
    val ss = all.asScala.toSeq.sortBy(_.start)
    val t0 = ss.headOption.map(_.start).getOrElse(0L)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try ss.foreach(s => w.println(s"""{"name": "${s.name}", "start_ns": ${s.start - t0}, "end_ns": ${s.end - t0}}"""))
    finally w.close()
  }
}

/** JVM-wide counters: GC, JIT and process CPU time, and VmHWM. */
object Jvm {
  import java.lang.management.ManagementFactory
  final case class Snap(gcMs: Long, jitMs: Long, cpuNs: Long)
  def snap(): Snap = Snap(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum,
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L),
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime)
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
  def layer(a: Snap, b: Snap): Seq[(String, Double, String)] = Seq(
    ("jvm.gc_s", (b.gcMs - a.gcMs) / 1e3, "s"),
    ("jvm.jit_s", (b.jitMs - a.jitMs) / 1e3, "s"),
    ("jvm.cpu_s", (b.cpuNs - a.cpuNs) / 1e9, "s"))
}

/** Attach both bench listeners to a session. */
final class Probes(val spark: SparkSession) {
  val tasks = new TaskProbe
  val progress = new ProgressProbe
  spark.sparkContext.addSparkListener(tasks)
  spark.streams.addListener(progress)
  /** Let the asynchronous listener bus deliver everything posted so far. */
  def settle(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
