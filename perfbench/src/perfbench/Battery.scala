package perfbench

import graft.{ScratchCache, SparkEntry}
import graft.queries.Q
import org.apache.spark.sql.{DataFrame, Row}

/** `battery`: a fixed set of registry queries through `Q.run` into the
  * noop sink, one client in a closed loop. */
object Battery {
  /** Per query: seconds inside `q.run` (plan, plus any eager jobs), seconds
    * in the action, and the jobs both ran. */
  final case class Run(name: String, planS: Double, actionS: Double, jobs: Long) {
    def totalS: Double = planS + actionS
  }

  def set(names: Seq[String]): Seq[Q] = {
    val reg = SparkEntry.registry.map(q => q.name -> q).toMap
    names.map(n => reg.getOrElse(n, throw new IllegalArgumentException(s"no registry query $n")))
  }

  def runOne(ctx: Ctx, q: Q, data: String): Run = {
    val spark = ctx.spark
    val group = s"battery.${q.name}"
    val jobs0 = ctx.probes.tasks.snapshot(group).jobs
    spark.sparkContext.setJobGroup(group, q.name)
    val t0 = System.nanoTime()
    val df = Spans.time(s"plan.${q.name}")(q.run(spark, data))
    val t1 = System.nanoTime()
    Spans.time(s"action.${q.name}")(df.write.format("noop").mode("overwrite").save())
    val t2 = System.nanoTime()
    spark.sparkContext.clearJobGroup()
    ScratchCache.releaseAll()
    ctx.probes.settle()
    Run(q.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ctx.probes.tasks.snapshot(group).jobs - jobs0)
  }

  /** Row count and a content hash: columns in name order, rows in the
    * query's own order, doubles to 9 significant digits. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*).collect()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def v(x: Any): String = x match {
      case null => "∅"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.9g".format(d)
      case f: Float => "%.6g".format(f.toDouble)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (a, b) => v(a) + ":" + v(b) }.sorted.mkString("{", ",", "}")
      case o => o.toString
    }
    rows.foreach(r => md.update((r.toSeq.map(v).mkString("|") + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString.take(16))
  }

  /** Expected (rows, hash) per query, from the committed expectation
    * file: one `name rows hash` line each. */
  def readExpect(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val a = l.split("\\s+"); a(0) -> (a(1).toLong, a(2)) }.toMap

  def check(ctx: Ctx, qs: Seq[Q], data: String, expect: Map[String, (Long, String)]): Seq[String] =
    qs.flatMap { q =>
      val (n, h) = fingerprint(q.run(ctx.spark, data))
      ScratchCache.releaseAll()
      ctx.note(s"fingerprint ${q.name} $n $h")
      expect.get(q.name) match {
        case Some((en, eh)) if en == n && eh == h => None
        case Some((en, eh)) => Some(s"battery: ${q.name} gave $n rows hash $h, expected $en rows hash $eh")
        case None => Some(s"battery: ${q.name} has no committed expectation")
      }
    }
}
