package perfbench

import graft.solar.{SolarSynth, Topics}

/** One message of the seeded stream. Data messages carry the 4-byte epoch
  * `Gen.Epoch0 + seq`, so a payload (or a landed point's `time`) names its
  * message exactly; a malformed one keeps the first 3 bytes of it. */
final case class Msg(
    seq: Int,
    topic: String,
    payload: Array[Byte],
    kind: Int, // 0 dc, 1 fx, 2 mx; -1 status
    malformed: Boolean,
    passes: Boolean, // device and mate online when it arrives
    base: Long) {
  def isData: Boolean = kind >= 0
  def isStatus: Boolean = kind < 0
  /** Lands points in the bucket. */
  def lands: Boolean = isData && passes && !malformed
}

/** Closed-form expectation of what the ingest loop must land. */
final case class Expect(
    points: Map[String, Long], // measurement -> points
    centis: Map[String, Long], // measurement -> sum of round(value * 100)
    deadLetters: Long) {
  def totalPoints: Long = points.values.sum
}

/** The seeded message stream: DC/FX/MX packets in rotation, a per-seed
  * outage schedule on the mate and each device (status flips to
  * "offline" and back), and ~0.1% truncated payloads. Which messages pass
  * the status gate, and every decoded value, follow in closed form from
  * the seed, so the expectation never re-runs the pipeline. */
object Gen {
  /** A UTC midnight: any stream under 86,400 messages stays in one date
    * partition of the bucket. */
  val Epoch0 = 1700006400L
  val Measurements = Seq(Topics.DcName, Topics.FxName, Topics.MxName)
  private val dataTopic = Array(Topics.DcData, Topics.FxData, Topics.MxData)
  private val statusTopic = Array(Topics.MateStatus, Topics.DcStatus, Topics.FxStatus, Topics.MxStatus)
  private val specs = Array(SolarSynth.dcSpecs, SolarSynth.fxSpecs, SolarSynth.mxSpecs)
  val Online: Array[Byte] = "online".getBytes("US-ASCII")
  val Offline: Array[Byte] = "offline".getBytes("US-ASCII")

  def stream(seed: Long, n: Int, malformedRate: Double = 0.001): Array[Msg] = {
    val rng = new java.util.SplittableRandom(seed)
    // status flips: seq -> (unit, online); units 0 mate, 1..3 devices.
    // Every unit starts online (seqs 0..3); each then has one or two
    // outages of 0.2-2% of the stream, placed anywhere after the start.
    val flips = scala.collection.mutable.Map.empty[Int, (Int, Boolean)]
    def place(at: Int, f: (Int, Boolean)): Unit = {
      var s = at
      while (flips.contains(s)) s += 1
      if (s < n) flips(s) = f
    }
    (0 until 4).foreach(u => flips(u) = (u, true))
    if (n > 100) (0 until 4).foreach { u =>
      (0 until 1 + rng.nextInt(2)).foreach { _ =>
        val len = math.max(2, (n * (0.002 + rng.nextDouble() * 0.018)).toInt)
        val at = 4 + rng.nextInt(math.max(1, n - 4 - len))
        place(at, (u, false)); place(at + len, (u, true))
      }
    }
    val on = Array.fill(4)(false)
    val out = new Array[Msg](n)
    var i = 0
    while (i < n) {
      out(i) = flips.get(i) match {
        case Some((u, up)) =>
          on(u) = up
          Msg(i, statusTopic(u), if (up) Online else Offline, -1, malformed = false, passes = true, 0L)
        case None =>
          val k = i % 3
          val base = rng.nextLong(200000L)
          val epoch = Epoch0 + i
          val full = k match {
            case 0 => SolarSynth.encodeDc(epoch, base)
            case 1 => SolarSynth.encodeFx(epoch, base)
            case _ => SolarSynth.encodeMx(epoch, base)
          }
          val bad = rng.nextDouble() < malformedRate
          Msg(i, dataTopic(k), if (bad) full.take(3) else full, k, bad, on(0) && on(k + 1), base)
      }
      i += 1
    }
    out
  }

  def expect(msgs: Iterable[Msg]): Expect = {
    val pts = Array.fill(3)(0L); val cs = Array.fill(3)(0L)
    var dead = 0L
    msgs.foreach { m =>
      if (m.isData && m.passes) {
        if (m.malformed) dead += 1
        else {
          specs(m.kind).foreach { s =>
            pts(m.kind) += 1
            cs(m.kind) += math.round(SolarSynth.expectedValue(s, m.base) * 100)
          }
        }
      }
    }
    Expect(Measurements.zip(pts).toMap, Measurements.zip(cs).toMap, dead)
  }

  /** Points one landing message of `kind` contributes. */
  def fieldsOf(kind: Int): Int = specs(kind).size

  /** The message a data payload belongs to (3 low epoch bytes suffice). */
  def seqOf(payload: Array[Byte]): Int = {
    val lo = (payload(0) & 0xff) | ((payload(1) & 0xff) << 8) | ((payload(2) & 0xff) << 16)
    ((lo - (Epoch0 & 0xffffff) + (1 << 24)) % (1 << 24)).toInt
  }
}
