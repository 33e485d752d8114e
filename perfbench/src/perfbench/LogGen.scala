package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One generated input record and what the forwarder must do with it. */
final case class Rec(
    rid: String,           // unique per original record; a replay repeats it
    line: String,          // the raw line as written to the input file
    fmt: Int,              // LogGen.Rfc3339 | Rfc3164 | Malformed
    host: String,
    app: String,
    level: Option[String], // None: the payload has no level
    title: String,
    latencyMs: Int,
    pii: Seq[String],      // PII strings placed in the message
    nearDup: Boolean,      // a near-duplicate of a history line
    late: Boolean) {       // event time older than the dedup horizon allows

  def parsedLevel: String = if (fmt == LogGen.Malformed) "debug" else level.getOrElse("debug")
  def parsedApp: String = if (fmt == LogGen.Malformed) "_UNKNOWN_" else app

  /** The stream the route table sends this record to. */
  def stream: String =
    if (fmt != LogGen.Malformed && title == "request_latency") "latency-alerts"
    else if (parsedLevel == "error") "errors"
    else if (parsedApp == "billing") "billing"
    else "main"
}

/** The traffic a forwarder workload sends. Every share is a probability per
  * record; the numbers are the ones BENCHMARK.json and the README state.
  * They are assumptions: no measured traffic backs them. */
final case class Traffic(
    files: Int, linesPerFile: Int,
    replayShare: Double = 0.0, nearDupShare: Double = 0.0,
    oooShare: Double = 0.0, lateShare: Double = 0.0, piiShare: Double = 0.0,
    historyLines: Int = 0) {
  def records: Int = files * linesPerFile
}

/** Seeded syslog/kayvee line generator with a ground-truth ledger. */
object LogGen {
  val Rfc3339 = 0
  val Rfc3164 = 1
  val Malformed = 2

  val FormatShares = Seq(Rfc3339 -> 0.80, Rfc3164 -> 0.15, Malformed -> 0.05)
  val Apps = Seq("api" -> 0.35, "worker" -> 0.20, "haproxy-logs" -> 0.15,
    "billing" -> 0.10, "auth" -> 0.10, "search" -> 0.10)
  val Levels = Seq(Some("info") -> 0.65, Some("warning") -> 0.12, Some("error") -> 0.08,
    Some("debug") -> 0.05, None -> 0.10)
  val Titles = Seq("request_done" -> 0.40, "db_query" -> 0.20, "cache_miss" -> 0.15,
    "request_latency" -> 0.15, "job_finished" -> 0.10)
  val MsgWords = 40
  /** Event time advances by this much per record; out-of-order records are
    * up to two minutes early, late ones 20 to 60 minutes. */
  val StepMs = 100L
  val StartMs = 1709251200000L // 2024-03-01T00:00:00Z

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po",
    "da", "fe", "gu", "hi", "jo", "ba")
  /** 256 fixed message words. */
  val Vocab: IndexedSeq[String] =
    (for (a <- syllables; b <- syllables) yield a + b).toIndexedSeq

  private def pick[T](r: SplittableRandom, xs: Seq[(T, Double)]): T = {
    var u = r.nextDouble()
    xs.find { case (_, p) => u -= p; u < 0 }.getOrElse(xs.last)._1
  }

  private val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
    "Sep", "Oct", "Nov", "Dec")

  private def rfc3339(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'+00:00'")
      .format(java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC))

  private def rfc3164(ms: Long): String = {
    val t = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
    f"${months(t.getMonthValue - 1)} ${t.getDayOfMonth}%2d ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
  }

  private def rid(n: Long): String = "r" + java.lang.Long.toString(n, 36)

  /** The parts of a line that a near-duplicate keeps. */
  private final case class Body(host: String, app: String, level: Option[String],
                                title: String, latency: Int, words: Seq[String])

  private def body(r: SplittableRandom): Body = Body(
    s"ip-10-0-${r.nextInt(8)}-${r.nextInt(8) + 10}", pick(r, Apps), pick(r, Levels),
    pick(r, Titles), 1 + r.nextInt(2000), Seq.fill(MsgWords)(Vocab(r.nextInt(Vocab.size))))

  private def render(r: SplittableRandom, b: Body, rid: String, fmt: Int, eventMs: Long,
                     pii: Seq[String]): String = {
    val msgWords = if (pii.isEmpty) b.words else {
      val w = b.words.toBuffer
      // never last: a URL runs to the next space and would swallow the
      // payload's closing quote
      pii.foreach(p => w.insert(r.nextInt(w.size), p))
      w.toSeq
    }
    val payload = "{\"title\":\"" + b.title + "\"" +
      b.level.map(l => ",\"level\":\"" + l + "\"").getOrElse("") +
      ",\"rid\":\"" + rid + "\",\"latency_ms\":" + b.latency +
      ",\"msg\":\"" + msgWords.mkString(" ") + "\"}"
    val prog = s"production--${b.app}/arn%3Aaws%3Aecs%3Aus-west-1%3A589690932525%3Atask%2Ft-" +
      java.lang.Long.toHexString(r.nextLong() & 0xffffffffL)
    val pid = 1 + r.nextInt(32767)
    fmt match {
      case Rfc3339 => s"${rfc3339(eventMs)} ${b.host} $prog[$pid]: $payload"
      case Rfc3164 => s"${rfc3164(eventMs)} ${b.host} $prog[$pid]: $payload"
      case _ => s"<<garbled>> ${b.host} $prog $payload"
    }
  }

  private def piiOf(r: SplittableRandom): Seq[String] = r.nextInt(3) match {
    case 0 => Seq(s"user${r.nextInt(100000)}@example.com")
    case 1 => Seq(f"+1 415 555 ${r.nextInt(10000)}%04d")
    case _ => Seq(s"https://portal.example.com/reset?token=${java.lang.Long.toHexString(r.nextLong())}")
  }

  /** History lines: what was delivered before the run; the near-dup index is
    * built from them. Always well-formed RFC3339 without PII. */
  def history(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new SplittableRandom(seed * 31 + 11)
    historyBodies(seed, n).zipWithIndex.map { case (b, i) =>
      render(r, b, "h" + java.lang.Long.toString(i, 36), Rfc3339,
        StartMs - 86400000L + i * StepMs, Nil)
    }
  }

  private def historyBodies(seed: Long, n: Int): IndexedSeq[Body] = {
    val r = new SplittableRandom(seed * 31 + 7)
    IndexedSeq.fill(n)(body(r))
  }

  /** The backlog, in delivery order, with its ledger. Near-duplicates copy
    * the history of `historySeed` (default: the same seed). */
  def backlog(seed: Long, t: Traffic, historySeed: Option[Long] = None): IndexedSeq[Rec] = {
    val r = new SplittableRandom(seed)
    val hist = historyBodies(historySeed.getOrElse(seed), t.historyLines)
    val out = mutable.ArrayBuffer.empty[Rec]
    var n = 0L
    while (out.size < t.records) {
      val i = out.size
      val u = r.nextDouble()
      if (out.nonEmpty && u < t.replayShare) {
        // an exact copy of one of the last 40 lines
        out += out(math.max(0, i - 1 - r.nextInt(40)))
      } else {
        val nearDup = hist.nonEmpty && u < t.replayShare + t.nearDupShare
        val b = if (nearDup) hist(r.nextInt(hist.size)) else body(r)
        val fmt = if (nearDup) Rfc3339 else pick(r, FormatShares)
        val v = r.nextDouble()
        val late = v < t.lateShare
        val shiftMs =
          if (late) 1200000L + r.nextLong(2400000L)
          else if (v < t.lateShare + t.oooShare) r.nextLong(120000L)
          else 0L
        val pii = if (!nearDup && r.nextDouble() < t.piiShare) piiOf(r) else Nil
        val id = rid(n)
        n += 1
        val line = render(r, b, id, fmt, StartMs + i * StepMs - shiftMs, pii)
        out += Rec(id, line, fmt, b.host, b.app, b.level, b.title, b.latency, pii,
          nearDup = nearDup, late = late && fmt != Malformed)
      }
    }
    out.toIndexedSeq
  }

  private val RidPattern = "rid\\\\?\"\\s*:\\s*\\\\?\"([a-z0-9]+)".r

  /** The record id inside a delivered record (plain NDJSON or metric point). */
  def ridOf(s: String): Option[String] = RidPattern.findFirstMatchIn(s).map(_.group(1))
}
