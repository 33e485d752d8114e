package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.sinks.{Delivery, FileDelivery, SinkConfig}
import graft.streaming.{Forwarder, Routing}

/** JVM-wide state of the delivery double. In local mode every task runs in
  * this JVM, so the serialized copies of [[FlakyDelivery]] share it. */
object Target {
  @volatile var seed = 0L
  val seen: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val calls, sent, accepted, retryCalls, firstAttemptFails, permanentFails, ns = new LongAdder

  def reset(s: Long): Unit = {
    seed = s
    seen.clear()
    Seq(calls, sent, accepted, retryCalls, firstAttemptFails, permanentFails, ns).foreach(_.reset())
  }

  /** Content-keyed failure draw in [0, 1) for a record id. */
  def draw(rid: String): Double =
    (MurmurHash3.stringHash(rid, seed.toInt) & 0x7fffffff) / 2147483648.0

  def permanent(rid: String): Boolean = draw(rid) < Forward.PermanentShare
  def transient(rid: String): Boolean = !permanent(rid) && draw(rid) < Forward.PermanentShare + Forward.TransientShare
}

/** Delivery double around the real [[FileDelivery]]: the records it accepts
  * are written to disk by the library's own target. It fails a fixed,
  * content-keyed share of records on their first attempt and a smaller share
  * on every attempt, so retries and dead letters repeat exactly. */
final class FlakyDelivery(dir: String) extends Delivery {
  @transient private lazy val files = new FileDelivery(dir)

  def deliver(stream: String, records: Seq[Array[Byte]]): Seq[Int] =
    Trace.deliverSpan(records.size) {
      val t0 = System.nanoTime()
      val failed = mutable.ArrayBuffer.empty[Int]
      val ok = mutable.ArrayBuffer.empty[Array[Byte]]
      var retry = true
      records.zipWithIndex.foreach { case (r, i) =>
        val rid = LogGen.ridOf(new String(r, StandardCharsets.UTF_8)).getOrElse("")
        val first = Target.seen.add(rid)
        retry &&= !first
        if (Target.permanent(rid)) { failed += i; Target.permanentFails.increment() }
        else if (first && Target.transient(rid)) { failed += i; Target.firstAttemptFails.increment() }
        else ok += r
      }
      if (ok.nonEmpty) files.deliver(stream, ok.toSeq)
      Target.calls.increment()
      if (retry) Target.retryCalls.increment()
      Target.sent.add(records.size)
      Target.accepted.add(ok.size)
      Target.ns.add(System.nanoTime() - t0)
      failed.toSeq
    }
}

object Forward {
  val PermanentShare = 0.002
  val TransientShare = 0.03
  /** Sink settings: the library defaults except a 2 ms base backoff (2, 4
    * and 8 ms sleeps for a record that fails every time), 3 retries, and a
    * dead-letter directory. */
  def sinkConfig(dlq: String): SinkConfig =
    SinkConfig(maxRetries = 3, baseBackoffMs = 2, dlqDir = Some(dlq))

  /** The backlogs; their file counts are per second of the run's time. At
    * 20 s, fwd_plain drains 100 micro-batches of 500 lines and fwd_guarded
    * 12 of 100 lines. A guarded micro-batch costs 1.5 to 2 s however few
    * lines it holds, so 100 of them do not fit in a run. */
  val Plain = Traffic(files = 50, linesPerFile = 50)
  val Guarded = Traffic(files = 6, linesPerFile = 10, replayShare = 0.04,
    nearDupShare = 0.03, oooShare = 0.05, lateShare = 0.02, piiShare = 0.05,
    historyLines = 2000)
  val DedupWithin = "10 minutes"
  val FilesPerTrigger = Forwarder.Config("", "").maxFilesPerTrigger

  val RouteTable: String =
    """routes:
      |  latency-alerts:
      |    matchers:
      |      title: ["request_latency"]
      |    output:
      |      type: "alerts"
      |      series: "forwarder.request_latency"
      |      dimensions: ["rid", "container_app"]
      |      stat_type: "gauge"
      |      value_field: "latency_ms"
      |  errors:
      |    matchers:
      |      level: ["error"]
      |  billing:
      |    matchers:
      |      container_app: ["billing"]
      |""".stripMargin

  /** Writes `lines` as files of `perFile` lines with distinct, increasing
    * modification times, the order the file source reads them in. */
  def writeFiles(dir: String, lines: Seq[String], perFile: Int): Unit = {
    val d = Files.createDirectories(Paths.get(dir))
    val base = System.currentTimeMillis() - 1000L * (lines.size / perFile + 1)
    lines.grouped(perFile).zipWithIndex.foreach { case (g, i) =>
      val f = d.resolve(f"part-$i%05d.txt")
      Files.write(f, (g.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(base + 1000L * i))
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def ndjsonFiles(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(_.toString.endsWith(".ndjson")).toSeq finally s.close()
    }
}

/** Where the records of one drain went, as read back from disk. */
final case class Accounting(
    delivered: Long, deadLettered: Long, replaysDropped: Long, screened: Long,
    lostLate: Long, screenMissed: Long, duplicates: Long, malformedReplaysDelivered: Long,
    unparsed: Long, failed: Long)

/** Forwarder workloads: a fixed backlog of generated lines drained by
  * `Forwarder.start` (closed loop: AvailableNow, one query at a time). */
final class Forward(spark0: SparkSession, o: Opts, rep: Report, guarded: Boolean) {
  import Forward._

  private val traffic = {
    val t = if (guarded) Guarded else Plain
    t.copy(files = t.files * o.seconds)
  }
  private val WarmBatches = if (guarded) 3 else 10
  private val OneSlotBatches = 20
  private var recs: IndexedSeq[Rec] = IndexedSeq.empty
  private var input = ""
  private var index: Option[String] = None
  private var drains = 0
  private var wallS = 0.0
  private var startS = 0.0
  private var batches: Seq[StreamingQueryProgress] = Nil
  private var acct: Accounting = _
  private val routes = Routing.parseKvConfig(RouteTable)

  def prepare(i: Int): Unit = {
    val dir = s"${o.work}/fwd-$i"
    recs = LogGen.backlog(o.seed, traffic)
    writeFiles(s"$dir/in", recs.map(_.line), traffic.linesPerFile)
    if (i > 1) deleteTree(s"${o.work}/fwd-${i - 1}")
    input = s"$dir/in"
  }

  /** fwd_guarded: the near-dup screen's MinHash index over the history. */
  def build(): Unit = if (guarded) {
    val spark = spark0
    val dir = s"${o.work}/index"
    import spark.implicits._
    val hist = LogGen.history(o.seed, traffic.historyLines).toDF("rawlog")
      .withColumn("rawlog", graft.functions.TextFunctions.redactPiiLogSafe(
        org.apache.spark.sql.functions.col("rawlog")))
      .withColumn("id", org.apache.spark.sql.functions.monotonically_increasing_id())
    graft.operators.Dedup.minhashIndex(hist, hist("id"), hist("rawlog"), n = 2, k = 64, seed = 42L)
      .write.parquet(dir)
    index = Some(dir)
  }

  def warmUp(): Unit = {
    // other lines through the same pipeline: codegen, class loading and the
    // first JIT tiers happen here. After a one-batch warm-up, successive
    // drains kept getting faster.
    val warm = LogGen.backlog(o.seed ^ 0x5eedL,
      traffic.copy(files = WarmBatches * FilesPerTrigger), historySeed = Some(o.seed))
    writeFiles(s"${o.work}/warm/in", warm.map(_.line), traffic.linesPerFile)
    drain(spark0, s"${o.work}/warm/in", s"${o.work}/warm/run")
    System.err.println(f"[perfbench] warm-up drain: $wallS%.2f s, ${check(warm, s"${o.work}/warm/run")}")
  }

  private def drain(spark: SparkSession, in: String, d: String): Seq[StreamingQueryProgress] = {
    Target.reset(o.seed)
    val conf = Forwarder.Config(inputDir = in, checkpointDir = s"$d/checkpoint",
      sink = sinkConfig(s"$d/dlq"),
      nearDupScreen = index.map(Forwarder.NearDupScreen(_)),
      dedupWithin = if (guarded) Some(DedupWithin) else None,
      scrubPii = guarded)
    val t0 = System.nanoTime()
    val q = Trace.span("Forwarder.start", "driver.construct") {
      Forwarder.start(spark, conf, new FlakyDelivery(s"$d/out"), routeTable = routes)
    }
    startS = (System.nanoTime() - t0) / 1e9
    Trace.span("drain", "driver.execute") {
      Trace.streamParent = Trace.current
      q.awaitTermination()
    }
    wallS = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  def measure(): Unit = {
    drains += 1
    val d = s"${o.work}/drain-$drains"
    batches = drain(spark0, input, d)
    acct = check(recs, d)
    System.err.println(f"[perfbench] drain $drains: $wallS%.2f s, ${batches.size} batches, $acct")
    rep.attempted += recs.size
    rep.failed += acct.failed
    rep.info("backlog_records") = recs.size
    rep.info(s"drain_$drains") = Map("wall_s" -> wallS, "batches" -> batches.size,
      "accounting" -> acct.productElementNames.zip(acct.productIterator).toMap,
      "delivery" -> targetCounters)
    deleteTree(d)
  }

  private def targetCounters: Map[String, Long] = Map("calls" -> Target.calls.sum,
    "sent" -> Target.sent.sum, "accepted" -> Target.accepted.sum,
    "retry_calls" -> Target.retryCalls.sum, "first_attempt_fails" -> Target.firstAttemptFails.sum,
    "permanent_fails" -> Target.permanentFails.sum)

  private def batchMs: Seq[Double] =
    batches.map(_.durationMs.get("triggerExecution").doubleValue)

  def endToEndValues: Map[String, Double] = Map(
    "records_per_s" -> recs.size / wallS,
    "batch_p50_ms" -> Stats.quantile(batchMs, 0.5),
    "batch_p90_ms" -> Stats.quantile(batchMs, 0.9))

  /** Per-layer metrics of the last, traced, measurement. */
  def perLayer(): Unit = {
    Trace.engine(rep, wallS, o.cores)
    def phase(name: String): Double =
      Stats.median(batches.map(p => Option(p.durationMs.get(name)).fold(0.0)(_.doubleValue)))
    rep.metric("sources.latest_offset_ms", phase("latestOffset"), "ms")
    rep.metric("sources.get_batch_ms", phase("getBatch"), "ms")
    rep.metric("streaming.query_planning_ms", phase("queryPlanning"), "ms")
    rep.metric("streaming.wal_commit_ms", phase("walCommit"), "ms")
    rep.metric("streaming.commit_offsets_ms", phase("commitOffsets"), "ms")
    rep.metric("streaming.add_batch_ms", phase("addBatch"), "ms")
    // input lines, not numInputRows: the progress counts a line once per
    // scan of the source, and fwd_guarded scans each batch several times
    rep.metric("streaming.records_per_batch", recs.size.toDouble / batches.size, "count")
    rep.info("input_rows_per_batch") = Stats.median(batches.map(_.numInputRows.toDouble))
    rep.metric("streaming.jobs_per_batch", Trace.streamJobs.toDouble / batches.size, "count")
    val addBatchS = batches.map(p => Option(p.durationMs.get("addBatch")).fold(0.0)(_.doubleValue)).sum / 1000
    rep.metric("streaming.slot_util", Trace.taskRunS / (addBatchS * o.cores), "ratio")
    val state = batches.flatMap(_.stateOperators.toSeq)
    rep.metric("streaming.state_rows", if (state.isEmpty) 0.0 else state.map(_.numRowsTotal).max.toDouble, "count")
    rep.metric("streaming.state_mem_mb", if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max / 1e6, "MB")
    rep.metric("streaming.late_dropped", state.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    rep.metric("streaming.replays_dropped", acct.replaysDropped.toDouble, "count")
    rep.metric("streaming.screened", acct.screened.toDouble, "count")
    rep.metric("logs.unparsed", acct.unparsed.toDouble, "count")
    val c = targetCounters
    rep.metric("sinks.deliver_calls", c("calls").toDouble, "count")
    rep.metric("sinks.records_per_call", c("sent").toDouble / c("calls"), "count")
    rep.metric("sinks.retry_calls", c("retry_calls").toDouble, "count")
    rep.metric("sinks.useful_ratio", c("accepted").toDouble / c("sent"), "ratio")
    rep.metric("sinks.dead_lettered", acct.deadLettered.toDouble, "count")
    rep.metric("sinks.target_ms", Target.ns.sum / 1e6, "ms")
    rep.metric("driver.construct_s", startS, "s")
    rep.metric("driver.execute_s", wallS - startS, "s")
    if (guarded) rep.metric("streaming.scaling_1slot", 0.0, "ratio")
  }

  /** fwd_plain only: the first micro-batches of the same backlog at
    * local[1], the single-threaded baseline, in a new session of the warm
    * JVM. Reported as the median batch time at local[1] over the one at
    * local[N]: the batches hold the same number of lines, so this is the
    * ratio of their rates. */
  def extraTraced(): Unit = if (!guarded) {
    val p50N = Stats.median(batchMs)
    spark0.stop()
    val one = Main.session(o, 1)
    val lines = OneSlotBatches * FilesPerTrigger * traffic.linesPerFile
    writeFiles(s"${o.work}/one/in", recs.take(lines).map(_.line), traffic.linesPerFile)
    batches = drain(one, s"${o.work}/one/in", s"${o.work}/one/run")
    rep.metric("streaming.scaling_1slot", Stats.median(batchMs) / p50N, "ratio")
    rep.info("batch_p50_ms_1slot") = Stats.median(batchMs)
  }

  /** Reads the delivered and dead-lettered records back and accounts for
    * every input record against the ledger. */
  private def check(ledger: IndexedSeq[Rec], d: String): Accounting = {
    val mapper = new ObjectMapper()
    val byRid = ledger.groupBy(_.rid)
    val landed = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val dead = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var unparsed = 0L
    def read(files: Seq[Path], streamOf: Path => String, isDlq: Boolean): Unit =
      files.foreach { f =>
        val stream = streamOf(f)
        Files.readAllLines(f, StandardCharsets.UTF_8).asScala.foreach { line =>
          LogGen.ridOf(line).flatMap(r => byRid.get(r).map(c => r -> c.head)) match {
            case None => rep.wrong(s"delivered record matches no input record: ${line.take(200)}")
            case Some((rid, rec)) =>
              landed(rid) += 1
              if (isDlq) dead(rid) += 1
              val node = mapper.readTree(line)
              if (!node.has("timestamp") && node.has("rawlog")) unparsed += 1
              checkContent(rec, stream, node)
          }
        }
      }
    read(ndjsonFiles(s"$d/out"), _.getParent.getFileName.toString, isDlq = false)
    val streams = Seq("latency-alerts", "errors", "billing", "main")
    read(ndjsonFiles(s"$d/dlq"), f => streams.find(s =>
      f.getFileName.toString.startsWith(s"failed-$s-")).getOrElse("?"), isDlq = true)

    var delivered, deadLettered, replays, screened, lostLate, missed, dups, malformedDups,
      failed = 0L
    byRid.foreach { case (rid, copies) =>
      val rec = copies.head
      val n = landed(rid)
      if (rec.nearDup && n == 0 && copies.exists(_.late)) {
        // the watermark dropped it before the screen could: the late-drop
        // defect, not a screened record
        lostLate += copies.size
        failed += copies.size
      } else if (rec.nearDup) {
        if (n == 0) screened += copies.size
        else { missed += copies.size; failed += copies.size }
      } else if (n > 1 && rec.fmt == LogGen.Malformed && copies.size >= n) {
        // documented: a line without a timestamp bypasses the replay
        // dedup, so each copy is delivered; the extra copies count as failed
        malformedDups += n - 1
        failed += n - 1
        if (dead(rid) > 0) deadLettered += 1 else delivered += 1
      } else if (n == 0) {
        failed += copies.size
        if (copies.exists(_.late)) lostLate += copies.size
        else rep.wrong(s"record $rid was lost: ${rec.line.take(160)}")
      } else {
        if (n > 1) { dups += n - 1; failed += n - 1; rep.wrong(s"record $rid landed $n times") }
        if (dead(rid) > 0) deadLettered += 1 else delivered += 1
        replays += math.max(0, copies.size - n)
        if ((dead(rid) > 0) != Target.permanent(rid))
          rep.wrong(s"record $rid: dead-lettered=${dead(rid) > 0}, permanent failure=${Target.permanent(rid)}")
      }
    }
    Accounting(delivered, deadLettered, replays, screened, lostLate, missed, dups,
      malformedDups, unparsed, failed)
  }

  private def checkContent(rec: Rec, stream: String, n: JsonNode): Unit = {
    def str(f: String): String = Option(n.get(f)).map(_.asText).orNull
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) rep.wrong(s"record ${rec.rid}: $what is '$got', expected '$want'")
    expect("stream", stream, rec.stream)
    if (n.has("series")) {
      expect("series", str("series"), "forwarder.request_latency")
      expect("value", n.get("value").asDouble, rec.latencyMs.toDouble)
      expect("stat_type", str("stat_type"), "gauge")
      expect("dimension container_app", n.get("dimensions").get("container_app").asText, rec.app)
    } else {
      expect("level", str("level"), rec.parsedLevel)
      expect("container_app", str("container_app"), rec.parsedApp)
      expect("deploy_env", str("deploy_env"), "production")
      expect("has timestamp", n.has("timestamp"), rec.fmt != LogGen.Malformed)
      if (rec.fmt != LogGen.Malformed) expect("hostname", str("hostname"), rec.host)
      val raw = str("rawlog")
      if (!guarded) expect("rawlog", raw, rec.line)
      else rec.pii.foreach(p => if (raw.contains(p)) rep.wrong(s"record ${rec.rid}: PII '$p' delivered"))
    }
  }
}
