package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.{Delivery, FileDelivery, NdjsonBatchSink, SinkConfig}
import graft.streaming.{DropStats, Forwarder}

/** Delivery doubles with JVM-static state (tests run local — executor
  * and driver share the JVM). */
object TestDeliveries {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  val attempts = new AtomicInteger(0)

  /** Fails every record once, succeeds on retry. */
  class FlakyOnce extends Delivery {
    override def deliver(stream: String, records: Seq[Array[Byte]]): Seq[Int] =
      if (attempts.getAndIncrement() == 0) records.indices else Nil
  }

  /** Permanently rejects records containing the marker. */
  class RejectMarked(marker: String) extends Delivery {
    val accepted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def deliver(stream: String, records: Seq[Array[Byte]]): Seq[Int] =
      records.zipWithIndex.flatMap { case (r, i) =>
        val s = new String(r, "UTF-8")
        if (s.contains(marker)) Some(i) else { accepted.add(s); None }
      }
  }

  /** Records chunk sizes. */
  class ChunkRecorder extends Delivery {
    override def deliver(stream: String, records: Seq[Array[Byte]]): Seq[Int] = {
      calls.add(records.size); Nil
    }
  }

  /** Records (stream, chunk size) pairs. */
  class StreamChunkRecorder extends Delivery {
    val streamCalls = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    override def deliver(stream: String, records: Seq[Array[Byte]]): Seq[Int] = {
      streamCalls.add((stream, records.size)); Nil
    }
  }
}

class StreamingSpec extends AnyFunSuite {
  import SparkTest._

  private def tmp(): String = Files.createTempDirectory("graft-stream").toString

  private def sampleLines(n: Int): Seq[String] =
    (0 until n).map { i =>
      val lvl = if (i % 5 == 0) "error" else "info"
      s"2024-01-01T00:0${i % 10}:00+00:00 host-$i production--app${i % 3}/" +
        s"arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-$i[$i]: " +
        s"""{"title":"t$i","level":"$lvl"}"""
    }

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), lines.asJava)

  test("forwarder e2e: lines → parse/enhance → NDJSON files") {
    val in = tmp(); val out = tmp(); val ck = tmp()
    writeLines(in, "a.log", sampleLines(20))
    val q = Forwarder.startToFiles(spark, Forwarder.Config(in, ck), out)
    q.awaitTermination()

    val files = Files.walk(Paths.get(out, "main")).iterator().asScala
      .filter(_.toString.endsWith(".ndjson")).toSeq
    assert(files.nonEmpty)
    val lines = files.flatMap(f => Files.readAllLines(f).asScala)
    assert(lines.size == 20)
    val parsed = spark.read.json(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
    assert(parsed.filter(col("container_app") === "app0").count() > 0)
    assert(parsed.filter(col("level") === "error").count() == 4)
    assert(parsed.columns.contains("deploy_env"))
  }

  test("forwarder dedupWithin drops replays, keeps case-variants and malformed lines") {
    val in = tmp(); val out = tmp(); val ck = tmp()
    def kv(title: String) =
      "2024-01-01T00:01:00+00:00 host-x production--appX/" +
        "arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-99[99]: " +
        s"""{"title":"$title","level":"info"}"""
    // distinct records that differ ONLY in case — exact-form dedup must
    // NOT collapse them (normalized hashing would)
    val caseVariants = Seq(kv("same"), kv("SAME"))
    val malformed = "definitely not a syslog line"
    // at-least-once replay: everything delivered twice across two
    // micro-batch files, as a lease failover would produce
    val lines = sampleLines(8) ++ caseVariants :+ malformed
    writeLines(in, "a.log", lines)
    writeLines(in, "b.log", lines)
    val q = Forwarder.start(spark,
      Forwarder.Config(in, ck, dedupWithin = Some("1 hour")),
      new FileDelivery(out))
    q.awaitTermination()
    val delivered = Files.walk(Paths.get(out, "main")).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    val (bad, good) = delivered.partition(_.contains("\"rawlog\":\"definitely"))
    // 8 sample + 2 case-variant records, each exactly once
    assert(good.size == 10, s"expected 10 unique records, got ${good.size}")
    assert(good.distinct.size == 10)
    assert(good.count(_.contains("\"SAME\"")) == 1)
    assert(good.count(_.contains("\"same\"")) == 1)
    // malformed lines (null event time) bypass dedup: never lost — both
    // replay copies land rather than being swallowed as late rows
    assert(bad.size == 2, s"malformed must bypass dedup, got ${bad.size}")
  }

  test("near-dup screen drops an increment's near-duplicate of an indexed record") {
    import spark.implicits._
    val in = tmp(); val out = tmp(); val ck = tmp()
    val idx = tmp() + "/minhash_index"
    def line(msg: String) =
      "2024-01-01T00:01:00+00:00 host-x production--appX/" +
        "arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-7[7]: " + msg
    // the historical DELIVERED corpus: the forwarder's `rawlog` is the
    // full raw line, so the index is built over that same text domain
    val histText = "alpha beta gamma delta epsilon zeta eta theta"
    graft.operators.Dedup.minhashIndex(
        Seq((1L, line(histText))).toDF("doc_id", "text"), col("doc_id"), col("text"))
      .write.parquet(idx)
    // the increment: a near-dup of the indexed record (one trailing word
    // changed -> 9 of 11 distinct 2-gram shingles shared, J ~ 0.82 >= 0.5;
    // its md5 differs, so dedupWithin-style exact hashing would PASS it)
    // and one genuinely fresh record sharing only the syslog prefix
    // (J ~ 0.1 < 0.5)
    val nearDup = "alpha beta gamma delta epsilon zeta eta iota"
    val fresh = "completely different content sharing no words whatsoever here"
    writeLines(in, "inc.log", Seq(line(nearDup), line(fresh)))
    val q = Forwarder.start(spark,
      Forwarder.Config(in, ck,
        nearDupScreen = Some(Forwarder.NearDupScreen(idx))),
      new FileDelivery(out))
    q.awaitTermination()
    val delivered = Files.walk(Paths.get(out, "main")).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    assert(delivered.size == 1,
      s"expected only the fresh record, got ${delivered.size}: $delivered")
    assert(delivered.head.contains("completely different content"))
    assert(!delivered.exists(_.contains("zeta eta iota")),
      "the near-duplicate increment leaked past the screen")

    // TAKEDOWN through the screen index: removing the historical doc's
    // signature row (indexRemove, the doc_id-keyed anti-join — the
    // same takedown primitive as the ANN/text indexes) must let a
    // near-duplicate of the REMOVED doc deliver again — a taken-down
    // document must not keep suppressing content from beyond the grave
    val prunedIdx = tmp() + "/minhash_index_pruned"
    graft.operators.Similarity.indexRemove(
        spark.read.parquet(idx), Seq(1L).toDF("doc_id"), key = "doc_id")
      .write.parquet(prunedIdx)
    val in2 = tmp(); val out2 = tmp(); val ck2 = tmp()
    writeLines(in2, "inc.log", Seq(line(nearDup)))
    Forwarder.start(spark,
      Forwarder.Config(in2, ck2,
        nearDupScreen = Some(Forwarder.NearDupScreen(prunedIdx))),
      new FileDelivery(out2)).awaitTermination()
    val redelivered = Files.walk(Paths.get(out2, "main")).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    assert(redelivered.size == 1 && redelivered.head.contains("zeta eta iota"),
      s"the near-dup must deliver once its anchor is removed: $redelivered")

    // the screen's pinned index frames release on termination (the
    // StreamIndex discipline) — scheduled restarts must not strand one
    // cached corpus-index pair per run; async listener bus, so poll
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def cached = spark.sparkContext.getPersistentRDDs.size
    val before = cached
    val in3 = tmp(); val out3 = tmp(); val ck3 = tmp()
    writeLines(in3, "inc.log", Seq(line(fresh)))
    Forwarder.start(spark,
      Forwarder.Config(in3, ck3,
        nearDupScreen = Some(Forwarder.NearDupScreen(idx))),
      new FileDelivery(out3)).awaitTermination()
    while (cached > before && System.nanoTime() < deadline) Thread.sleep(200)
    assert(cached <= before,
      s"screen left pinned index frames behind: $before cached before, $cached after")
  }

  /** A MinHash index over `lines` (the forwarder's `rawlog` is the raw line). */
  private def screenIndex(lines: Seq[String]): String = {
    import spark.implicits._
    val idx = tmp() + "/minhash_index"
    graft.operators.Dedup.minhashIndex(
        lines.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .write.parquet(idx)
    idx
  }

  test("near-dup screen: the probe broadcast is released on termination; an over-limit index fails at start") {
    import graft.operators.Dedup.MinhashProbe
    val idx = screenIndex(sampleLines(3))
    val before = MinhashProbe.live.get
    val in = tmp(); val out = tmp()
    writeLines(in, "a.log", sampleLines(5))
    Forwarder.start(spark,
      Forwarder.Config(in, tmp(), nearDupScreen = Some(Forwarder.NearDupScreen(idx))),
      new FileDelivery(out)).awaitTermination()
    // async listener bus, so poll
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (MinhashProbe.live.get > before && System.nanoTime() < deadline) Thread.sleep(200)
    assert(MinhashProbe.live.get == before, "the screen's probe broadcast was not destroyed")

    // Spark's own broadcast limit bounds the index collect: lowered
    // below the index size, start fails with a named error, runs no
    // query and leaves no broadcast behind
    val key = org.apache.spark.sql.internal.SQLConf.MAX_BROADCAST_TABLE_SIZE.key
    val prev = spark.conf.getOption(key)
    val active = spark.streams.active.length
    spark.conf.set(key, "64")
    val e = try intercept[IllegalArgumentException] {
      Forwarder.start(spark,
        Forwarder.Config(in, tmp(), nearDupScreen = Some(Forwarder.NearDupScreen(idx))),
        new FileDelivery(tmp()))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(e.getMessage.contains(key) && e.getMessage.contains("near-dup probe"), e.getMessage)
    assert(spark.streams.active.length == active)
    assert(MinhashProbe.live.get == before)
  }

  test("near-dup screen adds no job or stage per micro-batch") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // (query id, batch id) -> (jobs, stages), from the local properties
    // the stream execution sets on every job of a micro-batch
    val perBatch = new java.util.concurrent.ConcurrentHashMap[(String, String), (Int, Int)]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("graft.test.marker") != null)) marker.countDown()
        for (props <- p; run <- Option(props.getProperty("sql.streaming.queryId"));
             batch <- Option(props.getProperty("streaming.sql.batchId")))
          perBatch.merge((run, batch), (1, e.stageInfos.size),
            (a, b) => (a._1 + b._1, a._2 + b._2))
      }
    }
    val lines = sampleLines(30)
    val idx = screenIndex(lines.take(2))
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.streaming.operators.stateful.{StatefulOperator, StreamingDeduplicateWithinWatermarkExec}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    def run(screen: Option[Forwarder.NearDupScreen],
            dedupWithin: Option[String] = None): (String, Int, SparkPlan) = {
      val in = tmp(); val out = tmp()
      lines.grouped(10).zipWithIndex.foreach { case (g, i) => writeLines(in, s"$i.log", g) }
      val q = Forwarder.start(spark,
        Forwarder.Config(in, tmp(), maxFilesPerTrigger = 1, nearDupScreen = screen,
          dedupWithin = dedupWithin),
        new FileDelivery(out))
      q.awaitTermination()
      val delivered = Files.walk(Paths.get(out)).iterator().asScala
        .filter(_.toString.endsWith(".ndjson"))
        .map(f => Files.readAllLines(f).size).sum
      (q.id.toString, delivered,
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan)
    }
    // the row-local stages are planned once, outside the micro-batch
    // plan; with dedupWithin, two pipeline nodes sit on either side of
    // the dedup operator
    def rowStagesIn(plan: SparkPlan): Seq[String] =
      Seq("graft_syslog_parse", "to_json").filter(plan.toString.contains)
    spark.sparkContext.addSparkListener(listener)
    val (plain, screened) = try {
      val r = (run(None), run(Some(Forwarder.NearDupScreen(idx))))
      for ((_, _, plan) <- Seq(r._1, r._2))
        assert(rowStagesIn(plan).isEmpty, s"row-local stages in the micro-batch plan:\n$plan")
      val (_, dedupDelivered, dedupPlan) = run(None, Some("1 hour"))
      assert(dedupDelivered == 30)
      assert(rowStagesIn(dedupPlan).isEmpty, s"row-local stages in the dedup micro-batch plan:\n$dedupPlan")
      val pipelines = dedupPlan.collect { case e: org.apache.spark.sql.graft.RowPipelineExec => e.pipeline }
      assert(pipelines.distinct.size == 2, s"expected two pipelines around the dedup:\n$dedupPlan")
      val stateful = dedupPlan.collect { case s: StatefulOperator => s }
      assert(stateful.headOption.exists(_.isInstanceOf[StreamingDeduplicateWithinWatermarkExec]),
        s"the last stateful node is not the dedup:\n$dedupPlan")
      // a marker job after both runs: once the listener sees it, it has
      // seen every earlier job
      spark.sparkContext.setLocalProperty("graft.test.marker", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.test.marker", null)
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(plain._2 == 30 && screened._2 == 28,
      s"delivered: plain ${plain._2}, screened ${screened._2}")
    def of(run: String) = perBatch.asScala.collect { case ((`run`, b), c) => b.toLong -> c }.toMap
    assert(of(plain._1).keySet == Set(0L, 1L, 2L), s"${perBatch.asScala}")
    assert(of(screened._1) == of(plain._1),
      s"per-batch (jobs, stages): screen on ${of(screened._1)}, off ${of(plain._1)}")
  }

  test("enhance auto-detects RFC3339 and RFC3164 shapes per record") {
    import spark.implicits._
    val lines = Seq(
      "2024-01-01T00:05:00+00:00 host-a production--appX/arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-1[11]: " +
        """{"title":"t1","level":"error"}""",
      "Apr  5 21:45:54 host-b staging--appY/arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-2[22]: " +
        """{"title":"t2","level":"info"}""",
      "not a syslog line at all")
    val got = graft.logs.LogColumns
      .enhance(lines.toDF("value"), col("value"), "production", rfc3164Year = 2017)
      .select("hostname", "container_app", "pid", "level", "timestamp")
      .collect()
    assert(got(0).getString(0) == "host-a" && got(0).getString(1) == "appX" &&
      got(0).getLong(2) == 11L && got(0).getString(3) == "error")
    assert(got(1).getString(0) == "host-b" && got(1).getString(1) == "appY" &&
      got(1).getLong(2) == 22L && got(1).getString(3) == "info")
    assert(got(1).getTimestamp(4).toString.startsWith("2017-04-05"))
    // malformed line: empty/unknown fields and null timestamp, no error
    assert(got(2).getString(0) == "" && got(2).getString(1) == "_UNKNOWN_")
    assert(got(2).isNullAt(4))
  }

  test("router demuxes records to per-stream directories") {
    val in = tmp(); val out = tmp(); val ck = tmp()
    writeLines(in, "a.log", sampleLines(10))
    val route = when(col("level") === "error", lit("errors")).otherwise(lit("main"))
    val q = Forwarder.start(spark, Forwarder.Config(in, ck), new FileDelivery(out), Some(route))
    q.awaitTermination()
    def count(stream: String) =
      Files.walk(Paths.get(out, stream)).iterator().asScala
        .filter(_.toString.endsWith(".ndjson"))
        .flatMap(f => Files.readAllLines(f).asScala.iterator).size
    assert(count("errors") == 2)
    assert(count("main") == 8)
  }

  test("retry with backoff redelivers failed subset, nothing dead-letters") {
    TestDeliveries.attempts.set(0)
    val sink = new NdjsonBatchSink(new TestDeliveries.FlakyOnce,
      SinkConfig(baseBackoffMs = 1, dlqDir = Some(tmp())))
    sink.sendWithRetry("s", Seq("a".getBytes, "b".getBytes))
    assert(TestDeliveries.attempts.get() == 2) // initial + one retry
  }

  test("exhausted retries dead-letter only the failing records") {
    val dlq = tmp()
    val d = new TestDeliveries.RejectMarked("poison")
    val sink = new NdjsonBatchSink(d, SinkConfig(maxRetries = 2, baseBackoffMs = 1, dlqDir = Some(dlq)))
    sink.sendWithRetry("s", Seq("ok-1".getBytes, "poison-x".getBytes, "ok-2".getBytes))
    val dead = Files.walk(Paths.get(dlq)).iterator().asScala
      .filter(_.toString.contains("failed-"))
      .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    assert(dead == Seq("poison-x"))
    // accepted exactly the two good records (first attempt), no dupes of them
    assert(d.accepted.asScala.toSeq.sorted == Seq("ok-1", "ok-2"))
  }

  test("process path delivers count-bounded chunks (production loop, not the helper)") {
    TestDeliveries.calls.clear()
    val sink = new NdjsonBatchSink(new TestDeliveries.ChunkRecorder,
      SinkConfig(batchCount = 3, batchBytes = 1000))
    val rows = (0 until 10).map(i => ("s", s"rec-$i".getBytes("UTF-8")))
    sink.processRows(rows.iterator, () => 0L)
    assert(TestDeliveries.calls.asScala.toSeq == Seq(3, 3, 3, 1))
  }

  test("interval flush: a slow trickle flushes the partial chunk at the bound") {
    TestDeliveries.calls.clear()
    val sink = new NdjsonBatchSink(new TestDeliveries.ChunkRecorder,
      SinkConfig(batchCount = 100, batchBytes = 1000000, batchIntervalMs = 10000))
    // one record every 6 s: the buffer opened at t=0 exceeds the 10 s
    // interval when the t=12 s record arrives → [r0, r1] flushes and the
    // new record opens a fresh buffer; end-of-partition flushes the rest
    var t = -6000L
    val clock = () => { t += 6000L; t }
    val rows = (0 until 4).map(i => ("s", s"r$i".getBytes("UTF-8")))
    sink.processRows(rows.iterator, clock)
    assert(TestDeliveries.calls.asScala.toSeq == Seq(2, 2),
      s"got ${TestDeliveries.calls.asScala.toSeq}")
  }

  test("interval sweep covers quiet streams starved behind a busy one") {
    val d = new TestDeliveries.StreamChunkRecorder
    val sink = new NdjsonBatchSink(d,
      SinkConfig(batchCount = 100, batchBytes = 1000000, batchIntervalMs = 10000))
    var t = -6000L
    val clock = () => { t += 6000L; t }
    // one lone record for stream A at t=0, then only-B traffic: A's
    // partial chunk must flush when B's t=12s record arrives (sweep),
    // not wait for end of partition
    val rows = Seq(("A", "a1".getBytes("UTF-8"))) ++
      (1 to 3).map(i => ("B", s"b$i".getBytes("UTF-8")))
    sink.processRows(rows.iterator, clock)
    import scala.jdk.CollectionConverters._
    assert(d.streamCalls.asScala.toSeq == Seq(("A", 1), ("B", 2), ("B", 1)),
      s"got ${d.streamCalls.asScala.toSeq}")
  }

  test("batchIntervalMs <= 0 disables the interval bound, not batching") {
    TestDeliveries.calls.clear()
    val sink = new NdjsonBatchSink(new TestDeliveries.ChunkRecorder,
      SinkConfig(batchCount = 3, batchBytes = 1000, batchIntervalMs = 0))
    val rows = (0 until 10).map(i => ("s", s"rec-$i".getBytes("UTF-8")))
    sink.processRows(rows.iterator, () => 0L)
    assert(TestDeliveries.calls.asScala.toSeq == Seq(3, 3, 3, 1))
  }

  test("chunking respects count and byte bounds") {
    TestDeliveries.calls.clear()
    val sink = new NdjsonBatchSink(new TestDeliveries.ChunkRecorder,
      SinkConfig(batchCount = 3, batchBytes = 1000))
    sink.sendWithRetry("s", Nil) // empty batch → no delivery call at all
    val rows = (0 until 10).map(i => ("s", s"rec-$i".getBytes("UTF-8")))
    sink.processRows(rows.iterator, () => 0L)
    assert(TestDeliveries.calls.asScala.toSeq == Seq(3, 3, 3, 1))
    TestDeliveries.calls.clear()
    val big = Seq.fill(2)(("s", Array.fill(600)('x'.toByte)))
    sink.processRows(big.iterator, () => 0L)
    assert(TestDeliveries.calls.asScala.toSeq == Seq(1, 1)) // byte bound splits
  }

  test("kvconfig-shaped routing file parses and demuxes through the forwarder") {
    val yml =
      """routes:
        |  error-stream:
        |    matchers:
        |      level: ["error", "critical"]
        |    output:
        |      type: "alerts"
        |      series: "ignored.by.routing"
        |  app-two:
        |    matchers:
        |      container_app: ["app2"]
        |      level: ["info"]
        |""".stripMargin
    val routes = graft.streaming.Routing.parseKvConfig(yml)
    assert(routes.map(_.name) == Seq("error-stream", "app-two"))
    assert(routes.head.matchers == Map("level" -> Seq("error", "critical")))
    assert(routes(1).matchers == Map("container_app" -> Seq("app2"), "level" -> Seq("info")))
    assert(routes.head.output.map(_.series).contains("ignored.by.routing"))
    assert(routes(1).output.isEmpty)

    val in = tmp(); val out = tmp(); val ck = tmp()
    writeLines(in, "a.log", sampleLines(10))
    val q = Forwarder.start(spark, Forwarder.Config(in, ck), new FileDelivery(out),
      Some(graft.streaming.Routing.column(routes)))
    q.awaitTermination()
    def count(stream: String) =
      Files.walk(Paths.get(out, stream)).iterator().asScala
        .filter(_.toString.endsWith(".ndjson"))
        .flatMap(f => Files.readAllLines(f).asScala.iterator).size
    // sampleLines: i%5==0 → error (i=0,5); app_i = i%3, info+app2 → i=2,8 (5 is error)
    assert(count("error-stream") == 2)
    assert(count("app-two") == 2)
    assert(count("main") == 6)
  }

  test("routing config edges: comments, matcher-less routes, empty docs") {
    import graft.streaming.Routing
    // a matcher-less route matches everything → routes later entries dead
    val all = Routing.parseKvConfig(
      """routes:
        |  catch-all:
        |    matchers:
        |  never-reached:
        |    matchers:
        |      level: ["error"]
        |""".stripMargin)
    assert(all.map(_.name) == Seq("catch-all", "never-reached"))
    assert(all.head.matchers.isEmpty)
    // comments and blank lines are ignored; no routes: section → empty
    assert(Routing.parseKvConfig("# just a comment\n\nother:\n  x: 1\n").isEmpty)
    // '#' inside a quoted matcher value is data, not a comment
    val hashed = Routing.parseKvConfig(
      """routes:
        |  r1:
        |    matchers:
        |      title: ["err#1", "warn"]  # trailing comment still stripped
        |""".stripMargin)
    assert(hashed.head.matchers == Map("title" -> Seq("err#1", "warn")))
    // compiled column: catch-all wins for every record
    import spark.implicits._
    val got = Seq(("error"), ("info")).toDF("level")
      .select(Routing.column(all).as("stream")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("catch-all", "catch-all"))
  }

  test("drop-stats summary emits the reference's per-minute record shape") {
    val in = tmp()
    writeLines(in, "a.log", sampleLines(30))
    val perAppLevel = graft.logs.LogColumns
      .enhance(spark.read.text(in), col("value"), "production")
      .groupBy(date_trunc("minute", col("timestamp")).as("minute"),
        col("container_app").as("app"), col("level"))
      .agg(count(lit(1)).as("n_dropped"))
    val rows = graft.streaming.DropStats.summary(perAppLevel)
      .orderBy("minute").collect()
    // sampleLines(30): minutes 0..9 each carry 3 records (i%10 cycles);
    // every minute m has apps {app(m%3), app((m+10)%3), app((m+20)%3)} = all 3
    assert(rows.length == 10)
    val r0 = rows.head
    assert(r0.getLong(r0.fieldIndex("total_dropped")) == 3L)
    assert(r0.getLong(r0.fieldIndex("app_count")) == 3L)
    val apps = r0.getMap[String, Long](r0.fieldIndex("apps"))
    assert(apps == Map("app0" -> 1L, "app1" -> 1L, "app2" -> 1L))
    val levels = r0.getMap[String, Long](r0.fieldIndex("level"))
    // minute 0 holds i = 0, 10, 20 → levels error(0,10,20 % 5 == 0) — all three are i%5==0
    assert(levels == Map("error" -> 3L))
  }

  test("streaming drop-stats summary emits one reference-shaped record per minute") {
    val in = tmp(); val ck = tmp()
    writeLines(in, "a.log", sampleLines(30))
    val q = graft.streaming.DropStats.startSummary(
      spark, in, ck, "production", "dropstats_summary_test")
    q.awaitTermination()
    val rows = spark.table("dropstats_summary_test").orderBy("minute").collect()
    // input spans minutes 0..9; append mode only FINALIZES windows past
    // the 2-minute watermark (max event 00:09 → watermark 00:07 →
    // minutes 0..6 emit; 7..9 stay in state for the next run)
    assert(rows.length == 7)
    val r0 = rows.head
    assert(r0.getLong(r0.fieldIndex("total_dropped")) == 3L)
    assert(r0.getLong(r0.fieldIndex("app_count")) == 3L)
    assert(r0.getMap[String, Long](r0.fieldIndex("level")) == Map("error" -> 3L))
  }

  test("kvconfig output: block routes drop-stats summaries to the alert stream") {
    // the reference's shipped config verbatim (/root/reference/kvconfig.yml)
    val yml =
      """routes:
        |  dropped-logs-alert:
        |    matchers:
        |      title: ["drop-stats"]
        |    output:
        |      type: "alerts"
        |      series: "kinesis-to-firehose-log-search.drop-stats"
        |      dimensions: []
        |      stat_type: "gauge"
        |      value_field: "total_dropped"
        |""".stripMargin
    val routes = graft.streaming.Routing.parseKvConfig(yml)
    assert(routes.map(_.name) == Seq("dropped-logs-alert"))
    val out = routes.head.output.get
    assert(out.sinkType == "alerts")
    assert(out.series == "kinesis-to-firehose-log-search.drop-stats")
    assert(out.dimensions.isEmpty)
    assert(out.statType == "gauge")
    assert(out.valueField == "total_dropped")

    val in = tmp(); val ck = tmp(); val dest = tmp()
    writeLines(in, "a.log", sampleLines(30))
    val q = DropStats.startSummaryRouted(
      spark, in, ck, "production", routes, new FileDelivery(dest))
    q.awaitTermination()
    // every summary record has title "drop-stats" → all match the alert
    // route; minutes 0..6 finalize (2-minute watermark, max event 00:09)
    val lines = Files.walk(Paths.get(dest, "dropped-logs-alert")).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    assert(lines.size == 7)
    val parsed = spark.read.json(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
    assert(parsed.filter(col("title") === "drop-stats").count() == 7)
    // alert metadata from the output: block, value read from value_field
    assert(parsed.filter(col("series") === "kinesis-to-firehose-log-search.drop-stats")
      .count() == 7)
    assert(parsed.filter(col("stat_type") === "gauge").count() == 7)
    val r = parsed.select("total_dropped", "value", "app_count").collect()
    assert(r.forall(row => row.getLong(0) == 3L && row.getDouble(1) == 3.0 &&
      row.getLong(2) == 3L))
  }

  test("forwarder metric leg: a routed drop-stats LINE lands as a gauge point on total_dropped") {
    // the reference's own loop: its stats goroutine logs the per-minute
    // rollup as a LOG LINE (stats.go:31-38) that the forwarder then
    // routes by the SHIPPED kvconfig to the alert sink as a metric
    // point — plus a second route exercising dimensions + a payload
    // value field with structured-column dimension resolution
    val yml =
      """routes:
        |  dropped-logs-alert:
        |    matchers:
        |      title: ["drop-stats"]
        |    output:
        |      type: "alerts"
        |      series: "kinesis-to-firehose-log-search.drop-stats"
        |      dimensions: []
        |      stat_type: "gauge"
        |      value_field: "total_dropped"
        |  latency-metrics:
        |    matchers:
        |      title: ["lat"]
        |    output:
        |      type: "alerts"
        |      series: "app.latency"
        |      dimensions: ["container_app", "level"]
        |      stat_type: "histogram"
        |      value_field: "latency"
        |""".stripMargin
    val routes = graft.streaming.Routing.parseKvConfig(yml)
    val in = tmp(); val out = tmp(); val ck = tmp()
    val statsLine =
      "2024-01-01T00:05:00+00:00 host-s production--kinesis-to-firehose/" +
        "arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-s[1]: " +
        """{"title":"drop-stats","total_dropped":7,"app_count":2}"""
    val latLine =
      "2024-01-01T00:06:00+00:00 host-l production--app7/" +
        "arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-l[2]: " +
        """{"title":"lat","level":"info","latency":12.5}"""
    writeLines(in, "a.log", sampleLines(6) ++ Seq(statsLine, latLine))
    Forwarder.start(spark, Forwarder.Config(in, ck), new FileDelivery(out),
      routeTable = routes).awaitTermination()

    def streamLines(stream: String): Seq[String] =
      Files.walk(Paths.get(out, stream)).iterator().asScala
        .filter(_.toString.endsWith(".ndjson"))
        .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    // the drop-stats record became a gauge point on the alert stream,
    // value read from the record's payload field
    val alert = streamLines("dropped-logs-alert")
    assert(alert.size == 1, s"exactly the drop-stats line routes to the alert: $alert")
    val p = spark.read.json(spark.createDataset(alert)(org.apache.spark.sql.Encoders.STRING))
      .head()
    assert(p.getAs[String]("series") == "kinesis-to-firehose-log-search.drop-stats")
    assert(p.getAs[String]("stat_type") == "gauge")
    assert(p.getAs[Double]("value") == 7.0)
    // the dimensioned route: names resolve against the enhanced
    // structured columns, the value against the kayvee payload
    val lat = streamLines("latency-metrics")
    assert(lat.size == 1)
    val lp = spark.read.json(spark.createDataset(lat)(org.apache.spark.sql.Encoders.STRING))
      .head()
    assert(lp.getAs[String]("series") == "app.latency")
    assert(lp.getAs[Double]("value") == 12.5)
    assert(lp.getAs[org.apache.spark.sql.Row]("dimensions").getValuesMap[String](
      Seq("container_app", "level")) == Map("container_app" -> "app7", "level" -> "info"))
    // unmatched records still deliver as PLAIN NDJSON on the default
    // stream — the metric leg rewrites only its routes' records
    val main = streamLines("main")
    assert(main.size == 6)
    assert(main.forall(_.contains("\"rawlog\"")),
      "default-stream records keep the full NDJSON record shape")
  }

  test("forwarder metric leg: payload fields shadowed by internal columns, and null values") {
    // two hardening contracts: (1) a kayvee payload field that happens
    // to be named like a pipeline bookkeeping column (stream, json)
    // must resolve to the PAYLOAD — the internal column would
    // otherwise silently supply the router's own state as the metric;
    // (2) a record on a metric route whose value_field is absent or
    // non-numeric delivers as the PLAIN record, never as a point
    // missing its `value` key (to_json drops null fields)
    val yml =
      """routes:
        |  collide-metrics:
        |    matchers:
        |      title: ["coll"]
        |    output:
        |      type: "alerts"
        |      series: "coll.series"
        |      dimensions: ["json", "container_app"]
        |      stat_type: "gauge"
        |      value_field: "stream"
        |  novalue-metrics:
        |    matchers:
        |      title: ["nov"]
        |    output:
        |      type: "alerts"
        |      series: "nov.series"
        |      stat_type: "gauge"
        |      value_field: "missing_field"
        |""".stripMargin
    val routes = graft.streaming.Routing.parseKvConfig(yml)
    val in = tmp(); val out = tmp(); val ck = tmp()
    def line(payload: String) =
      "2024-01-01T00:05:00+00:00 host-c production--app9/" +
        "arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-c[1]: " + payload
    writeLines(in, "a.log", Seq(
      line("""{"title":"coll","stream":"42.5","json":"payload-json"}"""),
      line("""{"title":"nov","other":"x"}""")))
    Forwarder.start(spark, Forwarder.Config(in, ck), new FileDelivery(out),
      routeTable = routes).awaitTermination()
    def streamLines(stream: String): Seq[String] =
      Files.walk(Paths.get(out, stream)).iterator().asScala
        .filter(_.toString.endsWith(".ndjson"))
        .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    val coll = streamLines("collide-metrics")
    assert(coll.size == 1)
    val cp = spark.read.json(spark.createDataset(coll)(org.apache.spark.sql.Encoders.STRING))
      .head()
    // value came from the payload's "stream" field, not the router's
    // stream column (which holds the route name, a non-number)
    assert(cp.getAs[Double]("value") == 42.5)
    // dimension "json" read the payload too; the structured
    // container_app still resolves from the enhanced column
    assert(cp.getAs[org.apache.spark.sql.Row]("dimensions").getValuesMap[String](
      Seq("json", "container_app")) ==
      Map("json" -> "payload-json", "container_app" -> "app9"))
    // the value-less record delivered as the full plain NDJSON record
    val nov = streamLines("novalue-metrics")
    assert(nov.size == 1)
    assert(nov.head.contains("\"rawlog\"") && !nov.head.contains("\"series\""),
      s"a null-valued metric record must stay a plain record: ${nov.head}")
  }

  test("routedSummary falls through matchers on absent or non-string fields") {
    import spark.implicits._
    // `level` in the summary shape is a MAP and `container_app` does not
    // exist there — a route table reusing the forwarder's log matchers
    // must fall through to default, not crash at analysis
    val routes = graft.streaming.Routing.parseKvConfig(
      """routes:
        |  error-alerts:
        |    matchers:
        |      level: ["error"]
        |  app-traffic:
        |    matchers:
        |      container_app: ["app1"]
        |  stats:
        |    matchers:
        |      title: ["drop-stats"]
        |""".stripMargin)
    val summary = Seq(("2024-01-01 00:00", 3L, 1L, Map("a" -> 3L), Map("info" -> 3L)))
      .toDF("minute", "total_dropped", "app_count", "apps", "level")
    val routed = DropStats.routedSummary(summary, routes)
    val streams = routed.select("stream").collect().map(_.getString(0)).toSeq
    assert(streams == Seq("stats")) // title matches; level/app routes skip
  }

  test("routedSummary: empty or absent value_field yields a null value, not a failure") {
    import spark.implicits._
    // a shared kvconfig may declare output blocks whose value_field is
    // empty or names a field the summary record lacks — both must
    // compile to a null value at stream start, never an
    // AnalysisException mid-pipeline
    val routes = graft.streaming.Routing.parseKvConfig(
      """routes:
        |  empty-vf:
        |    matchers:
        |      minute: ["2024-01-01 00:00"]
        |    output:
        |      type: "alerts"
        |      series: "s.empty"
        |      stat_type: "gauge"
        |      value_field: ""
        |  absent-vf:
        |    matchers:
        |      minute: ["2024-01-01 00:01"]
        |    output:
        |      type: "alerts"
        |      series: "s.absent"
        |      stat_type: "gauge"
        |      value_field: "no_such_field"
        |""".stripMargin)
    val summary = Seq(
      ("2024-01-01 00:00", 3L, 1L, Map("a" -> 3L), Map("info" -> 3L)),
      ("2024-01-01 00:01", 5L, 2L, Map("b" -> 5L), Map("error" -> 5L)))
      .toDF("minute", "total_dropped", "app_count", "apps", "level")
    val rows = DropStats.routedSummary(summary, routes)
      .select("minute", "stream", "series", "value").orderBy("minute").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("empty-vf", "absent-vf"))
    assert(rows.map(_.getString(2)).toSeq == Seq("s.empty", "s.absent"))
    assert(rows.forall(_.isNullAt(3)), "both malformed value_fields must yield null value")
  }

  test("routedSummary lands the route's output dimensions on the routed record") {
    import spark.implicits._
    val routes = graft.streaming.Routing.parseKvConfig(
      """routes:
        |  with-dims:
        |    matchers:
        |      minute: ["2024-01-01 00:00"]
        |    output:
        |      type: "alerts"
        |      series: "s.dims"
        |      dimensions: ["Hostname", "env"]
        |      stat_type: "gauge"
        |      value_field: "total_dropped"
        |""".stripMargin)
    val summary = Seq(
      ("2024-01-01 00:00", 3L, 1L, Map("a" -> 3L), Map("info" -> 3L)),
      ("2024-01-01 00:01", 5L, 2L, Map("b" -> 5L), Map("error" -> 5L)))
      .toDF("minute", "total_dropped", "app_count", "apps", "level")
    val rows = DropStats.routedSummary(summary, routes)
      .select("minute", "stream", "dimensions", "value").orderBy("minute").collect()
    // matched record: dimensions array verbatim from the output block
    assert(rows(0).getString(1) == "with-dims")
    assert(rows(0).getSeq[String](2) == Seq("Hostname", "env"))
    assert(rows(0).getDouble(3) == 3.0)
    // default-routed record: no output block → null metadata
    assert(rows(1).getString(1) == "main")
    assert(rows(1).isNullAt(2) && rows(1).isNullAt(3))
  }

  test("drop-stats windowed aggregation matches the batch equivalent") {
    val in = tmp(); val ck = tmp()
    writeLines(in, "a.log", sampleLines(30))
    val q = DropStats.start(spark, in, ck, "production", "dropstats_test")
    q.awaitTermination()
    val got = spark.table("dropstats_test")
      .select("app", "level", "n_dropped")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val expect = graft.logs.LogColumns
      .enhance(spark.read.text(in), col("value"), "production")
      .groupBy(date_trunc("minute", col("timestamp")), col("container_app"), col("level"))
      .count()
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == expect)
    assert(got.exists(_._2 == "error"))
  }

  test("source rate limit: maxFilesPerTrigger bounds each micro-batch") {
    val in = tmp(); val out = tmp(); val ck = tmp()
    writeLines(in, "a.log", sampleLines(4))
    writeLines(in, "b.log", sampleLines(4))
    writeLines(in, "c.log", sampleLines(4))
    val q = Forwarder.startToFiles(spark,
      Forwarder.Config(in, ck, maxFilesPerTrigger = 1), out)
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length == 3, s"expected 3 rate-limited batches, got ${progress.length}")
    assert(progress.forall(_.numInputRows == 4))
  }

  test("a second RecordSource (in-memory) runs the same pipeline through the seam") {
    import spark.implicits._
    val out = tmp(); val ck = tmp()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String](spark)
    mem.addData(sampleLines(6): _*)
    val src = new graft.streaming.RecordSource {
      override def stream(s: org.apache.spark.sql.SparkSession) = mem.toDF()
    }
    val q = Forwarder.start(spark, Forwarder.Config("unused-input-dir", ck),
      new FileDelivery(out), source = Some(src))
    q.awaitTermination()
    val lines = Files.walk(Paths.get(out, "main")).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    assert(lines.size == 6)
    val parsed = spark.read.json(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
    assert(parsed.filter(col("container_app") === "app1").count() > 0)
  }

  test("scrubPii redacts free-text fields before delivery, not structured ones") {
    val out = tmp(); val ck = tmp(); val in = tmp()
    val line = "2024-01-01T00:00:00+00:00 host-1 production--app0/" +
      "arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-1[1]: " +
      """{"title":"user a@b.io hit https://x.io/p?k=1","level":"info"}"""
    writeLines(in, "a.log", Seq(line))
    val q = Forwarder.start(spark,
      Forwarder.Config(in, ck, scrubPii = true), new FileDelivery(out))
    q.awaitTermination()
    val delivered = Files.walk(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    assert(delivered.size == 1)
    val json = delivered.head
    assert(!json.contains("a@b.io") && !json.contains("https://x.io"),
      s"PII survived into the delivered record: $json")
    assert(json.contains("<EMAIL>") && json.contains("<URL>"))
    // structured fields are untouched
    assert(json.contains("host-1") && json.contains("app0"))
    // the log-safe phone pattern must NOT eat rawlog's leading ISO
    // date (the plain pattern reads '2024-01-01' as a phone)
    assert(json.contains("2024-01-01T00:00:00"),
      s"scrub corrupted the raw line's timestamp: $json")
  }

  test("scrubPii dedups on the PRE-scrub record: PII-distinct lines both deliver") {
    val out = tmp(); val ck = tmp(); val in = tmp()
    def line(email: String) = "2024-01-01T00:00:00+00:00 host-1 production--app0/" +
      s"arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-1[1]: " +
      s"""{"title":"user $email","level":"info"}"""
    // distinct records that become IDENTICAL after redaction — hashing
    // the scrubbed form would silently drop the second as a replay
    writeLines(in, "a.log", Seq(line("a@b.io"), line("c@d.io")))
    val q = Forwarder.start(spark,
      Forwarder.Config(in, ck, scrubPii = true, dedupWithin = Some("10 minutes")),
      new FileDelivery(out))
    q.awaitTermination()
    val delivered = Files.walk(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    assert(delivered.size == 2,
      s"scrub-then-dedup collapsed distinct records: $delivered")
    assert(delivered.forall(j => j.contains("<EMAIL>") && !j.contains("@")))
  }

  test("the text-curation surface runs unchanged inside a streaming query") {
    // gate → scrub → split are pure codegen column exprs, so the whole
    // batch preprocessing story lifts onto a stream with zero rewrites
    // — this proves it end-to-end: a MemoryStream micro-batch through
    // gopherRules + redactPii + splitByHash equals the batch result on
    // the same rows.
    import spark.implicits._
    import graft.functions.TextFunctions
    import graft.operators.Curation
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog mail me at a@b.io now ok"),
      (2L, "to be or not to be that is the question and then some more words here"),
      (3L, "xx yy zz"), // fails the word-count rule
      (4L, "the cat sat on the mat and looked at the big red door for a while ok"),
      // decomposed e + U+0301: the NFC stage must compose it, in both modes
      (5L, "the cafe\u0301 menu says the coffee is hot and the cake is sweet ok"))
    def curate(df: org.apache.spark.sql.DataFrame) = {
      GraftExtensions.ensureRegistered(df.sparkSession)
      val passes = TextFunctions.gopherRules(col("text"),
        minTokens = 10, maxTokens = 100000, minMeanLen = 1, maxMeanLen = 10,
        minStopwords = 1).toMap.apply("passes")
      Curation.splitByHash(
        df.filter(passes)
          .select(col("doc_id"), TextFunctions.redactPii(
            TextFunctions.nfcNormalize(col("text"))).as("clean")),
        col("doc_id"), Seq("train" -> 90, "val" -> 5, "test" -> 5))
    }
    val batch = curate(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    mem.addData(docs: _*)
    val q = curate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curated").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("curated")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(batch.nonEmpty && batch.map(_._1) == Set(1L, 2L, 4L, 5L))
    assert(streamed == batch)
    assert(batch.forall { case (_, clean, _, _) => !clean.contains("a@b.io") })
    // the decomposed spelling arrived composed (U+00E9) in both modes
    assert(batch.collect { case (5L, clean, _, _) => clean }
      .forall(c => c.contains("caf\u00e9") && !c.contains("e\u0301")))
  }

  test("connector adapters map consumer config to source options (compile-only)") {
    import graft.streaming.Connectors
    val kafka = Connectors.KafkaSource("broker-1:9092,broker-2:9092", "logs",
      groupId = "fwd", startAt = "earliest", maxRecordsPerTrigger = Some(5000L))
    assert(kafka.format == "kafka")
    assert(kafka.options == Map(
      "kafka.bootstrap.servers" -> "broker-1:9092,broker-2:9092",
      "subscribe" -> "logs",
      "kafka.group.id" -> "fwd",
      "startingOffsets" -> "earliest",
      "failOnDataLoss" -> "false",
      "maxOffsetsPerTrigger" -> "5000"))
    val kinesis = Connectors.KinesisSource("log-stream", "us-west-1",
      initialPosition = "TRIM_HORIZON", maxFetchRatePerShard = Some(2))
    assert(kinesis.format == "kinesis")
    assert(kinesis.options == Map(
      "streamName" -> "log-stream",
      "region" -> "us-west-1",
      "initialPosition" -> "TRIM_HORIZON",
      "shardFetchRatePerSec" -> "2"))
    // both satisfy the RecordSource seam Forwarder.start accepts
    assert(Seq[graft.streaming.RecordSource](kafka, kinesis).nonEmpty)
  }

  test("checkpoint resume processes only new files (no reprocessing)") {
    val in = tmp(); val out = tmp(); val ck = tmp()
    writeLines(in, "a.log", sampleLines(5))
    Forwarder.startToFiles(spark, Forwarder.Config(in, ck), out).awaitTermination()
    writeLines(in, "b.log", sampleLines(3))
    Forwarder.startToFiles(spark, Forwarder.Config(in, ck), out).awaitTermination()
    val total = Files.walk(Paths.get(out, "main")).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(f => Files.readAllLines(f).asScala.iterator).size
    assert(total == 8) // 5 + 3, a.log not replayed on resume
  }

  test("a dedupWithin checkpoint resumes under the other file manager: exactly once, replays dropped across the restart") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val sparkDefault = classOf[org.apache.spark.sql.execution.streaming.checkpointing
      .FileContextBasedCheckpointFileManager].getName
    val graftManager = classOf[org.apache.spark.sql.graft.GraftCheckpointFileManager].getName
    val records = sampleLines(15)
    for ((first, second) <- Seq(sparkDefault -> graftManager, graftManager -> sparkDefault)) {
      val in = tmp(); val out = tmp(); val ck = tmp()
      def drain(manager: String) = {
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, manager)
        try {
          val q = Forwarder.start(spark,
            Forwarder.Config(in, ck, dedupWithin = Some("1 hour")), new FileDelivery(out))
          q.awaitTermination()
          q
        } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
      // malformed lines bypass dedup, so a re-read a.log would deliver
      // its malformed line twice
      writeLines(in, "a.log", records.take(10) :+ "malformed a")
      val before = drain(first)
      // new records, replays of records delivered before the restart
      writeLines(in, "b.log", records.drop(10) ++ records.take(5) :+ "malformed b")
      val after = drain(second)
      assert(after.recentProgress.head.batchId > before.lastProgress.batchId,
        s"$first -> $second: the second run did not resume from the checkpoint")

      val delivered = Files.walk(Paths.get(out, "main")).iterator().asScala
        .filter(_.toString.endsWith(".ndjson"))
        .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
      val (bad, good) = delivered.partition(_.contains("\"rawlog\":\"malformed"))
      assert(bad.count(_.contains("malformed a")) == 1 && bad.count(_.contains("malformed b")) == 1,
        s"$first -> $second: a file was reprocessed: $bad")
      assert(good.size == 15, s"$first -> $second: ${good.size} records delivered, 15 expected")
      for (i <- 0 until 15)
        assert(good.count(_.contains(s"\"host-$i\"")) == 1, s"$first -> $second: host-$i")
    }
  }

  test("a dedupWithin checkpoint written by the in-stream transform resumes under the pipeline nodes") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.graft.RowPipeline
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.FileLinesSource
    val in = tmp(); val out = tmp(); val ck = tmp()
    val conf = Forwarder.Config(in, ck, maxFilesPerTrigger = 1, dedupWithin = Some("1 hour"))
    val records = sampleLines(25)
    // the earlier plan shape: parse, serialize and the md5 key inside the
    // streaming plan, ahead of the dedup; delivery through a pipeline
    def drainInStream() = {
      val lines = FileLinesSource(in, conf.maxFilesPerTrigger).stream(spark)
      val keyed = Forwarder.transform(lines, conf.deployEnv, lit(conf.streamName))
        .withColumn("content_hash", md5(col("json")))
      val stream = keyed.filter(col("timestamp").isNotNull)
        .withColumn("event_ts", col("timestamp"))
        .withWatermark("event_ts", "1 hour")
        .dropDuplicatesWithinWatermark("content_hash")
        .drop("event_ts")
        .union(keyed.filter(col("timestamp").isNull))
      val post = RowPipeline.plan(spark, stream.schema, Forwarder.deliveryStages(conf, None, Nil))
      val sink = new NdjsonBatchSink(new FileDelivery(out), conf.sink)
      try {
        val q = post.over(stream).writeStream
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .foreachBatch((df: DataFrame, _: Long) => sink.process(df.queryExecution.toRdd))
          .start()
        q.awaitTermination()
        q
      } finally post.release()
    }
    writeLines(in, "a.log", records.take(10) :+ "malformed a")
    writeLines(in, "b.log", records.slice(10, 20))
    val before = drainInStream()
    // replays of records delivered before the restart, a new malformed
    // line and fresh records
    writeLines(in, "c.log", Seq(records(1), records(15), "malformed c") ++ records.drop(20))
    val after = Forwarder.start(spark, conf, new FileDelivery(out))
    after.awaitTermination()
    assert(after.recentProgress.head.batchId == before.lastProgress.batchId + 1,
      s"batch ids: ${before.recentProgress.map(_.batchId).toSeq} then " +
        s"${after.recentProgress.map(_.batchId).toSeq}")

    val delivered = Files.walk(Paths.get(out, "main")).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(f => Files.readAllLines(f).asScala.iterator).toSeq
    val (bad, good) = delivered.partition(_.contains("\"rawlog\":\"malformed"))
    assert(bad.count(_.contains("malformed a")) == 1 && bad.count(_.contains("malformed c")) == 1 &&
      bad.size == 2, s"malformed lines: $bad")
    assert(good.size == 25, s"${good.size} records delivered, 25 expected")
    for (i <- 0 until 25)
      assert(good.count(_.contains(s"\"host-$i\"")) == 1, s"host-$i")
  }

  test("rateSpikes: hand moments, k sensitivity, zero-variance series never flags") {
    val spark = SparkTest.spark
    import spark.implicits._
    // group a: bucket counts (1, 1, 4) → mean 2, σ = sqrt(2);
    // group b: constant counts (3, 3) → σ = 0, nothing may flag
    val events = (Seq.fill(1)(("a", 10L)) ++ Seq.fill(1)(("a", 11L)) ++
      Seq.fill(4)(("a", 12L)) ++ Seq.fill(3)(("b", 20L)) ++ Seq.fill(3)(("b", 21L)))
      .toDF("g", "b")
    def run(k: Double) = DropStats.rateSpikes(events, col("g"), col("b"), k)
      .orderBy("grp", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))
    val k2 = run(2.0)
    // cut at k=2: 2 + 2·1.414214 = 4.83 → the 4-count bucket does NOT flag
    assert(k2.forall(!_._6), s"got ${k2.toSeq}")
    assert(k2.filter(_._1 == "a").map(x => (x._4, x._5)).distinct.toSeq ==
      Seq((2.0, 1.414214)))
    // cut at k=1: 3.41 → only the 4-count bucket flags
    val k1 = run(1.0)
    assert(k1.count(_._6) == 1 && k1.find(_._6).get._3 == 4L)
    // constant series: σ = 0, n > mean is false for every bucket
    assert(k1.filter(_._1 == "b").forall(x => x._5 == 0.0 && !x._6))
  }

  test("stream-stream join: attribution within the window, batch-equal, inner drop") {
    import org.apache.spark.sql.types._
    val viewsDir = tmp(); val buysDir = tmp(); val ck = tmp()
    val vSchema = StructType(Seq(
      StructField("v_user", LongType), StructField("v_ts", TimestampType),
      StructField("view_id", LongType)))
    val bSchema = StructType(Seq(
      StructField("b_user", LongType), StructField("b_ts", TimestampType),
      StructField("buy_id", LongType)))
    Files.write(Paths.get(viewsDir, "v.json"), Seq(
      """{"v_user":1,"v_ts":"2024-01-01T00:00:00Z","view_id":10}""",
      """{"v_user":1,"v_ts":"2024-01-01T00:05:00Z","view_id":11}""",
      """{"v_user":1,"v_ts":"2024-01-01T00:50:00Z","view_id":12}""",
      """{"v_user":2,"v_ts":"2024-01-01T00:00:00Z","view_id":20}""").asJava)
    Files.write(Paths.get(buysDir, "b.json"), Seq(
      """{"b_user":1,"b_ts":"2024-01-01T00:08:00Z","buy_id":100}""",
      """{"b_user":2,"b_ts":"2024-01-01T00:30:00Z","buy_id":200}""").asJava)

    val q = graft.streaming.StreamJoin.withinWindow(
        spark.readStream.schema(vSchema).json(viewsDir),
        col("v_user"), col("v_ts"),
        spark.readStream.schema(bSchema).json(buysDir),
        col("b_user"), col("b_ts"),
        windowSeconds = 600)
      .select(col("view_id"), col("buy_id"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("ssjoin_test").start()
    q.awaitTermination()
    val got = spark.table("ssjoin_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // u1's buy at 00:08 attributes to views 00:00 and 00:05 (within 10
    // min, inclusive both ends), NOT the later 00:50 view; u2's buy has
    // no view within the window and inner-drops
    assert(got == Set((10L, 100L), (11L, 100L)), s"got $got")
    // batch twin over the same files, same predicate
    val batch = spark.read.schema(vSchema).json(viewsDir)
      .join(spark.read.schema(bSchema).json(buysDir),
        col("v_user") === col("b_user") &&
          col("v_ts") <= col("b_ts") &&
          col("v_ts") >= col("b_ts") - expr("INTERVAL 600 SECONDS"))
      .select(col("view_id"), col("buy_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch, s"stream result must equal batch twin: $got vs $batch")
  }

  test("stream-stream LEFT OUTER join emits unmatched views at watermark expiry") {
    import org.apache.spark.sql.types._
    val viewsDir = tmp(); val buysDir = tmp(); val ck = tmp()
    val vSchema = StructType(Seq(
      StructField("v_user", LongType), StructField("v_ts", TimestampType),
      StructField("view_id", LongType)))
    val bSchema = StructType(Seq(
      StructField("b_user", LongType), StructField("b_ts", TimestampType),
      StructField("buy_id", LongType)))
    Files.write(Paths.get(viewsDir, "v1.json"), Seq(
      """{"v_user":1,"v_ts":"2024-01-01T00:00:00Z","view_id":10}""",
      """{"v_user":3,"v_ts":"2024-01-01T00:00:00Z","view_id":30}""").asJava)
    Files.write(Paths.get(buysDir, "b1.json"), Seq(
      """{"b_user":1,"b_ts":"2024-01-01T00:05:00Z","buy_id":100}""").asJava)

    val q = graft.streaming.StreamJoin.withinWindow(
        spark.readStream.schema(vSchema).json(viewsDir),
        col("v_user"), col("v_ts"),
        spark.readStream.schema(bSchema).json(buysDir),
        col("b_user"), col("b_ts"),
        windowSeconds = 600, joinType = "leftOuter")
      .select(col("view_id"), col("buy_id"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .format("memory").queryName("ssjoin_outer_test").start()
    q.processAllAvailable()
    // sentinels on BOTH sides (the join watermark is the MIN of the two
    // streams'), SEQUENCED between processAllAvailable calls — an outer
    // result only flushes in a batch AFTER the watermark that expired
    // it, and pre-written files could be picked up in any order
    for ((vts, bts) <- Seq(("02:30", "02:00"), ("03:30", "03:00"), ("04:30", "04:00"))) {
      Files.write(Paths.get(viewsDir, s"v$vts.json".replace(":", "")),
        Seq(s"""{"v_user":9,"v_ts":"2024-01-01T$vts:00Z","view_id":90}""").asJava)
      Files.write(Paths.get(buysDir, s"b$bts.json".replace(":", "")),
        Seq(s"""{"b_user":8,"b_ts":"2024-01-01T$bts:00Z","buy_id":800}""").asJava)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("ssjoin_outer_test")
      .filter(col("view_id") < 90)
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // view 10 matched its buy; view 30 never matched and must surface
    // as a NULL-padded row once the watermark proves no buy can come
    assert(got == Set((10L, 100L), (30L, -1L)), s"got $got")
  }
}
