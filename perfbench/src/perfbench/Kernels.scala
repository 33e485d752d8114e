package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.streaming.{Forwarder, Routing}

/** Per-row cost of single library calls on cached static frames, measured in
  * every traced run with the same inputs whatever the workload: the parse and
  * enhance transform, the NDJSON sink, the near-dup screen and the native
  * Catalyst kernels. Each call runs once to warm up, then three times; the
  * median counts. A per-row cost excludes the time of writing the same frame
  * without the call, so job overhead does not swamp a cheap kernel. */
object Kernels {
  val Lines = 20000
  val Docs = 8000
  val Vectors = 50000

  def measure(spark: SparkSession, o: Opts, rep: Report): Unit = {
    import spark.implicits._
    graft.GraftExtensions.ensureRegistered(spark)
    val parts = o.cores
    def pin(df: DataFrame): DataFrame = {
      val p = df.repartition(parts).persist(StorageLevel.MEMORY_ONLY)
      p.count()
      p
    }
    def median3(run: => Unit): Double = {
      run
      Stats.median((1 to 3).map(_ => Stats.timed(run)._2))
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    /** Nanoseconds per row of `run` beyond a noop write of `base`. */
    def time(name: String, kind: String, rows: Long, base: Option[DataFrame] = None)
            (run: => Unit): Double = {
      val b = base.fold(0.0)(df => median3(noop(df)))
      math.max(0.0, median3(Trace.span(name, kind)(run)) - b) * 1e9 / rows
    }

    val gen = LogGen.backlog(o.seed, Traffic(files = Lines / 50, linesPerFile = 50))
    val lines = pin(gen.map(_.line).toDF("value"))
    val route = Routing.column(Routing.parseKvConfig(Forward.RouteTable))
    rep.metric("logs.transform_ns_per_record", time("Forwarder.transform", "logs.transform", Lines, Some(lines))(
      noop(Forwarder.transform(lines, "production", route))), "ns")
    rep.metric("functions.syslog_parse_ns_per_row", time("graft_syslog_parse", "functions.kernel", Lines, Some(lines))(
      noop(lines.select(call_function("graft_syslog_parse", col("value"))))), "ns")

    val delivery = pin(Forwarder.transform(lines, "production", route).select("stream", "json"))
    var sinkRun = 0
    rep.metric("sinks.process_ns_per_record", time("NdjsonBatchSink.process", "sinks.process", Lines) {
      sinkRun += 1
      new graft.sinks.NdjsonBatchSink(new graft.sinks.FileDelivery(s"${o.work}/sink-$sinkRun"),
        graft.sinks.SinkConfig()).process(delivery, sinkRun)
      Forward.deleteTree(s"${o.work}/sink-$sinkRun")
    }, "ns")

    // one micro-batch worth of lines against a 2000-line history index
    val hist = LogGen.history(o.seed, 2000).toDF("rawlog")
      .withColumn("id", monotonically_increasing_id())
    val index = pin(graft.operators.Dedup.minhashIndex(hist, col("id"), col("rawlog")))
    val bands = pin(graft.operators.Dedup.minhashIndexBands(index))
    val batchRows = Forward.FilesPerTrigger * 50
    val increment = pin(lines.limit(batchRows).withColumn("id", md5(col("value"))))
    rep.metric("operators.screen_ms_per_batch", time("Dedup.minhashLshPairsAgainstBandedIndex",
        "operators.screen", 1000000L)(noop(graft.operators.Dedup.minhashLshPairsAgainstBandedIndex(
      increment, col("id"), col("value"), index, bands))), "ms")

    val docs = pin(TableGen.documents(spark, o.seed, 1000)
      .crossJoin(spark.range(Docs / 1000).toDF("copy")).select(col("doc_id"), col("text")))
    def docKernel(metric: String, fn: String, args: Column*): Unit =
      rep.metric(s"functions.${metric}_ns_per_row", time(fn, "functions.kernel", Docs,
          Some(docs.select(col("text"))))(
        noop(docs.select(call_function(fn, col("text") +: args: _*)))), "ns")
    docKernel("winnow", "graft_winnow", lit(16), lit(12))
    docKernel("cdc", "graft_cdc_chunks", lit(8), lit(64), lit(256))
    docKernel("nfc", "graft_nfc")
    val merges = array(LogGen.Vocab.take(64).flatMap { w =>
      Seq(struct(lit(w.substring(0, 1)).as("l"), lit(w.substring(1, 2)).as("r"),
        lit(w.substring(0, 2)).as("m")))
    }.distinct: _*)
    val words = pin(docs.select(explode(split(col("text"), " ")).as("word")))
    val nWords = words.count()
    rep.metric("functions.bpe_segment_ns_per_row", time("graft_bpe_segment", "functions.kernel", nWords, Some(words))(
      noop(words.select(call_function("graft_bpe_segment", col("word"), merges)))), "ns")

    val vecs = pin(TableGen.embeddings(spark, o.seed, 1000)
      .crossJoin(spark.range(Vectors / 1000).toDF("copy"))
      .select(col("embedding").cast("array<double>").as("v"),
        transform(sequence(lit(0), lit(3)), i => xxhash64(col("vec_id"), col("copy"), i)).as("codes")))
    val q = array((0 until 64).map(i => lit(math.sin(i.toDouble))): _*)
    rep.metric("functions.vec_dot_ns_per_row", time("graft_vec_dot", "functions.kernel", Vectors, Some(vecs.select(col("v"))))(
      noop(vecs.select(call_function("graft_vec_dot", col("v"), q)))), "ns")
    val qc = array((0 until 4).map(i => lit(0x9E3779B97F4A7C15L * (i + 1))): _*)
    rep.metric("functions.hamming_ns_per_row", time("graft_hamming", "functions.kernel", Vectors, Some(vecs.select(col("codes"))))(
      noop(vecs.select(call_function("graft_hamming", col("codes"), qc)))), "ns")

    spark.catalog.clearCache()
  }
}
