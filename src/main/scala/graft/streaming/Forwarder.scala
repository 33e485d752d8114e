package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RowPipeline
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.logs.LogColumns
import graft.sinks.{Delivery, FileDelivery, NdjsonBatchSink, SinkConfig}

/** The end-to-end forwarder (SURVEY.md §2.A13): the reference's
  * consume → ParseAndEnhance → NDJSON → batched-deliver pipeline
  * (/root/reference/main.go) as a Structured Streaming job.
  *
  * Source rate limiting (A9) maps to `maxFilesPerTrigger`; KCL
  * checkpointing (A10) maps to `checkpointLocation` (offset tracking +
  * replay on restart); routing (A12) is a Column producing the target
  * stream name per record (the reference's tags,
  * firehose_sender.go:73).
  */
object Forwarder {

  /** Near-duplicate replay screen (C18's big sibling): drop batch
    * records whose `column` text is a near-dup (MinHash-LSH + exact
    * Jaccard ≥ threshold) of a document in a prebuilt
    * [[graft.operators.Dedup.minhashIndex]] table at `indexDir` —
    * replay protection BEYOND the exact-hash `dedupWithin` (a replay
    * whose serialized form drifted — regenerated timestamps, reworded
    * wrapper — hashes differently but still near-dups its original).
    * (n, bands·rows, seed) MUST match the index build. The index is
    * read once per query into a broadcast [[graft.operators.Dedup
    * .minhashProbe]], and each micro-batch is screened by one row-local
    * filter after the scrub, so it sees the POST-scrub record when
    * `scrubPii` is on: build the index from the DELIVERED history and
    * both sides of the compare are the same text domain. The index
    * must fit Spark's broadcast limit (`spark.sql.maxBroadcastTableSize`);
    * `start` fails with a named error otherwise. */
  final case class NearDupScreen(
      indexDir: String,
      column: String = "rawlog",
      n: Int = 2, bands: Int = 16, rows: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L, maxBucket: Int = 1000)

  final case class Config(
      inputDir: String,
      checkpointDir: String,
      deployEnv: String = "production",
      streamName: String = "main",
      maxFilesPerTrigger: Int = 10,
      sink: SinkConfig = SinkConfig(),
      /** e.g. Some(NearDupScreen(dir)): screen each micro-batch against
        * a materialized historical MinHash index before delivery. */
      nearDupScreen: Option[NearDupScreen] = None,
      /** e.g. Some("10 minutes"): drop records whose EXACT serialized
        * form was already delivered within the horizon — replay
        * protection for at-least-once consumers (KCL redelivers on
        * lease failover). Keys on md5 of the raw json (no text
        * normalization — distinct records differing only in case or
        * whitespace are NOT replays). Malformed lines (null parsed
        * timestamp) bypass the dedup and are always delivered. State
        * is md5 keys only, evicted by watermark. The stages before the
        * dedup (parse, route, serialize, md5) and after it (delivery)
        * run as two [[org.apache.spark.sql.graft.RowPipeline]]s planned
        * once at `start`; only the dedup is planned per micro-batch. */
      dedupWithin: Option[String] = None,
      /** Redact emails/phones/URLs from the free-text fields (title,
        * rawlog) before delivery — the standard compliance step when
        * forwarding logs to a less-trusted store. Same codegen
        * redaction chain as the batch curation surface, with the
        * LOG-SAFE phone variant (the plain pattern would redact every
        * ISO date in rawlog as a phone). Applied LAST in the pipeline:
        * routing matches and the `dedupWithin` replay key both see the
        * PRE-scrub record, so a route keyed on URL/digit-shaped text
        * keeps matching and two distinct records that differ only in
        * redacted PII are never collapsed as replays. Structured
        * fields (host, app, timestamps) are never touched. */
      scrubPii: Boolean = false)

  /** The batch/streaming-shared transform: raw `value` lines →
    * enhanced fields + (stream, json) delivery columns. Routing
    * defaults to one stream; pass e.g.
    * `when(col("level") === "error", lit("errors")).otherwise(lit("main"))`
    * to demux. */
  def transform(lines: DataFrame, deployEnv: String,
                route: Column): DataFrame = {
    graft.GraftExtensions.ensureRegistered(lines.sparkSession)
    val enhanced = LogColumns.enhance(lines, col("value"), deployEnv)
    enhanced.withColumn("stream", route)
      .withColumn("json", serialized)
  }

  private def serialized: Column = LogColumns.toNdjson(
    (LogColumns.EnhancedFieldNames.map(col) :+ col("rawlog")): _*)

  /** The delivery-time scrub (see Config.scrubPii): rewrite the
    * free-text fields with the log-safe redaction chain and
    * RE-serialize, so the delivered NDJSON never carries the raw
    * values — while everything upstream (routing, replay dedup)
    * operated on the pre-scrub record. */
  private[streaming] def scrubDelivery(df: DataFrame): DataFrame =
    df.withColumn("title", graft.functions.TextFunctions.redactPiiLogSafe(col("title")))
      .withColumn("rawlog", graft.functions.TextFunctions.redactPiiLogSafe(col("rawlog")))
      .withColumn("json", serialized)

  /** The route-output METRIC leg (A18 — the reference's alerts shape,
    * /root/reference/kvconfig.yml:5-10, applied to the FORWARDED
    * stream): records whose matched route declares an `output:` block
    * are delivered as metric POINTS — the json column becomes
    * `{series, value, dimensions, stat_type}` with `value` read from
    * the record's `value_field` and each dimension name resolved to
    * that record field's value — instead of the plain NDJSON record.
    * This closes the reference's own loop: its stats goroutine logs
    * the per-minute drop-stats rollup as a LOG LINE
    * (stats.go:31-38, `log.TraceD("drop-stats", tmp)`) that the
    * forwarder then routes to the alert sink as a gauge point on
    * `total_dropped`. Field resolution prefers the enhanced STRUCTURED
    * column when the frame carries it (title, level, container_app, …)
    * and falls back to the record's kayvee payload
    * (`kayveeField(rawlog, name)`) — which is where `total_dropped`
    * lives. Routes without an output block keep their plain NDJSON
    * json untouched; everything still flows through the ONE
    * NdjsonBatchSink seam (batching/retry/DLQ identical for points
    * and records). Pure codegen column rewrites — the leg adds no
    * shuffle and no second delivery pass.
    *
    * Structured resolution consults ONLY the record's own enhanced
    * fields ([[MetricStructuredFields]]) — never the pipeline's
    * bookkeeping columns (value/rawlog/json/stream/content_hash),
    * which would silently shadow a same-named kayvee payload field
    * (a payload field literally named `stream` must read the payload,
    * not the router's column). A record whose value_field resolves
    * NULL (absent, or non-numeric) is delivered as the PLAIN NDJSON
    * record, never as a point missing its `value` key — to_json drops
    * null fields, and a value-less point is a silently malformed
    * delivery where the full record is at least diagnosable.
    * Derived from [[LogColumns.EnhancedFieldNames]] — the one list the
    * serializer also reads — so growing `enhance` grows this whitelist
    * in lockstep instead of silently diverging. */
  private[streaming] val MetricStructuredFields: Set[String] =
    LogColumns.EnhancedFieldNames.toSet

  private[streaming] def metricJson(df: DataFrame,
                                    routes: Seq[Routing.Route]): DataFrame = {
    val withOut = routes.filter(_.output.isDefined)
    if (withOut.isEmpty) df
    else {
      val stringFields = df.schema.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.StringType &&
          MetricStructuredFields(f.name) => f.name
      }.toSet
      def fieldValue(name: String): Column =
        if (name.isEmpty) lit(null).cast("string")
        else if (stringFields(name)) col(name)
        else LogColumns.kayveeField(col("rawlog"), name)
      def valueOf(o: Routing.Output): Column =
        fieldValue(o.valueField).cast("double")
      def pointOf(o: Routing.Output): Column = to_json(struct(
        lit(o.series).as("series"),
        valueOf(o).as("value"),
        map_from_arrays(
            array(o.dimensions.map(lit): _*).cast("array<string>"),
            array(o.dimensions.map(fieldValue): _*).cast("array<string>"))
          .as("dimensions"),
        lit(o.statType).as("stat_type")))
      df.withColumn("json",
        withOut.foldRight(col("json")) { (r, acc) =>
          when(col("stream") === r.name && valueOf(r.output.get).isNotNull,
              pointOf(r.output.get))
            .otherwise(acc)
        })
    }
  }

  /** The row-local stages after the last stateful step, in delivery
    * order: the scrub (routing and the replay key saw the pre-scrub
    * record), the near-dup screen (after the scrub, because the index
    * holds delivered text; before the metric rewrite, because a
    * replayed record must screen whether or not its route emits
    * points), the metric leg, then the sink's (stream, json) columns. */
  private[graft] def deliveryStages(conf: Config,
                                    probe: Option[graft.operators.Dedup.MinhashProbe],
                                    routeTable: Seq[Routing.Route]): DataFrame => DataFrame = {
    df =>
      val scrubbed = if (conf.scrubPii) scrubDelivery(df) else df
      val screened = conf.nearDupScreen.zip(probe).fold(scrubbed) { case (s, p) =>
        scrubbed.filter(!p.nearDup(col(s.column), s.threshold))
      }
      metricJson(screened, routeTable).select("stream", "json")
  }

  /** What [[start]] plans before the query runs: the streaming frame,
    * its row-local stages already inside as [[RowPipeline]] nodes, and
    * the idempotent release of every broadcast (pipelines and probe). */
  private[graft] final case class Plan(stream: DataFrame, release: () => Unit)

  private[graft] def plan(spark: SparkSession, conf: Config,
                          route: Option[Column] = None,
                          source: Option[RecordSource] = None,
                          routeTable: Seq[Routing.Route] = Nil): Plan = {
    graft.GraftExtensions.ensureRegistered(spark)
    val r = route.getOrElse(
      if (routeTable.nonEmpty) Routing.column(routeTable, conf.streamName)
      else lit(conf.streamName))
    val src = source
      .getOrElse(FileLinesSource(conf.inputDir, conf.maxFilesPerTrigger))
    // the near-dup screen is one broadcast probe per query: the frozen
    // index's capped band buckets and shingle sets, collected and
    // broadcast here, once, then one row-local filter in the pipeline
    val probe = conf.nearDupScreen.map { s =>
      graft.operators.Dedup.minhashProbe(spark.read.parquet(s.indexDir),
        s.n, s.bands, s.rows, s.seed, s.maxBucket)
    }
    var pipelines = List.empty[RowPipeline]
    def over(df: DataFrame, stages: DataFrame => DataFrame): DataFrame = {
      val p = RowPipeline.plan(spark, df.schema, stages)
      pipelines ::= p
      p.over(df)
    }
    val release = () => { pipelines.foreach(_.release()); probe.foreach(_.release()) }
    try {
      val lines = src.stream(spark)
      val delivery = deliveryStages(conf, probe, routeTable)
      val (stream, rowStages) = conf.dedupWithin match {
        // dedup AFTER transform on the EXACT serialized record (md5 of
        // the raw json, not StreamDedup's corpus-text normalization —
        // case or whitespace differences are distinct records, not
        // replays); the parsed `timestamp` is the event time. Malformed
        // lines carry a null timestamp by contract ("drop to null,
        // never lost") — they would read as epoch 0 inside the
        // watermark operator and be swallowed as late, so they bypass
        // the dedup branch entirely. The stateful operator sits between
        // two pipeline nodes: the one before it yields the key, the one
        // after it delivers.
        case Some(delay) =>
          val keyed = over(lines, (df: DataFrame) => transform(df, conf.deployEnv, r)
            .withColumn("content_hash", md5(col("json"))))
          val deduped = keyed.filter(col("timestamp").isNotNull)
            .withColumn("event_ts", col("timestamp"))
            .withWatermark("event_ts", delay)
            .dropDuplicatesWithinWatermark("content_hash")
            .drop("event_ts")
          (deduped.union(keyed.filter(col("timestamp").isNull)), delivery)
        case None =>
          (lines, delivery.compose((df: DataFrame) => transform(df, conf.deployEnv, r)))
      }
      Plan(over(stream, rowStages), release)
    } catch { case e: Throwable => release(); throw e }
  }

  /** Start the streaming forwarder. The record source defaults to
    * [[FileLinesSource]] over `conf.inputDir`; pass any other
    * [[RecordSource]] to swap the consumer without touching the
    * pipeline — the same seam where the reference wires its KCL batch
    * consumer to the sender (/root/reference/main.go:63-64).
    *
    * `routeTable`: a parsed kvconfig route table (the reference's
    * `SetGlobalRouting` surface). When non-empty it compiles to the
    * routing column (unless an explicit `route` overrides it) AND
    * enables the [[metricJson]] alert leg for routes carrying an
    * `output:` block.
    *
    * The row-local stages are planned once per query, here, not on
    * every micro-batch: parse/enhance, routing and serialization, the
    * scrub, the near-dup screen and the metric leg are analyzed and
    * optimized once into a [[RowPipeline]] that each executor thread
    * compiles once. The streaming plan holds each pipeline as one opaque
    * node, so per epoch it plans only the source, the nodes and (with
    * `dedupWithin`) the dedup. With `dedupWithin` there are two
    * pipelines: parse/enhance, routing, serialization and the md5 replay
    * key before the stateful dedup, delivery after it. Two consequences,
    * in both modes:
    *  - the session settings those stages read at analysis (time zone,
    *    ANSI mode) are read at `start`; changing them later does not
    *    reach a running forwarder;
    *  - a `route` that is not row-local (a subquery, an aggregate or
    *    window) is refused here with an IllegalArgumentException that
    *    names the offending node.
    * Every broadcast (pipelines and probe) is destroyed on termination,
    * and when `start` itself fails. */
  def start(spark: SparkSession, conf: Config, delivery: Delivery,
            route: Option[Column] = None,
            source: Option[RecordSource] = None,
            routeTable: Seq[Routing.Route] = Nil): StreamingQuery = {
    val p = plan(spark, conf, route, source, routeTable)
    val sink = new NdjsonBatchSink(delivery, conf.sink)
    val query =
      try p.stream.writeStream
        .option("checkpointLocation", conf.checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((df: DataFrame, _: Long) => sink.process(df.queryExecution.toRdd))
        .start()
      catch { case e: Throwable => p.release(); throw e }
    StreamIndex.releaseOnTermination(spark, query, p.release)
  }

  /** Convenience: forward to local NDJSON files. */
  def startToFiles(spark: SparkSession, conf: Config, outDir: String): StreamingQuery =
    start(spark, conf, new FileDelivery(outDir))
}
