package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RowPipeline
import graft.operators.Dedup
import graft.sinks.FileDelivery
import graft.streaming.{Forwarder, Routing}

/** The forwarder's compiled row pipeline: byte parity of its plan node
  * with the Dataset path under concurrent tasks, the node's opacity to
  * the optimizer, and refusal of stages that are not row-local. */
class RowPipelineSpec extends AnyFunSuite {
  import SparkTest._

  private def tmp(): String = Files.createTempDirectory("graft-rowpipe").toString

  private val Routes = Routing.parseKvConfig(
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
      |""".stripMargin)

  private val Titles = Seq("request_latency", "request_done", "db_query")

  /** RFC3339, RFC3164 and malformed lines; some carry PII for the scrub,
    * and every 50th repeats an indexed history line for the screen. */
  private def lines(n: Int, salt: Int): Seq[String] = (0 until n).map { i =>
    val k = i + salt
    val title = Titles(k % Titles.size)
    val lvl = if (k % 7 == 0) "error" else "info"
    val pii = if (k % 5 == 0) s" mail user$k@example.com or https://x.example/$k" else ""
    val payload =
      s"""{"title":"$title","level":"$lvl","rid":"r$k","latency_ms":${k % 97},"msg":"m$k$pii"}"""
    k % 50 match {
      case 0 => history(k / 50 % history.size)
      case r if r % 10 == 3 => s"not a syslog line $k"
      case r if r % 4 == 1 =>
        f"Apr  5 21:45:${k % 60}%02d host-$k staging--app${k % 3}/" +
          s"arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-$k[$k]: $payload"
      case _ =>
        f"2024-01-01T00:${k % 60}%02d:00+00:00 host-$k production--app${k % 3}/" +
          s"arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-$k[$k]: $payload"
    }
  }

  private lazy val history: Seq[String] = (0 until 8).map { h =>
    s"2024-01-01T00:00:00+00:00 host-h$h production--app0/" +
      s"arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-h[1]: " +
      s"""{"title":"request_done","level":"info","msg":"history $h alpha beta gamma delta"}"""
  }

  private lazy val index: String = {
    import spark.implicits._
    val dir = tmp() + "/minhash_index"
    Dedup.minhashIndex(history.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("doc_id", "text"),
      col("doc_id"), col("text")).write.parquet(dir)
    dir
  }

  private def frame(ls: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ls, 8).toDF("value")
  }

  private def parity(route: Column): Unit = {
    val conf = Forwarder.Config("", "", scrubPii = true,
      nearDupScreen = Some(Forwarder.NearDupScreen(index)))
    val probe = Dedup.minhashProbe(spark.read.parquet(index))
    val post = Forwarder.deliveryStages(conf, Some(probe), Routes)
    val stages = (df: DataFrame) => post(Forwarder.transform(df, "production", route))
    val first = frame(lines(4000, 0))
    val pipeline = RowPipeline.plan(spark, first.schema, stages)
    try {
      // two batches through the same pipeline: the second reuses every
      // thread's compiled chain
      for ((df, b) <- Seq(first, frame(lines(4000, 7))).zipWithIndex) {
        val want = stages(df).collect().toSeq
          .map(r => (r.getString(0), r.getString(1).getBytes(UTF_8).toSeq))
        val got = pipeline.over(df).queryExecution.toRdd
          .map(r => (r.getString(0), r.getUTF8String(1).getBytes.toSeq)).collect().toSeq
        assert(want.size < 4000 && want.size > 3800, s"batch $b: the screen kept ${want.size}")
        assert(want.exists(_._1 == "latency-alerts") && want.exists(_._1 == "errors"))
        assert(got.size == want.size, s"batch $b: ${got.size} rows, ${want.size} expected")
        got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
          assert(g == w, s"batch $b, row $i: (${g._1}, ${new String(g._2.toArray, UTF_8)}) " +
            s"!= (${w._1}, ${new String(w._2.toArray, UTF_8)})")
        }
      }
    } finally { pipeline.release(); probe.release() }
  }

  test("compiled pipeline: byte parity with the Dataset path over 8 concurrent partitions, twice") {
    parity(Routing.column(Routes, "main"))
  }

  test("compiled pipeline: a seeded non-deterministic route matches per partition") {
    parity(when(col("title") === "request_latency", lit("latency-alerts"))
      .when(rand(7) < 0.5, lit("errors")).otherwise(lit("main")))
  }

  test("the pipeline node is opaque: no filter pushed below it, no column pruned under it") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.graft.{RowPipelineExec, RowPipelineNode}
    val in = frame(lines(200, 0)).withColumn("extra", lit(1))
    val pipeline = RowPipeline.plan(spark, in.schema,
      df => Forwarder.transform(df, "production", lit("main")).drop("extra"))
    try {
      val q = pipeline.over(in).filter(col("level") === "error").select("json")
      val plan = q.queryExecution.optimizedPlan
      val node = plan.collectFirst { case n: RowPipelineNode => n }
      assert(node.exists(n => n.child.output.map(_.name) == Seq("value", "extra") &&
        n.child.find(_.isInstanceOf[Filter]).isEmpty), plan.treeString)
      assert(plan.find(_.isInstanceOf[Filter]).nonEmpty, plan.treeString)
      assert(q.queryExecution.executedPlan.collect { case e: RowPipelineExec => e }.size == 1)
      val want = Forwarder.transform(in, "production", lit("main"))
        .filter(col("level") === "error").select("json").collect().map(_.getString(0)).toSeq
      assert(want.nonEmpty && q.collect().map(_.getString(0)).toSeq == want)
    } finally pipeline.release()
  }

  test("a stage that is not row-local is refused at start, naming the node, and leaks nothing") {
    import Dedup.MinhashProbe
    val before = MinhashProbe.live.get
    val pipelines = RowPipeline.live
    val active = spark.streams.active.length
    val in = tmp()
    Files.write(java.nio.file.Paths.get(in, "a.log"), lines(5, 1).mkString("\n").getBytes(UTF_8))
    val conf = Forwarder.Config(in, tmp(), nearDupScreen = Some(Forwarder.NearDupScreen(index)))
    val guarded = conf.copy(dedupWithin = Some("1 hour"))
    val aggregate = spark.range(3).select(max(col("id")).cast("string")).scalar()
    val window = count(lit(1)).over(Window.partitionBy(col("hostname"))).cast("string")
    for ((c, route, node) <- Seq((conf, aggregate, "ScalarSubquery"), (conf, window, "Window"),
                                 (guarded, window, "Window"))) {
      val e = intercept[IllegalArgumentException] {
        Forwarder.start(spark, c, new FileDelivery(tmp()), route = Some(route))
      }
      assert(e.getMessage.contains(node) && e.getMessage.contains("not row-local"), e.getMessage)
      assert(MinhashProbe.live.get == before, s"$node: the probe broadcast was not destroyed")
      assert(RowPipeline.live == pipelines, s"$node: a pipeline broadcast was not destroyed")
      assert(spark.streams.active.length == active)
    }
    // a start that fails after planning releases both pipelines and the probe
    val notADir = Files.createTempFile("graft-rowpipe", ".ck").toString
    intercept[Exception] {
      Forwarder.start(spark, guarded.copy(checkpointDir = notADir), new FileDelivery(tmp()))
    }
    assert(MinhashProbe.live.get == before && RowPipeline.live == pipelines)
    assert(spark.streams.active.length == active)
    // the release hook of a planned forwarder is idempotent
    val p = Forwarder.plan(spark, guarded)
    assert(MinhashProbe.live.get == before + 1 && RowPipeline.live == pipelines + 2)
    p.release()
    p.release()
    assert(MinhashProbe.live.get == before && RowPipeline.live == pipelines)
  }
}
