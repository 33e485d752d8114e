package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command-line options handed over by perfbench/run.py. */
final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
    work: String, result: String, build: String)

/** What one run reports: the metrics of its mode, the operation counts, the
  * correctness verdict with its first reasons, and free-form facts that go
  * into the run record only. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  var correct = true
  private val problems = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** A correctness check failed: the run's outputs are not what they must be. */
  def wrong(reason: String): Unit = {
    correct = false
    if (problems.size < 20) problems += reason
    System.err.println(s"[perfbench] CHECK FAILED: $reason")
  }

  def toJson: String = Json(Map(
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "info" -> (info ++ Map("problems" -> problems.toSeq))))
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("cores").toInt, a("work"), a("result"), a("build"))
    require(Set("fwd_plain", "fwd_guarded")(o.workload), s"unknown workload ${o.workload}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o, o.cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val rep = new Report
    rep.info ++= Seq("workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "spark_version" -> spark.version, "jdk_version" -> System.getProperty("java.version"),
      "jvm_to_session_s" -> sessionS)
    val w = new Forward(spark, o, rep, guarded = o.workload == "fwd_guarded")
    val ok = try {
      // Set-up: inputs are generated three times and the median kept;
      // session start, index build and warm-up happen once by nature.
      val gen = (1 to 3).map(i => Stats.timed(w.prepare(i))._2)
      val build = Stats.timed(w.build())._2
      val warm = Stats.timed(w.warmUp())._2
      val setupS = sessionS + Stats.median(gen) + build + warm
      rep.info ++= Seq("prepare_s" -> gen, "build_s" -> build, "warmup_s" -> warm,
        "setup_s" -> setupS)
      System.err.println(f"[perfbench] set-up: session $sessionS%.2f s, prepare " +
        f"${gen.mkString(" ")}, build $build%.2f s, warm-up $warm%.2f s")
      if (!o.trace) {
        w.measure()
        rep.metric("setup_s", setupS, "s")
        val v = w.endToEndValues
        EndToEndUnits.foreach { case (m, unit) => rep.metric(m, v(m), unit) }
      } else {
        // untraced, then traced: the second drain also gains from a JVM
        // that is still warming, so the overhead reads low rather than high
        w.measure()
        val plain = w.endToEndValues
        Trace.start(spark)
        w.measure()
        val traced = w.endToEndValues
        w.perLayer()
        Trace.stop(spark)
        rep.metric("bench.trace_overhead", plain("records_per_s") / traced("records_per_s") - 1.0,
          "ratio")
        rep.info("trace_overhead_by_metric") = traced.map { case (k, v) => k -> (v / plain(k) - 1.0) }
        Trace.start(spark, fresh = false)
        Kernels.measure(spark, o, rep)
        Trace.stop(spark)
        w.extraTraced()
        Trace.jvm(rep)
        Trace.write(s"${o.build}/traces/${o.workload}-s${o.seed}-${System.currentTimeMillis()}.json",
          rep)
      }
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        false
    }
    if (ok) {
      Files.write(Paths.get(o.result), rep.toJson.getBytes(StandardCharsets.UTF_8))
    }
    try SparkSession.active.stop() catch { case _: Throwable => () }
    // no thread left behind by the session may keep the JVM alive
    System.exit(if (ok) 0 else 1)
  }

  /** The end-to-end metrics besides `setup_s`, with their units. */
  val EndToEndUnits = Seq("records_per_s" -> "1/s", "batch_p50_ms" -> "ms",
    "batch_p90_ms" -> "ms")

  /** The library's own session settings at local[cores], with every file
    * Spark writes kept inside the run's directory. */
  def session(o: Opts, cores: Int): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${o.work}/checkpoints")
    spark
  }
}

object Stats {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Linear-interpolation quantile (type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: java.util.Map[_, _] => apply(m.asScala)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
