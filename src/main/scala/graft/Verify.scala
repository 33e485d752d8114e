package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after round 9, where a single driver-side planner hang
  * (qgraph_coreness's compounding checkpoint stats) zeroed the WHOLE
  * round's correctness record: the run died before `oracle_sql.json`
  * was written, so the driver had nothing to compare even for the 85
  * queries whose parquet was already on disk. Two defenses:
  *   1. `oracle_sql.json` is written FIRST — it depends only on the
  *      static registry, never on query execution.
  *   2. Each query runs under a watchdog deadline. A JVM thread stuck
  *      inside the planner can't be killed safely, so on timeout the
  *      runner logs the failure, abandons the (daemon) worker, and
  *      moves on — one pathological query costs its deadline, not the
  *      round. `System.exit` at the end reaps any abandoned worker.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q1,q2 narrows to named queries for local oracle
    // iteration; the driver leaves it unset. An unknown name fails the
    // run before anything executes — dropping it would let the oracle
    // compare pass on fewer queries than were asked for.
    val only = SparkEntry.onlyQueries(sys.env.get("SPARK_GRAFT_ONLY")).map {
      case (known, unknown) =>
        if (unknown.nonEmpty) {
          System.err.println(s"[verify] unknown SPARK_GRAFT_ONLY queries: ${unknown.mkString(", ")}")
          System.exit(2)
        }
        known.toSet
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val deadlineSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_DEADLINE", "180").toInt
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    var abandoned = 0
    selected.foreach { case (name, fn) =>
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val worker = new Thread(() => {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable => err.set(e) }
      }, s"verify-$name")
      worker.setDaemon(true)
      worker.start()
      worker.join(deadlineSec * 1000L)
      if (worker.isAlive) {
        abandoned += 1
        System.err.println(s"[verify] $name TIMED OUT after $deadlineSec s — abandoning")
        // best effort: cancel any running jobs so the abandoned thread
        // stops consuming executor slots (a planner-side hang ignores
        // this, but then it only burns one driver core)
        spark.sparkContext.cancelAllJobs()
      } else Option(err.get).foreach(e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      // drop any intermediate frame a query persisted (e.g. the ngram
      // shingle cache) so the registry's sequential queries don't
      // accumulate storage across the run
      spark.catalog.clearCache()
    }
    spark.stop()
    // abandoned watchdog workers may be stuck in non-interruptible
    // driver code; don't let them block JVM exit. Exit 0 even with
    // abandonments: the per-query parquet dumps that DID land are the
    // product, and the missing ones read as failures downstream.
    if (abandoned > 0)
      System.err.println(s"[verify] $abandoned quer${if (abandoned == 1) "y" else "ies"} abandoned on deadline")
    System.exit(0)
  }
}
