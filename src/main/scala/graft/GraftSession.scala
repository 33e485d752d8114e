package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory (SURVEY.md §D1).
  *
  * Defaults are sized for the local[32] test harness but nothing here
  * bakes in a cluster assumption: shuffle partitions are a config, AQE
  * re-plans at runtime (partition coalescing + skew-join splitting), and
  * broadcast thresholds let Catalyst pick broadcast joins for dim tables.
  *
  * Streaming checkpoints go through
  * [[org.apache.spark.sql.graft.GraftCheckpointFileManager]]
  * (`spark.sql.streaming.checkpointFileManagerClass`). Each micro-batch
  * writes three small metadata files (source log, offset WAL, commit
  * log), plus state-store deltas under `dedupWithin`. On a host without
  * `libhadoop`, Spark's default manager starts a `readlink` process per
  * path its rename resolves and a `chmod` process per file it creates,
  * which cost about 109 ms of a 275 ms forwarder micro-batch. On
  * `file:` paths the graft manager writes through java.nio instead;
  * other schemes keep Spark's default.
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // reliable checkpoints (Curation's durable-checkpoint mode) are
      // deleted as their RDDs drop out of scope — without this a
      // 25-round CC resolution retains 25 corpus-scale checkpoint
      // copies on durable storage until job exit
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // managed-table home for Layout.writeBucketed; a real deployment
      // points this at shared storage
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // java.nio checkpoint writes on file: paths (see the scaladoc)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[org.apache.spark.sql.graft.GraftCheckpointFileManager].getName)

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
