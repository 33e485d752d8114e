package graft.sinks

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.UUID
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Pluggable delivery target (SURVEY.md §2.A6-A8) — the seam where the
  * reference talks to Firehose (PutRecordBatch,
  * /root/reference/sender/firehose_sender.go:76-88).
  *
  * `deliver` returns the indices of records that failed and should be
  * retried (Firehose partial-failure semantics); throwing means the
  * whole call failed (the reference's CatastrophicSendBatchError) and
  * surfaces to Spark's task retry.
  */
trait Delivery extends Serializable {
  def deliver(stream: String, records: Seq[Array[Byte]]): Seq[Int]
}

/** Local-filesystem delivery: appends records as NDJSON part files, one
  * per (partition, chunk) — the zero-egress stand-in for a Firehose
  * stream. On a cluster the dir is shared storage. */
class FileDelivery(dir: String) extends Delivery {
  override def deliver(stream: String, records: Seq[Array[Byte]]): Seq[Int] = {
    val d = Paths.get(dir, stream)
    Files.createDirectories(d)
    val f = d.resolve(s"part-${UUID.randomUUID()}.ndjson")
    val out = Files.newOutputStream(f, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    try records.foreach { r => out.write(r); out.write('\n') }
    finally out.close()
    Nil
  }
}

/** Delivery semantics mirroring the reference's batch consumer config
  * (main.go:47-53) and retry loop (firehose_sender.go:91-130).
  * `batchIntervalMs` is the reference's 10 s BatchInterval (main.go:48):
  * a partial chunk never stays open longer than this. */
final case class SinkConfig(
    batchCount: Int = 500,
    batchBytes: Long = 4L * 1024 * 1024,
    batchIntervalMs: Long = 10000,
    maxRetries: Int = 5,
    baseBackoffMs: Long = 250,
    dlqDir: Option[String] = None)

/** Micro-batch NDJSON sink: chunks records per partition by count/size,
  * delivers with subset-retry + exponential backoff, dead-letters
  * exhausted records (SURVEY.md §2.A6-A8).
  *
  * All work happens inside per-partition tasks on executors — the driver
  * never sees a record, so the sink scales with the number of
  * partitions, not the number of rows.
  */
class NdjsonBatchSink(delivery: Delivery, conf: SinkConfig = SinkConfig())
    extends Serializable {

  /** The ONE flush-before-append predicate every path shares: flush when
    * the buffer is full by count, would overflow by bytes with the next
    * record, or has been open past the batch interval (the reference's
    * 10 s BatchInterval, main.go:48). `batchIntervalMs <= 0` disables
    * the interval bound (it must not degrade to flush-every-record). */
  private[graft] def shouldFlush(n: Int, bytes: Long, nextLen: Int,
                                 openedAtMs: Long, nowMs: Long): Boolean =
    n > 0 && (n >= conf.batchCount || bytes + nextLen > conf.batchBytes ||
      (conf.batchIntervalMs > 0 && nowMs - openedAtMs >= conf.batchIntervalMs))

  /** foreachBatch entry point: expects columns (stream STRING, json
    * STRING); rows are framed as `json`+'\n' per record downstream. */
  def process(df: DataFrame, batchId: Long): Unit =
    process(df.select("stream", "json").queryExecution.toRdd)

  /** The same over rows already shaped (stream STRING, json STRING),
    * e.g. a micro-batch's `toRdd` behind the forwarder's
    * [[org.apache.spark.sql.graft.RowPipeline]] node. One `runJob` over
    * every partition: its function is closure-cleaned once per batch
    * (`foreachPartition` cleans it again in each nested `runJob`). */
  private[graft] def process(rows: RDD[InternalRow]): Unit =
    rows.sparkContext.runJob(rows, (_: TaskContext, it: Iterator[InternalRow]) =>
      processRows(it.map(r => (if (r.isNullAt(0)) null else r.getString(0),
        r.getUTF8String(1).getBytes)), () => System.currentTimeMillis()),
      rows.partitions.indices, (_: Int, _: Unit) => ())

  /** The per-partition production loop (specs drive this directly with a
    * fake clock): the iterator is consumed incrementally into per-stream
    * buffers, flushed via [[shouldFlush]] the moment a bound is hit — so
    * executor memory holds at most one in-flight chunk per stream, never
    * the whole partition, and a slow source can't hold a partial chunk
    * open past the interval. Interval enforcement is at record-arrival
    * granularity (a pull-based iterator can't flush while blocked in
    * `next()`); the end of every micro-batch always flushes, so at most
    * one interval of latency is ever added on top of the trigger's. */
  private[graft] def processRows(rows: Iterator[(String, Array[Byte])],
                                 nowMs: () => Long): Unit = {
    final class Buf {
      val recs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var bytes = 0L
      var openedAt = 0L
    }
    val bufs = scala.collection.mutable.HashMap.empty[String, Buf]
    rows.foreach { case (stream, rec) =>
      val now = nowMs()
      val b = bufs.getOrElseUpdate(stream, new Buf)
      if (shouldFlush(b.recs.length, b.bytes, rec.length, b.openedAt, now)) {
        sendWithRetry(stream, b.recs.toSeq)
        b.recs.clear(); b.bytes = 0L
      }
      if (b.recs.isEmpty) b.openedAt = now
      b.recs += rec; b.bytes += rec.length
      // sweep the OTHER streams' buffers too: a busy stream must not let
      // a quiet stream's partial chunk age past the interval
      if (conf.batchIntervalMs > 0) bufs.foreach { case (s2, b2) =>
        if (s2 != stream && b2.recs.nonEmpty && now - b2.openedAt >= conf.batchIntervalMs) {
          sendWithRetry(s2, b2.recs.toSeq)
          b2.recs.clear(); b2.bytes = 0L
        }
      }
    }
    bufs.foreach { case (stream, b) =>
      if (b.recs.nonEmpty) sendWithRetry(stream, b.recs.toSeq)
    }
  }

  /** Retry only the failed subset, with 250ms·2ⁿ backoff, then DLQ —
    * the reference's loop at firehose_sender.go:97-127. */
  private[graft] def sendWithRetry(stream: String, records: Seq[Array[Byte]]): Unit = {
    if (records.isEmpty) return // never issue empty delivery calls
    var pending = records
    var retries = 0
    var delay = conf.baseBackoffMs
    var failedIdx = delivery.deliver(stream, pending)
    while (failedIdx.nonEmpty && retries < conf.maxRetries) {
      Thread.sleep(delay)
      pending = failedIdx.map(pending)
      failedIdx = delivery.deliver(stream, pending)
      retries += 1
      delay *= 2
    }
    if (failedIdx.nonEmpty) deadLetter(stream, failedIdx.map(pending))
  }

  /** Exhausted-retry records → failed-logs file (main.go:51). */
  private def deadLetter(stream: String, records: Seq[Array[Byte]]): Unit =
    conf.dlqDir match {
      case Some(d) =>
        val dir = Paths.get(d)
        Files.createDirectories(dir)
        val f = dir.resolve(s"failed-$stream-${UUID.randomUUID()}.ndjson")
        val out = Files.newOutputStream(f, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        try records.foreach { r => out.write(r); out.write('\n') }
        finally out.close()
      case None =>
        throw new IllegalStateException(
          s"${records.size} records exhausted $maxRetriesLabel and no DLQ configured for stream $stream")
    }

  private def maxRetriesLabel = s"${conf.maxRetries} retries"
}
