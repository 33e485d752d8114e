package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.{BloomMightContain, BpeSegment, CdcChunks, Fnv1a64, HammingDistance, Mix64, NfcNormalize, SortedIntersectCount, SyslogParse, VecDot, WinnowSelect}

/** Session extension installing graft's custom Catalyst functions
  * (register with `SparkSession.builder().withExtensions(new
  * GraftExtensions)` — GraftSession does this by default).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(e.injectFunction)
    GraftExtensions.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {
  private val descriptors = Seq(
    Fnv1a64.descriptor, VecDot.descriptor, SortedIntersectCount.descriptor,
    SyslogParse.descriptor, NfcNormalize.descriptor, BloomMightContain.descriptor,
    BpeSegment.descriptor, WinnowSelect.descriptor, CdcChunks.descriptor,
    Mix64.descriptor, HammingDistance.descriptor)

  private val strategies =
    Seq(graft.plans.AsOfJoinStrategy, org.apache.spark.sql.graft.RowPipelineStrategy)

  /** Idempotent runtime registration for sessions that already existed
    * before graft was on the classpath (`withExtensions` only applies at
    * session construction — a `getOrCreate` that finds a live session
    * silently skips it). Synchronized: the check-then-append on
    * `extraStrategies` is not atomic, and two threads registering
    * concurrently would otherwise grow the strategy list without bound
    * (functionRegistry is internally synchronized; the strategy list is
    * a plain var). */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    descriptors.foreach { case (ident, info, builder) =>
      if (!reg.functionExists(ident)) reg.registerFunction(ident, info, builder)
    }
    val missing = strategies.filterNot(spark.experimental.extraStrategies.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ missing
  }
}
