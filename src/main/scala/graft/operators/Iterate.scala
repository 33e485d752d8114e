package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The loop control every iterative graph and CC operator shares: the
  * round counter, the budget, the convergence exit, the budget policy
  * and the per-round record. An operator keeps only its round body, and
  * truncates lineage through its loop's [[Iterate.Loop.checkpoint]] or
  * [[Iterate.Loop.observe]], so the checkpoint mode is set once per loop.
  *
  * The convergence signal rides the checkpoint's own job: `observe`
  * attaches the signal aggregate with `Dataset.observe`, and the eager
  * checkpoint that materializes the round IS the job that computes it —
  * no separate count/sum/isEmpty action per round.
  *
  * Every round prints one `[iterate]` record line to stderr, and every
  * loop a final one (format in README "Verifying"):
  *
  *   [iterate] op=kCore round=3 signal=412 s=0.214
  *   [iterate] op=kCore rounds=4 converged=true */
private[graft] object Iterate {

  /** What a signal loop does when its budget runs out unconverged. */
  sealed trait OnBudget
  /** Return the state after exactly `budget` rounds: the budget is part
    * of the operator's contract (the k-core peels, k-hop BFS). */
  case object Return extends OnBudget
  /** Unconverged state is wrong output (CC labels). A state whose last
    * change landed in round `budget` is complete but not yet seen
    * unchanged, so ONE verification round runs past the budget; the
    * loop throws, ending the message with `hint`, only if that round
    * changes the state too. */
  final case class Throw(hint: String) extends OnBudget

  /** A checkpointed frame and the value its signal aggregate took on the
    * checkpoint's own job. */
  final case class Observed(df: DataFrame, signal: Any)

  /** A loop named `op` (the record's `op` field) whose checkpoints all
    * use one mode: executor-local blocks by default, reliable files
    * under `checkpointDir` when the resolution must survive executor
    * loss; `keepPartitioning` as in [[truncateLineage]]. */
  def apply(op: String, checkpointDir: Option[String] = None,
            keepPartitioning: Boolean = false): Loop =
    new Loop(op, checkpointDir, keepPartitioning)

  final class Loop private[Iterate] (op: String, checkpointDir: Option[String],
                                     keepPartitioning: Boolean) {

    /** Eager lineage truncation in this loop's mode. */
    def checkpoint(df: DataFrame): DataFrame =
      truncateLineage(df, checkpointDir, keepPartitioning)

    /** [[checkpoint]] `df` and read `signal` (an aggregate over `df`)
      * from the same job. */
    def observe(df: DataFrame, signal: Column): Observed = {
      val o = Observation()
      val ck = checkpoint(df.observe(o, signal.as("signal")))
      Observed(ck, o.get("signal"))
    }

    /** Exactly `rounds` rounds, no signal. `step` gets the state and the
      * 1-based round number. */
    def fixed[S](init: S, rounds: Int)(step: (S, Int) => S): S =
      run(init, rounds, Return, None, (_: S, _: S) => true, step)

    /** Rounds until one leaves `signal` unchanged (and `settled` holds
      * for the previous and new state), at most `budget` rounds plus the
      * [[Throw]] policy's verification round. */
    def fixpoint[S](init: S, budget: Int, onBudget: OnBudget)(
        signal: S => Any, settled: (S, S) => Boolean = (_: S, _: S) => true)(
        step: (S, Int) => S): S =
      run(init, budget, onBudget, Some(signal), settled, step)

    private def run[S](init: S, budget: Int, onBudget: OnBudget,
                       signal: Option[S => Any], settled: (S, S) => Boolean,
                       step: (S, Int) => S): S = {
      var state = init
      var round = 0
      var converged = false
      def next(verify: Boolean): Unit = {
        val t0 = System.nanoTime()
        val prev = state
        round += 1
        state = step(prev, round)
        val sig = signal.map(_(state))
        converged = signal.exists(f => sig.get == f(prev) && settled(prev, state))
        record(s"round=$round" + (if (verify) " verify=true" else "") +
          sig.fold("")(v => s" signal=$v") + f" s=${(System.nanoTime() - t0) / 1e9}%.3f")
      }
      while (!converged && round < budget) next(verify = false)
      onBudget match {
        case Throw(_) if !converged => next(verify = true)
        case _ =>
      }
      record(s"rounds=$round converged=$converged")
      onBudget match {
        case Throw(hint) if !converged => throw new IllegalStateException(
          s"$op did not converge within $budget rounds; $hint")
        case _ => state
      }
    }

    private def record(fields: String): Unit =
      System.err.println(s"[iterate] op=$op $fields")
  }

  /** The checkpoint dir installed per SparkContext. The requested dir is
    * installed once per (SparkContext, dir) — Spark resolves it to a
    * per-install UUID subdir, so re-installing every round would scatter
    * one resolution across directories. But "already has SOME checkpoint
    * dir" must not silently win over the caller's request (an app-level
    * `/tmp` dir would void the durability `checkpointDir` exists to
    * provide), so a different requested dir IS re-installed. Old rounds'
    * checkpoint files are released by the ContextCleaner as their RDDs
    * drop out of scope (GraftSession sets `spark.cleaner
    * .referenceTracking.cleanCheckpoints=true`); without that, a
    * 25-round resolution retains 25 corpus-scale copies. */
  private val installedCkptDirs =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, String]())

  /** Lineage truncation for iterative loops: executor-local blocks by
    * default (fast, but lost with the executor), reliable files under
    * `checkpointDir` when the caller needs the resolution to survive
    * executor loss on a real cluster.
    *
    * `keepPartitioning` additionally claims the executed plan's
    * physical layout on the re-wrapped frame (see
    * [[org.apache.spark.sql.graft.PlanBridge.freshStatsKeepPartitioning]]).
    * OPT-IN, because it is only a win for loops whose round plan
    * consumes the checkpoint under the SAME key it was produced on
    * (min-label CC: −1 exchange per round, A/B'd). Loops that
    * reference the checkpoint under several keys (star contraction,
    * the k-core peel) got SLOWER with it: their per-round exchange
    * doubled as the reuse point for the repeated subtree, and
    * removing one reference's exchange un-deduplicates the rest
    * (measured +22 jobs/+73 tasks on qdedup_clusters_star,
    * +15 jobs on qgraph_coreness). */
  private def truncateLineage(df: DataFrame, checkpointDir: Option[String],
                              keepPartitioning: Boolean): DataFrame = {
    val ck = checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (installedCkptDirs.get(sc) != dir) {
          sc.setCheckpointDir(dir)
          installedCkptDirs.put(sc, dir)
        }
        df.checkpoint() // eager + durable: replayable after executor loss
      case None => df.localCheckpoint()
    }
    // Reset the size estimate, not just the lineage. `Dataset.checkpoint`
    // copies the SOURCE plan's `sizeInBytes` onto the checkpointed
    // LogicalRDD (rewriteStatsAndConstraints), and Catalyst's
    // size-only visitor estimates a join as the PRODUCT of its
    // children's sizes — so a loop that joins the checkpointed frame
    // twice per round (CC, k-core, PageRank, …) SQUARES the carried
    // estimate every round. The bit length doubles per round: by
    // round ~30 the estimate is a multi-hundred-megabit BigInteger
    // and the next checkpoint's stats rewrite spends minutes inside
    // BigInteger.multiply — observed as a driver-side hang of
    // qgraph_coreness (4 phases × 8 rounds). The re-wrap drops the
    // inherited estimate (fresh LogicalRDD, default size), which is
    // also the honest value: post-filter loop frames shrink in ways
    // the carried product never tracked. Costs one InternalRow↔Row
    // pass per downstream read of skinny (id, …) rows; plans keep
    // their shuffle-join shape (the carried estimates were far above
    // the broadcast threshold anyway). Values are unchanged — same
    // RDD, same rows — in both re-wrap forms.
    if (keepPartitioning)
      org.apache.spark.sql.graft.PlanBridge.freshStatsKeepPartitioning(df, ck)
    else
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }
}
