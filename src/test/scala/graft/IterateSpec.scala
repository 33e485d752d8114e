package graft

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Iterate

object IterateSpec {
  /** Run `f`, returning its value and the `[iterate]` record lines it
    * printed to stderr. */
  def recorded[T](f: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    val out = try {
      System.setErr(new java.io.PrintStream(buf, true))
      f
    } finally System.setErr(realErr)
    (out, buf.toString.linesIterator.filter(_.startsWith("[iterate] ")).toSeq)
  }
}

class IterateSpec extends AnyFunSuite {
  import SparkTest._
  import IterateSpec.recorded

  /** A loop over the states 0, 1, 2, … where state i carries signal
    * `sigs(i)` (no signal when `onBudget` is None: a fixed loop). Returns
    * the final state or the exception message, the rounds and
    * convergence the record reports, and the round numbers the step was
    * handed. */
  private def walk(sigs: Seq[Int], budget: Int,
                   onBudget: Option[Iterate.OnBudget]): String = {
    val seen = Seq.newBuilder[Int]
    val step = (i: Int, round: Int) => { seen += round; i + 1 }
    val loop = Iterate("walk")
    val (out, log) = recorded(Try(onBudget match {
      case None => loop.fixed(0, budget)(step)
      case Some(p) => loop.fixpoint(0, budget, p)(sigs(_))(step)
    }))
    val result = out.fold(_.getMessage, i => s"state $i")
    s"$result; ${log.count(_.contains(" round="))} round lines, " +
      s"${log.count(_.contains(" verify=true"))} verify; ${log.last.stripPrefix("[iterate] op=walk ")}; " +
      s"step saw ${seen.result().mkString(",")}"
  }

  private def observed(checkpointDir: Option[String], keepPartitioning: Boolean,
                       df: DataFrame, signal: org.apache.spark.sql.Column): Any =
    Iterate("observe", checkpointDir, keepPartitioning).observe(df, signal).signal

  private lazy val frame = spark.range(0, 1000, 1, 4).toDF("id")
    .withColumn("v", col("id") % 7).groupBy(col("v")).agg(sum(col("id")).as("s"))
  private lazy val ckptDir =
    java.nio.file.Files.createTempDirectory("graft-iterate-ckpt").toString

  /** (case, got, want). */
  private val cases: Seq[(String, () => Any, () => Any)] = Seq(
    ("a fixed-budget loop runs exactly budget rounds",
      () => walk(Nil, 4, None),
      () => "state 4; 4 round lines, 0 verify; rounds=4 converged=false; step saw 1,2,3,4"),
    ("a signal loop exits at the first unchanged round",
      () => walk(Seq(9, 7, 4, 4, 4, 4), 5, Some(Iterate.Return)),
      () => "state 3; 3 round lines, 0 verify; rounds=3 converged=true; step saw 1,2,3"),
    ("the throw policy returns when its verification round is unchanged",
      () => walk(Seq(9, 8, 7, 6, 6), 3, Some(Iterate.Throw("hint"))),
      () => "state 4; 4 round lines, 1 verify; rounds=4 converged=true; step saw 1,2,3,4"),
    ("the throw policy throws only after the verification round also changes",
      () => walk(Seq(9, 8, 7, 6, 5), 3, Some(Iterate.Throw("hint"))),
      () => "walk did not converge within 3 rounds; hint; 4 round lines, 1 verify; " +
        "rounds=4 converged=false; step saw 1,2,3,4"),
    ("the return policy returns the state after exactly budget rounds",
      () => walk(Seq(9, 8, 7, 6, 5), 3, Some(Iterate.Return)),
      () => "state 3; 3 round lines, 0 verify; rounds=3 converged=false; step saw 1,2,3"),
    ("the observed count equals count() of the checkpointed frame",
      () => observed(None, false, frame, count(lit(1))),
      () => frame.count()),
    ("the observed sum equals an explicit sum of the checkpointed frame",
      () => observed(None, false, frame, sum(col("s"))),
      () => frame.agg(sum(col("s"))).first().getLong(0)),
    ("the observed count survives the keep-partitioning re-wrap",
      () => observed(None, true, frame.repartition(3, col("v")), count(lit(1))),
      () => frame.count()),
    ("the observed sum is exact under a reliable checkpoint",
      () => observed(Some(ckptDir), false, frame, sum(col("s"))),
      () => frame.agg(sum(col("s"))).first().getLong(0)),
    ("the observed count of an empty frame is 0",
      () => observed(None, false, frame.filter(lit(false)), count(lit(1))),
      () => 0L))

  for ((name, got, want) <- cases) test(name) { assert(got() == want()) }
}
