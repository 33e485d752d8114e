package org.apache.spark.sql.graft

import java.nio.ByteBuffer
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import org.apache.spark.SparkEnv
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BasePredicate, BindReferences, Expression, PlanExpression, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.StructType

/** A row-local DataFrame pipeline (Project and Filter only) planned and
  * optimized ONCE, then run over any frame of its input schema.
  *
  * A streaming query re-plans its whole plan on every micro-batch. For
  * stages that work row by row (parse, route, serialize, scrub, screen)
  * every one of those plans is the same: [[RowPipeline.plan]] applies
  * the stages to a placeholder frame of the input schema, runs the
  * analyzer and optimizer once, and binds the resulting Project/Filter
  * chain to ordinals. [[over]] puts the bound chain into a plan as one
  * opaque [[RowPipelineNode]], so a micro-batch plan holds the node and
  * never the stages' expressions. Each executor thread compiles its own
  * copy once per pipeline (see [[RowPipeline.compiled]]) and reuses it
  * for every later task.
  *
  * What is fixed at `plan` time: the session settings the expressions
  * read at analysis (time zone, ANSI mode) and anything the optimizer
  * folds to a literal (`current_timestamp()`). The bound chain travels
  * in one broadcast; [[release]] destroys it and is idempotent. */
final class RowPipeline private (chain: Broadcast[Array[Byte]], id: Long,
                                 inputSchema: StructType, outputSchema: StructType)
    extends Serializable {

  private val released = new AtomicBoolean(false)

  /** `df` (a frame of the planned input schema, streaming or not)
    * through the pipeline: one [[RowPipelineNode]] over `df`'s plan,
    * with fresh output attributes of the planned output schema. The
    * node adds no job; it runs as one `mapPartitionsWithIndexInternal`
    * over its child's rows ([[RowPipelineExec]]). Needs
    * [[RowPipelineStrategy]] in the session's planner
    * (`graft.GraftExtensions`). */
  def over(df: DataFrame): DataFrame = {
    require(df.schema == inputSchema,
      s"row pipeline: expected ${inputSchema.simpleString}, got ${df.schema.simpleString}")
    ClassicDataset.ofRows(df.sparkSession.asInstanceOf[ClassicSparkSession],
      RowPipelineNode(this, DataTypeUtils.toAttributes(outputSchema), df.queryExecution.analyzed))
  }

  /** The pipeline over `rows`, no closure cleaned. Each partition
    * initializes the thread's compiled chain with its index, so
    * non-deterministic expressions see the partition they run in. */
  private[graft] def execute(rows: RDD[InternalRow]): RDD[InternalRow] = {
    val bc = chain
    val key = id
    rows.mapPartitionsWithIndexInternal((i, it) => RowPipeline.compiled(key, bc).open(i, it))
  }

  /** Destroy the plan broadcast (idempotent). */
  def release(): Unit = if (released.compareAndSet(false, true)) {
    chain.destroy()
    RowPipeline.planned.decrementAndGet(): Unit
  }

  override def toString: String = s"RowPipeline#$id"
}

/** A [[RowPipeline]] over `child`. Opaque to the optimizer: it refers to
  * every child column and produces its own output, so no filter is
  * pushed below it and no column is pruned under it. */
final case class RowPipelineNode(pipeline: RowPipeline, output: Seq[Attribute],
                                 child: LogicalPlan) extends UnaryNode {
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(c: LogicalPlan): RowPipelineNode = copy(child = c)
}

/** [[RowPipelineNode]] planned: the pipeline over its child's rows. */
final case class RowPipelineExec(pipeline: RowPipeline, output: Seq[Attribute],
                                 child: SparkPlan) extends UnaryExecNode {
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def doExecute(): RDD[InternalRow] = pipeline.execute(child.execute())
  override protected def withNewChildInternal(c: SparkPlan): RowPipelineExec = copy(child = c)
}

object RowPipelineStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RowPipelineNode(p, out, child) => RowPipelineExec(p, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

object RowPipeline {

  /** The input stand-in of the planned stages: a leaf of the input
    * schema that no optimizer rule can see through (an empty
    * LocalRelation would fold the whole chain away). */
  private final case class Placeholder(output: Seq[Attribute]) extends LeafNode {
    override def computeStats(): Statistics = Statistics(sizeInBytes = conf.defaultSizeInBytes)
  }

  private sealed trait Step extends Serializable
  private final case class Keep(condition: Expression) extends Step
  private final case class Emit(exprs: Seq[Expression]) extends Step

  private val ids = new AtomicLong(0)
  private val planned = new AtomicInteger(0)

  /** Pipelines planned and not yet released, for leak checks. */
  def live: Int = planned.get

  /** Plan `stages` once over rows of `inputSchema` and broadcast the
    * bound chain. Throws IllegalArgumentException, naming the node, when
    * the optimized plan holds anything but Project and Filter over the
    * input, or a subquery expression: such a stage is not row-local. */
  def plan(spark: SparkSession, inputSchema: StructType,
           stages: DataFrame => DataFrame): RowPipeline = {
    val leaf = Placeholder(DataTypeUtils.toAttributes(inputSchema))
    val input = ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], leaf)
    val optimized = stages(input).queryExecution.optimizedPlan
    val steps = bind(optimized).toArray
    val bytes = JavaUtils.bufferToArray(SparkEnv.get.closureSerializer.newInstance().serialize(steps))
    val p = new RowPipeline(spark.sparkContext.broadcast(bytes), ids.incrementAndGet(),
      inputSchema, optimized.schema)
    planned.incrementAndGet()
    p
  }

  private def bind(p: LogicalPlan): List[Step] = {
    def rowLocal(e: Expression): Expression = {
      e.find(_.isInstanceOf[PlanExpression[_]]).foreach { s =>
        throw new IllegalArgumentException(
          s"row pipeline: ${s.nodeName} is not row-local: ${s.simpleString(200)}")
      }
      e
    }
    p match {
      case _: Placeholder => Nil
      case Filter(cond, child) =>
        bind(child) :+ Keep(BindReferences.bindReference(rowLocal(cond), child.output))
      case Project(list, child) =>
        bind(child) :+ Emit(BindReferences.bindReferences(list.map(rowLocal), child.output))
      case other =>
        throw new IllegalArgumentException(
          s"row pipeline: ${other.nodeName} is not row-local:\n${other.treeString}")
    }
  }

  /** One thread's compiled chain. Expressions keep evaluation state per
    * instance, so a chain must never run on two threads at once. */
  private final class Compiled(steps: Array[Step]) {
    private val evals: Array[Either[BasePredicate, UnsafeProjection]] = steps.map {
      case Keep(c) => Left(Predicate.create(c))
      case Emit(es) => Right(UnsafeProjection.create(es))
    }

    def open(partition: Int, rows: Iterator[InternalRow]): Iterator[InternalRow] = {
      evals.foreach(_.fold(_.initialize(partition), _.initialize(partition)))
      evals.foldLeft(rows)((it, e) => e.fold(p => it.filter(p.eval), proj => it.map(proj)))
    }
  }

  /** Compiled chains of this thread, by pipeline id. A thread runs one
    * task at a time, so its chain is never shared. Bounded at 8 (a
    * `dedupWithin` forwarder holds two pipelines): the oldest pipelines
    * (ended queries) drop out. */
  private val perThread = ThreadLocal.withInitial[java.util.LinkedHashMap[Long, Compiled]](() =>
    new java.util.LinkedHashMap[Long, Compiled](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Compiled]): Boolean = size() > 8
    })

  /** The thread's chain of pipeline `id`, compiled on first use from
    * its own deserialized copy of the broadcast bytes. */
  private def compiled(id: Long, chain: Broadcast[Array[Byte]]): Compiled = {
    val cache = perThread.get()
    var c = cache.get(id)
    if (c == null) {
      val steps = SparkEnv.get.closureSerializer.newInstance().deserialize[Array[Step]](
        ByteBuffer.wrap(chain.value), Thread.currentThread().getContextClassLoader)
      c = new Compiled(steps)
      cache.put(id, c)
    }
    c
  }
}
