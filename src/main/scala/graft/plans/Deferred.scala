package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types.StructType

/** A kernel that runs when the frame runs: the node holds the kernel's
  * input plan (`child`), its declared output and the kernel. Building
  * a frame over an iterative loop then runs no job, the scans of the
  * loop's input sit in the returned plan (where [[ScanCensus]] counts
  * them), and each planned execution runs the kernel again — the way
  * Spark's range partitioner samples at execution. The optimizer sees
  * an opaque node: it references every child column, so no pruning
  * reaches below it, and nothing pushes through it.
  */
final case class Deferred(
    child: LogicalPlan,
    output: Seq[Attribute],
    kernel: DataFrame => DataFrame) extends UnaryNode {
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): Deferred =
    copy(child = newChild)
}

/** Runs the kernel over the child's executed rows, wrapped as a frame
  * that reports the child's logical statistics, so the kernel never
  * re-plans the child. No kernel gate reads those statistics (both
  * graph kernels dispatch on an exact count observed while they
  * materialize their input, see [[graft.operators.TightLoop.materialize]]),
  * but plans the kernel builds over the rows are costed from them, so
  * they still steer the kernel's own join planning. The kernel's rows
  * are returned positionally under the declared output.
  */
final case class DeferredExec(
    child: SparkPlan,
    output: Seq[Attribute],
    kernel: DataFrame => DataFrame,
    childStats: Statistics) extends UnaryExecNode {
  override def references: AttributeSet = child.outputSet
  override def stringArgs: Iterator[Any] = Iterator(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val out = kernel(SparkBridge.ofRDD(session, child.output, child.execute(), childStats))
    val (got, want) = (out.schema.map(_.dataType), output.map(_.dataType))
    require(got == want, s"Deferred: kernel emitted ${got.map(_.simpleString).mkString(", ")}; " +
      s"declared ${want.map(_.simpleString).mkString(", ")}")
    SparkBridge.toRdd(out)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DeferredExec =
    copy(child = newChild)
}

object Deferred {

  private object Planning extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case d: Deferred => DeferredExec(planLater(d.child), d.output, d.kernel, d.child.stats) :: Nil
      case _ => Nil
    }
  }

  /** Installs the planning strategy on `spark` once; a cloned session
    * copies its parent's strategies.
    */
  def setup(spark: SparkSession): Unit = {
    val methods = spark.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(Planning))
        methods.extraStrategies = Planning +: methods.extraStrategies
    }
  }

  /** A frame whose rows are `kernel(input)`, computed when the frame
    * executes; `schema` is the kernel's output, its types checked then.
    */
  def frame(input: DataFrame, schema: StructType)(kernel: DataFrame => DataFrame): DataFrame = {
    setup(input.sparkSession)
    SparkBridge.ofPlan(input.sparkSession,
      Deferred(SparkBridge.logicalPlan(input), DataTypeUtils.toAttributes(schema), kernel))
  }
}
