package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.IntegerType
import graft.expressions.{Native, NativeBinary}

/** Catalyst optimizer rule: algebraic identities of graft's native
  * expressions. Catalyst can't know `graft_hamming64(x, x) = 0` — the
  * expression is opaque to it — so self-comparisons survive into the
  * physical plan and burn a kernel call per row. They occur in
  * practice whenever a self-join's two sides collapse to the same
  * attribute (e.g. dedup pipelines joining a table to itself).
  *
  * Only the identity that holds for EVERY input is folded: hamming
  * self-distance (popcount(x^x) = 0 for all x, null in → null out).
  * `cosine(x, x)` is deliberately NOT folded to 1.0 — it is 0.0 for
  * zero-norm and empty vectors, so the fold would change results.
  *
  * This is the graft analogue of the reference's expression-level
  * simplification passes (reference: R/optimizer.R) — except here it
  * plugs into Spark's own optimizer via `SparkSessionExtensions`, so
  * it composes with every built-in rule.
  */
object SimplifyGraftExpressions extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case NativeBinary(Native.hamming64, a, b, _) if a.deterministic && a.semanticEquals(b) =>
        if (a.nullable) If(IsNull(a), Literal(null, IntegerType), Literal(0, IntegerType))
        else Literal(0, IntegerType)
    }
}

/** Query-stage preparation rule: a global sort whose input AQE would
  * coalesce into one partition anyway sorts in one task. Spark plans a
  * global sort as `Sort` over `Exchange rangepartitioning`, and that
  * exchange first runs a sampling job over its whole input to compute
  * the range bounds, so the input (scan, kernels, broadcast joins) is
  * computed twice. Under `Exchange SinglePartition` the map side stays
  * parallel, the sampling job and the second computation go, and the
  * rows and their order are the same.
  *
  * The rule applies when AQE coalescing is on and Spark's size
  * estimate of the sort's input is at most the size under which
  * coalescing yields one partition: `coalescePartitions.minPartitionSize`
  * under `parallelismFirst`, else `advisoryPartitionSizeInBytes`. The
  * estimate is the logical sort's statistics, which hold AQE's runtime
  * statistics once earlier stages finish, so a sort over a shuffled
  * aggregate switches when AQE re-plans. A large or unknown estimate,
  * a `repartitionByRange` exchange and a non-global sort keep range
  * partitioning. An estimate that is too low (a `Generate`'s fan-out,
  * for one) sends a large input to one task: slower, never wrong.
  */
object SmallSortInOneTask extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!plan.conf.coalesceShufflePartitionsEnabled) plan
    else {
      val limit = oneTaskLimit(plan.conf)
      plan.transformUp {
        case s @ SortExec(_, true, e @ ShuffleExchangeExec(_: RangePartitioning, _, ENSURE_REQUIREMENTS, _), _)
            if s.logicalLink.exists(_.stats.sizeInBytes <= limit) =>
          s.withNewChildren(Seq(e.copy(outputPartitioning = SinglePartition)))
      }
    }

  /** The total shuffle size up to which AQE's coalescing yields one
    * partition. */
  private def oneTaskLimit(conf: SQLConf): Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
}

/** Session extension entry point:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SimplifyGraftExpressions)
    e.injectPlannerStrategy(_ => AsofJoinStrategy)
    e.injectQueryStagePrepRule(_ => SmallSortInOneTask)
  }
}

object GraftExtensions {
  /** Idempotently register graft's planner strategies on an
    * externally built session (extensions can't be injected after
    * creation, but `experimental.extraStrategies` can). */
  def ensureStrategies(spark: org.apache.spark.sql.SparkSession): Unit = {
    val exp = org.apache.spark.sql.graftbridge.Bridge.experimental(spark)
    if (!exp.extraStrategies.contains(AsofJoinStrategy))
      exp.extraStrategies ++= Seq(AsofJoinStrategy)
  }

}
