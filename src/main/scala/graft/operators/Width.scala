package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
  ShuffleExchangeExec}
import org.apache.spark.sql.graftbridge.Bridge

/** The one pre-sweep width gate (guide §2 map-side parallelism; the
  * r16-verdict prescription): a pass whose CPU is a per-row sweep — the
  * flat-kNN tile scan (`graft.plans.KnnPartialExec`), or the corpus text
  * passes that multiply rows ~tokens-per-doc × in an explode — has its
  * parallelism bounded by the INPUT's partition count, so a
  * single-row-group corpus (or its cached memo) runs on 1-3 of the
  * session's cores. Spread the input over the session's parallelism
  * BEFORE the sweep only when it is narrower: the shuffle moves input
  * bytes once, and at real scale the scan already carries ≥ parallelism
  * splits so no shuffle is added. The gate reads the RDD the job
  * actually runs, at execution — never a second planning or run of the
  * input (the `Dataset.rdd` probe this replaces did both). Uncached and
  * operator-local — no cross-query cached state (the r16 regression
  * mechanism). Callers must be partition-count invariant: key
  * aggregations, order-pinned folds or exact id-tiebroken merges only. */
private[graft] object Width {

  /** `rows`, the RDD a job runs, has fewer partitions than the session's
    * parallelism. */
  def narrow(rows: RDD[_]): Boolean =
    rows.getNumPartitions < rows.sparkContext.defaultParallelism

  /** `plan`'s rows through a shuffle to `by(parallelism)`: an exchange
    * inside the caller's job, not a job of its own. */
  def spread(plan: SparkPlan, by: Int => Partitioning): RDD[InternalRow] =
    ShuffleExchangeExec(by(plan.session.sparkContext.defaultParallelism),
      plan, REPARTITION_BY_NUM).execute()

  /** `df` round-robin spread when the RDD it runs as is [[narrow]]
    * (`graft.plans.Widen`): decided at execution, once. */
  def widen(df: DataFrame): DataFrame = {
    graft.plans.KnnJoinApi.installStrategy(df.sparkSession)
    Bridge.ofRows(df.sparkSession, graft.plans.Widen(Bridge.logicalPlan(df)))
  }
}
