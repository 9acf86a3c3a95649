package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, GenericInternalRow, NamedExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{BinaryExecNode, ColumnarToRowExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import graft.core.Metric
import graft.operators.{FlatKnn, KnnPartials, PerKeyTopK, Width}

/** The flat kNN join (SURVEY §2 J1) as Catalyst plan machinery: custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan`, registered through
  * `SparkSessionExtensions`. [[KnnPartial]] declares "for every query, the
  * k best data rows, ranked"; [[KnnPartialStrategy]] plans it into
  * [[KnnPartialExec]]. Both flat paths run this one operator:
  * `FlatKnn.search` builds the node directly and the [[KnnRewriteRule]]
  * puts it in place of the SQL window-rank pattern.
  *
  * The exec sweeps each data partition through `FlatKnn.TileScan` (the
  * reference's per-tile inserts into per-query heaps,
  * include/svs/index/flat/flat.h:321-464) as the tasks of ONE Spark job,
  * and folds each task's per-query partials into one [[PerKeyTopK]] on
  * the driver as the tasks finish — the reference's final small merge,
  * with no exchange and no window (REPOSE-style local partials plus one
  * driver merge, PAPERS.md). Results, distances included, match
  * `FlatKnn.searchViaWindow` bit for bit (KnnPlanSpec, TopKSpec).
  */
case class KnnPartial(queries: LogicalPlan, data: LogicalPlan, k: Int,
                      metric: Metric,
                      output: Seq[Attribute] = KnnPartial.freshOutput(),
                      unsigned: Boolean = false, bf16: Boolean = false,
                      depth: Int = 0, widen: Option[Boolean] = None)
    extends BinaryNode {
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = data

  // output is a constructor param so exprIds survive tree copies — a fresh
  // `val` here would regenerate ids on withNewChildrenInternal and break
  // attribute binding upstream. Layout: (key, rnk, id, dist), the column
  // order of TopK.perKeyViaWindow, so FlatKnn.search plans to the node
  // alone and its collect runs no job past the sweep.

  // this operator *produces* its output (it is not a projection of child
  // attributes); without this the analyzer's MISSING_ATTRIBUTES check fails
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions
    .AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  // the exec reads both children's (key|id, vec) columns, none of which
  // appears in an expression of this node: without this, column pruning
  // would strip them from the children
  override def references: org.apache.spark.sql.catalyst.expressions
    .AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      queries.output ++ data.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(queries = newLeft, data = newRight)
}

object KnnPartial {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("rnk", LongType, nullable = false)(),
    AttributeReference("neighbor_id", LongType, nullable = false)(),
    AttributeReference("dist", DoubleType, nullable = false)())
}

/** [[KnnPartial]]'s one physical form. `widen`: `Some` is decided (the
  * size gate said no, or a caller forced it); `None` widens when the
  * sweep's own input RDD has fewer partitions than the session's
  * parallelism. `depth` 0 takes the merge depth from the partial count.
  * `select` is the column selection and renaming of the node's
  * `nodeOutput` that a projection above the node asked for (the rewritten
  * SQL top-k's); it is applied to the merged rows on the driver, so no
  * operator above the node runs a second job over them. */
case class KnnPartialExec(queries: SparkPlan, data: SparkPlan, k: Int,
                          metric: Metric, nodeOutput: Seq[Attribute],
                          unsigned: Boolean, bf16: Boolean, depth: Int,
                          widen: Option[Boolean],
                          select: Seq[NamedExpression])
    extends BinaryExecNode {
  override def left: SparkPlan = queries
  override def right: SparkPlan = data

  override def output: Seq[Attribute] = select.map(_.toAttribute)

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions
    .AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  // the merged rows are one driver-side array: doExecute hands them back
  // as a single partition
  override def outputPartitioning: Partitioning = SinglePartition

  override def executeCollect(): Array[InternalRow] = executeQuery(merged())

  override def executeTake(n: Int): Array[InternalRow] =
    executeCollect().take(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(merged().toSeq, 1)

  /** The ranked top-k of every query key, computed by one Spark job. */
  private def merged(): Array[InternalRow] = {
    val asc = metric.ascending
    // query side is broadcast-small by contract (the reference's in-memory
    // query batch). Float queries widen ONCE here: the mixed kernel —
    // double query loads from L1, float row loads from the scan — beats
    // the all-float one, which widens per pair (SCALE.md); results are
    // bit-identical either way (F32BuildSpec).
    val qFloat = FlatKnn.elemKind(queries.output(1).dataType) == 'f'
    val qRows = queries.executeCollect()
    val qIds = qRows.map(_.getLong(0))
    val qVecs = qRows.map { row =>
      val arr = row.getArray(1)
      if (qFloat) arr.toFloatArray().map(_.toDouble) else arr.toDoubleArray()
    }
    val top = new PerKeyTopK(k, asc)
    if (qIds.nonEmpty) {
      val sc = sparkContext
      val bc = sc.broadcast((qIds, qVecs))
      val (kk, m, uns, b16) = (k, metric, unsigned, bf16)
      val elKind = FlatKnn.elemKind(data.output(1).dataType)
      // a function value, so the task closures capture only these locals
      val tiles = () => {
        val (ids, vecs) = bc.value
        new FlatKnn.TileScan(ids, vecs, kk, asc, m, elKind, uns, b16)
      }
      def sweepRows(rdd: RDD[InternalRow]) = rdd.mapPartitions { iter =>
        val ts = tiles()
        while (iter.hasNext) {
          val row = iter.next()
          if (!row.isNullAt(0) && !row.isNullAt(1))
            ts.addRow(row.getLong(0), row.getArray(1))
        }
        Iterator.single(ts.partials())
      }
      // rows straight off the column vectors: no ColumnarToRow pass, no
      // per-row UnsafeRow, the scan's largest fixed cost
      def sweepBatches(rdd: RDD[ColumnarBatch]) = rdd.mapPartitions { it =>
        val ts = tiles()
        while (it.hasNext) {
          val batch = it.next()
          val idCol = batch.column(0)
          val vecCol = batch.column(1)
          val nR = batch.numRows()
          var r = 0
          while (r < nR) {
            if (!idCol.isNullAt(r) && !vecCol.isNullAt(r))
              ts.addRow(idCol.getLong(r), vecCol.getArray(r))
            r += 1
          }
        }
        Iterator.single(ts.partials())
      }
      // Pre-scan width (Width): the tile sweep is the query's CPU, so a
      // narrower input (one row group, a small cached memo) hash-spreads
      // on the unique id first — an exchange inside this job, still one
      // job. Results are partition-invariant (per-partition heaps, exact
      // id-tiebroken merge). A widened sweep reads rows, not vectors.
      val batches = columnarSource.map(_.executeColumnar())
      lazy val rows = data.execute()
      val sweep =
        if (widen.getOrElse(Width.narrow(batches.getOrElse(rows))))
          sweepRows(Width.spread(data,
            HashPartitioning(Seq(data.output.head), _)))
        else batches.fold(sweepRows(rows))(sweepBatches)
      sc.runJob(KnnPartialExec.treeLevel(sweep, qIds.length, k, asc, depth,
          sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")),
        (it: Iterator[KnnPartials]) => it.toArray,
        // runs on the driver as each task finishes, under the job
        // waiter's lock
        (_: Int, ps: Array[KnnPartials]) => ps.foreach(top.addAll))
    }
    val proj = UnsafeProjection.create(select, nodeOutput)
    val rnkInt = nodeOutput(1).dataType == IntegerType
    top.rows.iterator.map { case (q, r, id, d) =>
      proj(new GenericInternalRow(Array[Any](q,
        if (rnkInt) r.toInt else r, id, d))).copy()
    }.toArray
  }

  /** The columnar node under the row-conversion shell: a pruned parquet
    * scan executes columnar (`Batched: true`) but arrives as
    * WholeStageCodegen(ColumnarToRow(InputAdapter(Scan))) — peel the
    * pass-through wrappers (they add no compute) down to it, and use it
    * only when its output is exactly our (id, vec). */
  private def columnarSource: Option[SparkPlan] = {
    @scala.annotation.tailrec
    def peel(p: SparkPlan): Option[SparkPlan] = p match {
      case WholeStageCodegenExec(child) => peel(child)
      case ColumnarToRowExec(child)     => peel(child)
      case InputAdapter(child)          => peel(child)
      case s if s.supportsColumnar      => Some(s)
      case _                            => None
    }
    peel(data).filter { s =>
      s.output.length == 2 && s.output(0).dataType == LongType &&
        s.output(1).dataType == data.output(1).dataType
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(queries = newLeft, data = newRight)
}

object KnnPartialExec {

  /** Bytes a partial costs the driver (key, id, dist). */
  private val PartialBytes = 24L

  /** The share of `spark.driver.maxResultSize` the partials may take. */
  private val IntakeShare = 8L

  /** Bound the driver's intake: the partition·|Q|·k partials go straight
    * to the driver (depth 1) while they fit 1/[[IntakeShare]] of
    * `maxResultSize` (0 = unlimited); above that, one treeAggregate level
    * on executors first merges the task buffers into as few groups as
    * fit that budget (depth 2). `depth` 1 or 2 forces the level. */
  private[graft] def treeLevel(sweep: RDD[KnnPartials], nq: Int, k: Int,
      asc: Boolean, depth: Int, maxResultSize: Long): RDD[KnnPartials] = {
    require(depth >= 0 && depth <= 2, s"merge depth must be 0, 1 or 2: $depth")
    val parts = sweep.getNumPartitions
    val perTask = nq.toLong * k
    val budget =
      if (maxResultSize <= 0) Long.MaxValue
      else maxResultSize / IntakeShare / PartialBytes
    val levels =
      if (depth > 0) depth else if (parts * perTask > budget) 2 else 1
    if (levels == 1) sweep
    else {
      val groups = math.max(1L, math.min((parts + 1) / 2,
        budget / math.max(1L, perTask))).toInt
      sweep.mapPartitionsWithIndex { (i, it) => it.map(p => (i % groups, p)) }
        .reduceByKey((a: KnnPartials, b: KnnPartials) => {
          val t = new PerKeyTopK(k, asc)
          t.addAll(a); t.addAll(b)
          t.partials
        }, groups)
        .values
    }
  }
}

object KnnPartialStrategy extends org.apache.spark.sql.execution.SparkStrategy {

  /** Below this estimated size the sweep stays serial whatever its
    * partition count (the r16 lesson: widening a frame whose serial sweep
    * is already trivial only adds an exchange per call, e.g. a 2 000-row
    * code table probed once per calibration dial). The estimate is exact
    * for cached relations and the column-pruned file size for cold scans,
    * which UNDERESTIMATES decoded width, hence the low bar. */
  private val WidenMinBytes = 1L << 20

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // the node under (possibly no) projections that only select and
    // rename its columns: the exec emits the selection itself
    case PhysicalOperation(select, Nil, p: KnnPartial) if select.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _                                      => false
      } =>
      // the size gate first: it costs no planning of the data side
      val widen = p.widen.orElse(
        if (p.data.stats.sizeInBytes < WidenMinBytes) Some(false) else None)
      KnnPartialExec(planLater(p.queries), planLater(p.data), p.k, p.metric,
        p.output, p.unsigned, p.bf16, p.depth, widen, select) :: Nil
    case Widen(child) => WidenExec(planLater(child)) :: Nil
    case _ => Nil
  }
}

object KnnJoinApi {
  import org.apache.spark.sql.DataFrame

  /** Ensure the strategy + rewrite rule are installed on this session
    * (idempotent). The config route is
    * `spark.sql.extensions=graft.GraftExtensions`. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    installStrategy(spark)
    if (!spark.experimental.extraOptimizations.contains(KnnRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ KnnRewriteRule
  }

  /** Only the planner strategy: what a [[KnnPartial]] or [[Widen]] built
    * directly (`FlatKnn.search`, `Width.widen`) needs. */
  private[graft] def installStrategy(spark: org.apache.spark.sql.SparkSession)
      : Unit =
    if (!spark.experimental.extraStrategies.contains(KnnPartialStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ KnnPartialStrategy

  /** Plan-native kNN join: `FlatKnn.search`, i.e. a [[KnnPartial]] node
    * (visible in `explain`). Output: (query_id, rnk, neighbor_id, dist)
    * best-first. */
  def knnJoin(queries: DataFrame, data: DataFrame, k: Int, metric: Metric)
      : DataFrame =
    FlatKnn.search(queries, data, k, metric)
}
