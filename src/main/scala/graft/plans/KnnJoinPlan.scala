package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.core.Metric
import graft.operators.FlatKnn

/** kNN join as first-class Catalyst plan machinery (the prompt's tier (c):
  * custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`, registered through
  * `SparkSessionExtensions`): [[KnnPartial]] declares "per data partition,
  * the k best (query, id, dist) candidates for every query" as a logical
  * operator; [[KnnPartialStrategy]] plans it into [[KnnPartialExec]], which
  * feeds each data partition through FlatKnn's own tile scan
  * (`FlatKnn.TileScan`: the same packing, the same distance kernels, the
  * same bounded heaps) — there is one flat-kNN kernel path, not a copy of
  * it here. The exact global merge stays declarative (window rank over the
  * partials), so Catalyst's own WindowGroupLimit/AQE machinery optimizes
  * it.
  *
  * Results, distances included, match FlatKnn.search bit for bit
  * (KnnPlanSpec).
  */
case class KnnPartial(queries: LogicalPlan, data: LogicalPlan, k: Int,
                      metricName: String,
                      output: Seq[Attribute] = KnnPartial.freshOutput())
    extends BinaryNode {
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = data

  // output is a constructor param so exprIds survive tree copies — a fresh
  // `val` here would regenerate ids on withNewChildrenInternal and break
  // attribute binding upstream

  // this operator *produces* its output (it is not a projection of child
  // attributes); without this the analyzer's MISSING_ATTRIBUTES check fails
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions
    .AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(queries = newLeft, data = newRight)
}

object KnnPartial {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("id", LongType, nullable = false)(),
    AttributeReference("dist", DoubleType, nullable = false)())
}

case class KnnPartialExec(queries: SparkPlan, data: SparkPlan, k: Int,
                          metricName: String, output: Seq[Attribute])
    extends BinaryExecNode {
  override def left: SparkPlan = queries
  override def right: SparkPlan = data

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions
    .AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  /** True for ARRAY<FLOAT>, false for ARRAY<DOUBLE>; anything else is a bug
    * in the rewrite guards (the rule must not hand us other types). */
  private def floatElems(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) => false
      case other => sys.error(s"KnnPartialExec: unsupported vector type $other")
    }

  override protected def doExecute(): RDD[InternalRow] = {
    val metric = Metric.byName(metricName)
      .getOrElse(sys.error(s"unknown metric $metricName"))
    // element-type-aware reads: ARRAY<FLOAT> is 4-byte-packed in ArrayData,
    // so a getDouble read would return garbage; float→double widening
    // matches the distance expressions' per-element (double) cast, so
    // results stay bit-identical
    val qFloat = floatElems(queries.output(1).dataType)
    val elKind = if (floatElems(data.output(1).dataType)) 'f' else 'd'
    // query side is broadcast-small by contract (the reference's in-memory
    // query batch); data side streams partition-local. Float queries widen
    // ONCE here, as in FlatKnn.search.
    val qRows = queries.executeCollect()
    val qIds = qRows.map(_.getLong(0))
    val qVecs = qRows.map { row =>
      val arr = row.getArray(1)
      if (qFloat) arr.toFloatArray().map(_.toDouble) else arr.toDoubleArray()
    }
    val bc = sparkContext.broadcast((qIds, qVecs))
    val asc = metric.ascending
    val kk = k
    val schema = output.map(_.dataType)
    data.execute().mapPartitions { iter =>
      val (ids, vecs) = bc.value
      val ts = new FlatKnn.TileScan(ids, vecs, kk, asc, metric, elKind,
        unsigned = false)
      while (iter.hasNext) {
        val row = iter.next()
        if (!row.isNullAt(0) && !row.isNullAt(1))
          ts.addRow(row.getLong(0), row.getArray(1))
      }
      val proj = UnsafeProjection.create(schema.toArray)
      ts.emit().map { case (q, id, dist) =>
        proj(new GenericInternalRow(Array[Any](q, id, dist)))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(queries = newLeft, data = newRight)
}

object KnnPartialStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KnnPartial(q, d, k, m, out) =>
      KnnPartialExec(planLater(q), planLater(d), k, m, out) :: Nil
    case _ => Nil
  }
}

object KnnJoinApi {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.graftbridge.Bridge

  /** Ensure the strategy + rewrite rule are installed on this session
    * (idempotent). The config route is
    * `spark.sql.extensions=graft.GraftExtensions`. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(KnnPartialStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ KnnPartialStrategy
    if (!spark.experimental.extraOptimizations.contains(KnnRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ KnnRewriteRule
  }

  /** Plan-native kNN join: a [[KnnPartial]] logical node (visible in
    * `explain`) merged exactly by a declarative window rank. Output:
    * (query_id, rnk, neighbor_id, dist) best-first. */
  def knnJoin(queries: DataFrame, data: DataFrame, k: Int, metric: Metric)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = data.sparkSession
    install(spark)
    // ARRAY<FLOAT> columns pass through uncast: the exec reads them
    // element-type-aware (and all-float pairs take the FF kernel, which is
    // bit-identical to the widened fold) — a cast projection here would
    // double the scan bytes for nothing
    def vecCol(df: DataFrame, c: String) = df.schema(c).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => col(c).as(c)
      case _ => col(c).cast("array<double>").as(c)
    }
    val qPlan = Bridge.logicalPlan(queries.select(
      col("query_id").cast("long").as("query_id"), vecCol(queries, "qvec")))
    val dPlan = Bridge.logicalPlan(data.select(
      col("id").cast("long").as("id"), vecCol(data, "vec")))
    val partial = Bridge.ofRows(spark, KnnPartial(qPlan, dPlan, k,
      metric.name))
    graft.operators.TopK.perKeyViaWindow(partial, Seq("query_id"), col("id"),
      col("dist"), k, metric.ascending)
  }
}
