package graft

import graft.core.{Metric, Tables}

/** Generates the DuckDB oracle SQL for the kNN-shaped queries from the same
  * SQL fragments the Spark side uses (graft.core.Tables), so the two engines
  * perform bit-identical double arithmetic and the driver's hash compare is
  * stable. Outputs only integer columns (ids/ranks) — float columns are kept
  * out of hashed results (SURVEY §7: float determinism vs DuckDB).
  */
object OracleGen {

  private def dimCols(prefix: String, exprs: Seq[String]): String =
    exprs.zipWithIndex.map { case (e, i) => s"$e AS $prefix$i" }.mkString(", ")

  /** kNN over the synthetic lineitem vectors. */
  def lineitemKnn(metric: Metric, k: Int): String =
    lineitemKnnDims(metric, k, Tables.liDimSql)

  /** f32-storage twin (q73/q74): the DATA dims round through REAL exactly
    * as Spark's `cast("array<float>")` does (IEEE round-to-nearest), then
    * the distance arithmetic is double on both sides — certifying the
    * float-resident scan branch + mixed computeDF kernel end-to-end.
    * Queries stay full-precision double, as in the engine. */
  def lineitemKnnF32(metric: Metric, k: Int): String =
    lineitemKnnDims(metric, k,
      Tables.liDimSql.map(e => s"CAST(CAST($e AS REAL) AS DOUBLE)"))

  private def lineitemKnnDims(metric: Metric, k: Int,
                              dataDims: Seq[String]): String = {
    val d = Tables.liDims
    s"""WITH data AS (
       |  SELECT ${Tables.liIdSql} AS id, ${dimCols("v", dataDims)}
       |  FROM lineitem),
       |q AS (
       |  SELECT ${Tables.liIdSql} AS query_id, ${dimCols("q", Tables.liDimSql)}
       |  FROM lineitem WHERE ${Tables.liQueryPredSql}),
       |pairs AS (
       |  SELECT q.query_id, d.id,
       |         ${metric.sqlExpr("q.q", "d.v", d)} AS dist
       |  FROM q CROSS JOIN data d),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY dist ${if (metric.ascending) "ASC" else "DESC"}, id ASC) AS rnk
       |  FROM pairs)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Grouped (unique-id) lineitem vector CTE body: dim-wise min over
    * duplicate (orderkey, linenumber) rows — matches Tables.groupedVectors. */
  private def groupedCte(pred: Option[String], idAlias: String,
                         p: String): String = {
    val dims = Tables.liDimSql.zipWithIndex
      .map { case (e, i) => s"min($e) AS $p$i" }.mkString(", ")
    val where = pred.map(w => s" WHERE $w").getOrElse("")
    s"SELECT ${Tables.liIdSql} AS $idAlias, $dims FROM lineitem$where " +
      s"GROUP BY ${Tables.liIdSql}"
  }

  private def dataCte = groupedCte(None, "id", "v")
  private def centsCte = groupedCte(Some(Tables.liCentroidPredSql), "cid", "c")
  private def qCte = groupedCte(Some(Tables.liQueryPredSql), "query_id", "q")
  private val l2 = Metric.L2

  /** Deterministic argmin assignment CTE (ties → lowest cid, matching the
    * strict-< fold in KMeans.assignColumn). Expects `data` and `cents`. */
  private def assignCte: String =
    s"""SELECT id, cid AS cluster_id FROM (
       |  SELECT d.id, c.cid,
       |    row_number() OVER (PARTITION BY d.id
       |      ORDER BY ${l2.sqlExpr("d.v", "c.c", Tables.liDims)} ASC, c.cid ASC) AS rn
       |  FROM data d CROSS JOIN cents c) WHERE rn = 1""".stripMargin

  /** k-means assignment of every (deduped) lineitem vector. */
  def kmeansAssign: String =
    s"""WITH data AS ($dataCte),
       |cents AS ($centsCte),
       |assign AS ($assignCte)
       |SELECT id, cluster_id FROM assign ORDER BY id""".stripMargin

  /** Cluster sizes of the assignment (IVF build / A4). */
  def clusterSizes: String =
    s"""WITH data AS ($dataCte),
       |cents AS ($centsCte),
       |assign AS ($assignCte)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS cnt FROM assign
       |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** IVF probe search: nProbes best clusters per query, then top-k inside. */
  def ivfSearch(k: Int, nProbes: Int): String = {
    val d = Tables.liDims
    s"""WITH data AS ($dataCte),
       |cents AS ($centsCte),
       |q AS ($qCte),
       |assign AS ($assignCte),
       |probes AS (
       |  SELECT query_id, cid AS cluster_id FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${l2.sqlExpr("q.q", "c.c", d)} ASC, c.cid ASC) AS rn
       |    FROM q CROSS JOIN cents c) WHERE rn <= $nProbes),
       |cand AS (
       |  SELECT p.query_id, a.id,
       |    ${l2.sqlExpr("q.q", "d.v", d)} AS dist
       |  FROM probes p
       |  JOIN assign a ON a.cluster_id = p.cluster_id
       |  JOIN data d ON d.id = a.id
       |  JOIN q ON q.query_id = p.query_id),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, id ASC) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Medioid: argmin distance to the (rounded) per-dim mean. */
  def medioid(meanScale: Int): String = {
    val d = Tables.liDims
    val means = (0 until d)
      .map(i => s"round(avg(v$i), $meanScale) AS m$i").mkString(", ")
    s"""WITH data AS ($dataCte),
       |m AS (SELECT $means FROM data),
       |scored AS (
       |  SELECT id, ${l2.sqlExpr("data.v", "m.m", d)} AS dist
       |  FROM data CROSS JOIN m)
       |SELECT id AS medioid_id FROM scored ORDER BY dist ASC, id ASC LIMIT 1""".stripMargin
  }

  /** Scalar-quantization codes from a global min/max affine codec. */
  def sqCodes(bits: Int): String = {
    val d = Tables.liDims
    val levels = (1 << bits) - 1
    val lo = (0 until d).map(i => s"min(v$i)").mkString("least(", ", ", ")")
    val hi = (0 until d).map(i => s"max(v$i)").mkString("greatest(", ", ", ")")
    val unpivot = (0 until d)
      .map(i => s"SELECT id, $i AS pos, v$i AS v FROM data")
      .mkString(" UNION ALL ")
    s"""WITH data AS ($dataCte),
       |mm AS (SELECT $lo AS lo, $hi AS hi FROM data),
       |u AS ($unpivot)
       |SELECT u.id, CAST(u.pos AS BIGINT) AS pos,
       |  CAST(floor((u.v - mm.lo) / ((mm.hi - mm.lo)/$levels.0) + 0.5) AS BIGINT) AS code
       |FROM u CROSS JOIN mm ORDER BY id, pos""".stripMargin
  }

  /** Recall machinery (A7): per-query |IVF top-k ∩ exact flat top-k| — i.e.
    * the IVF index's recall against exhaustive groundtruth, zero-match
    * queries included. */
  def recallIvfVsFlat(k: Int, nProbes: Int): String = {
    val d = Tables.liDims
    s"""WITH data AS ($dataCte),
       |cents AS ($centsCte),
       |q AS ($qCte),
       |assign AS ($assignCte),
       |truth AS (
       |  SELECT query_id, id FROM (
       |    SELECT q.query_id, dt.id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${l2.sqlExpr("q.q", "dt.v", d)} ASC, dt.id ASC) AS rn
       |    FROM q CROSS JOIN data dt) WHERE rn <= $k),
       |probes AS (
       |  SELECT query_id, cid AS cluster_id FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${l2.sqlExpr("q.q", "c.c", d)} ASC, c.cid ASC) AS rn
       |    FROM q CROSS JOIN cents c) WHERE rn <= $nProbes),
       |ivfr AS (
       |  SELECT query_id, id FROM (
       |    SELECT p.query_id, a.id,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY ${l2.sqlExpr("q.q", "d.v", d)} ASC, a.id ASC) AS rnk
       |    FROM probes p
       |    JOIN assign a ON a.cluster_id = p.cluster_id
       |    JOIN data d ON d.id = a.id
       |    JOIN q ON q.query_id = p.query_id) WHERE rnk <= $k),
       |m AS (
       |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS matches
       |  FROM truth t JOIN ivfr i ON i.query_id = t.query_id AND i.id = t.id
       |  GROUP BY t.query_id)
       |SELECT q2.query_id, CAST(coalesce(m.matches, 0) AS BIGINT) AS matches
       |FROM (SELECT DISTINCT query_id FROM q) q2
       |LEFT JOIN m ON m.query_id = q2.query_id
       |ORDER BY q2.query_id""".stripMargin
  }

  private def embDimExprs: Seq[String] =
    (1 to Tables.embDims).map(i => s"CAST(embedding[$i] AS DOUBLE)")

  /** Late-interaction MaxSim top-k (q131): embeddings grouped into
    * `groupSize`-token bags by vec_id division; query bags are every
    * `qMod`-th doc; score = Σ_{qtok} max_{dtok} cosine, folded in
    * qtok order — max + ordered sum of the certified per-dim cosine,
    * no transcendental anywhere. */
  def maxSimTopK(k: Int, groupSize: Int, qMod: Int): String = {
    val d = Tables.embDims
    s"""WITH v AS (
       |  SELECT vec_id // $groupSize AS doc_id,
       |    vec_id % $groupSize AS dtok, ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id // $groupSize AS query_id,
       |    vec_id % $groupSize AS qtok, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE (vec_id // $groupSize) % $qMod = 0),
       |pairs AS (
       |  SELECT q.query_id, v.doc_id, q.qtok,
       |    ${Metric.Cosine.sqlExpr("q.q", "v.v", d)} AS sim
       |  FROM q CROSS JOIN v),
       |pm AS (SELECT query_id, doc_id, qtok, max(sim) AS m
       |  FROM pairs GROUP BY query_id, doc_id, qtok),
       |s AS (SELECT query_id, doc_id,
       |  list_sort(list({'qtok': qtok, 'm': m})) AS ms
       |  FROM pm GROUP BY query_id, doc_id),
       |sc AS (SELECT query_id, doc_id,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(ms, x -> x.m)), (a, b) -> a + b) AS score
       |  FROM s),
       |r AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id ASC) AS rnk FROM sc)
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |  CAST(doc_id AS BIGINT) AS doc_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(floor(1000000000.0 * score) AS BIGINT) AS maxsim_nano
       |FROM r WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** Sum of per-dim squared diffs over ONE subspace's index range —
    * i-ascending, matching L2Distance's codegen fold on the slice. */
  private def l2Range(qAlias: String, kAlias: String, lo: Int, hi: Int)
      : String =
    (lo until hi).map(i =>
      s"($qAlias.q$i-$kAlias.k$i)*($qAlias.q$i-$kAlias.k$i)")
      .mkString(" + ")

  private def pqCtes(m: Int, k: Int): String = {
    val d = Tables.embDims
    val sub = d / m
    val vCols = dimCols("v", embDimExprs)
    val kCols = (1 to d).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) AS k${i - 1}").mkString(", ")
    val dCols = (0 until m).map { j =>
      (j * sub until (j + 1) * sub).map(i =>
        s"(v.v$i-cb.k$i)*(v.v$i-cb.k$i)").mkString("", " + ", s" AS d$j")
    }.mkString(",\n  ")
    val argmins = (0 until m).map { j =>
      s"""a$j AS (SELECT id, c AS c$j FROM (
         |  SELECT id, c, row_number() OVER (PARTITION BY id
         |    ORDER BY d$j ASC, c ASC) AS rn FROM dmat) x WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    val joins = (1 until m).map(j => s"JOIN a$j USING (id)").mkString(" ")
    s"""v AS (SELECT vec_id AS id, $vCols FROM embeddings),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, $kCols
       |  FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < ${7 * k}),
       |dmat AS (SELECT v.id, cb.c,
       |  $dCols
       |  FROM v CROSS JOIN cb),
       |$argmins,
       |codes AS (SELECT a0.id, ${(0 until m).map(j => s"c$j")
        .mkString(", ")} FROM a0 $joins)""".stripMargin
  }

  /** IVFADC CTEs: coarse centroids = embeddings rows vec_id % 100 = 0
    * (cluster_id = vec_id, ties → lowest id like NearestCentroid),
    * residual r_i = v_i − centroid_i, per-subspace argmin over the
    * sampled codebooks. Ends in `rcodes(cluster_id, id, c0..)`. */
  private def ivfPqCtes(m: Int, k: Int): String = {
    val d = Tables.embDims
    val sub = d / m
    val vCols = dimCols("v", embDimExprs)
    val cCols = (1 to d).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) AS c${i - 1}").mkString(", ")
    val kCols = (1 to d).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) AS k${i - 1}").mkString(", ")
    val dFull = (0 until d)
      .map(i => s"(v.v$i-ct.c$i)*(v.v$i-ct.c$i)").mkString(" + ")
    val rCols = (0 until d)
      .map(i => s"v.v$i - ct.c$i AS r$i").mkString(", ")
    val dSub = (0 until m).map { j =>
      (j * sub until (j + 1) * sub).map(i =>
        s"(res.r$i-cb.k$i)*(res.r$i-cb.k$i)")
        .mkString("", " + ", s" AS d$j")
    }.mkString(",\n  ")
    val argmins = (0 until m).map { j =>
      s"""ra$j AS (SELECT id, c AS c$j FROM (
         |  SELECT id, c, row_number() OVER (PARTITION BY id
         |    ORDER BY d$j ASC, c ASC) AS rn FROM rdmat) x
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""v AS (SELECT vec_id AS id, $vCols FROM embeddings),
       |ct AS (SELECT vec_id AS cid, $cCols FROM embeddings
       |  WHERE vec_id % 100 = 0),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, $kCols
       |  FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < ${7 * k}),
       |dfull AS (SELECT v.id, ct.cid, $dFull AS d
       |  FROM v CROSS JOIN ct),
       |asg AS (SELECT id, cid AS cluster_id FROM (
       |  SELECT id, cid, row_number() OVER (PARTITION BY id
       |    ORDER BY d ASC, cid ASC) AS rn FROM dfull) x WHERE rn = 1),
       |res AS (SELECT v.id, asg.cluster_id, $rCols
       |  FROM v JOIN asg USING (id) JOIN ct ON ct.cid = asg.cluster_id),
       |rdmat AS (SELECT res.id, cb.c,
       |  $dSub
       |  FROM res CROSS JOIN cb),
       |$argmins,
       |rcodes AS (SELECT res.cluster_id, res.id, ${(0 until m)
        .map(j => s"c$j").mkString(", ")}
       |  FROM res JOIN ra0 USING (id) ${(1 until m)
        .map(j => s"JOIN ra$j USING (id)").mkString(" ")})""".stripMargin
  }

  /** q145: IVFADC residual codes (cluster_id, id, c0..). */
  def ivfPqCodes(m: Int, k: Int): String =
    s"""WITH ${ivfPqCtes(m, k)}
       |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, id,
       |  ${(0 until m).map(j => s"CAST(c$j AS BIGINT) AS c$j")
        .mkString(", ")}
       |FROM rcodes ORDER BY id""".stripMargin

  /** q146: IVFADC search — probe the nProbes nearest coarse centroids
    * (full-dim L2, ties by cid), then rank the probed clusters' code
    * rows by Σ_j Σ_i ((q_i − c_i) − k_i)², ties by id. */
  def ivfPqSearch(m: Int, k: Int, kNN: Int, nProbes: Int): String = {
    val d = Tables.embDims
    val sub = d / m
    val qProbe = (0 until d)
      .map(i => s"(q.q$i-ct.c$i)*(q.q$i-ct.c$i)").mkString(" + ")
    val kJoins = (0 until m)
      .map(j => s"JOIN cb k$j ON k$j.c = rcodes.c$j").mkString(" ")
    val adc = (0 until m).map { j =>
      "(" + (j * sub until (j + 1) * sub).map(i =>
        s"((q.q$i-ct.c$i)-k$j.k$i)*((q.q$i-ct.c$i)-k$j.k$i)")
        .mkString(" + ") + ")"
    }.mkString(" + ")
    s"""WITH ${ivfPqCtes(m, k)},
       |q AS (SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |probes AS (SELECT query_id, cid FROM (
       |  SELECT q.query_id, ct.cid, row_number() OVER (
       |    PARTITION BY q.query_id ORDER BY $qProbe ASC, ct.cid ASC)
       |    AS rn FROM q CROSS JOIN ct) x WHERE rn <= $nProbes),
       |adc AS (SELECT q.query_id, rcodes.id, $adc AS dist
       |  FROM q JOIN probes ON probes.query_id = q.query_id
       |  JOIN rcodes ON rcodes.cluster_id = probes.cid
       |  JOIN ct ON ct.cid = probes.cid $kJoins),
       |ranked AS (SELECT query_id, id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, id ASC) AS rnk FROM adc)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
       |FROM ranked WHERE rnk <= $kNN ORDER BY query_id, rnk""".stripMargin
  }

  /** q191: the UPSERTED stored-IVFADC layout (IndexLayout.upsert) — the
    * q152 pattern applied to the codec store. The merged corpus is the
    * original table minus `delPred` rows plus `addPred` rows re-idd by
    * `offset`; cluster assignment is the PINNED label; centroids are the
    * merged corpus's 6-rounded per-label means (≡ the upsert's
    * refresh-touched-only rule, since untouched labels' membership is
    * unchanged); residual codes quantize against THOSE centroids (the
    * upsert's no-drift invariant — touched partitions re-encode against
    * the refreshed mean, untouched partitions' stored codes already used
    * it); the sampled codebook is PINNED (vec_id % 7 rows of the
    * ORIGINAL table — upsert never retrains codec constants). Ranks are
    * the residual-LUT sums over probed clusters, ties by id. */
  def ivfPqUpsert(m: Int, k: Int, kNN: Int, nProbes: Int, offset: Long,
                  addPred: String, delPred: String): String = {
    val d = Tables.embDims
    val sub = d / m
    val centAvgs = (0 until d).map(i => s"round(avg(v$i), 6) AS c$i")
      .mkString(", ")
    val kCols = (1 to d).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) AS k${i - 1}").mkString(", ")
    val rCols = (0 until d)
      .map(i => s"data.v$i - ct.c$i AS r$i").mkString(", ")
    val dSub = (0 until m).map { j =>
      (j * sub until (j + 1) * sub).map(i =>
        s"(res.r$i-cb.k$i)*(res.r$i-cb.k$i)")
        .mkString("", " + ", s" AS d$j")
    }.mkString(",\n  ")
    val argmins = (0 until m).map { j =>
      s"""ra$j AS (SELECT id, c AS c$j FROM (
         |  SELECT id, c, row_number() OVER (PARTITION BY id
         |    ORDER BY d$j ASC, c ASC) AS rn FROM rdmat) x
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val qProbe = (0 until d)
      .map(i => s"(q.q$i-ct.c$i)*(q.q$i-ct.c$i)").mkString(" + ")
    val kJoins = (0 until m)
      .map(j => s"JOIN cb k$j ON k$j.c = rcodes.c$j").mkString(" ")
    val adc = (0 until m).map { j =>
      "(" + (j * sub until (j + 1) * sub).map(i =>
        s"((q.q$i-ct.c$i)-k$j.k$i)*((q.q$i-ct.c$i)-k$j.k$i)")
        .mkString(" + ") + ")"
    }.mkString(" + ")
    s"""WITH data AS (
       |  SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
       |         ${dimCols("v", embDimExprs)}
       |  FROM embeddings WHERE NOT ($delPred)
       |  UNION ALL
       |  SELECT vec_id + $offset AS id, CAST(label AS BIGINT) AS label,
       |         ${dimCols("v", embDimExprs)}
       |  FROM embeddings WHERE $addPred),
       |ct AS (SELECT label AS cid, $centAvgs FROM data GROUP BY label),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, $kCols
       |  FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < ${7 * k}),
       |res AS (SELECT data.id, data.label AS cluster_id, $rCols
       |  FROM data JOIN ct ON ct.cid = data.label),
       |rdmat AS (SELECT res.id, cb.c,
       |  $dSub
       |  FROM res CROSS JOIN cb),
       |$argmins,
       |rcodes AS (SELECT res.cluster_id, res.id, ${(0 until m)
        .map(j => s"c$j").mkString(", ")}
       |  FROM res JOIN ra0 USING (id) ${(1 until m)
        .map(j => s"JOIN ra$j USING (id)").mkString(" ")}),
       |q AS (SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |probes AS (SELECT query_id, cid FROM (
       |  SELECT q.query_id, ct.cid, row_number() OVER (
       |    PARTITION BY q.query_id ORDER BY $qProbe ASC, ct.cid ASC)
       |    AS rn FROM q CROSS JOIN ct) x WHERE rn <= $nProbes),
       |adc AS (SELECT q.query_id, rcodes.id, $adc AS dist
       |  FROM q JOIN probes ON probes.query_id = q.query_id
       |  JOIN rcodes ON rcodes.cluster_id = probes.cid
       |  JOIN ct ON ct.cid = probes.cid $kJoins),
       |ranked AS (SELECT query_id, id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, id ASC) AS rnk FROM adc)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
       |FROM ranked WHERE rnk <= $kNN ORDER BY query_id, rnk""".stripMargin
  }

  /** q143: PQ codes from id-striped sampled codebooks (row c = vec_id
    * 7·c; subspace j takes its slice) — per-subspace argmin, ties →
    * lowest code, exactly NearestCentroid's strict-< rule. */
  def pqCodes(m: Int, k: Int): String =
    s"""WITH ${pqCtes(m, k)}
       |SELECT id, ${(0 until m).map(j => s"CAST(c$j AS BIGINT) AS c$j")
        .mkString(", ")}
       |FROM codes ORDER BY id""".stripMargin

  /** q144: ADC top-k — per-subspace L2 of the full-precision query
    * against each doc's CODE centroid, summed j-ascending (left-assoc,
    * the Spark fold's order), ranked ascending with ties by id. */
  def pqAdc(m: Int, k: Int, kNN: Int): String = {
    val d = Tables.embDims
    val sub = d / m
    val kJoins = (0 until m)
      .map(j => s"JOIN cb k$j ON k$j.c = codes.c$j").mkString(" ")
    val adc = (0 until m)
      .map(j => s"(${l2Range("q", s"k$j", j * sub, (j + 1) * sub)})")
      .mkString(" + ")
    s"""WITH ${pqCtes(m, k)},
       |q AS (SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |adc AS (SELECT q.query_id, codes.id, $adc AS dist
       |  FROM q CROSS JOIN codes $kJoins),
       |ranked AS (SELECT query_id, id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, id ASC) AS rnk FROM adc)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
       |FROM ranked WHERE rnk <= $kNN ORDER BY query_id, rnk""".stripMargin
  }

  /** Shared CTEs for the DiskANN-style PQ-walk queries (q147/q148):
    * label-shard probe routing exactly like vamanaShardedKnn (full-dim L2
    * against rounded label centroids, ties by cid), candidates = probed
    * shards' rows ranked by the q144 ADC sum over their PQ codes, ties by
    * id. With a full search window the walk is exact over probed shards,
    * so the oracle ranks directly. Ends in `adcr(query_id, neighbor_id,
    * rnk)` over ALL probed rows (cut by the caller). */
  private def pqWalkCtes(m: Int, k: Int, nProbes: Int,
                         candPred: String = "TRUE"): String = {
    val d = Tables.embDims
    val sub = d / m
    val centAvgs = (0 until d).map(i => s"round(avg(v.v$i), 6) AS c$i")
      .mkString(", ")
    val kJoins = (0 until m)
      .map(j => s"JOIN cb k$j ON k$j.c = codes.c$j").mkString(" ")
    val adc = (0 until m)
      .map(j => s"(${l2Range("q", s"k$j", j * sub, (j + 1) * sub)})")
      .mkString(" + ")
    s"""${pqCtes(m, k)},
       |lab AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |cents AS (SELECT lab.label AS cid, $centAvgs
       |  FROM v JOIN lab USING (id) GROUP BY lab.label),
       |probes AS (SELECT query_id, cid FROM (
       |  SELECT q.query_id, c.cid, row_number() OVER (
       |    PARTITION BY q.query_id
       |    ORDER BY ${l2.sqlExpr("q.q", "c.c", d)} ASC, c.cid ASC) AS rn
       |  FROM q CROSS JOIN cents c) x WHERE rn <= $nProbes),
       |adc AS (SELECT q.query_id, codes.id, $adc AS dist
       |  FROM probes p
       |  JOIN lab ON lab.label = p.cid
       |  JOIN codes ON codes.id = lab.id
       |  JOIN q ON q.query_id = p.query_id $kJoins
       |  WHERE $candPred),
       |adcr AS (SELECT query_id, id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, id ASC) AS rnk FROM adc)""".stripMargin
  }

  /** q147: PQ-compressed Vamana walk (codes-only ADC scoring over probed
    * label shards, full window ⇒ exact). */
  def pqWalk(m: Int, k: Int, kNN: Int, nProbes: Int,
             candPred: String = "TRUE"): String =
    s"""WITH ${pqWalkCtes(m, k, nProbes, candPred)}
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
       |FROM adcr WHERE rnk <= $kNN ORDER BY query_id, rnk""".stripMargin

  /** q148: the two-pass DiskANN plan — exact full-dim L2 rerank of the
    * ADC walk's top kReorder·kNN candidates, ties by id. */
  def pqWalkRerank(m: Int, k: Int, kNN: Int, nProbes: Int, kReorder: Int)
      : String = {
    val d = Tables.embDims
    s"""WITH ${pqWalkCtes(m, k, nProbes)},
       |cand AS (SELECT query_id, neighbor_id FROM adcr
       |  WHERE rnk <= ${kReorder * kNN}),
       |exact AS (SELECT c.query_id, c.neighbor_id,
       |    ${l2.sqlExpr("q.q", "v.v", d)} AS dist
       |  FROM cand c
       |  JOIN v ON v.id = c.neighbor_id
       |  JOIN q ON q.query_id = c.query_id),
       |rr AS (SELECT query_id, neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, neighbor_id ASC) AS rnk FROM exact)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
       |FROM rr WHERE rnk <= $kNN ORDER BY query_id, rnk""".stripMargin
  }

  /** q160: Matryoshka truncated search — coarse L2 over the first rDims
    * only (i-ascending prefix fold), top kReorder·kNN by (dist, id), then
    * exact full-dim L2 rerank. */
  def mrlSearch(rDims: Int, kNN: Int, kReorder: Int): String = {
    val d = Tables.embDims
    val prefix = (0 until rDims)
      .map(i => s"(q.q$i-v.v$i)*(q.q$i-v.v$i)").mkString(" + ")
    s"""WITH v AS (SELECT vec_id AS id, ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |coarse AS (SELECT q.query_id, v.id, $prefix AS dist
       |  FROM q CROSS JOIN v),
       |cr AS (SELECT query_id, id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, id ASC) AS rn FROM coarse),
       |cand AS (SELECT query_id, id FROM cr WHERE rn <= ${kReorder * kNN}),
       |exact AS (SELECT c.query_id, c.id,
       |    ${l2.sqlExpr("q.q", "v.v", d)} AS dist
       |  FROM cand c
       |  JOIN v ON v.id = c.id
       |  JOIN q ON q.query_id = c.query_id),
       |rr AS (SELECT query_id, id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, id ASC) AS rnk FROM exact)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
       |FROM rr WHERE rnk <= $kNN ORDER BY query_id, rnk""".stripMargin
  }

  /** Shared binary-quantization CTEs (q153–q155): per-dim rounded-mean
    * thresholds, 32-bits-per-BIGINT-word sign packing (word values < 2³²
    * so both engines use plain signed arithmetic), Hamming ranks via
    * bit_count(xor), ties by id. Ends in `hamr(query_id, neighbor_id,
    * rnk)` over all pairs. */
  private def binCtes: String = {
    val d = Tables.embDims
    val words = (d + 31) / 32
    val meanCols = (0 until d).map(i => s"round(avg(v$i), 6) AS m$i")
      .mkString(", ")
    def wordExpr(alias: String, w: Int): String =
      (w * 32 until math.min((w + 1) * 32, d)).map { i =>
        s"(CASE WHEN $alias.$alias$i > m.m$i THEN " +
          s"CAST(${1L << (i - w * 32)} AS BIGINT) ELSE 0 END)"
      }.mkString(" | ")
    val dWords = (0 until words)
      .map(w => s"${wordExpr("v", w)} AS w$w").mkString(",\n  ")
    val qWords = (0 until words)
      .map(w => s"${wordExpr("q", w)} AS qw$w").mkString(",\n  ")
    val ham = (0 until words)
      .map(w => s"bit_count(xor(qc.qw$w, codes.w$w))").mkString(" + ")
    s"""v AS (SELECT vec_id AS id, ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |m AS (SELECT $meanCols FROM v),
       |codes AS (SELECT v.id,
       |  $dWords
       |  FROM v CROSS JOIN m),
       |qc AS (SELECT q.query_id,
       |  $qWords
       |  FROM q CROSS JOIN m),
       |ham AS (SELECT qc.query_id, codes.id,
       |  CAST($ham AS BIGINT) AS dist
       |  FROM qc CROSS JOIN codes),
       |hamr AS (SELECT query_id, id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, id ASC) AS rnk FROM ham)""".stripMargin
  }

  /** q153: sign-bit codes (id, w0..) — exact integers. */
  def binaryCodes: String = {
    val words = (Tables.embDims + 31) / 32
    s"""WITH $binCtes
       |SELECT id, ${(0 until words).map(w => s"w$w").mkString(", ")}
       |FROM codes ORDER BY id""".stripMargin
  }

  /** q154: Hamming top-k over the packed words, ties by id. */
  def binarySearch(kNN: Int): String =
    s"""WITH $binCtes
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
       |FROM hamr WHERE rnk <= $kNN ORDER BY query_id, rnk""".stripMargin

  /** q155: exact-L2 rerank of the Hamming top kReorder·kNN. */
  def binaryRerank(kNN: Int, kReorder: Int): String = {
    val d = Tables.embDims
    s"""WITH $binCtes,
       |cand AS (SELECT query_id, neighbor_id FROM hamr
       |  WHERE rnk <= ${kReorder * kNN}),
       |exact AS (SELECT c.query_id, c.neighbor_id,
       |    ${l2.sqlExpr("q.q", "v.v", d)} AS dist
       |  FROM cand c
       |  JOIN v ON v.id = c.neighbor_id
       |  JOIN q ON q.query_id = c.query_id),
       |rr AS (SELECT query_id, neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, neighbor_id ASC) AS rnk FROM exact)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
       |FROM rr WHERE rnk <= $kNN ORDER BY query_id, rnk""".stripMargin
  }

  /** q189: SELECTIVE-probe binary serving — the q155 two-pass restricted
    * to probed shards: label centroids (rounded means, the q24 contract)
    * word-encode through the same thresholds as the data, each query
    * keeps its `nProbes` Hamming-nearest centroids (ties by cid), the
    * Hamming ranking runs only over rows whose label was probed, and the
    * exact-L2 rerank finishes. Mirrors `GraphLayout.serve` with
    * `Codec.Binary` at full window: the walk visits every
    * reachable row of each probed shard, so candidates = Hamming top
    * kReorder·k within the probed union. */
  def binaryRerankProbed(kNN: Int, kReorder: Int, nProbes: Int): String = {
    val d = Tables.embDims
    val words = (d + 31) / 32
    def wordExpr(alias: String, w: Int): String =
      (w * 32 until math.min((w + 1) * 32, d)).map { i =>
        s"(CASE WHEN $alias.$alias$i > m.m$i THEN " +
          s"CAST(${1L << (i - w * 32)} AS BIGINT) ELSE 0 END)"
      }.mkString(" | ")
    val centAvgs = (0 until d).map(i => s"round(avg(v.v$i), 6) AS c$i")
      .mkString(", ")
    val cWords = (0 until words)
      .map(w => s"${wordExpr("c", w)} AS cw$w").mkString(",\n  ")
    val probeHam = (0 until words)
      .map(w => s"bit_count(xor(qc.qw$w, cw.cw$w))").mkString(" + ")
    val ham = (0 until words)
      .map(w => s"bit_count(xor(qc.qw$w, codes.w$w))").mkString(" + ")
    s"""WITH $binCtes,
       |labels AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label
       |  FROM embeddings),
       |cents AS (SELECT l.label AS cid, $centAvgs
       |  FROM v JOIN labels l ON l.id = v.id GROUP BY l.label),
       |cw AS (SELECT c.cid,
       |  $cWords
       |  FROM cents c CROSS JOIN m),
       |probes AS (SELECT query_id, cid FROM (
       |  SELECT qc.query_id, cw.cid,
       |    row_number() OVER (PARTITION BY qc.query_id
       |      ORDER BY $probeHam ASC, cw.cid ASC) AS rn
       |  FROM qc CROSS JOIN cw) WHERE rn <= $nProbes),
       |hamp AS (SELECT qc.query_id, codes.id,
       |  CAST($ham AS BIGINT) AS dist
       |  FROM qc CROSS JOIN codes
       |  JOIN labels l ON l.id = codes.id
       |  JOIN probes p ON p.query_id = qc.query_id AND p.cid = l.label),
       |hampr AS (SELECT query_id, id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, id ASC) AS rnk FROM hamp),
       |cand AS (SELECT query_id, neighbor_id FROM hampr
       |  WHERE rnk <= ${kReorder * kNN}),
       |exact AS (SELECT c.query_id, c.neighbor_id,
       |    ${l2.sqlExpr("q.q", "v.v", d)} AS dist
       |  FROM cand c
       |  JOIN v ON v.id = c.neighbor_id
       |  JOIN q ON q.query_id = c.query_id),
       |rr AS (SELECT query_id, neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, neighbor_id ASC) AS rnk FROM exact)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
       |FROM rr WHERE rnk <= $kNN ORDER BY query_id, rnk""".stripMargin
  }

  /** Two-stage MaxSim (q133): stage 1 ranks docs per query by cosine on
    * mean-POOLED bag vectors (per-dim fold in token order, one exact
    * division — MaxSim.pooled's contract) and keeps `candidates`; stage 2
    * re-scores only those with exact MaxSim. Same arithmetic as q131 on
    * the candidate subset. */
  def maxSimTwoStage(k: Int, groupSize: Int, qMod: Int, candidates: Int)
      : String = {
    val d = Tables.embDims
    def poolDims(prefix: String): String = (0 until d).map { i =>
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(ls, x -> x.v[${i + 1}])), (a, b) -> a + b) " +
        s"/ len(ls) AS $prefix$i"
    }.mkString(", ")
    val vecList =
      (1 to d).map(i => s"CAST(embedding[$i] AS DOUBLE)")
        .mkString("[", ", ", "]")
    s"""WITH v AS (
       |  SELECT vec_id // $groupSize AS doc_id,
       |    vec_id % $groupSize AS dtok, ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id // $groupSize AS query_id,
       |    vec_id % $groupSize AS qtok, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE (vec_id // $groupSize) % $qMod = 0),
       |dbag AS (SELECT vec_id // $groupSize AS doc_id,
       |  list_sort(list({'t': vec_id % $groupSize, 'v': $vecList}))
       |    AS ls FROM embeddings GROUP BY vec_id // $groupSize),
       |qbag AS (SELECT vec_id // $groupSize AS query_id,
       |  list_sort(list({'t': vec_id % $groupSize, 'v': $vecList}))
       |    AS ls FROM embeddings
       |  WHERE (vec_id // $groupSize) % $qMod = 0
       |  GROUP BY vec_id // $groupSize),
       |dpool AS (SELECT doc_id, ${poolDims("dp")} FROM dbag),
       |qpool AS (SELECT query_id, ${poolDims("qp")} FROM qbag),
       |cpairs AS (SELECT qq.query_id, dd.doc_id,
       |  ${Metric.Cosine.sqlExpr("qq.qp", "dd.dp", d)} AS sim
       |  FROM qpool qq CROSS JOIN dpool dd),
       |cand AS (SELECT query_id, doc_id FROM (
       |  SELECT query_id, doc_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, doc_id ASC) AS crnk
       |  FROM cpairs) x WHERE crnk <= $candidates),
       |pairs AS (
       |  SELECT q.query_id, v.doc_id, q.qtok,
       |    ${Metric.Cosine.sqlExpr("q.q", "v.v", d)} AS sim
       |  FROM q JOIN cand ON cand.query_id = q.query_id
       |  JOIN v ON v.doc_id = cand.doc_id),
       |pm AS (SELECT query_id, doc_id, qtok, max(sim) AS m
       |  FROM pairs GROUP BY query_id, doc_id, qtok),
       |s AS (SELECT query_id, doc_id,
       |  list_sort(list({'qtok': qtok, 'm': m})) AS ms
       |  FROM pm GROUP BY query_id, doc_id),
       |sc AS (SELECT query_id, doc_id,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(ms, x -> x.m)), (a, b) -> a + b) AS score
       |  FROM s),
       |r AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id ASC) AS rnk FROM sc)
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |  CAST(doc_id AS BIGINT) AS doc_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(floor(1000000000.0 * score) AS BIGINT) AS maxsim_nano
       |FROM r WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** Sharded-Vamana search with an exhaustive beam window ≡ exact top-k over
    * the nProbes label-shards nearest by (rounded) label-centroid distance —
    * the SQL-expressible form of q24_vamana_search. */
  /** `candPred` (over candidate alias `dt`) states q149's traverse-but-
    * filter contract: with a full window the filtered walk equals exact
    * kNN over probed shards WHERE the predicate holds. */
  def vamanaShardedKnn(k: Int, nProbes: Int, candPred: String = "TRUE")
      : String = vamanaShardedKnnDims(k, nProbes, embDimExprs, candPred)

  /** i8-quantized twin (q177): the stored f16 graph layout serves
    * integer-valued vectors (exactly binary16-representable), so the
    * oracle quantizes the data side — and the label centroids, which are
    * means OF the quantized values — with the q163 quantizer. */
  def vamanaShardedKnnI8(k: Int, nProbes: Int, scale: Double): String =
    vamanaShardedKnnDims(k, nProbes, embDimExprs.map(e =>
      s"CAST(LEAST(127, GREATEST(-128, " +
        s"CAST(FLOOR($e * $scale) AS BIGINT))) AS DOUBLE)"))

  private def vamanaShardedKnnDims(k: Int, nProbes: Int,
      dataDims: Seq[String], candPred: String = "TRUE"): String = {
    val d = Tables.embDims
    val centAvgs = (0 until d).map(i => s"round(avg(v$i), 6) AS c$i")
      .mkString(", ")
    s"""WITH data AS (
       |  SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
       |         ${dimCols("v", dataDims)}
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |cents AS (SELECT label AS cid, $centAvgs FROM data GROUP BY label),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${l2.sqlExpr("q.q", "c.c", d)} ASC, c.cid ASC) AS rn
       |    FROM q CROSS JOIN cents c) WHERE rn <= $nProbes),
       |cand AS (
       |  SELECT p.query_id, dt.id,
       |    ${l2.sqlExpr("q.q", "dt.v", d)} AS dist
       |  FROM probes p
       |  JOIN data dt ON dt.label = p.cid
       |  JOIN q ON q.query_id = p.query_id
       |  WHERE $candPred),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, id ASC) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Multi-vector label search (multi.h semantics): per-label min distance,
    * then the top-k labels per query; best_id is the label's closest vector
    * (ties by id). */
  /** Paged multi-label ranking (q66): the exact per-label ranking split
    * into `pages` pages of `k` with per-page rank renumbering — the
    * no-label-repeat iterator's output when its candidate ranking is
    * exact. */
  def multiLabelPages(k: Int, pages: Int): String = {
    val d = Tables.embDims
    s"""WITH data AS (
       |  SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
       |         ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |pairs AS (
       |  SELECT q.query_id, d.label, d.id,
       |         ${l2.sqlExpr("q.q", "d.v", d)} AS dist
       |  FROM q CROSS JOIN data d),
       |best AS (
       |  SELECT query_id, label, id AS best_id, dist,
       |    row_number() OVER (PARTITION BY query_id, label
       |      ORDER BY dist ASC, id ASC) AS rn
       |  FROM pairs),
       |ranked AS (
       |  SELECT query_id, label, best_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, label ASC) AS rnk
       |  FROM best WHERE rn = 1)
       |SELECT query_id,
       |  CAST(floor((rnk - 1) / CAST($k AS DOUBLE)) AS BIGINT) AS page,
       |  CAST((rnk - 1) % $k + 1 AS BIGINT) AS rnk, label, best_id
       |FROM ranked WHERE rnk <= ${k * pages}
       |ORDER BY query_id, page, rnk""".stripMargin
  }

  def multiLabelKnn(k: Int): String = {
    val d = Tables.embDims
    s"""WITH data AS (
       |  SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
       |         ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |pairs AS (
       |  SELECT q.query_id, d.label, d.id,
       |         ${l2.sqlExpr("q.q", "d.v", d)} AS dist
       |  FROM q CROSS JOIN data d),
       |best AS (
       |  SELECT query_id, label, id AS best_id, dist,
       |    row_number() OVER (PARTITION BY query_id, label
       |      ORDER BY dist ASC, id ASC) AS rn
       |  FROM pairs),
       |ranked AS (
       |  SELECT query_id, label, best_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, label ASC) AS rnk
       |  FROM best WHERE rn = 1)
       |SELECT query_id, rnk, label, best_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** [[multiLabelKnn]] with whole labels deleted (the reference's
    * MultiMutableVamanaIndex delete-label, multi.h:155): rows of deleted
    * labels vanish from the per-label minima AND the label ranking. */
  def multiLabelKnnExcludingLabels(k: Int, labelPred: String): String = {
    val d = Tables.embDims
    s"""WITH data AS (
       |  SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
       |         ${dimCols("v", embDimExprs)}
       |  FROM embeddings WHERE NOT ($labelPred)),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |pairs AS (
       |  SELECT q.query_id, d.label, d.id,
       |         ${l2.sqlExpr("q.q", "d.v", d)} AS dist
       |  FROM q CROSS JOIN data d),
       |best AS (
       |  SELECT query_id, label, id AS best_id, dist,
       |    row_number() OVER (PARTITION BY query_id, label
       |      ORDER BY dist ASC, id ASC) AS rn
       |  FROM pairs),
       |ranked AS (
       |  SELECT query_id, label, best_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, label ASC) AS rnk
       |  FROM best WHERE rn = 1)
       |SELECT query_id, rnk, label, best_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Flat embedding kNN with an excluded (tombstoned) id predicate (P8). */
  def embeddingKnnExcluding(metric: Metric, k: Int, excludePred: String)
      : String = {
    val d = Tables.embDims
    s"""WITH data AS (
       |  SELECT vec_id AS id, ${dimCols("v", embDimExprs)}
       |  FROM embeddings WHERE NOT ($excludePred)),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |pairs AS (
       |  SELECT q.query_id, d.id,
       |         ${metric.sqlExpr("q.q", "d.v", d)} AS dist
       |  FROM q CROSS JOIN data d),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY dist ${if (metric.ascending) "ASC" else "DESC"}, id ASC) AS rnk
       |  FROM pairs)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Post-consolidation contents of the dynamic table (M1-M4 round trip):
    * everything appended minus the soft-deleted ids. */
  def dynConsolidated(deletePred: String): String =
    s"""SELECT vec_id AS id, CAST(label AS BIGINT) AS label FROM embeddings
       |WHERE NOT ($deletePred) ORDER BY id""".stripMargin

  /** fvecs round trip is bit-exact for float32 sources, so the oracle is the
    * identity claim over the original table. */
  def fvecsRoundtrip: String =
    s"""SELECT vec_id AS id, CAST(len(embedding) AS BIGINT) AS dims,
       |CAST(1 AS BIGINT) AS matches FROM embeddings ORDER BY id""".stripMargin

  /** Synthetic LCG dataset kNN — DuckDB regenerates the dataset from the
    * same integer formula (graft.sources.SyntheticData.valueSql). */
  def syntheticKnn(n: Long, dims: Int, stride: Long, k: Int): String = {
    import graft.sources.SyntheticData.valueSql
    val dataDims = (0 until dims)
      .map(d => s"${valueSql("id", d.toString)} AS v$d").mkString(", ")
    val qDims = (0 until dims)
      .map(d => s"${valueSql("id", d.toString)} AS q$d").mkString(", ")
    s"""WITH data AS (SELECT id, $dataDims FROM range($n) t(id)),
       |q AS (SELECT id AS query_id, $qDims FROM range($n) t(id)
       |      WHERE id % $stride = 0),
       |pairs AS (
       |  SELECT q.query_id, d.id,
       |    ${l2.sqlExpr("q.q", "d.v", dims)} AS dist
       |  FROM q CROSS JOIN data d),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, id ASC) AS rnk
       |  FROM pairs)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Two-level inverted search (J4): nearest-leader assignment, ε-expanded
    * leader probe (keep leaders ≤ eps × k-th best leader distance), then
    * top-k over the probed clusters. `leaderPred` filters `data` rows by
    * their `id` column. */
  /** q108: [[invertedSearch]] over the REPLICATED clustering — assignment
    * keeps every leader within (1+epsRep)·d_nearest capped at maxReplicas
    * (ties → smaller lid), candidates dedupe by (query, id) before
    * ranking. epsRep = 0 ∧ maxReplicas = 1 degenerates to q31's
    * single-assignment oracle. */
  def invertedSearchReplicated(k: Int, nLeaders: Int, eps: Double,
                               leaderPred: String, epsRep: Double,
                               maxReplicas: Int): String = {
    val d = Tables.embDims
    val assignCte =
      s"""SELECT id, lid AS leader_id FROM (
         |    SELECT dt.id, l.lid,
         |      ${l2.sqlExpr("dt.v", "l.c", d)} AS adist,
         |      row_number() OVER (PARTITION BY dt.id
         |        ORDER BY ${l2.sqlExpr("dt.v", "l.c", d)} ASC, l.lid ASC)
         |        AS rn,
         |      min(${l2.sqlExpr("dt.v", "l.c", d)}) OVER (PARTITION BY dt.id)
         |        AS dmin
         |    FROM data dt CROSS JOIN leaders l)
         |  WHERE rn <= $maxReplicas
         |    AND adist <= (1.0 + $epsRep) * dmin""".stripMargin
    invertedSearchWith(k, nLeaders, eps, leaderPred, assignCte,
      dedup = true)
  }

  def invertedSearch(k: Int, nLeaders: Int, eps: Double, leaderPred: String)
      : String = {
    val d = Tables.embDims
    val assignCte =
      s"""SELECT id, lid AS leader_id FROM (
         |    SELECT dt.id, l.lid,
         |      row_number() OVER (PARTITION BY dt.id
         |        ORDER BY ${l2.sqlExpr("dt.v", "l.c", d)} ASC, l.lid ASC) AS rn
         |    FROM data dt CROSS JOIN leaders l) WHERE rn = 1""".stripMargin
    invertedSearchWith(k, nLeaders, eps, leaderPred, assignCte,
      dedup = false)
  }

  private def invertedSearchWith(k: Int, nLeaders: Int, eps: Double,
                                 leaderPred: String, assignCte: String,
                                 dedup: Boolean): String = {
    val d = Tables.embDims
    val lCols = (0 until d).map(i => s"v$i AS c$i").mkString(", ")
    s"""WITH data AS (
       |  SELECT vec_id AS id, ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |leaders AS (SELECT id AS lid, $lCols FROM data WHERE $leaderPred),
       |assign AS (
       |$assignCte),
       |lscore AS (
       |  SELECT q.query_id, l.lid,
       |    ${l2.sqlExpr("q.q", "l.c", d)} AS ldist
       |  FROM q CROSS JOIN leaders l),
       |kth AS (
       |  SELECT query_id, ldist AS dk FROM (
       |    SELECT query_id, ldist,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ldist ASC, lid ASC) AS rn
       |    FROM lscore) WHERE rn = least($nLeaders,
       |      (SELECT count(*) FROM leaders))),
       |probes AS (
       |  SELECT s.query_id, s.lid FROM lscore s
       |  JOIN kth ON kth.query_id = s.query_id
       |  WHERE s.ldist <= $eps * kth.dk),
       |cand AS (
       |  SELECT ${if (dedup) "DISTINCT" else ""} p.query_id, a.id,
       |    ${l2.sqlExpr("q.q", "dt.v", d)} AS dist
       |  FROM probes p
       |  JOIN assign a ON a.leader_id = p.lid
       |  JOIN data dt ON dt.id = a.id
       |  JOIN q ON q.query_id = p.query_id),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, id ASC) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Hierarchical two-level k-means assignment (A3): level-1 centroids, then
    * the nearest level-2 seed within the level-1 group (-1 if the group has
    * no seed). */
  def hierKmeans: String = {
    val d = Tables.liDims
    val seedsCte = groupedCte(Some(Tables.liL2SeedPredSql), "sid", "s")
    s"""WITH data AS ($dataCte),
       |cents AS ($centsCte),
       |seeds AS ($seedsCte),
       |assign AS ($assignCte),
       |sassign AS (
       |  SELECT sid, cid AS cluster_id FROM (
       |    SELECT s.sid, c.cid,
       |      row_number() OVER (PARTITION BY s.sid
       |        ORDER BY ${l2.sqlExpr("s.s", "c.c", d)} ASC, c.cid ASC) AS rn
       |    FROM seeds s CROSS JOIN cents c) WHERE rn = 1),
       |best AS (
       |  SELECT id, sid FROM (
       |    SELECT a.id, sa.sid,
       |      row_number() OVER (PARTITION BY a.id
       |        ORDER BY ${l2.sqlExpr("dt.v", "s.s", d)} ASC, sa.sid ASC) AS rn
       |    FROM assign a
       |    JOIN data dt ON dt.id = a.id
       |    JOIN sassign sa ON sa.cluster_id = a.cluster_id
       |    JOIN seeds s ON s.sid = sa.sid) WHERE rn = 1)
       |SELECT a.id, a.cluster_id AS l1_cluster,
       |  CAST(coalesce(b.sid, -1) AS BIGINT) AS l2_cluster
       |FROM assign a LEFT JOIN best b ON b.id = a.id
       |ORDER BY a.id""".stripMargin
  }

  /** IVF probe + compressed-scan + full-precision reorder (k_reorder) over
    * label-sharded embeddings with the global-min/max SQ codec. */
  def ivfReorder(k: Int, nProbes: Int, kReorder: Int): String = {
    val d = Tables.embDims
    val centAvgs = (0 until d).map(i => s"round(avg(v$i), 6) AS c$i")
      .mkString(", ")
    val lo = (0 until d).map(i => s"min(v$i)").mkString("least(", ", ", ")")
    val hi = (0 until d).map(i => s"max(v$i)").mkString("greatest(", ", ", ")")
    def codes(src: String, out: String) = (0 until d)
      .map(i => s"floor(($src$i - mm.lo) / ((mm.hi - mm.lo)/255.0) + 0.5) " +
        s"AS $out$i").mkString(", ")
    s"""WITH data AS (
       |  SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
       |         ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |cents AS (SELECT label AS cid, $centAvgs FROM data GROUP BY label),
       |mm AS (SELECT $lo AS lo, $hi AS hi FROM data),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${l2.sqlExpr("q.q", "c.c", d)} ASC, c.cid ASC) AS rn
       |    FROM q CROSS JOIN cents c) WHERE rn <= $nProbes),
       |dcodes AS (SELECT id, label, ${codes("v", "e")}
       |  FROM data CROSS JOIN mm),
       |qcodes AS (SELECT query_id, ${codes("q", "e")}
       |  FROM q CROSS JOIN mm),
       |coarse AS (
       |  SELECT p.query_id, dc.id,
       |    ${l2.sqlExpr("qc.e", "dc.e", d)} AS cdist
       |  FROM probes p
       |  JOIN dcodes dc ON dc.label = p.cid
       |  JOIN qcodes qc ON qc.query_id = p.query_id),
       |short AS (
       |  SELECT query_id, id FROM (
       |    SELECT query_id, id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cdist ASC, id ASC) AS rn
       |    FROM coarse) WHERE rn <= ${kReorder * k}),
       |fine AS (
       |  SELECT s.query_id, s.id,
       |    ${l2.sqlExpr("q.q", "dt.v", d)} AS dist
       |  FROM short s
       |  JOIN data dt ON dt.id = s.id
       |  JOIN q ON q.query_id = s.query_id),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, id ASC) AS rnk
       |  FROM fine)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Half-float codec invariants (S7/P5): every per-row count must equal the
    * dimension count — idempotency and error-bound checks are computed on the
    * Spark side (DuckDB has no IEEE-754 bit surgery), the oracle asserts
    * they hold at every position. */
  def halfRoundtrip: String =
    s"""SELECT vec_id AS id, CAST(len(embedding) AS BIGINT) AS dims,
       |CAST(len(embedding) AS BIGINT) AS f16_idem,
       |CAST(len(embedding) AS BIGINT) AS f16_close,
       |CAST(len(embedding) AS BIGINT) AS bf16_idem,
       |CAST(len(embedding) AS BIGINT) AS bf16_close
       |FROM embeddings ORDER BY id""".stripMargin

  /** Row reconstruction (P10): the reconstructed vectors' left-fold element
    * sums, micro-rounded — recomputed with the identical fold order. */
  def reconstructSum(pred: String): String = {
    val vsum = (0 until Tables.embDims).map(i => s"v$i").mkString(" + ")
    s"""WITH data AS (
       |  SELECT vec_id AS id, ${dimCols("v", embDimExprs)}
       |  FROM embeddings WHERE $pred)
       |SELECT id, CAST(${Tables.embDims} AS BIGINT) AS dims,
       |  CAST(floor(($vsum) * 1000000.0 + 0.5) AS BIGINT) AS vsum_micro
       |FROM data ORDER BY id""".stripMargin
  }

  /** Batch point-distance lookup (P11): L2 between each query vector and the
    * stored row at id = query_id + 1, micro-rounded. */
  def pointDistance: String = {
    val d = Tables.embDims
    s"""WITH data AS (
       |  SELECT vec_id AS id, ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql})
       |SELECT d.id,
       |  CAST(floor((${l2.sqlExpr("q.q", "d.v", d)}) * 1000000.0 + 0.5)
       |    AS BIGINT) AS dist_micro
       |FROM q JOIN data d ON d.id = q.query_id + 1
       |ORDER BY d.id""".stripMargin
  }

  /** Graph degree stats (A8): per-shard node counts equal the label counts
    * (the build keeps every row); the degree-bound flags are build
    * invariants asserted to hold. */
  def degreeStats: String =
    s"""SELECT CAST(label AS BIGINT) AS cluster_id,
       |CAST(count(*) AS BIGINT) AS nodes,
       |CAST(1 AS BIGINT) AS deg_le_cap, CAST(1 AS BIGINT) AS min_ge_one
       |FROM embeddings GROUP BY label ORDER BY cluster_id""".stripMargin

  /** Batch-iterator pages (M5): page p of size k = ranks pk+1..pk+k of the
    * exact ranking, re-ranked 1..k within the page. */
  def batchPages(k: Int, pages: Int): String = {
    val d = Tables.embDims
    s"""WITH data AS (
       |  SELECT vec_id AS id, ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |pairs AS (
       |  SELECT q.query_id, d.id,
       |         ${l2.sqlExpr("q.q", "d.v", d)} AS dist
       |  FROM q CROSS JOIN data d),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY dist ASC, id ASC) AS rnk
       |  FROM pairs)
       |SELECT query_id,
       |  CAST(floor((rnk - 1) / CAST($k AS DOUBLE)) AS BIGINT) AS page,
       |  CAST((rnk - 1) % $k + 1 AS BIGINT) AS rnk, neighbor_id
       |FROM ranked WHERE rnk <= ${k * pages}
       |ORDER BY query_id, page, rnk""".stripMargin
  }

  /** q25 invariant flags: a correct realistic-window search yields one row
    * per query with its pinned floor met (the spark side computes
    * matches ≥ floor; the oracle asserts the all-ones expectation over the
    * exact query-id set). */
  def vamanaRecallFlags: String =
    s"SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS ge_floor " +
      s"FROM embeddings WHERE ${Tables.embQueryPredSql} ORDER BY query_id"

  /** Calibration invariants (B7): a correct calibration achieves the target,
    * is minimal, and stays within the window bound — flags computed Spark-
    * side, asserted here. */
  def calibrateFlags: String =
    "SELECT CAST(1 AS BIGINT) AS achieved, CAST(1 AS BIGINT) AS minimal, " +
      "CAST(1 AS BIGINT) AS bounded"

  /** Post-mutation sharded search (M6): exact top-k over the probed shards
    * of the updated universe (deleted rows removed, added duplicates under
    * offset ids), with centroids recomputed over the update. */
  def updateShardsKnn(k: Int, nProbes: Int, offset: Long, addPred: String,
                      delPred: String): String = {
    val d = Tables.embDims
    val centAvgs = (0 until d).map(i => s"round(avg(v$i), 6) AS c$i")
      .mkString(", ")
    s"""WITH data AS (
       |  SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
       |         ${dimCols("v", embDimExprs)}
       |  FROM embeddings WHERE NOT ($delPred)
       |  UNION ALL
       |  SELECT vec_id + $offset AS id, CAST(label AS BIGINT) AS label,
       |         ${dimCols("v", embDimExprs)}
       |  FROM embeddings WHERE $addPred),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |cents AS (SELECT label AS cid, $centAvgs FROM data GROUP BY label),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${l2.sqlExpr("q.q", "c.c", d)} ASC, c.cid ASC) AS rn
       |    FROM q CROSS JOIN cents c) WHERE rn <= $nProbes),
       |cand AS (
       |  SELECT p.query_id, dt.id,
       |    ${l2.sqlExpr("q.q", "dt.v", d)} AS dist
       |  FROM probes p
       |  JOIN data dt ON dt.label = p.cid
       |  JOIN q ON q.query_id = p.query_id),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, id ASC) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Lloyd k-means training (A2), `iters` rounds unrolled: assign by argmin
    * (ties → lowest cid), recompute 6-decimal-rounded means (empty clusters
    * keep the previous centroid), then final-assignment cluster sizes —
    * mirrors KMeans.lloyd(roundTo = 6) exactly. */
  def kmeansTrain(iters: Int): String = {
    val d = Tables.embDims
    s"""WITH ${lloydCtes(iters)},
       |fin AS (${lloydAssignCte(s"c$iters", d)})
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS cnt FROM fin
       |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
  }

  /** The q06/q12 assignment contract as a CTE body: argmin L2 over
    * `centName` (ties → lowest cid) for every row of `data`. */
  def lloydAssignCte(centName: String, d: Int): String = {
    val l2 = Metric.L2
    s"""SELECT id, cid AS cluster_id FROM (
       |    SELECT dt.id, c.cid,
       |      row_number() OVER (PARTITION BY dt.id
       |        ORDER BY ${l2.sqlExpr("dt.v", "c.c", d)} ASC, c.cid ASC) AS rn
       |    FROM data dt CROSS JOIN $centName c) WHERE rn = 1""".stripMargin
  }

  /** The unrolled Lloyd CTE chain (shared by q12 and q105): `data` (id,
    * v0..), `c0` (init = embedding queries), then a1/c1 … a_iters/c_iters —
    * c_iters are the trained 6-decimal-rounded centroids, mirroring
    * `KMeans.lloyd(roundTo = 6)` exactly. */
  def lloydCtes(iters: Int): String = {
    val d = Tables.embDims
    val dataCte =
      s"SELECT vec_id AS id, ${dimCols("v", embDimExprs)} FROM embeddings"
    val initCte = s"SELECT vec_id AS cid, ${dimCols("c", embDimExprs)} " +
      s"FROM embeddings WHERE ${Tables.embQueryPredSql}"
    def assignCte(centName: String): String = lloydAssignCte(centName, d)
    def meansCte(assignName: String, prevName: String): String = {
      val avgCols = (0 until d).map(i => s"round(avg(dt.v$i), 6) AS m$i")
        .mkString(", ")
      val outCols = (0 until d).map(i => s"coalesce(m.m$i, p.c$i) AS c$i")
        .mkString(", ")
      s"""SELECT p.cid, $outCols FROM $prevName p LEFT JOIN (
         |    SELECT a.cluster_id, $avgCols
         |    FROM $assignName a JOIN data dt ON dt.id = a.id
         |    GROUP BY a.cluster_id) m ON m.cluster_id = p.cid""".stripMargin
    }
    val iterCtes = (1 to iters).flatMap { n =>
      Seq(s"a$n AS (${assignCte(s"c${n - 1}")})",
        s"c$n AS (${meansCte(s"a$n", s"c${n - 1}")})")
    }
    s"""data AS ($dataCte),
       |c0 AS ($initCte),
       |${iterCtes.mkString(",\n")}""".stripMargin
  }

  /** Decode-free IP/cosine over scalar-quantization codes
    * (ScalarQuant.searchOnCodes): the identical affine algebra —
    * IP(dec a, dec b) = s²·dot + s·b·(Σa+Σb) + d·b², norms from Σc/Σc² —
    * replayed with the same expression structure for bit-identical
    * doubles. */
  def sqCodeSearch(metric: Metric, k: Int): String = {
    val d = Tables.embDims
    val lo = (0 until d).map(i => s"min(v$i)").mkString("least(", ", ", ")")
    val hi = (0 until d).map(i => s"max(v$i)")
      .mkString("greatest(", ", ", ")")
    def codes(src: String, out: String) = (0 until d)
      .map(i => s"floor(($src$i - b) / s + 0.5) AS $out$i").mkString(", ")
    val csum = (0 until d).map(i => s"c$i").mkString("(", " + ", ")")
    val csumsq = (0 until d).map(i => s"c$i * c$i").mkString("(", " + ", ")")
    val qsum = (0 until d).map(i => s"e$i").mkString("(", " + ", ")")
    val qsumsq = (0 until d).map(i => s"e$i * e$i").mkString("(", " + ", ")")
    val dot = (0 until d).map(i => s"qs.e$i * ds.c$i").mkString(" + ")
    val ip = s"(s * s) * ($dot) + (s * b) * (qs.qsum + ds.csum) + " +
      s"$d.0 * (b * b)"
    val dist = metric match {
      case Metric.IP => ip
      case _ =>
        s"($ip) / (sqrt((s * s) * qs.qsumsq + (2 * s * b) * qs.qsum + " +
          s"$d.0 * (b * b)) * sqrt((s * s) * ds.csumsq + " +
          s"(2 * s * b) * ds.csum + $d.0 * (b * b)))"
    }
    s"""WITH data AS (
       |  SELECT vec_id AS id, ${dimCols("v", embDimExprs)}
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |mm AS (SELECT $lo AS lo, $hi AS hi FROM data),
       |pp AS (SELECT CASE WHEN hi > lo THEN (hi - lo) / 255.0
       |  ELSE 1.0 END AS s, lo AS b FROM mm),
       |dc AS (SELECT id, ${codes("v", "c")} FROM data CROSS JOIN pp),
       |ds AS (SELECT *, $csum AS csum, $csumsq AS csumsq FROM dc),
       |qc AS (SELECT query_id, ${codes("q", "e")} FROM q CROSS JOIN pp),
       |qs AS (SELECT *, $qsum AS qsum, $qsumsq AS qsumsq FROM qc),
       |pairs AS (
       |  SELECT qs.query_id, ds.id, $dist AS dist
       |  FROM qs CROSS JOIN ds CROSS JOIN pp),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist DESC, id ASC) AS rnk
       |  FROM pairs)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Shared CTE chain for the LVQ-style two-level residual codec (mirrors
    * graft.operators.Lvq.encode exactly, including parenthesization, so the
    * doubles are bit-identical): mean-center, per-vector affine SQ (255
    * levels), residual, second per-vector affine SQ. */
  private def lvqCtes: String = {
    val d = Tables.embDims
    val ms = (0 until d).map(i => s"round(avg(v$i), 6) AS m$i").mkString(", ")
    val us = (0 until d).map(i => s"v$i - m$i AS u$i").mkString(", ")
    val loHi1 = s"${(0 until d).map(i => s"u$i").mkString("least(", ", ", ")")} AS lo1, " +
      s"${(0 until d).map(i => s"u$i").mkString("greatest(", ", ", ")")} AS hi1"
    val c1s = (0 until d)
      .map(i => s"floor((u$i - lo1) / s1 + 0.5) AS c1_$i").mkString(", ")
    val rs = (0 until d)
      .map(i => s"u$i - (lo1 + s1 * c1_$i) AS r$i").mkString(", ")
    val loHi2 = s"${(0 until d).map(i => s"r$i").mkString("least(", ", ", ")")} AS lo2, " +
      s"${(0 until d).map(i => s"r$i").mkString("greatest(", ", ", ")")} AS hi2"
    val c2s = (0 until d)
      .map(i => s"floor((r$i - lo2) / s2 + 0.5) AS c2_$i").mkString(", ")
    s"""data AS (
       |  SELECT vec_id AS id, ${dimCols("v", embDimExprs)} FROM embeddings),
       |m AS (SELECT $ms FROM data),
       |u AS (SELECT id, $us FROM data CROSS JOIN m),
       |l1 AS (SELECT *, $loHi1 FROM u),
       |p1 AS (SELECT *, CASE WHEN hi1 > lo1 THEN (hi1 - lo1) / 255.0
       |  ELSE 1.0 END AS s1 FROM l1),
       |cl1 AS (SELECT *, $c1s FROM p1),
       |r AS (SELECT *, $rs FROM cl1),
       |l2 AS (SELECT *, $loHi2 FROM r),
       |p2 AS (SELECT *, CASE WHEN hi2 > lo2 THEN (hi2 - lo2) / 255.0
       |  ELSE 1.0 END AS s2 FROM l2),
       |cl2 AS (SELECT *, $c2s FROM p2)""".stripMargin
  }

  /** LVQ two-level codes, exploded (id, pos, code1, code2). */
  def lvqCodes: String = {
    val d = Tables.embDims
    val unpivot = (0 until d)
      .map(i => s"SELECT id, $i AS pos, CAST(c1_$i AS BIGINT) AS code1, " +
        s"CAST(c2_$i AS BIGINT) AS code2 FROM cl2")
      .mkString(" UNION ALL ")
    s"""WITH $lvqCtes,
       |unp AS ($unpivot)
       |SELECT id, CAST(pos AS BIGINT) AS pos, code1, code2 FROM unp
       |ORDER BY id, pos""".stripMargin
  }

  /** LVQ two-pass compressed search: coarse exhaustive rank on the level-1
    * reconstruction, exact re-rank of kReorder·k on level-1 + residual. */
  def lvqSearch(k: Int, kReorder: Int): String = {
    val d = Tables.embDims
    val w1 = (0 until d)
      .map(i => s"m$i + (lo1 + s1 * c1_$i) AS w$i").mkString(", ")
    val w2 = (0 until d)
      .map(i => s"(m$i + (lo1 + s1 * c1_$i)) + (lo2 + s2 * c2_$i) AS x$i")
      .mkString(", ")
    s"""WITH $lvqCtes,
       |dec AS (SELECT id, $w1, $w2 FROM cl2 CROSS JOIN m),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |coarse AS (
       |  SELECT q.query_id, dc.id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${l2.sqlExpr("q.q", "dc.w", d)} ASC, dc.id ASC) AS rn
       |  FROM q CROSS JOIN dec dc),
       |short AS (SELECT query_id, id FROM coarse WHERE rn <= ${kReorder * k}),
       |fine AS (
       |  SELECT s.query_id, s.id,
       |    ${l2.sqlExpr("q.q", "dc.x", d)} AS dist
       |  FROM short s
       |  JOIN dec dc ON dc.id = s.id
       |  JOIN q ON q.query_id = s.query_id),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, id ASC) AS rnk
       |  FROM fine)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** IVF probe + LVQ coarse scan + two-level re-rank (q58): probes pick the
    * nProbes nearest label-cluster centroids, the coarse pass ranks the
    * probed clusters on the level-1 reconstruction w (identical association
    * to Lvq1Distance: m + (lo1 + s1·c1)), the shortlist re-ranks on the
    * two-level reconstruction x. */
  def lvqIvfReorder(k: Int, nProbes: Int, kReorder: Int): String = {
    val d = Tables.embDims
    val centAvgs = (0 until d).map(i => s"round(avg(d.v$i), 6) AS c$i")
      .mkString(", ")
    val w1 = (0 until d)
      .map(i => s"m$i + (lo1 + s1 * c1_$i) AS w$i").mkString(", ")
    val w2 = (0 until d)
      .map(i => s"(m$i + (lo1 + s1 * c1_$i)) + (lo2 + s2 * c2_$i) AS x$i")
      .mkString(", ")
    s"""WITH $lvqCtes,
       |lab AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label
       |  FROM embeddings),
       |cents AS (
       |  SELECT l.label AS cid, $centAvgs
       |  FROM data d JOIN lab l ON l.id = d.id GROUP BY l.label),
       |dec AS (SELECT id, $w1, $w2 FROM cl2 CROSS JOIN m),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${l2.sqlExpr("q.q", "c.c", d)} ASC, c.cid ASC) AS rn
       |    FROM q CROSS JOIN cents c) WHERE rn <= $nProbes),
       |coarse AS (
       |  SELECT p.query_id, dc.id,
       |    ${l2.sqlExpr("q.q", "dc.w", d)} AS cdist
       |  FROM probes p
       |  JOIN lab l ON l.label = p.cid
       |  JOIN dec dc ON dc.id = l.id
       |  JOIN q ON q.query_id = p.query_id),
       |short AS (
       |  SELECT query_id, id FROM (
       |    SELECT query_id, id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cdist ASC, id ASC) AS rn
       |    FROM coarse) WHERE rn <= ${kReorder * k}),
       |fine AS (
       |  SELECT s.query_id, s.id,
       |    ${l2.sqlExpr("q.q", "dc.x", d)} AS dist
       |  FROM short s
       |  JOIN dec dc ON dc.id = s.id
       |  JOIN q ON q.query_id = s.query_id),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, id ASC) AS rnk
       |  FROM fine)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** kNN over the 64-d embeddings table (DuckDB lists are 1-indexed). */
  def embeddingKnn(metric: Metric, k: Int): String =
    embeddingKnnDims(metric, k, embDimExprs)

  /** i8-resident twin (q163): data dims quantize exactly as
    * `ByteVecs.quantizeSigned(vec, scale)` — FLOOR then BIGINT clamp,
    * every step replayed verbatim — then widen back to DOUBLE, certifying
    * the byte-resident scan branch + computeDB kernel end-to-end (the
    * datatype-parity analog of the f32 REAL-cast oracle). Queries stay
    * full-precision double, as in the engine. */
  def embeddingKnnI8(metric: Metric, k: Int, scale: Double): String =
    embeddingKnnDims(metric, k, embDimExprs.map(e =>
      s"CAST(LEAST(127, GREATEST(-128, " +
        s"CAST(FLOOR($e * $scale) AS BIGINT))) AS DOUBLE)"))

  /** u8 twin (q164): `ByteVecs.quantizeUnsigned` semantics — the +128
    * shift before clamp to [0,255]; the engine stores the raw byte
    * pattern and widens with & 0xFF back to exactly this value. */
  def embeddingKnnU8(metric: Metric, k: Int, scale: Double): String =
    embeddingKnnDims(metric, k, embDimExprs.map(e =>
      s"CAST(LEAST(255, GREATEST(0, " +
        s"CAST(FLOOR($e * $scale + 128) AS BIGINT))) AS DOUBLE)"))

  /** i8 twin with a deleted-id exclusion (q168: the byte dynamic
    * lifecycle — segments quantized to TINYINT, soft deletes applied,
    * consolidated, searched). */
  def embeddingKnnI8Excluding(metric: Metric, k: Int, scale: Double,
                              excludePred: String): String =
    embeddingKnnDims(metric, k, embDimExprs.map(e =>
      s"CAST(LEAST(127, GREATEST(-128, " +
        s"CAST(FLOOR($e * $scale) AS BIGINT))) AS DOUBLE)"),
      dataPred = Some(s"NOT ($excludePred)"))

  private def embeddingKnnDims(metric: Metric, k: Int,
                               dataDims: Seq[String],
                               dataPred: Option[String] = None): String = {
    val d = Tables.embDims
    val where = dataPred.map(p => s" WHERE $p").getOrElse("")
    s"""WITH data AS (
       |  SELECT vec_id AS id, ${dimCols("v", dataDims)}
       |  FROM embeddings$where),
       |q AS (
       |  SELECT vec_id AS query_id, ${dimCols("q", embDimExprs)}
       |  FROM embeddings WHERE ${Tables.embQueryPredSql}),
       |pairs AS (
       |  SELECT q.query_id, d.id,
       |         ${metric.sqlExpr("q.q", "d.v", d)} AS dist
       |  FROM q CROSS JOIN data d),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY dist ${if (metric.ascending) "ASC" else "DESC"}, id ASC) AS rnk
       |  FROM pairs)
       |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }
}
