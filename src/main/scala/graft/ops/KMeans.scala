package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-integer k-means (Lloyd's) over embedding columns — the
  * clustering primitive behind SEMANTIC corpus operations: SemDeDup-
  * style "cluster, then near-dup only within clusters", cluster-
  * balanced mixture sampling, and per-cluster diversity selection.
  *
  * Determinism contract (the q45/x7/q50 exact-integer pattern):
  * vectors are quantized to `floor(x * scale)` BIGINTs up front, so
  * squared distances are exact integers, the argmin tie-break is
  * (distance, centroid id) — both total orders — and the centroid
  * update is `floor(sum / count)` computed via double (exact while
  * |sum| < 2^53). Every step is reproducible bit-for-bit by any engine
  * from the same parquet, which is what upgrades an iterative float
  * algorithm from rows-only to a full hash oracle.
  *
  * Execution shape (the MLlib k-means contract, expression-form):
  *  - the quantized frame is the ONLY corpus-scale state; it is
  *    persisted once and scanned once per iteration;
  *  - centroids are DRIVER FIT STATE (k x dims BIGINTs — same contract
  *    as the imputer's means or the indexer's map), shipped back into
  *    the plan as literals, so assignment is a NARROW codegen'd map:
  *    zero shuffles, zero joins;
  *  - the update is one k*dims-cell aggregation per iteration
  *    (posexplode -> groupBy(cluster, dim)) — the same O(params)
  *    per-iteration reduction every trainer in `ml/` does. At 100 TB
  *    the aggregation is the map-side-combined sum k-means always
  *    needs; nothing here scales with pair counts.
  *
  * Init: the k vectors with the smallest ids (deterministic and
  * oracle-replayable; k-means++ would need engine-seeded randomness the
  * oracle could not replay). Empty clusters keep their previous
  * centroid, as MLlib does.
  */
object KMeans {

  /** floor(x * scale) per dimension, as BIGINTs. The float is widened
    * to double BEFORE the multiply (float32 -> float64 is exact) so
    * both engines compute the same IEEE product — a float-precision
    * multiply rounds differently near integer boundaries and flips
    * floor() by one ulp (observed: 2/500 fixture vectors). */
  def quantize(vec: Column, scale: Int): Column =
    transform(vec, x => floor(x.cast("double") * scale).cast("long"))

  /** Exact squared L2 distance between a quantized vector column and a
    * literal centroid — the codegen'd fused-loop kernel
    * ([[graft.functions.VecDist2]]); bit-identical to the
    * `aggregate(zip_with(...))` form (exact integers), without the
    * per-element lambda dispatch or the intermediate diff array.
    * Retained (with [[composedAssignCols]]) as the equivalence pin for
    * the fused assignment kernel. */
  private def dist2(spark: org.apache.spark.sql.SparkSession,
      v: Column, c: Seq[Long]): Column =
    graft.functions.VecDist2.vecDist2(spark, v, typedLit(c))

  /** The COMPOSED assignment form — k vec_dist2 columns + array_min +
    * array_position — kept as the spec oracle for the fused kernel
    * ([[graft.functions.KMeansAssignExpr]]); KMeansSpec pins the two
    * bit-identical. Not used on the hot path: the k-wide tree is
    * evaluated up to 3x per row and falls off codegen at reference-
    * scale k (measured ~300 µs/row at k=80 vs ~1 µs fused; CHANGELOG,
    * SURVEY §7.4b). */
  private[graft] def composedAssignCols(
      spark: org.apache.spark.sql.SparkSession,
      cents: Seq[Seq[Long]]): (Column, Column) = {
    val ds = array(cents.map(c => dist2(spark, col("v"), c)): _*)
    ((array_position(ds, array_min(ds)) - 1).cast("int"), array_min(ds))
  }

  /** Run `iters` assignment passes (iters - 1 centroid updates) and
    * return (final centroids, final assignment frame
    * (idCol, cluster, dist)).
    *
    * Thread-safe with concurrent queries on the caller's session: the
    * AQE toggle lives on a [[graft.FitSession]] clone (the
    * [[graft.ops.Dedup.resolveClusters]] /
    * [[graft.ops.PageRank.run]] contract). */
  def fit(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int, scale: Int = 10000): (Seq[Seq[Long]], DataFrame) = {
    require(k >= 1 && iters >= 1, "k and iters must be positive")
    // AQE OFF for the fit's own driver-loop actions (init collect +
    // per-iteration cell-agg collects over the small cached quantized
    // frame), on a conf-isolated session clone — the resolveClusters
    // rationale: per-stage AQE materialization adds driver round-trips
    // per tiny job and re-plans nothing the cache stats don't already
    // decide. The returned lazy assignment frame is rebound to the
    // CALLER's session, so consumers plan it under the caller's own
    // AQE setting (and hit the shared cache for the quantized frame).
    val caller = df.sparkSession
    val fit = graft.FitSession.aqeOff(caller)
    val (cents, res) = fitLoop(graft.FitSession.rebind(df, fit),
      vecCol, idCol, k, iters, scale)
    (cents, graft.FitSession.rebind(res, caller))
  }

  private def fitLoop(df: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int, scale: Int): (Seq[Seq[Long]], DataFrame) = {
    // NOT spread: the per-pass compute is k*dims multiply-adds per row
    // (cheap), and the fit is a driver loop of small jobs — fanning a
    // single-row-group fixture scan to defaultParallelism would
    // multiply every pass's task count for no CPU win (measured: 1.6s
    // -> 0.74s for the x17 entry at sf0.1 without it). At real scale
    // the input arrives in thousands of splits and parallelism comes
    // from the files themselves.
    val q = df.select(col(idCol), quantize(col(vecCol), scale).as("v"))
      .persist()
    try {
      // init: k smallest ids, centroid id = rank in id order
      var cents: Seq[Seq[Long]] = q.orderBy(idCol).limit(k)
        .select("v").collect().map(_.getSeq[Long](0).toIndexedSeq).toSeq
      var result: DataFrame = null
      for (it <- 1 to iters) {
        // fused argmin kernel, materialized as ONE struct column first
        // so cluster and dist project from the same evaluation (two
        // getField copies of the expression would re-run the k×dims
        // loop per field on the interpreted path)
        val assigned = q
          .withColumn("__a", graft.functions.KMeansAssignExpr
            .assign(df.sparkSession, col("v"), cents))
          .select(col(idCol), col("v"),
            col("__a.cluster").as("cluster"), col("__a.dist").as("dist"))
        if (it < iters) {
          // k*dims-cell aggregation -> driver; floor(sum/count) via
          // double (exact below 2^53, and identical to the oracle's
          // CAST(floor(CAST(s AS DOUBLE)/n) AS BIGINT))
          // Exactness bounds: floor(sum/count) via double is exact while
          // |sum| < 2^53; beyond that the division rounds, and beyond
          // 2^63 the LongType sum itself wraps silently (non-ANSI
          // Spark) where the DuckDB oracle promotes to HUGEINT before
          // its DOUBLE cast — so at extreme cluster sizes the engines
          // can diverge via overflow, not just rounding. With
          // scale=10000 and unit-norm embeddings (|cell| <= 1e4) the
          // 2^53 bound holds to ~9e11 rows per cluster, the 2^63 one to
          // ~9e14 — document, don't pay a decimal sum on the hot path.
          val cells = assigned.select(col("cluster"), posexplode(col("v")))
            .groupBy("cluster", "pos")
            .agg(sum("col").as("s"), count(lit(1)).as("n"))
            .collect()
          val byCluster = cells.groupBy(_.getInt(0))
          cents = cents.zipWithIndex.map { case (prev, cid) =>
            byCluster.get(cid) match {
              case Some(rows) =>
                rows.sortBy(_.getInt(1)).toIndexedSeq.map(r =>
                  math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong)
              case None => prev // empty cluster keeps its centroid
            }
          }
        } else result = assigned
      }
      (cents, result.select(col(idCol), col("cluster"), col("dist")))
    } catch { case e: Throwable => q.unpersist(); throw e }
    // On success q stays persisted: the returned assignment plan READS
    // it, and every registry consumer (x17 orderBy, x18 window, x19
    // self-join — which scans the assignment twice) would otherwise
    // recompute quantize + assignment from the source scan per
    // consumer. Lifecycle passes to the runner's clearCache() — the
    // blockedIntersection / Q36 pattern. Because q's canonicalized
    // plan is IDENTICAL for every registry caller (same table, cols,
    // scale), the six k-means entries declare one bench sharedInput
    // group ("embeddings_kmeans_quantized") and read one warmed fill
    // (Registry.Entry.sharedInput; Verify still isolates per entry).
  }

  /** DuckDB replay of [[fit]] + final assignment over `table`
    * (idCol, vecCol list column of `dims` floats): quantize, k
    * smallest-id init, `iters - 1` unrolled update steps, final
    * assignment — chained CTEs, the q45 unrolled-iteration pattern.
    * Output: (idCol, cluster, dist) — append ORDER BY / further stages
    * at the call site. */
  def fitSql(table: String, vecCol: String, idCol: String, k: Int,
      iters: Int, dims: Int, scale: Int = 10000): String = {
    def distSql(v: String, c: String) =
      s"list_sum(list_transform(generate_series(1, $dims), " +
        s"i -> ($v[i]-$c[i])*($v[i]-$c[i])))"
    // inline dist + two nesting levels: DuckDB v1.0 lambdas cannot
    // capture LATERAL outer columns, and the window must see the alias
    def assignSql(prev: String, out: String) =
      s"""$out AS (
            SELECT $idCol, v, cid, dist FROM (
              SELECT *, row_number() OVER (PARTITION BY $idCol
                       ORDER BY dist, cid) AS rn FROM (
                SELECT q.$idCol, q.v, c.cid,
                       ${distSql("q.v", "c.cv")} AS dist
                FROM q CROSS JOIN $prev c))
            WHERE rn = 1)"""
    def updateSql(assign: String, prev: String, out: String) =
      s"""$out AS (
            SELECT p.cid, coalesce(nn.cv, p.cv) AS cv
            FROM $prev p LEFT JOIN (
              SELECT cluster AS cid, list(m ORDER BY i) AS cv FROM (
                SELECT a.cid AS cluster, t.i,
                       CAST(floor(CAST(sum(a.v[t.i]) AS DOUBLE)
                            / count(*)) AS BIGINT) AS m
                FROM $assign a CROSS JOIN generate_series(1, $dims) t(i)
                GROUP BY a.cid, t.i)
              GROUP BY cluster) nn ON p.cid = nn.cid)"""
    val steps = (1 until iters).flatMap(i => Seq(
      assignSql(s"c${i - 1}", s"a$i"),
      updateSql(s"a$i", s"c${i - 1}", s"c$i"))) :+
      assignSql(s"c${iters - 1}", s"a$iters")
    s"""WITH q AS (SELECT $idCol, list_transform($vecCol,
              x -> CAST(floor(CAST(x AS DOUBLE)*$scale) AS BIGINT)) AS v
            FROM $table),
        c0 AS (SELECT row_number() OVER (ORDER BY $idCol) - 1 AS cid,
                      v AS cv
               FROM q ORDER BY $idCol LIMIT $k),
        ${steps.mkString(",\n        ")}
        SELECT $idCol, cid AS cluster, CAST(dist AS BIGINT) AS dist
        FROM a$iters"""
  }
}
