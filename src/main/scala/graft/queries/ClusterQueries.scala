package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.{KMeans, Sparse}

/** Clustering + sparse-retrieval queries: Lloyd's k-means over the
  * embeddings table (cluster-based curation) and champion-list tf-idf
  * top-k over documents (lexical retrieval). Both are
  * oracle-replayable: deterministic init, exact-decimal accumulation,
  * explicit tie-breaks — the DuckDB SQL unrolls the same iterations.
  */
object ClusterQueries {

  private val K = 8
  private val Dim = 64
  private val Iters = 5

  /** Temp path of the persisted k-means model for the routing/drift
    * queries, fitted + written once per data directory (the fixture is
    * the MODEL WRITE; the queries under test are the artifact reads).
    */
  private def persistedModel(s: SparkSession, dir: String)
      : (Map[Int, Seq[Double]], DataFrame) = {
    val path = graft.TempDirs.once("kmmodel", dir) {
      val p = graft.TempDirs.dir("graft_kmmodel").toString
      val (assign, model) = KMeans.fit(t(s, dir, "embeddings"),
        k = K, dim = Dim, iters = Iters)
      KMeans.writeModel(s, p, model, assign)
      p
    }
    KMeans.readModel(s, path)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_kmeans" -> ((s, dir) => {
      KMeans.fit(t(s, dir, "embeddings"), k = K, dim = Dim,
        iters = Iters)._1
    }),

    // ---- routing against the PERSISTED model artifact: the daily
    //      job's read path — centroids come off parquet (KMeans
    //      .writeModel, the IVF-centroid treatment), assignment is the
    //      map-side plan-literal argmin, the corpus is never re-fit.
    //      Must equal s_kmeans exactly — same quantizer, same
    //      tie-break (the artifact round-trips doubles bit-for-bit) ----
    "s_kmeans_route" -> ((s, dir) => {
      val (model, _) = persistedModel(s, dir)
      KMeans.assignTo(t(s, dir, "embeddings"), model)
    }),

    // ---- drift check against the SAME artifact: a shifted batch
    //      (vectors exactly halved — a power-of-two scale, so the
    //      oracle replays it bit-for-bit) routes through the persisted
    //      centroids, and its per-cluster occupancy and mean distance
    //      stand against the training baseline the artifact stores.
    //      Integer-ppm shares, exact-decimal means; a cluster absent
    //      on either side keeps its row (full outer) with n = 0 —
    //      the report a daily job alerts on before trusting routed
    //      data ----
    "s_kmeans_drift" -> ((s, dir) => {
      val (model, stats) = persistedModel(s, dir)
      val halved = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => x * lit(0.5)).as("embedding"))
      val fresh = KMeans.assignTo(halved, model)
        .groupBy("cid").agg(count(lit(1)).as("new_n"),
          round(sum(col("dist").cast("decimal(28,6)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("new_mean_dist"))
      val base = stats.select(col("cid"), col("n").as("base_n"),
        col("mean_dist").as("base_mean_dist"))
      val tots = base.agg(sum("base_n").as("tb"))
        .crossJoin(fresh.agg(sum("new_n").as("tn")))
      base.join(fresh, Seq("cid"), "full_outer")
        .crossJoin(broadcast(tots))
        .select(col("cid"),
          coalesce(col("base_n"), lit(0L)).as("base_n"),
          coalesce(col("new_n"), lit(0L)).as("new_n"),
          expr("coalesce(base_n, 0L) * 1000000 div tb")
            .as("base_share_ppm"),
          expr("coalesce(new_n, 0L) * 1000000 div tn")
            .as("new_share_ppm"),
          col("base_mean_dist"), col("new_mean_dist"))
    }),

    "s_sparse_topk" -> ((s, dir) => {
      Sparse.topK(t(s, dir, "documents"), "doc_id", "text",
        queryPred = col("doc_id") < 50, k = 3, championK = 16)
    }),

    // ---- simplified (centroid-based) silhouette per cluster: the
    //      fit-quality gate on the s_kmeans model. For each point,
    //      a = distance to its own centroid, b = distance to the
    //      nearest OTHER centroid, s = (b-a)/max(a,b) — all map-side
    //      against the k-centroid plan literal (k structs sorted by
    //      (dist, cid), the exact assignment tie-break), so the only
    //      shuffle is the k-group mean agg. True silhouette's O(n^2)
    //      pairwise form never appears; the centroid form is the one
    //      that exists at 100 TB. ----
    "s_silhouette" -> ((s, dir) => {
      // the model comes off the persisted artifact (bit-equal to a
      // fresh fit — the KMeansSpec lifecycle law), so the fit runs
      // once per data directory across the cluster queries instead of
      // once per query (the r10 verdict's 'pays twice' observation)
      val (model, _) = persistedModel(s, dir)
      val vq = transform(col("embedding").cast("array<double>"),
        x => round(x, 9))
      val pts = t(s, dir, "embeddings")
        .select(col("vec_id"), vq.as("v"))
      val dcols = (0 until K).map { cid =>
        struct(
          aggregate(zip_with(col("v"), typedLit(model(cid)),
            (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x).as("d"),
          lit(cid).as("cid"))
      }
      pts.withColumn("ds", array_sort(array(dcols: _*)))
        .withColumn("da", sqrt(element_at(col("ds"), 1).getField("d")))
        .withColumn("db", sqrt(element_at(col("ds"), 2).getField("d")))
        .withColumn("cid", element_at(col("ds"), 1).getField("cid"))
        .withColumn("sv", round(
          when(greatest(col("da"), col("db")) === 0.0, lit(0.0))
            .otherwise((col("db") - col("da")) /
              greatest(col("da"), col("db"))), 9))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          round(sum(col("sv").cast("decimal(28,9)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_sil"))
    })
  )

  /** Squared-L2 between point alias `$v` and centroid alias `$c` as the
    * same left-associated fold the engine computes. */
  private def dist(v: String, c: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${Dim + 1}),
       |      i -> ($v.v[CAST(i AS INT)] - $c.cv[CAST(i AS INT)])
       |         * ($v.v[CAST(i AS INT)] - $c.cv[CAST(i AS INT)]))),
       |      (a, b) -> a + b)""".stripMargin

  /** One unrolled Lloyd iteration: assign to c$i, recompute means,
    * carry lost centroids forward. */
  private def iterCtes(i: Int): String =
    s"""a${i + 1} AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dist("e", "c")} ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c$i c)
       |  WHERE rn = 1),
       |m${i + 1} AS (
       |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
       |    SELECT a.cid AS cid, p.pos AS pos,
       |      CAST(SUM(CAST(a.v[p.pos + 1] AS DECIMAL(28,9))) AS DOUBLE)
       |        / COUNT(*) AS m
       |    FROM a${i + 1} a CROSS JOIN
       |      (SELECT CAST(unnest(range(0, $Dim)) AS INT) AS pos) p
       |    GROUP BY a.cid, p.pos)
       |  GROUP BY cid),
       |c${i + 1} AS (
       |  SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
       |  FROM c$i p LEFT JOIN m${i + 1} m ON p.cid = m.cid)""".stripMargin

  private val kmeansSql: String = {
    val iters = (0 until Iters).map(iterCtes).mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> ROUND(x, 9)) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
       |      AS cid, v AS cv
       |  FROM e ORDER BY vec_id LIMIT $K),
       |$iters
       |SELECT vec_id, cid, ROUND(d, 6) AS dist FROM (
       |  SELECT e.vec_id, c.cid, ${dist("e", "c")} AS d,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dist("e", "c")} ASC, c.cid ASC) AS rn
       |  FROM e CROSS JOIN c$Iters c)
       |WHERE rn = 1""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "s_kmeans" -> kmeansSql,

    // the artifact read path is DEFINED to equal the direct fit
    "s_kmeans_route" -> kmeansSql,

    // baseline stats from the training assignment, fresh stats from
    // the exactly-halved batch against the same final centroids
    "s_kmeans_drift" -> {
      val iters = (0 until Iters).map(iterCtes).mkString(",\n")
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> ROUND(x, 9)) AS v
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
         |      AS cid, v AS cv
         |  FROM e ORDER BY vec_id LIMIT $K),
         |$iters,
         |f AS (SELECT vec_id, cid, ROUND(d, 6) AS dist FROM (
         |    SELECT e.vec_id, c.cid, ${dist("e", "c")} AS d,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${dist("e", "c")} ASC, c.cid ASC) AS rn
         |    FROM e CROSS JOIN c$Iters c)
         |  WHERE rn = 1),
         |base AS MATERIALIZED (SELECT cid,
         |    CAST(COUNT(*) AS BIGINT) AS base_n,
         |    ROUND(CAST(SUM(CAST(dist AS DECIMAL(28,6))) AS DOUBLE)
         |      / COUNT(*), 6) AS base_mean_dist
         |  FROM f GROUP BY cid),
         |e2 AS (
         |  SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> ROUND(x * 0.5, 9)) AS v
         |  FROM embeddings),
         |g AS (SELECT vec_id, cid, ROUND(d, 6) AS dist FROM (
         |    SELECT e.vec_id, c.cid, ${dist("e", "c")} AS d,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${dist("e", "c")} ASC, c.cid ASC) AS rn
         |    FROM e2 e CROSS JOIN c$Iters c)
         |  WHERE rn = 1),
         |fresh AS MATERIALIZED (SELECT cid,
         |    CAST(COUNT(*) AS BIGINT) AS new_n,
         |    ROUND(CAST(SUM(CAST(dist AS DECIMAL(28,6))) AS DOUBLE)
         |      / COUNT(*), 6) AS new_mean_dist
         |  FROM g GROUP BY cid),
         |tots AS (SELECT
         |    (SELECT CAST(SUM(base_n) AS BIGINT) FROM base) AS tb,
         |    (SELECT CAST(SUM(new_n) AS BIGINT) FROM fresh) AS tn)
         |SELECT cid,
         |  COALESCE(base_n, 0) AS base_n, COALESCE(new_n, 0) AS new_n,
         |  CAST(COALESCE(base_n, 0) * 1000000 // tb AS BIGINT)
         |    AS base_share_ppm,
         |  CAST(COALESCE(new_n, 0) * 1000000 // tn AS BIGINT)
         |    AS new_share_ppm,
         |  base_mean_dist, new_mean_dist
         |FROM base FULL JOIN fresh USING (cid), tots""".stripMargin
    },

    "s_silhouette" -> {
      val iters = (0 until Iters).map(iterCtes).mkString(",\n")
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> ROUND(x, 9)) AS v
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
         |      AS cid, v AS cv
         |  FROM e ORDER BY vec_id LIMIT $K),
         |$iters,
         |f AS (
         |  SELECT e.vec_id, c.cid, ${dist("e", "c")} AS d,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dist("e", "c")} ASC, c.cid ASC) AS rn
         |  FROM e CROSS JOIN c$Iters c),
         |ab AS (
         |  SELECT a.vec_id, a.cid, sqrt(a.d) AS da, sqrt(b.d) AS db
         |  FROM f a JOIN f b ON a.vec_id = b.vec_id
         |  WHERE a.rn = 1 AND b.rn = 2),
         |sil AS (
         |  SELECT cid, ROUND(CASE WHEN GREATEST(da, db) = 0.0 THEN 0.0
         |    ELSE (db - da) / GREATEST(da, db) END, 9) AS sv
         |  FROM ab)
         |SELECT cid, COUNT(*) AS n,
         |  ROUND(CAST(SUM(CAST(sv AS DECIMAL(28,9))) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_sil
         |FROM sil GROUP BY cid""".stripMargin
    },

    "s_sparse_topk" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |tf AS (
        |  SELECT doc_id AS id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  WHERE term <> '' GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |w AS (
        |  SELECT tf.id, tf.term,
        |    ROUND(CAST(tf.tf AS DOUBLE)
        |      * ROUND(ln(n.n / CAST(dfq.df AS DOUBLE)), 9), 9) AS wt
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |nrm AS (
        |  SELECT id, sqrt(CAST(SUM(CAST(ROUND(wt * wt, 12)
        |    AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
        |  FROM w GROUP BY id),
        |ch AS (
        |  SELECT id, term FROM (
        |    SELECT id, term, ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY wt DESC, term ASC) AS rn FROM w)
        |  WHERE rn <= 16),
        |cand AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT a.id AS q_id, b.id AS c_id, COUNT(*) AS shared,
        |      ROW_NUMBER() OVER (PARTITION BY a.id
        |        ORDER BY COUNT(*) DESC, b.id ASC) AS crn
        |    FROM ch a JOIN ch b ON a.term = b.term AND a.id <> b.id
        |    WHERE a.id < 50 GROUP BY a.id, b.id)
        |  WHERE crn <= 200),
        |sp AS (
        |  SELECT c.q_id, c.c_id,
        |    SUM(CAST(ROUND(wa.wt * wb.wt, 12) AS DECIMAL(38,12))) AS sp
        |  FROM cand c JOIN w wa ON wa.id = c.q_id
        |              JOIN w wb ON wb.id = c.c_id AND wb.term = wa.term
        |  GROUP BY 1, 2)
        |SELECT q_id, rank, c_id, sim FROM (
        |  SELECT sp.q_id, sp.c_id,
        |    ROUND(CAST(sp.sp AS DOUBLE) / (na.nrm * nb.nrm), 6) AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY sp.q_id
        |      ORDER BY ROUND(CAST(sp.sp AS DOUBLE) / (na.nrm * nb.nrm), 6)
        |        DESC, sp.c_id ASC) AS rank
        |  FROM sp JOIN nrm na ON na.id = sp.q_id
        |          JOIN nrm nb ON nb.id = sp.c_id)
        |WHERE rank <= 3""".stripMargin
  )
}
