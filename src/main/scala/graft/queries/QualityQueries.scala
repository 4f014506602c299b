package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.Quality

/** Data-quality gate queries (operators/Quality.scala): the validation
  * step a training-data pipeline runs before a corpus snapshot is
  * promoted. One scan for the whole in-table rule set; one anti-join
  * for cross-table referential integrity.
  */
object QualityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Completeness / uniqueness / numeric profile / boolean assertions
    // over events — ALL compiled into a single wide aggregation (one
    // scan, map-combinable; see Quality.metrics).
    "q_dq_metrics" -> ((s, dir) => {
      val e = t(s, dir, "events")
      Quality.metrics(e,
        completenessCols = Seq("props", "value"),
        uniquenessCols = Seq("event_id", "user_id"),
        numericCols = Seq("value"),
        assertions = Seq(
          "event_id_unique" ->
            (count_distinct(col("event_id")) === count(lit(1))),
          "value_non_negative" -> (min(col("value")) >= lit(0))))
    }),

    // Tamper-evident corpus digest: sum of the leading 60 bits of
    // md5(doc_id:text) per row — commutative and associative, so the
    // digest is identical under ANY partitioning, ordering, or
    // engine, yet any changed/dropped/duplicated row moves it. The
    // reproducibility attestation two independent pipelines compare
    // before trusting they trained on the same corpus. One
    // map-combinable aggregation; exact DECIMAL sum (values exceed
    // 2^53, so a double sum would silently lose bits).
    // STRING digest on both engine and oracle sides: the value exceeds
    // 2^63, and comparator canonicalization of wide DECIMALs differs
    // between runtimes; a digest is an opaque token anyway.
    "q_corpus_digest" -> ((s, dir) => corpusDigest(t(s, dir, "documents"))),

    // Referential integrity events.user_id → customer.c_custkey: one
    // distinct-project of the parent key + one anti-join count. At
    // 100 TB the parent key set is the small side (broadcast / bloom
    // prefilter); the child table is never shuffled wide.
    "q_dq_referential" -> ((s, dir) => {
      Quality.referentialIntegrity(
        t(s, dir, "events"), "user_id",
        t(s, dir, "customer"), "c_custkey", "user_fk")
    })
  )

  /** (n_docs, digest) of `docs`' (doc_id, text) rows. The digest is a
    * sum, so a Complete-mode streaming aggregation of the same
    * projection equals this after every prefix of the stream, with
    * one sum and one count of state.
    */
  def corpusDigest(docs: DataFrame): DataFrame =
    docs
      .select(conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":"), col("text"))), 1, 15), 16, 10)
        .cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("h")).cast("decimal(38,0)").cast("string").as("digest"))

  val oracleSql: Map[String, String] = Map(
    "q_corpus_digest" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(CAST(SUM(CAST('0x' || substr(
        |      md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)
        |    AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS digest
        |FROM documents""".stripMargin,

    "q_dq_metrics" ->
      """WITH a AS (SELECT
        |  CAST(COUNT(props) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS completeness_props,
        |  CAST(COUNT(value) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS completeness_value,
        |  CAST(COUNT(DISTINCT event_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS uniqueness_event_id,
        |  CAST(COUNT(DISTINCT user_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS uniqueness_user_id,
        |  CAST(MIN(value) AS DOUBLE) AS min_value,
        |  CAST(MAX(value) AS DOUBLE) AS max_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(COUNT(value) AS DOUBLE) AS mean_value,
        |  CAST(CASE WHEN COUNT(DISTINCT event_id) = COUNT(*)
        |    THEN 1 ELSE 0 END AS DOUBLE) AS event_id_unique,
        |  CAST(CASE WHEN MIN(value) >= 0 THEN 1 ELSE 0 END AS DOUBLE)
        |    AS value_non_negative
        |  FROM events)
        |SELECT 'completeness_props' AS metric, completeness_props AS value FROM a
        |UNION ALL SELECT 'completeness_value', completeness_value FROM a
        |UNION ALL SELECT 'uniqueness_event_id', uniqueness_event_id FROM a
        |UNION ALL SELECT 'uniqueness_user_id', uniqueness_user_id FROM a
        |UNION ALL SELECT 'min_value', min_value FROM a
        |UNION ALL SELECT 'max_value', max_value FROM a
        |UNION ALL SELECT 'mean_value', mean_value FROM a
        |UNION ALL SELECT 'event_id_unique', event_id_unique FROM a
        |UNION ALL SELECT 'value_non_negative', value_non_negative FROM a""".stripMargin,

    "q_dq_referential" ->
      """WITH o AS (SELECT CAST(COUNT(*) AS DOUBLE) AS orphans
        |  FROM events e WHERE e.user_id IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = e.user_id)),
        |tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM events)
        |SELECT 'orphans_user_fk' AS metric, orphans AS value FROM o
        |UNION ALL
        |SELECT 'orphan_ratio_user_fk', orphans / total FROM o, tt""".stripMargin
  )
}
