package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.MoveResult

/** O16 — report aggregations (SURVEY.md §2.3): the reference's
  * found/not-found/success/failure counters (app/app.py:133-152,
  * app/main.py:305-309) as DataFrames instead of prints.
  */
object Report {

  /** O16: status → count ("success" / "failed" / "pending" for
    * unawaited CopyAsync issuances).
    */
  def statusCounts(results: Dataset[MoveResult]): DataFrame =
    results.toDF()
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum(col("bytes")).as("bytes"))

  /** Attach observe() metrics to a move-result plan: totals ride along
    * with the action instead of costing a second pass over the data
    * (SURVEY.md §7.2 item 3). Read them from the returned Observation
    * after any action on the returned DataFrame.
    */
  def observed(results: Dataset[MoveResult])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("move_report")
    val df = results.toDF().observe(obs,
      count(lit(1)).as("n_total"),
      sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
      sum(when(!col("ok"), 1L).otherwise(0L)).as("n_failed"),
      sum(col("bytes")).as("bytes_moved"))
    (df, obs)
  }
}
