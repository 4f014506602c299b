package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered multi-step funnel (signup → click → purchase) with a
  * per-step time horizon: each step must land strictly after the
  * previous step's FIRST qualifying event and within `horizon` of it.
  *
  * `stages` is the batch form — three keyed aggregations chained by
  * equi-joins on user_id (no window, no cartesian): min qualifying ts
  * per step, exactly the reference pattern for funnel SQL. It is the
  * single source of funnel semantics: the `e_funnel` query is
  * `stages(...).groupBy(stage)`.
  *
  * Scale: each step's frame is |users-reaching-step| rows (shrinking
  * monotonically); the joins are keyed equi-joins AQE can broadcast
  * once the funnel narrows. The corpus is scanned once per step for
  * its event-type slice — at 100 TB, partition events by type or
  * pre-filter to the three step types in one scan.
  */
object Funnel {

  /** (user_id, stage) for every user who signed up: stage 3 = reached
    * purchase, 2 = reached click, 1 = signup only. Greedy min-ts
    * semantics per step with the 24h default horizon.
    */
  def stages(events: DataFrame, horizon: String = "24 HOURS"): DataFrame = {
    val su = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
    val cl = events.filter(col("event_type") === "click")
      .join(su, "user_id")
      .filter(col("ts") > col("s_ts") &&
        col("ts") <= col("s_ts") + expr(s"INTERVAL $horizon"))
      .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
    val pu = events.filter(col("event_type") === "purchase")
      .join(cl, "user_id")
      .filter(col("ts") > col("c_ts") &&
        col("ts") <= col("c_ts") + expr(s"INTERVAL $horizon"))
      .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
    su.join(cl.select(col("user_id"), lit(1).as("has_c")), Seq("user_id"), "left")
      .join(pu.select(col("user_id"), lit(1).as("has_p")), Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("has_p").isNotNull, 3)
          .when(col("has_c").isNotNull, 2).otherwise(1).as("stage"))
  }
}
