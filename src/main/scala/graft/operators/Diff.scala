package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot diff (change-data capture between two table states): which
  * keys were added, removed, or changed between an `old` and a `new`
  * snapshot — the reconciliation step behind incremental syncs, audit
  * reports, and "what did this backfill touch?".
  *
  * One full-outer equi-join on the key (the natural co-partitioning —
  * with both snapshots bucketed on the key it is exchange-free),
  * change detection via null-safe comparison of the
  * compared columns packed into one struct — no N-way OR of per-column
  * inequalities, and nulls inside values compare correctly.
  */
object Diff {

  /** @param compareCols columns whose change makes a row "changed";
    *                    must exist in both snapshots */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    def pack(df: DataFrame, side: String) = df.select(
      keys.map(col) :+
        struct(compareCols.map(col): _*).as(s"__v_$side") :+
        lit(1).as(s"__present_$side"): _*)
    pack(oldDf, "old").join(pack(newDf, "new"), keys, "full_outer")
      .select(keys.map(col) :+
        when(col("__present_old").isNull, lit("added"))
          .when(col("__present_new").isNull, lit("removed"))
          .when(!(col("__v_old") <=> col("__v_new")), lit("changed"))
          .otherwise(lit("unchanged")).as("change"): _*)
      .filter(col("change") =!= "unchanged")
  }

  /** MERGE/upsert — apply a change batch to a base table: matched
    * keys take the update's values, unmatched updates insert, base
    * rows without an update pass through. The companion of
    * [[snapshotDiff]] (detect vs apply): one full-outer equi-join on
    * the key, per-column coalesce picks the surviving value, and an
    * `__op` audit column reports what MERGE did to each row
    * (inserted / updated / unchanged — null-safe struct comparison,
    * so an "update" that changes nothing reports unchanged).
    *
    * Scale: with base and updates bucketed on the key the join is
    * exchange-free; otherwise it is the one shuffle a MERGE
    * fundamentally needs. No driver-side state; rewriting only the
    * touched partitions is the storage layer's job (a partitioned
    * layout plus partition pruning on the keys).
    *
    * @param valueCols columns carried by both frames; the update's
    *                  value wins on matched keys
    */
  def mergeUpsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
                  valueCols: Seq[String]): DataFrame = {
    // presence flags, not per-column coalesce: an update that
    // deliberately sets a value to NULL must win over the base value
    def pack(df: DataFrame, side: String) = df.select(
      keys.map(col) :+
        struct(valueCols.map(col): _*).as(s"__v_$side") :+
        lit(1).as(s"__present_$side"): _*)
    pack(base, "base").join(pack(updates, "upd"), keys, "full_outer")
      .select(keys.map(col) ++
        valueCols.map(c =>
          when(col("__present_upd").isNotNull, col(s"__v_upd.$c"))
            .otherwise(col(s"__v_base.$c")).as(c)) :+
        when(col("__present_base").isNull, lit("inserted"))
          .when(col("__present_upd").isNull ||
            (col("__v_upd") <=> col("__v_base")), lit("unchanged"))
          .otherwise(lit("updated")).as("__op"): _*)
  }
}
