package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Exact frequent-items ("heavy hitters") via a two-phase sketch+verify.
  *
  * The naive `groupBy(item).count.filter(n >= minCount)` shuffles one
  * partial count per DISTINCT item per map task — at 100 TB with a
  * long-tail vocabulary (URLs, shingles, n-grams) the exchange is
  * dominated by singletons that can never reach the threshold. Instead:
  *
  *  phase 1 — each partition runs a Misra–Gries summary of `capacity`
  *    counters over its slice (O(1) amortized per item, bounded memory)
  *    and emits only its surviving candidate items;
  *  phase 2 — the candidate set (≤ capacity·partitions, tiny) is
  *    broadcast back and the EXACT count runs restricted to candidates,
  *    so the wide data is scanned twice but the shuffle carries only
  *    candidate keys.
  *
  * Exactness: Misra–Gries retains every item whose in-partition count
  * exceeds n_p/(capacity+1). If a global count is ≥ minCount, some
  * partition holds ≥ count/P of it (pigeonhole), so whenever
  * minCount > N/(capacity+1) every qualifying item survives phase 1 in
  * at least one partition — phase 2 then computes its exact total. The
  * result equals the naive plan's output exactly (the contract the
  * DuckDB oracle checks); `validate=true` spends one extra count() pass
  * to enforce the precondition loudly instead of assuming it.
  */
object HeavyHitters {

  /** One Misra–Gries update on a mutable counter map — THE sketch step
    * of the operator below. */
  private def mgStep(counters: mutable.HashMap[String, Long],
                     item: String, capacity: Int): Unit =
    counters.get(item) match {
      case Some(c) => counters.update(item, c + 1)
      case None if counters.size < capacity => counters.update(item, 1L)
      case None =>
        // decrement-all; O(capacity) but amortized O(1) per input item
        val dead = mutable.ArrayBuffer.empty[String]
        counters.mapValuesInPlace((_, c) => c - 1)
        counters.foreach { case (k, c) => if (c == 0L) dead += k }
        dead.foreach(counters.remove)
    }

  /** Misra–Gries over one iterator: at most `capacity` live counters. */
  private[graft] def misraGries(it: Iterator[String], capacity: Int):
      Iterator[String] = {
    val counters = mutable.HashMap.empty[String, Long]
    it.foreach(mgStep(counters, _, capacity))
    counters.keysIterator
  }

  /** All non-null items (cast to string) occurring ≥ `minCount` times,
    * with their exact counts: columns (item, n). Null items are
    * excluded by contract (an equi-join key cannot be null; callers
    * wanting the null group count it separately with one
    * `count(when(isnull…))`).
    *
    * With `validate=true` the one extra count() pass also SELF-HEALS:
    * if the requested capacity is too small for the exactness bound at
    * this data size, the capacity is raised to 2·N/minCount — output is
    * identical either way (capacity only affects the guarantee, never
    * the result), so the operator keeps its contract at any scale
    * instead of failing when the corpus grows.
    *
    * The candidate join carries no broadcast hint: candidates are
    * usually tiny (AQE broadcasts them automatically), but a
    * pathological run — huge partition count × disjoint tails — can
    * make the candidate set exceed broadcast limits, and then a keyed
    * shuffle join is the correct fallback. AQE picks per run.
    */
  def frequentItems(df: DataFrame, itemCol: Column, minCount: Long,
                    capacity: Int = 8192,
                    validate: Boolean = false): DataFrame = {
    require(minCount > 0 && capacity > 0)
    val spark = df.sparkSession
    import spark.implicits._

    val items = df.select(itemCol.cast("string").as("item"))
      .filter(col("item").isNotNull)
    val cap =
      if (!validate) capacity
      else {
        val n = items.count()
        val needed = 2L * n / minCount
        // never silently clamp below the exactness bound — if the
        // escalated capacity can't fit an Int, the threshold is too low
        // for this data size and the caller must raise minCount
        require(needed <= Int.MaxValue / 2,
          s"cannot guarantee exactness: N=$n with minCount=$minCount " +
            s"needs ~$needed counters per partition — raise minCount")
        math.max(capacity.toLong, needed).toInt
      }
    val candidates = items.as[String]
      .mapPartitions(part => misraGries(part, cap))
      .toDF("item").distinct()
    items.join(candidates, "item")
      .groupBy("item").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }
}
