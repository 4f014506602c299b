package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.Exchange

/** Scan-width armor for CPU-dense map phases (tokenize → shingle →
  * md5/minhash, gear CDC, header decode): the map parallelism of a
  * narrow plan is bounded by the SCAN's split count, and a parquet
  * file is splittable only at row-group boundaries — a single-row-group
  * file plans as ONE task no matter how many cores the session has, so
  * a heavy per-row pipeline serializes onto one core while 31 idle
  * (measured: d_cdc_chunks 3.0 s of 3.5 s in one task; t_perplexity
  * 2.1 s). AQE cannot fix this: it coalesces by shuffle BYTES and
  * never sees per-row CPU, and it cannot split a scan stage at all.
  *
  * [[spread]] inserts one deterministic hash exchange of the RAW rows
  * (cheap: the heavy derived columns do not exist yet) when — and only
  * when — the plan is narrow (no exchange anywhere) and GENUINELY
  * under-split: its planned partition count must be below the session
  * parallelism AND at-or-below [[UnderSplitMax]] in absolute terms. The
  * absolute bound is what keeps this the identity at real scan widths
  * on ANY deployment: a relative-only test would insert a full shuffle
  * whenever a large cluster's core count merely exceeded a healthy
  * scan's split count (row-group-coarse parquet on 2000 cores), which
  * is exactly the raw-payload shuffle this must never add at 100 TB.
  * Only under-split inputs (one fixture file, a handful of small
  * artifacts) are rebalanced.
  *
  * Call it only on scan-rooted narrow frames (scan/filter/project/
  * union), immediately before the heavy map: a frame that already
  * contains a shuffle is returned untouched (the shuffle re-keys at
  * the session's shuffle width already), and placing it after caller
  * filters keeps predicate pushdown intact.
  *
  * Caveats the call sites must respect:
  *   - the partitioning key is xxhash64 over ALL columns, so the input
  *     must have unique column names (duplicate names would make the
  *     column resolution ambiguous and throw), and a duplicate-heavy
  *     feed (an edge list before its distinct) sends all copies of a
  *     row to one partition — fine for near-unique rows (every current
  *     site), wrong as a de-skew tool for replicated keys;
  *   - `cap` bounds the spread width for maps that end in a
  *     latency-bound side effect (foreachPartition FS creates): past a
  *     handful of concurrent writers the filesystem round-trip, not
  *     CPU, is the wall, and r16's driver measured the uncapped spread
  *     SLOWER at 32 cores than 8 on exactly that site. `cap` bounds
  *     only the spread this inserts: a plan returned untouched (already
  *     exchanged, or split at least as wide as the session) keeps its
  *     own partition count, so a caller that needs a hard writer bound
  *     must repartition to it itself.
  */
object Par {

  /** Absolute under-split bound: a plan wider than this many tasks is
    * healthy however many cores the session has (see the scaladoc —
    * the relative-only test would shuffle raw corpus bytes on big
    * clusters). 16 comfortably covers every fixture shape this repo
    * spreads (1–3 planned tasks) while staying far under any real
    * corpus scan width.
    */
  private val UnderSplitMax = 16

  def spread(df: DataFrame, cap: Int = Int.MaxValue): DataFrame = {
    // streaming frames keep their micro-batch partitioning (probing
    // the physical plan below is a batch-only operation anyway)
    if (df.isStreaming) return df
    val p = math.min(df.sparkSession.sparkContext.defaultParallelism, cap)
    val plan = df.queryExecution.sparkPlan
    val hasExchange = plan.exists(_.isInstanceOf[Exchange])
    if (hasExchange) df
    else {
      // narrow plan: no exchange → toRdd builds the physical RDD
      // without running any job, so this is a plan-time probe
      val parts = df.queryExecution.toRdd.getNumPartitions
      if (parts >= p || parts > UnderSplitMax) df
      else {
        // hash-partition on the whole row (xxhash64), NOT round-robin:
        // keyless repartition(n) first locally SORTS its input so
        // retried tasks replay the same assignment (SPARK-23207) — a
        // real cost on the one fat upstream task this exists to
        // relieve; a deterministic hash needs no sort and stays
        // retry-safe (guide §2.5)
        df.repartition(p, org.apache.spark.sql.functions.xxhash64(
          df.columns.map(org.apache.spark.sql.functions.col): _*))
      }
    }
  }
}
