package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}

/** Holt's linear-trend (double exponential) smoothing — the first
  * forecaster past persistence that tracks both a level and a slope,
  * the standard next step when `e_snaive_backtest` shows the naive
  * baseline losing to drift.
  *
  * The recursion
  *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
  *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
  * is inherently sequential, so the engine shape is "keyed fold over a
  * bounded series": the corpus-sized work is ONE hourly aggregation;
  * each per-key series (hours in the window — hundreds of rows, never
  * event-sized) folds inside `mapGroups`.
  *
  * Determinism: the recursion carries raw IEEE doubles through the
  * exact literal expression `α·x + (1−α)·(l + b)` — no libm, no
  * reassociation — so a DuckDB recursive CTE replaying the same
  * formula reproduces every iterate bit-for-bit; outputs are rounded
  * once at the edge.
  */
object Holt {

  // 1−α and 1−β are spelled as LITERALS, not computed: `1 - 0.2` in
  // IEEE need not equal the double literal 0.8, and the oracle's
  // recursive CTE uses the literal — one shared spelling, zero ulp
  // forks through hundreds of iterations.
  val Alpha = 0.2
  val OneMinusAlpha = 0.8
  val Beta = 0.1
  val OneMinusBeta = 0.9

  final case class In(et: String, h: Timestamp, x: Long)
  final case class State(l: Double, b: Double)
  final case class Out(event_type: String, h: Timestamp, x: Long,
                       level: Double, trend: Double,
                       fcst: Option[Double])

  /** One recursion step: returns (newState, one-step-ahead forecast
    * that was in force BEFORE observing x). */
  def step(s: State, x: Long): (State, Double) = {
    val f = s.l + s.b
    val l = Alpha * x + OneMinusAlpha * (s.l + s.b)
    val b = Beta * (l - s.l) + OneMinusBeta * s.b
    (State(l, b), f)
  }

  /** Classical init from the first two observations: l₁ = x₁,
    * b₁ = x₂ − x₁; the t=1 row carries no forecast. */
  def init(x1: Long, x2: Long): State =
    State(x1.toDouble, (x2 - x1).toDouble)

  /** Batch fold: one output row per input row, keys with fewer than
    * two observations emit nothing (no slope is estimable). Input must
    * be one row per (et, h). */
  def fit(hourly: Dataset[In]): Dataset[Out] = {
    import hourly.sparkSession.implicits._
    hourly.groupByKey(_.et).flatMapGroups { (et, it) =>
      val rows = it.toArray.sortBy(_.h.getTime)
      if (rows.length < 2) Iterator.empty
      else {
        var st = init(rows(0).x, rows(1).x)
        val out = Array.newBuilder[Out]
        out += Out(et, rows(0).h, rows(0).x, st.l, st.b, None)
        rows.iterator.drop(1).foreach { r =>
          val (ns, f) = step(st, r.x)
          st = ns
          out += Out(et, r.h, r.x, ns.l, ns.b, Some(f))
        }
        out.result().iterator
      }
    }
  }
}
