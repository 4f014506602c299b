package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan 2005) with the same
  * oracle-exact hashing discipline as [[Kmv]]/[[Hll]]: `depth`
  * independent md5-salted hash rows of `width` counters; a point
  * estimate is the MIN over rows of the probed counter, which can only
  * ever OVERcount (collisions add, never subtract).
  *
  * Scale shape: the sketch build is one pass — posexplode to
  * (row, bucket) then a map-combinable count that collapses each
  * task's slice to ≤ depth·width rows before the exchange; the sketch
  * is independent of stream length, which is the whole point at
  * 100 TB. Like HLL, counters merge by per-cell SUM (associative,
  * commutative), so per-partition/day sketches fold afterwards.
  */
object Cms {

  /** Bucket of `c` in hash row `d`. */
  def bucket(d: Int, c: Column, width: Int): Column =
    Kmv.hash52(concat(lit(s"cms$d:"), c)) % width

  /** The stateless per-row half of [[counters]]: each input row
    * exploded to its `depth` (d, b) cells.
    */
  def cells(df: DataFrame, keyCol: Column, depth: Int,
            width: Int): DataFrame =
    df.select(posexplode(
      array((0 until depth).map(d => bucket(d, keyCol, width)): _*))
      .as(Seq("d", "b")))

  /** The sketch: (d, b, c) counters, ≤ depth·width rows. */
  def counters(df: DataFrame, keyCol: Column, depth: Int,
               width: Int): DataFrame =
    cells(df, keyCol, depth, width)
      .groupBy("d", "b").agg(count(lit(1)).as("c"))

  /** Point estimates for every row of `keys` (a frame with a `key`
    * column): min over the `depth` rows of the probed counter. The
    * sketch side is ≤ depth·width rows and broadcasts.
    *
    * LEFT joins + coalesce-to-0: `counters` only materializes cells
    * that were ever hit, so a never-inserted probe key can land on an
    * absent cell in some depth row. An inner join would silently DROP
    * that key from the output; the correct CMS answer for an empty
    * cell is est = 0.
    */
  def probe(keys: DataFrame, sketch: DataFrame, depth: Int,
            width: Int): DataFrame = {
    val probed = (0 until depth).foldLeft(keys) { (acc, d) =>
      acc.join(broadcast(sketch.filter(col("d") === d)
          .select(col("b").as(s"b$d"), col("c").as(s"c$d"))),
        bucket(d, col("key"), width) === col(s"b$d"), "left")
        .drop(s"b$d")
    }
    probed.withColumn("est",
      least((0 until depth).map(d => coalesce(col(s"c$d"), lit(0L))): _*))
      .drop((0 until depth).map(d => s"c$d"): _*)
  }
}
