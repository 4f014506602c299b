package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All engine queries take an `sfDir` (e.g. /root/testdata/sf0.01) and read
  * one parquet file per table. Filters/projections applied on top of these
  * reads are pushed into the parquet scan by Catalyst (verified via
  * .explain: PushedFilters / ReadSchema), which is the behavior that keeps
  * a 100 TB scan from reading columns and row groups it does not need.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session configs every graft entry point needs. `nanosAsLong` lets
    * fixtures whose ts is INT64 TIMESTAMP(NANOS) — which Spark's
    * vectorized reader otherwise rejects — read as long so `t` can
    * truncate to microseconds (Spark's native precision). Set at session
    * construction — NOT mutated per-read, which would leak into
    * unrelated reads and race across threads. `file:` is [[LocalFs]]
    * for `FileSystem` and `FileContext` alike, which serves Hadoop's
    * permission reads and writes without forking `chmod` / `ls` per file.
    *
    * `codegen.cache.maxEntries` sizes Spark's generated-class cache (a
    * static conf, read once per JVM when `CodeGenerator` first loads;
    * default 100) to the program's plan vocabulary. One pass over the
    * six iterative families of perfbench's `query_tail` compiles about
    * 550 classes, so at 100 every warm pass evicted the last pass's
    * classes and recompiled 471 of them with Janino. At 2,000 (over 3x
    * one pass; no single query exceeds 170) a warm pass compiles 12,
    * and `query_tail` `warm_cpu_s` fell 21.8 -> 16.3 s (median of 10
    * pairs, `local[4]`, SCALE.md section 52). `CodegenMetrics` puts a
    * compile at 6.8 KB of source and 2.4 classes of 3.0 KB bytecode, so
    * a full cache holds about 28 MB. This keeps compiled code only:
    * no data and no results, and every run still recomputes every row.
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Context].getName)

  /** The session every entry point and spec runs on: [[sessionConfigs]],
    * `partitions` shuffle partitions, the warehouse under [[TempDirs]]
    * (no `spark-warehouse/` in the working directory), WARN logs, and
    * no UI on a local master. Returns the running session if there is
    * one.
    */
  def session(master: String, partitions: String): SparkSession = {
    val b = SparkSession.builder().appName("graft").master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.warehouse.dir",
        TempDirs.dir("graft-warehouse").toUri.toString)
    if (master.startsWith("local")) b.config("spark.ui.enabled", "false")
    sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Adapt the events `ts` column to TIMESTAMP regardless of the
    * fixture's physical encoding. Producers change writers; an engine
    * that hard-codes one physical type breaks on the first upgrade (the
    * reference likewise degrades gracefully on metadata variance,
    * app/main.py:121-124). Supported encodings:
    *   - INT64 nanos read as LongType (via legacy nanosAsLong) → truncate
    *     to micros;
    *   - native TIMESTAMP / TIMESTAMP_NTZ → normalize to session-TZ
    *     TIMESTAMP (the session runs UTC, so NTZ micros are preserved
    *     bit-for-bit and every downstream query sees one stable type).
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other; expected INT64 nanos, TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }

  /** Register every table as a temp view so spark.sql(...) parity queries
    * can share the exact SQL text with the DuckDB oracle when convenient.
    *
    * Tolerates per-table failure: one unreadable table must not take down
    * SQL queries that never touch it (an events schema drift once failed
    * every `sql_*` query through this eager loop). The broken table is
    * skipped with a clear stderr note; a query that does reference it
    * then fails with TABLE_OR_VIEW_NOT_FOUND naming the table.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val failures = all.flatMap { n =>
      try { t(spark, dir, n).createOrReplaceTempView(n); None }
      catch {
        case e: Exception =>
          System.err.println(
            s"graft.Tables.registerAll: skipping view '$n' ($dir/$n.parquet): ${e.getMessage}")
          Some(n -> e)
      }
    }
    // one drifted table is survivable; ALL tables failing means the
    // directory itself is wrong (bad path, dead filesystem) and every
    // later sql_* query would die far from this root cause — fail here.
    if (failures.size == all.size)
      throw new IllegalStateException(
        s"registerAll: every table under $dir failed to register — " +
          s"misconfigured directory? First error: ${failures.head._2.getMessage}",
        failures.head._2)
  }
}
