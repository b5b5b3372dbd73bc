package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}

/** Parquet table loaders for the graft test schema.
  *
  * Loads are plain `spark.read.parquet` so Catalyst owns column pruning and
  * predicate pushdown: every operator downstream selects only the columns it
  * needs *before* wide transforms, which at 100 TB turns these into narrow
  * columnar scans with PushedFilters instead of full-table reads.
  */
object Tables {
  /** OPT-IN guard against single-task map stages on low-split inputs
    * (spark_optimization_guide §2.5, "input skew: one huge unsplittable
    * file"): a parquet file is only splittable at row-group boundaries, so
    * a table that arrives as one file/one row group plans every downstream
    * map stage at ONE task no matter how many cores the session has. Unless
    * the frame is a scan/filter/project chain whose scan already has at
    * least as many splits as the session parallelism, hash-spread the rows
    * across the cores (hash repartition, not round-robin: deterministic
    * row→partition mapping, no sort-before-repartition pass). At real scale
    * the split count exceeds the core count and a spread scan is an
    * identity — no exchange is added.
    *
    * Deliberately NOT applied to every load: for scan→partial-agg plans
    * the extra full-row exchange costs more than the map work it
    * parallelizes (measured: q13 0.39 s → 1.57 s, q103 0.57 s → 1.38 s,
    * q15/q16 +0.1 s each with a blanket spread). Only operators whose
    * per-row map work dominates (LM fluency scoring, shingle explodes,
    * bootstrap replica explodes) call this at their input. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    // Hash on every non-map column (maps are not hashable in Spark), as a
    // COLUMN LIST rather than one struct(...) expression: Catalyst
    // recognizes HashPartitioning(c1..cn) as satisfying the clustered
    // distribution a downstream distinct()/groupBy on those columns needs,
    // so the spread exchange is REUSED instead of followed by a second
    // full exchange (struct(c1..cn) hashing is opaque to that check —
    // measured: one Exchange removed from every spread→distinct substrate).
    val keys = df.schema.fields.toIndexedSeq
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => org.apache.spark.sql.functions.col(f.name))
    if (keys.isEmpty) df else spreadBy(df, keys)
  }

  /** [[spread]] with an explicit partitioning key: operators whose next
    * shuffle boundary is keyed (the graph family joins/aggregates its edge
    * table on the src endpoint) spread by THAT key, so the distinct, the
    * degree aggregate and the per-iteration edge joins all reuse the one
    * exchange instead of re-partitioning (guide §2.4 "two operations keyed
    * the same way can share one exchange"). Hash co-locates equal keys —
    * callers own key-skew judgement (a graph's src key is node-bounded). */
  private[graft] def spreadBy(df: DataFrame,
                              keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    if (sys.props.get("graft.scan.spread").contains("off")) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (scanPartitions(df.queryExecution.sparkPlan).exists(_ >= cores)) df
    else df.repartition(cores, keys: _*)
  }

  /** The partition count of a plain scan/filter/project chain, read from its
    * file-scan leaf by planning alone: `inputRDD` only lays out the file
    * splits, it runs no job. Any other plan shape gets None, because its
    * count is known only once the plan is prepared or run — `execute()` on
    * an unprepared plan throws (a broadcast join's build side has no
    * broadcast yet), and `.rdd` under AQE runs every upstream stage. */
  private def scanPartitions(plan: SparkPlan): Option[Int] = plan match {
    case p: ProjectExec => scanPartitions(p.child)
    case f: FilterExec => scanPartitions(f.child)
    case scan: FileSourceScanExec => Some(scan.inputRDD.getNumPartitions)
    case _ => None
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` arrives in one of two physical forms depending on the data
    * generator: parquet TIMESTAMP(NANOS) (which Spark 4 refuses to read as a
    * timestamp — we read it as exact int64 nanoseconds via the legacy flag),
    * or a plain parquet timestamp[us] (read as TIMESTAMP_NTZ). Either way the
    * contract downstream is fixed: `ts` is int64 epoch NANOS (exact ordering
    * and window math, no doubles) and `ts_t` is a µs TimestampType column for
    * calendar ops like `date_trunc('week', …)`. All graft sessions run with
    * session timeZone=UTC, so the NTZ wall-clock == the UTC instant and the
    * cast below is value-preserving — the same convention DuckDB applies when
    * `epoch_us(ts)` is taken over the naive column in the oracle SQL. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts_t",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts", unix_micros(col("ts_t")) * lit(1000L))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
