package graft

import org.apache.spark.sql.functions._

/** `Tables.spread`/`spreadBy` choose the partition count by planning alone,
  * so any input plan is accepted and nothing runs before the caller acts. */
class SpreadSpec extends SparkSpec {

  private def exchanged(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  test("spread and spreadBy accept a broadcast-join output") {
    val facts = spark.range(0, 1000).select(col("id"), (col("id") % 10).as("k"))
    val dim = spark.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("v"))
    val joined = facts.join(broadcast(dim), "k")
    assert(Tables.spread(joined).count() === 1000)
    assert(Tables.spreadBy(joined, Seq(col("k"))).count() === 1000)
    assert(Tables.spreadBy(joined, Seq(col("k"))).agg(sum("v")).head().getLong(0)
      === joined.agg(sum("v")).head().getLong(0))
  }

  test("a scan split at least cores ways passes through; a one-split scan is spread") {
    val base = java.nio.file.Files.createTempDirectory("graft_spread").toFile
    try {
      val cores = spark.sparkContext.defaultParallelism
      spark.range(0, 100).repartition(cores * 4).write.parquet(s"$base/many")
      spark.range(0, 100).coalesce(1).write.parquet(s"$base/one")
      val many = spark.read.parquet(s"$base/many").filter(col("id") > 3)
        .select((col("id") * 2).as("x"))
      assert(many.rdd.getNumPartitions >= cores)
      assert(!exchanged(Tables.spread(many)))
      val one = spark.read.parquet(s"$base/one")
      assert(exchanged(Tables.spread(one)))
      assert(Tables.spread(one).count() === 100)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base)
  }
}
