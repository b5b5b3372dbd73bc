package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A named set of `SparkEntry.queries` keys run in one closed loop.
  * `writes` are the keys that load through `sources.WarehouseSink`;
  * `limitMs` is the fixed per-key limit: a key over it is cancelled,
  * counted as failed and charged the limit. */
final case class Workload(name: String, keys: Seq[String], writes: Set[String],
                          limitMs: Long)

object Workloads {
  private val dagWrites = Seq("q105_warehouse_cycle", "q125_time_travel",
    "q205_change_feed")

  /** The `dag.py` ETL and its load, plus the `app.py` chart and compare
    * reads: sub-second keys where fixed costs (planning, job launch,
    * one-task scans) dominate, with the warehouse writes beside them. */
  val dagEtl = Workload("dag_etl",
    Seq("q01_topk", "q02_topk_per_group", "q03_feature_stats",
      "q04_filter_project", "q05_enrich_join", "q07_latest_snapshot",
      "q08_weeks_on_chart", "q11_recent_window", "q12_weekly_agg",
      "q13_pricing_summary", "q14_weekly_chart", "q30_entity_compare",
      "q33_chart_snapshot", "q320_unpivot", "q75_cdc_apply",
      "q92_incremental_rollup") ++ dagWrites,
    dagWrites.toSet, limitMs = 30000)

  /** The weekly `ml_training_dag.py` retrain with `recommendation.py`:
    * `ml.Popularity` / `ml.Recommend` fits and the shared SparkEntry
    * artifacts. Every pass starts with the memos released. */
  val mlRetrain = Workload("ml_retrain",
    Seq("q26_kmeans_recommend", "q27_rf_predict", "q28_feature_importance",
      "q62_predict_recommend", "q63_recommend_multi"),
    Set.empty, limitMs = 60000)

  /** Shuffle-, spread- and iteration-heavy graph and near-dup keys. */
  val graphDedup = Workload("graph_dedup",
    Seq("q131_pagerank", "q209_triangles", "q229_kcore", "q375_closeness",
      "q392_betweenness", "q451_scc", "q20_ngram_jaccard",
      "q46_dedup_clusters", "q64_jaccard_capped", "q100_canonical_quality",
      "q305_item_cf"),
    Set.empty, limitMs = 60000)

  /** The harness's own check: one good key, one that throws inside a
    * task, one that returns a wrong answer and one that overruns the
    * limit. Exactly the last three must count as failed. */
  val selftest = Workload("selftest",
    Seq("q01_topk", "selftest_throw", "selftest_wrong", "selftest_slow"),
    Set.empty, limitMs = 4000)

  val all: Seq[Workload] = Seq(dagEtl, mlRetrain, graphDedup, selftest)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (known: ${all.map(_.name).mkString(", ")})"))

  /** Synthetic keys of the self-test, each checked against the expected
    * value of the real key named in [[checkedAs]]. */
  private val synthetic: Map[String, (SparkSession, String) => DataFrame] = Map(
    "selftest_throw" -> ((s, d) => SparkEntry.queries("q01_topk")(s, d)
      .withColumn("boom", raise_error(lit("selftest: deliberate throw")))),
    "selftest_wrong" -> ((s, d) => {
      val df = SparkEntry.queries("q01_topk")(s, d)
      df.limit(math.max(df.count() - 1, 0).toInt)
    }),
    "selftest_slow" -> ((s, d) => {
      val nap = udf((x: Long) => { Thread.sleep(30000); x })
      SparkEntry.queries("q01_topk")(s, d).withColumn("nap", nap(lit(1L)))
    }))

  def checkedAs(key: String): String =
    if (synthetic.contains(key)) "q01_topk" else key

  def query(key: String): (SparkSession, String) => DataFrame =
    synthetic.getOrElse(key, SparkEntry.queries(key))
}
