package graft

/** Building a query runs no Spark job: every decision a builder makes
  * comes from schemas and plans, not from eager counts or checkpoints.
  * Covers the short relational mix of the interactive benchmark (the
  * reference surface, the quantile/histogram-cumsum routes and the TPC-H
  * joins); the iterative operators are documented driver loops and are
  * out of scope. */
class BuilderJobsSpec extends SparkSuite {

  // the checkout's copy of the sf0.001 testdata (TESTDATA.md)
  private val dir = "perfbench/data/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val mix = Seq("q01_project_filter", "q03_career_stats",
    "q04_ranking_topk", "q05_moving_avg", "q06_trend_alerts",
    "q07_zscore_anomaly", "q08_hourly_rollup", "q09_map_difficulty",
    "q10_kda", "q11_severity", "q12_dedup_exact", "q40_quantiles",
    "q84_decile_bin", "q88_ntile", "q225_abc_class", "q424_tpch_q1",
    "q425_tpch_q3", "q426_tpch_q5", "q438_tpch_q9")

  test("building the interactive mix runs no Spark job") {
    // schemas are resolved once per process (Tables); resolve them first
    tables.foreach(Tables(spark, dir)(_))
    val ran = JobGroups.started(spark)(
      mix.map(q => q -> (() => SparkEntry.queries(q)(spark, dir))))
    assert(ran.isEmpty, s"builders ran jobs: $ran")
  }
}
