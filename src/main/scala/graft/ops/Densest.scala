package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate DENSEST SUBGRAPH by parallel (1+ε)-peeling
  * (Charikar 2000's greedy made synchronous, the Bahmani–Kumar–
  * Vassilvitskii 2012 MapReduce form): each round removes EVERY node
  * whose degree is ≤ 2(1+ε)·ρ (ρ = |E|/|V|, the current average-degree
  * half); some round of the trace achieves density ≥ ρ* / (2(1+ε)), and
  * the round count is log₁₊ε n by construction — the whole run is
  * O(log n) degree-counting scans. The "find the spam core / densest
  * community substrate" primitive next to [[KCore]]'s fixed-threshold
  * peel ([[KCore]] answers "who survives degree k"; this answers
  * "which peel level was DENSEST").
  *
  * Determinism + portability: the peel threshold is applied as the
  * exact integer cross-product `d·V·εDen > (εDen+εNum)·2E` — no
  * per-round driver collect, no float ρ; the DuckDB oracle unrolls the
  * identical recurrence (the [[KCore]] device). Contract:
  * dmax·V·εDen < 2⁶³ (move to DECIMAL beyond ~10¹² node-degree
  * products).
  *
  * Scale shape per round: one map-side-combinable degree count, a
  * one-row stats frame broadcast back, two LEFT SEMI joins restricting
  * the edge list. Each edge generation is a [[Cuts.generations]]
  * generation (the [[KCore]] lineage lesson). Output is the ROUND
  * TRACE — R+1 rows, never the corpus.
  */
object Densest {

  /** Peeling trace: one row per non-empty round, the densest flagged.
    *
    * @return (round, n_nodes, n_edges, density, is_best) — density =
    *         n_edges/n_nodes as one IEEE division; is_best marks the
    *         first round achieving the maximum */
  def densestSubgraphTrace(edges: DataFrame, srcCol: String,
      dstCol: String, epsNum: Long = 1L, epsDen: Long = 1L,
      rounds: Int = 12): DataFrame = {
    require(epsNum >= 1 && epsDen >= 1 && rounds >= 1)
    val e0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
    val traces = scala.collection.mutable.Buffer.empty[DataFrame]
    // round r's degrees over its edges `e`, cut because its stats, trace
    // row and survivor filter all read them, and its 1-row stats; the
    // trace row, which reads no edges, goes to `traces`
    def degrees(e: DataFrame, r: Int): (DataFrame, DataFrame) = {
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .localCheckpoint()
      val stats = deg.agg(count(lit(1)).as("__v"),
        coalesce(sum(col("d")), lit(0L)).as("__e2"))
      traces += stats.filter(col("__v") > 0)
        .select(lit(r.toLong).as("round"), col("__v").as("n_nodes"),
          expr("__e2 div 2").as("n_edges"))
      (deg, stats)
    }
    val last = Cuts.generations(e0, rounds) { (e, r) =>
      val (deg, stats) = degrees(e, r - 1)
      val surv = deg.crossJoin(broadcast(stats))
        .filter(col("d") * col("__v") * epsDen >
          lit(epsDen + epsNum) * col("__e2"))
        .select(col("node"))
      e.join(surv.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(surv.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
    }
    Cuts.scoped(last)(degrees(_, rounds))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("density").desc, col("round"))
    traces.reduce(_ unionAll _)
      .withColumn("density",
        col("n_edges").cast("double") / col("n_nodes").cast("double"))
      .withColumn("is_best", row_number().over(w) === 1)
  }

  /** DuckDB oracle for [[densestSubgraphTrace]], unrolled from the
    * same recurrence. `edgeSql` yields (src, dst). */
  def densestSubgraphOracleSql(edgeSql: String, epsNum: Long = 1L,
      epsDen: Long = 1L, rounds: Int = 12): String = {
    def degSql(i: Int) =
      s"""d$i AS MATERIALIZED (
         |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS node FROM e$i UNION ALL SELECT v FROM e$i)
         |  GROUP BY 1
         |), t$i AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS v,
         |         CAST(coalesce(sum(d), 0) AS BIGINT) AS e2
         |  FROM d$i
         |)""".stripMargin
    val steps = (0 until rounds).map { i =>
      s"""${degSql(i)}, s$i AS MATERIALIZED (
         |  SELECT node FROM d$i CROSS JOIN t$i
         |  WHERE d * v * $epsDen > ${epsDen + epsNum} * e2
         |), e${i + 1} AS MATERIALIZED (
         |  SELECT e.* FROM e$i e
         |  JOIN s$i a ON e.u = a.node JOIN s$i b ON e.v = b.node
         |)""".stripMargin
    }.mkString(",\n")
    val trace = (0 to rounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round, v AS n_nodes,
         |       e2 // 2 AS n_edges
         |FROM t$i WHERE v > 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM ($edgeSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |),
       |$steps,
       |${degSql(rounds)},
       |tr AS (
       |$trace
       |)
       |SELECT round, n_nodes, n_edges,
       |       CAST(n_edges AS DOUBLE) / CAST(n_nodes AS DOUBLE)
       |         AS density,
       |       row_number() OVER (ORDER BY CAST(n_edges AS DOUBLE)
       |         / CAST(n_nodes AS DOUBLE) DESC, round) = 1 AS is_best
       |FROM tr""".stripMargin
  }
}
