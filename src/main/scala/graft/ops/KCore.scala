package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by synchronous degree peeling — the density
  * filter of the graph family (spam/link-farm isolation, community
  * cores, influencer substrates): repeatedly delete every node whose
  * degree in the SURVIVING subgraph is < k. The true k-core is the
  * fixpoint and is unique regardless of deletion order; this runs a
  * FIXED number of synchronous rounds so the recurrence is
  * deterministic and engine-portable (the DuckDB oracle unrolls the
  * identical rounds — the q63/q104 pattern). rounds ≥ the cascade
  * depth gives the exact k-core; fewer gives the documented R-round
  * over-approximation.
  *
  * Scale shape: each round is one map-side-combinable degree count +
  * two keyed LEFT SEMI joins restricting the edge list — no windows,
  * nothing collected, nothing broadcast but the plan itself. Each
  * round is a [[Cuts.generations]] generation: the edge frame feeds
  * four plan arms per round (both degree-union legs + both semi-join
  * probes), so un-truncated lineage would grow ~4^rounds plan nodes and
  * stall driver-side analysis (the failure mode measured on the distributed
  * loop of [[graft.dedup.NearDup.connectedComponents]]).
  */
object KCore {

  /** Nodes surviving `rounds` synchronous peels at threshold `k`, with
    * their degree in the final surviving subgraph. Self-loops and NULL
    * endpoints are dropped; parallel/bidirectional edges collapse.
    * Nodes peeled out (or isolated by their neighbors' removal) are
    * absent from the result.
    *
    * @return (node, core_deg) */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val e0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
    val e = Cuts.generations(e0, rounds) { (e, _) =>
      val surv = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("node"))
      e.join(surv.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(surv.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
    }
    e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** FULL coreness decomposition by h-index propagation (Lü–Zhou–
    * Zhang 2016): every node's core NUMBER in one pass family, where
    * [[kCore]] answers a single fixed k. c⁰(v) = deg(v);
    * c^{t+1}(v) = H({c^t(u) : u ~ v}) — the h-index of the neighbors'
    * current values. The sequence is monotone non-increasing and
    * converges to the exact coreness; a fixed `rounds` gives the
    * documented UPPER BOUND, exact whenever the peel cascade is no
    * deeper than `rounds` (RelationalOpsSpec pins exact values on
    * known graphs at round 2).
    *
    * Scale shape per round: one keyed join (adjacency against the
    * value table) + one per-node window over neighbor lists (degree-
    * bounded partitions) — no global sorts; one [[Cuts.generations]]
    * generation per round (the [[kCore]] lineage discipline).
    *
    * @return (node, coreness, deg) */
  def corenessHIndex(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 8): DataFrame = {
    require(rounds >= 1)
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
    val adj = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint()
    val deg = adj.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("__cv").desc, col("b"))
    val c = Cuts.generations(deg.select(col("node"), col("deg").as("c")),
        rounds) { (c, _) =>
      adj.join(c.withColumnRenamed("node", "b"), "b")
        .select(col("a"), col("b"), col("c").as("__cv"))
        .withColumn("__rn", row_number().over(w).cast("long"))
        .groupBy(col("a").as("node"))
        .agg(max(least(col("__rn"), col("__cv"))).as("c"))
    }
    c.join(deg, "node")
      .select(col("node"), col("c").as("coreness"), col("deg"))
  }

  /** DuckDB oracle for [[corenessHIndex]], unrolled. `edgeSql` yields
    * (src, dst). */
  def corenessOracleSql(edgeSql: String, rounds: Int = 8): String = {
    val steps = (1 to rounds).map { r =>
      s"""c$r AS MATERIALIZED (
         |  SELECT a AS node, CAST(max(least(rn, cv)) AS BIGINT) AS c
         |  FROM (
         |    SELECT adj.a, c${r - 1}.c AS cv,
         |           row_number() OVER (PARTITION BY adj.a
         |             ORDER BY c${r - 1}.c DESC, adj.b) AS rn
         |    FROM adj JOIN c${r - 1} ON adj.b = c${r - 1}.node)
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM ($edgeSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), adj AS MATERIALIZED (
       |  SELECT u AS a, v AS b FROM und
       |  UNION ALL SELECT v, u FROM und
       |), c0 AS MATERIALIZED (
       |  SELECT a AS node, CAST(count(*) AS BIGINT) AS c
       |  FROM adj GROUP BY 1
       |),
       |$steps
       |SELECT c$rounds.node, c$rounds.c AS coreness, c0.c AS deg
       |FROM c$rounds JOIN c0 ON c$rounds.node = c0.node""".stripMargin
  }

  /** DuckDB oracle for [[kCore]], unrolled from the same recurrence.
    * `edgeSql` must yield columns (src, dst); NULL/loop hygiene is
    * inlined so callers pass the raw edge query. */
  def kCoreOracleSql(edgeSql: String, k: Int, rounds: Int = 4): String = {
    val steps = (1 to rounds).map { r =>
      s"""s$r AS (
         |  SELECT node FROM (
         |    SELECT node, count(*) AS d FROM (
         |      SELECT u AS node FROM e${r - 1}
         |      UNION ALL SELECT v FROM e${r - 1}) GROUP BY 1)
         |  WHERE d >= $k
         |), e$r AS (
         |  SELECT e.* FROM e${r - 1} e
         |  JOIN s$r a ON e.u = a.node JOIN s$r b ON e.v = b.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e0 AS (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM ($edgeSql)
      |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
      |), $steps
      |SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM (
      |  SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
      |GROUP BY 1""".stripMargin
  }
}
