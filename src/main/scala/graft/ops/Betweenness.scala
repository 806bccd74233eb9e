package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded betweenness centrality (Brandes 2001, the k-source sampled
  * form of Brandes & Pich 2007) — WHO SITS ON THE PATHS: the broker /
  * bottleneck score the rest of the centrality family (degree,
  * PageRank q63, HITS q151, k-core q121) cannot express, since they
  * all measure endpoint prominence, not transit. Exact all-pairs
  * betweenness is O(nm); the standard practice is Brandes' dependency
  * accumulation from a deterministic seed sample, bounded-horizon —
  * exactly the [[Bfs]] contract with path counting and a backward
  * sweep added.
  *
  * Forward: synchronous BFS levels carrying σ (shortest-path counts —
  * a new node's σ is the sum over its level-(d−1) parents, exact
  * integers). Backward: per level d from the horizon down,
  * `δ_q(v) = Σ_{w ∈ succ(v)} σ_v·(10⁶ + δ_q(w)) div σ_w` — each
  * contribution an integer micro term (truncating div, the documented
  * quantization), so the per-node sum is order-independent and the
  * whole recurrence replays exactly in the oracle's unrolled CTEs.
  * `bc_q(v) = Σ_seeds δ_q(v)`, seeds excluded at their own row.
  *
  * Scale shape: every round is one (seed, node)-keyed equi-join plus
  * one keyed aggregation; frames are (seed × reached-neighborhood)-
  * sized; a `localCheckpoint` per generation. The result reads every
  * backward generation, which stay held; the forward levels and the
  * undirected edge cut are released once the backward sweep has cut
  * its last generation ([[Cuts]]).
  * Overflow ledger: `σ_v·(10⁶ + δ_q(w)) < 2⁶³` — σ grows with the
  * path-multiplicity of the graph, so the hop cap (≤ 4) is load-
  * bearing; callers on path-dense graphs lower it.
  *
  * @param seeds one-column frame of seed node ids
  * @return (node, bc_q) — integer-micro betweenness restricted to
  *         shortest paths of ≤ `hops` edges from the seed set; only
  *         nodes with bc_q > 0 appear */
object Betweenness {

  def fromSeeds(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, hops: Int): DataFrame = {
    require(hops >= 1 && hops <= 4, s"hops must be in [1,4], got $hops")
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
    val und = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint()
    Cuts.scoped(und) { und =>
      // forward: levels(d) = (s, node, sigma)
      var levels = Vector(
        seeds.toDF("node").distinct()
          .select(col("node").as("s"), col("node"), lit(1L).as("sigma"))
          .localCheckpoint())
      var known = levels(0).select(col("s"), col("node"))
      (1 to hops).foreach { _ =>
        val next = levels.last
          .join(und, col("node") === col("u"))
          .groupBy(col("s"), col("v"))
          .agg(sum(col("sigma")).as("sigma"))
          .select(col("s"), col("v").as("node"), col("sigma"))
          .join(known, Seq("s", "node"), "left_anti")
          .localCheckpoint()
        levels = levels :+ next
        known = known.unionAll(next.select(col("s"), col("node")))
      }
      // backward: delta(d) = (s, node, sigma, dq)
      var delta = levels(hops).withColumn("dq", lit(0L)).localCheckpoint()
      var acc = delta.select(col("s"), col("node"), col("dq"))
      (hops - 1 to 0 by -1).foreach { d =>
        val succ = delta
          .select(col("s").as("__s"), col("node").as("__w"),
            col("sigma").as("__sw"), col("dq").as("__dw"))
        val contrib = levels(d)
          .join(und, levels(d)("node") === col("u"))
          .join(succ, col("v") === col("__w") && col("s") === col("__s"))
          .select(col("s"), col("node"), col("sigma"),
            expr("sigma * (1000000 + __dw) div __sw").as("__c"))
          .groupBy(col("s"), col("node"), col("sigma"))
          .agg(sum(col("__c")).as("__cs"))
        val lvl = levels(d)
          .join(contrib.select(col("s"), col("node"), col("__cs")),
            Seq("s", "node"), "left")
          .select(col("s"), col("node"), col("sigma"),
            coalesce(col("__cs"), lit(0L)).as("dq"))
          .localCheckpoint()
        delta = lvl
        acc = acc.unionAll(lvl.select(col("s"), col("node"), col("dq")))
      }
      // the backward generations hold every level's dependencies
      levels.foreach(Cuts.release)
      acc
        .filter(col("node") =!= col("s"))
        .groupBy(col("node")).agg(sum(col("dq")).as("bc_q"))
        .filter(col("bc_q") > 0)
    }
  }

  /** DuckDB oracle for [[fromSeeds]]: forward levels and backward
    * dependency sweeps unrolled, the identical integer-micro terms.
    * `edgeSql` yields (src, dst); `seedSql` yields (node). */
  def fromSeedsOracleSql(edgeSql: String, seedSql: String,
      hops: Int): String = {
    val fwd = (1 to hops).map { r =>
      s"""f$r AS (
         |  SELECT c.s, c.node, c.sigma FROM (
         |    SELECT f.s, e.v AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
         |    FROM f${r - 1} f JOIN und e ON f.node = e.u
         |    GROUP BY 1, 2) c
         |  LEFT JOIN k${r - 1} k ON k.s = c.s AND k.node = c.node
         |  WHERE k.s IS NULL
         |), k$r AS (
         |  SELECT s, node FROM k${r - 1}
         |  UNION ALL SELECT s, node FROM f$r
         |)""".stripMargin
    }.mkString(", ")
    val bwd = (hops - 1 to 0 by -1).map { d =>
      val up = if (d == hops - 1) s"b$hops" else s"b${d + 1}"
      s"""b$d AS (
         |  SELECT f.s, f.node, f.sigma,
         |         CAST(coalesce((
         |           SELECT sum(f.sigma * (1000000 + bn.dq) // bn.sigma)
         |           FROM und e JOIN $up bn
         |             ON e.v = bn.node AND bn.s = f.s
         |           WHERE e.u = f.node), 0) AS BIGINT) AS dq
         |  FROM f$d f
         |)""".stripMargin
    }.mkString(", ")
    val accAll = (0 to hops)
      .map(d => s"SELECT s, node, dq FROM b$d")
      .mkString("\nUNION ALL\n")
    s"""WITH e0 AS (
       |  SELECT src AS u, dst AS v FROM ($edgeSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), und AS MATERIALIZED (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)
       |), f0 AS (
       |  SELECT DISTINCT node AS s, node, CAST(1 AS BIGINT) AS sigma
       |  FROM ($seedSql)
       |), k0 AS (SELECT s, node FROM f0),
       |$fwd,
       |b$hops AS (
       |  SELECT s, node, sigma, CAST(0 AS BIGINT) AS dq FROM f$hops
       |), $bwd,
       |acc AS ($accAll)
       |SELECT node, CAST(sum(dq) AS BIGINT) AS bc_q
       |FROM acc WHERE node <> s
       |GROUP BY 1 HAVING sum(dq) > 0""".stripMargin
  }
}
