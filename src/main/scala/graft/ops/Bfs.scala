package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-hop breadth-first distances from a seed set — the blast-radius /
  * reachability query (which nodes sit within k hops of the flagged
  * accounts, which documents are k links from a known-bad host). Runs a
  * FIXED number of synchronous frontier expansions, so the recurrence is
  * deterministic and the DuckDB oracle unrolls the identical rounds (the
  * q63/q104/q121 pattern); nodes further than `hops` are absent — the
  * honest "not reached within the horizon" verdict, never an invented
  * ∞.
  *
  * Scale shape: each round is ONE keyed equi-join of the current
  * distance frame against the edge list plus a min-aggregation — the
  * frontier never leaves the cluster, nothing is collected or
  * broadcast. Each round is a generation of [[Cuts.generations]], which
  * truncates the doubling plan lineage (the measured CC/k-core failure
  * mode); the undirected edge cut lives for the loop ([[Cuts.scoped]]).
  * Frontier size is bounded by the k-hop neighborhood, the quantity the
  * query is ABOUT.
  */
object Bfs {

  /** Undirected k-hop distances.
    *
    * @param seeds one-column frame of seed node ids (distance 0)
    * @return (node, dist) for every node within `hops` of a seed —
    *         dist = length of the shortest such path
    */
  def kHopDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, hops: Int): DataFrame = {
    require(hops >= 1 && hops <= 16, s"hops must be in [1,16], got $hops")
    frontier(edges, srcCol, dstCol, seeds, hops, perSeed = false)
  }

  /** Shortest hop distances within `hops` rounds from the seeds over
    * the undirected, self-loop-free edges: (node, dist), the minimum
    * over all seeds, or (s, node, dist) per seed `s` when `perSeed`.
    * Round r extends every key's nodes at distance r − 1 by one edge and
    * keeps each key's minimum. */
  private def frontier(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, hops: Int, perSeed: Boolean): DataFrame = {
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
    val key = if (perSeed) Seq(col("s")) else Seq.empty
    val d0 = seeds.toDF("node").distinct()
      .select(key.map(_ => col("node").as("s")) ++
        Seq(col("node"), lit(0L).as("dist")): _*)
    Cuts.scoped(e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
        .distinct().localCheckpoint()) { und =>
      Cuts.generations(d0, hops) { (dist, r) =>
        val next = dist.filter(col("dist") === (r - 1))
          .join(und, col("node") === col("u"))
          .select(key :+ col("v").as("node") :+ lit(r.toLong).as("dist"): _*)
        dist.unionAll(next)
          .groupBy(key :+ col("node"): _*).agg(min(col("dist")).as("dist"))
      }
    }
  }

  /** WEIGHTED shortest distances within `hops` relaxation rounds —
    * Bellman-Ford's synchronous form: each round every known distance
    * relaxes across every out-edge and nodes keep their minimum. After
    * R rounds, distances are exact for all shortest paths of ≤ R edges
    * (the bounded-horizon contract [[kHopDistances]] has, with weights).
    * Non-negative integer weights keep everything exact.
    *
    * Same scale shape and lineage discipline as the unweighted form:
    * one keyed join + one min-aggregation per round, one
    * [[Cuts.generations]] generation each.
    *
    * @return (node, dist) — dist the minimal weighted distance over
    *         paths of at most `hops` edges
    */
  def weightedDistances(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, hops: Int): DataFrame = {
    require(hops >= 1 && hops <= 16, s"hops must be in [1,16], got $hops")
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol) && col(weightCol) >= 0)
      .select(col(srcCol).as("u"), col(dstCol).as("v"),
        col(weightCol).as("w"))
    val d0 = seeds.toDF("node").distinct()
      .select(col("node"), lit(0L).as("dist"))
    Cuts.scoped(e.unionAll(e.select(col("v").as("u"), col("u").as("v"),
        col("w")))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .localCheckpoint()) { und =>
      Cuts.generations(d0, hops) { (dist, _) =>
        val relaxed = dist.join(und, col("node") === col("u"))
          .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
        dist.unionAll(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }
    }
  }

  /** DuckDB oracle for [[weightedDistances]], unrolled rounds.
    * `edgeSql` yields (src, dst, w); `seedSql` yields (node). */
  def weightedOracleSql(edgeSql: String, seedSql: String, hops: Int)
      : String = {
    val steps = (1 to hops).map { r =>
      s"""d$r AS (
         |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT node, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT e.v AS node, f.dist + e.w AS dist
         |    FROM d${r - 1} f JOIN und e ON e.u = f.node
         |  ) GROUP BY 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (
       |  SELECT src AS u, dst AS v, w FROM ($edgeSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |    AND w >= 0
       |), und AS (
       |  SELECT u, v, CAST(min(w) AS BIGINT) AS w FROM (
       |    SELECT u, v, w FROM e UNION ALL SELECT v AS u, u AS v, w FROM e)
       |  GROUP BY 1, 2
       |), d0 AS (
       |  SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM ($seedSql)
       |), $steps
       |SELECT node, dist FROM d$hops""".stripMargin
  }

  /** DuckDB oracle for [[kHopDistances]], unrolled from the same
    * recurrence. `edgeSql` yields (src, dst); `seedSql` yields (node). */
  def kHopOracleSql(edgeSql: String, seedSql: String, hops: Int): String = {
    val steps = (1 to hops).map { r =>
      s"""d$r AS (
         |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT node, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT e.v AS node, ${r} AS dist
         |    FROM d${r - 1} f JOIN und e ON e.u = f.node
         |    WHERE f.dist = ${r - 1}
         |  ) GROUP BY 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (
       |  SELECT src AS u, dst AS v FROM ($edgeSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), und AS (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e)
       |), d0 AS (
       |  SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM ($seedSql)
       |), $steps
       |SELECT node, dist FROM d$hops""".stripMargin
  }

  /** Harmonic centrality from a deterministic seed sample (Boldi &
    * Vigna 2014's recommended closeness variant — sums 1/d, so
    * unreachable pairs contribute 0 instead of breaking the mean the
    * way classic closeness does on disconnected graphs):
    * `h_q(v) = Σ_seeds 10⁶ div d(s, v)` over per-SEED shortest
    * distances within `hops` — integer micros (truncating div, the
    * house quantization), so the whole score replays exactly.
    *
    * Same scale shape as [[kHopDistances]] with the frontier keyed by
    * (seed, node) — seed-count priced, the [[Betweenness]] contract.
    *
    * @return (node, h_q) for nodes reached by ≥ 1 seed (h_q > 0) */
  def harmonicCentrality(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, hops: Int): DataFrame = {
    require(hops >= 1 && hops <= 8)
    frontier(edges, srcCol, dstCol, seeds, hops, perSeed = true)
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(sum(expr("1000000 div dist")).as("h_q"))
  }

  /** Bounded-horizon eccentricities from a seed sample — the diameter
    * estimator: `ecc(s) = max_v d(s, v)` within `hops`; the max over
    * seeds is the standard diameter LOWER BOUND (sampled double-sweep
    * family). Same per-seed frontier as [[harmonicCentrality]], with a
    * reached-count column so a truncated horizon is visible (ecc is
    * exact when n_reached = component size, else a floor).
    *
    * @return per seed: (node, ecc, n_reached) — node the seed */
  def eccentricity(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, hops: Int): DataFrame = {
    require(hops >= 1 && hops <= 8)
    frontier(edges, srcCol, dstCol, seeds, hops, perSeed = true)
      .groupBy(col("s").as("node"))
      .agg(max(col("dist")).as("ecc"),
        (count(lit(1)) - 1).as("n_reached"))
  }

  /** DuckDB oracle for [[eccentricity]]. */
  def eccentricityOracleSql(edgeSql: String, seedSql: String,
      hops: Int): String = {
    val steps = (1 to hops).map { r =>
      s"""d$r AS (
         |  SELECT s, node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT s, node, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT f.s, e.v AS node, $r AS dist
         |    FROM d${r - 1} f JOIN und e ON e.u = f.node
         |    WHERE f.dist = ${r - 1}
         |  ) GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (
       |  SELECT src AS u, dst AS v FROM ($edgeSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), und AS MATERIALIZED (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e)
       |), d0 AS (
       |  SELECT DISTINCT node AS s, node, CAST(0 AS BIGINT) AS dist
       |  FROM ($seedSql)
       |), $steps
       |SELECT s AS node, CAST(max(dist) AS BIGINT) AS ecc,
       |       CAST(count(*) - 1 AS BIGINT) AS n_reached
       |FROM d$hops GROUP BY 1""".stripMargin
  }

  /** DuckDB oracle for [[harmonicCentrality]]. */
  def harmonicOracleSql(edgeSql: String, seedSql: String,
      hops: Int): String = {
    val steps = (1 to hops).map { r =>
      s"""d$r AS (
         |  SELECT s, node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT s, node, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT f.s, e.v AS node, $r AS dist
         |    FROM d${r - 1} f JOIN und e ON e.u = f.node
         |    WHERE f.dist = ${r - 1}
         |  ) GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (
       |  SELECT src AS u, dst AS v FROM ($edgeSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), und AS MATERIALIZED (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e)
       |), d0 AS (
       |  SELECT DISTINCT node AS s, node, CAST(0 AS BIGINT) AS dist
       |  FROM ($seedSql)
       |), $steps
       |SELECT node, CAST(sum(1000000 // dist) AS BIGINT) AS h_q
       |FROM d$hops WHERE dist > 0
       |GROUP BY 1""".stripMargin
  }
}
