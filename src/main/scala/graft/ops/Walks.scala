package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Hash64

/** DeepWalk-style random-walk corpus generation (Perozzi et al. 2014):
  * fixed-length walks from every node, the node-sequence "sentences"
  * graph-embedding trainers (word2vec over walks) consume — the bridge
  * from the graph family to the tokenizer/embedding families.
  * Reference analogue: none — LLM-pipeline surface.
  *
  * Walks are DETERMINISTIC: step t of walk (start, w) moves to the
  * neighbor whose dense per-node rank equals
  * `hash60(salt:start:w:t) mod outdeg` — the [[graft.ops.Sampling]]
  * portable-hash doctrine applied to path sampling. A per-partition RNG
  * walk would change with partitioning, retries, and engine; this one
  * is a pure function of (salt, walk identity, step), so reruns ship
  * the identical corpus, incremental runs extend it, and DuckDB replays
  * it exactly (the oracle unrolls one CTE per step).
  *
  * Scale shape: neighbor ranks are one per-node window over the
  * deduplicated edge list (computed once, checkpointed, reused every
  * step); each step is two keyed equi-joins (frontier→degree for the
  * modulus, then (node, pick)→ranked-neighbor) — the frontier is
  * |starts|·walksPerNode rows regardless of step, nothing fans out,
  * nothing is collected. A `localCheckpoint` per generation truncates
  * the lineage, each held as the result reads them all; the neighbor
  * and degree cuts live for the loop ([[Cuts.scoped]]).
  * Walks that reach a sink node (no out-edges) simply end — the honest
  * dangling-node verdict.
  */
object Walks {

  /** @param walksPerNode walks started at each distinct source node
    * @param steps        maximum walk length in edges (≤ 16)
    * @return (start, walk, step, node) — step 0 is the seed row;
    *         a walk reaching a sink stops emitting */
  def deterministicWalks(edges: DataFrame, srcCol: String, dstCol: String,
      walksPerNode: Int, steps: Int, salt: String): DataFrame = {
    require(walksPerNode >= 1 && walksPerNode <= 64)
    require(steps >= 1 && steps <= 16, s"steps must be in [1,16], got $steps")
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .distinct()
    val wNbr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("v"))
    val nbr = e
      .withColumn("rn", row_number().over(wNbr).cast("long"))
      .localCheckpoint()
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    Cuts.scoped(nbr) { nbr =>
      Cuts.scoped(deg) { deg =>
        var frontier = e.select(col("u").as("start")).distinct()
          .select(col("start"),
            explode(sequence(lit(1L), lit(walksPerNode.toLong))).as("walk"))
          .select(col("start"), col("walk"), lit(0L).as("step"),
            col("start").as("node"))
          .localCheckpoint()
        var out = frontier
        (1 to steps).foreach { t =>
          val pick = Hash64.hash60(concat_ws(":", lit(salt), col("start"),
            col("walk"), lit(t))) % col("outdeg") + 1L
          val ranked = nbr.select(col("u").as("__nu"), col("v").as("__nv"),
            col("rn").as("__nrn"))
          frontier = frontier
            .join(deg, col("node") === col("u"))
            .withColumn("__pick", pick)
            .join(ranked, col("node") === col("__nu") &&
              col("__pick") === col("__nrn"))
            .select(col("start"), col("walk"), lit(t.toLong).as("step"),
              col("__nv").as("node"))
            .localCheckpoint()
          out = out.unionAll(frontier)
        }
        out
      }
    }
  }

  /** DuckDB oracle for [[deterministicWalks]]: `edgesSql` yields
    * (src, dst); the step recurrence unrolls one CTE per step with the
    * identical portable hash. */
  def walksOracleSql(edgesSql: String, walksPerNode: Int, steps: Int,
      salt: String): String = {
    val stepCtes = (1 to steps).map { t =>
      val h = Hash64.duckSql(
        s"'$salt' || ':' || CAST(start AS VARCHAR) || ':' || " +
          s"CAST(walk AS VARCHAR) || ':' || '$t'")
      s"""s$t AS (
         |  SELECT f.start, f.walk, CAST($t AS BIGINT) AS step,
         |         n.v AS node
         |  FROM s${t - 1} f
         |  JOIN deg d ON d.u = f.node
         |  JOIN nbr n ON n.u = f.node
         |    AND n.rn = $h % d.outdeg + 1
         |)""".stripMargin
    }.mkString(", ")
    val unions = (0 to steps)
      .map(t => s"SELECT start, walk, step, node FROM s$t")
      .mkString("\n", "\nUNION ALL\n", "")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v
       |  FROM ($edgesSql) WHERE src IS NOT NULL AND dst IS NOT NULL
       |), nbr AS MATERIALIZED (
       |  SELECT u, v,
       |         CAST(row_number() OVER (PARTITION BY u ORDER BY v)
       |           AS BIGINT) AS rn
       |  FROM e
       |), deg AS MATERIALIZED (
       |  SELECT u, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1
       |), s0 AS (
       |  SELECT start, walk, CAST(0 AS BIGINT) AS step, start AS node
       |  FROM (SELECT DISTINCT u AS start FROM e),
       |       (SELECT unnest(generate_series(1, $walksPerNode)) AS walk)
       |), $stepCtes$unions""".stripMargin
  }
}
