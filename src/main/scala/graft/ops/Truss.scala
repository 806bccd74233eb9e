package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss — the EDGE-cohesion filter next to [[KCore]]'s node
  * filter: keep edges supported by at least k−2 triangles among the
  * surviving edges, iterated (Cohen 2008). A k-truss is the standard
  * "relationships with corroboration" cut — an edge survives only if
  * its endpoints share enough common neighbors that also survive —
  * stricter than k-core (every k-truss edge lies in the (k−1)-core)
  * and immune to the star-hub false positive that degree-based cuts
  * admit.
  *
  * Synchronous peels, FIXED round count (the [[KCore]] contract: both
  * engines run the identical bounded recurrence, so the result is
  * deterministic and the oracle unrolls the same rounds; a fixpoint on
  * the harness graphs is reached well inside the default).
  *
  * Per round, support is computed by the [[Triangles]] degree-ordered
  * adjacency-intersection (Σ out-deg² bounded O(m^1.5), no wedge rows
  * materialized): each intersection witness credits all THREE edges of
  * its triangle, one keyed aggregation sums the credits, and one keyed
  * join drops under-supported edges. Everything is equi-joins on node
  * or edge keys; adjacency arrays are ≤ O(√(2m)) by the orientation.
  *
  * @return surviving canonical edges with their final-round support:
  *         (u, v, support) — u < v by id */
object Truss {

  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 3 && rounds >= 1 && rounds <= 8)
    val e0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
    // the round's persisted orientation and adjacency, dropped once the
    // round's cut exists
    var roundCache = Seq.empty[DataFrame]
    // fixpoint exit: a round that removes nothing recomputes identical
    // supports forever after, so stopping early returns exactly what
    // the oracle's fixed rounds compute (1-row count, the BPE idiom)
    var prevCount = -1L
    val settled = (g: DataFrame, _: Int) => {
      roundCache.foreach(_.unpersist()); roundCache = Nil
      val n = g.count()
      try n == prevCount finally prevCount = n
    }
    Cuts.generations(e0, rounds, settled) { (g, _) =>
      val e = g.select(col("u"), col("v"))
      val deg = e.select(col("u").as("n"))
        .unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val lower = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
      val o = e
        .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
        .select(
          when(lower, col("u")).otherwise(col("v")).as("s"),
          when(lower, col("v")).otherwise(col("u")).as("t"))
        .persist()
      val adj = o.groupBy(col("s").as("n"))
        .agg(collect_list(col("t")).as("nbrs")).persist()
      roundCache = Seq(o, adj)
      val wit = o
        .join(adj.select(col("n").as("s"), col("nbrs").as("__ns")),
          Seq("s"))
        .join(adj.select(col("n").as("t"), col("nbrs").as("__nt")),
          Seq("t"))
        .select(col("s"), col("t"),
          explode(array_intersect(col("__ns"), col("__nt"))).as("w"))
      // every witness credits the triangle's three edges (canonical ids)
      val credits = wit.select(col("s").as("a"), col("t").as("b"))
        .unionAll(wit.select(least(col("s"), col("w")).as("a"),
          greatest(col("s"), col("w")).as("b")))
        .unionAll(wit.select(least(col("t"), col("w")).as("a"),
          greatest(col("t"), col("w")).as("b")))
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
      val sup = credits.groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("support"))
      e.join(sup, Seq("u", "v"))
        .filter(col("support") >= k - 2)
    }
  }

  /** DuckDB oracle for [[kTruss]]: the same fixed rounds, support via
    * the canonical three-way triangle join (orientation-free — the
    * triangle SET is orientation-independent). `edgeSql` yields
    * (src, dst). */
  def kTrussOracleSql(edgeSql: String, k: Int, rounds: Int = 4): String = {
    val steps = (1 to rounds).map { r =>
      s"""t$r AS MATERIALIZED (
         |  SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM e${r - 1} a
         |  JOIN e${r - 1} b ON a.u = b.u AND a.v < b.v
         |  JOIN e${r - 1} c ON c.u = a.v AND c.v = b.v
         |), s$r AS (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS support FROM (
         |    SELECT x AS u, y AS v FROM t$r
         |    UNION ALL SELECT x, z FROM t$r
         |    UNION ALL SELECT y, z FROM t$r)
         |  GROUP BY 1, 2
         |), e$r AS MATERIALIZED (
         |  SELECT e.u, e.v, s.support
         |  FROM e${r - 1} e JOIN s$r s ON e.u = s.u AND e.v = s.v
         |  WHERE s.support >= ${k - 2}
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM ($edgeSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), $steps
       |SELECT u, v, support FROM e$rounds""".stripMargin
  }
}
