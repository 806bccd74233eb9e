package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum spanning forest by Borůvka's algorithm — the backbone
  * extractor (cheapest connecting skeleton of a weighted graph; run on
  * negated similarity/volume it is the MAXIMUM spanning tree, the
  * standard correlation-network / trade-backbone readout). Borůvka is
  * THE data-parallel MST algorithm: every component picks its minimum
  * incident edge simultaneously, components at least halve per round,
  * so ⌈log2 n⌉ rounds suffice — Kruskal's sorted sequential scan and
  * Prim's frontier are inherently serial. Reference analogue: none —
  * graph-analytics surface.
  *
  * Edges are totally ordered by (w, a, b) with (a, b) the canonical
  * endpoint pair — the classic tie-break that makes the MSF UNIQUE
  * (equivalent to Kruskal under the same order), hence deterministic
  * across engines/partitionings and oracle-checkable: the DuckDB oracle
  * replays Kruskal over the identical total order with a recursive-CTE
  * union-find fold (the [[BinPack]] sequential-recurrence doctrine).
  *
  * Scale shape per round: one component-labeling join pair, one keyed
  * min-aggregation (map-side combinable struct-min), and a component
  * re-resolution via [[graft.dedup.NearDup.connectedComponents]]
  * (union-find in the driver while the ≤ n−1 MST edges fit its bound,
  * else pointer doubling, lineage-truncated). Rounds are driver-bounded
  * with an early exit when no cross-component edge remains (a 1-row
  * count, the contract-bounded BPE idiom). Candidate MST edges stay a
  * frame; only that bounded re-resolution collects.
  */
object Mst {

  /** Minimum spanning forest edges.
    *
    * @param rounds Borůvka round cap (components halve per round, so
    *               20 covers any graph up to 2^20 components)
    * @return (a, b, w) — canonical endpoints and the edge weight; one
    *         row per MSF edge (n − #components rows total) */
  def boruvka(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, rounds: Int = 16): DataFrame = {
    require(rounds >= 1 && rounds <= 20)
    val spark = edges.sparkSession
    import org.apache.spark.sql.types._
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(weightCol).isNotNull && col(srcCol) =!= col(dstCol))
      .select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"),
        col(weightCol).cast("long").as("w"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .localCheckpoint()
    Cuts.scoped(e) { e =>
      val nodes = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node"))).distinct()
        .localCheckpoint()
      Cuts.scoped(nodes) { nodes =>
        // each round supersedes the last forest, labelling and
        // candidate cut; the result reads only the last forest
        var comp = nodes.select(col("node"), col("node").as("c"))
        var labelled = false
        var mst = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("a", LongType),
            StructField("b", LongType), StructField("w", LongType))))
        var done = false
        (1 to rounds).foreach { _ =>
          if (!done) {
            val ca = comp.select(col("node").as("a"), col("c").as("__ca"))
            val cb = comp.select(col("node").as("b"), col("c").as("__cb"))
            val ce = e.join(ca, "a").join(cb, "b")
              .filter(col("__ca") =!= col("__cb"))
              .localCheckpoint()
            if (ce.isEmpty) { done = true; Cuts.release(ce) }
            else {
              val pick = struct(col("w"), col("a"), col("b"))
              val chosen = ce.select(col("__ca").as("__c"), pick.as("__e"))
                .unionAll(ce.select(col("__cb").as("__c"), pick.as("__e")))
                .groupBy(col("__c")).agg(min(col("__e")).as("__e"))
                .select(col("__e.a").as("a"), col("__e.b").as("b"),
                  col("__e.w").as("w"))
                .distinct()
              mst = Cuts.superseding(mst.unionAll(chosen), mst, ce)
              val cc = graft.dedup.NearDup
                .connectedComponents(mst, "a", "b")
                .select(col("node"), col("cluster_id").as("__cc"))
              val next = nodes.join(cc, Seq("node"), "left")
                .select(col("node"),
                  coalesce(col("__cc"), col("node")).as("c"))
              comp =
                if (labelled) Cuts.superseding(next, comp)
                else next.localCheckpoint()
              labelled = true
            }
          }
        }
        if (labelled) Cuts.release(comp)
        mst
      }
    }
  }

  /** DuckDB oracle for [[boruvka]]: Kruskal replayed over the identical
    * (w, a, b) total order with a recursive-CTE union-find — one step
    * per edge, the component labeling carried as a LIST of (node, comp)
    * structs; an edge is kept iff its endpoints' labels differ at its
    * turn. `edgesSql` yields (src, dst, w). */
  def boruvkaOracleSql(edgesSql: String): String =
    s"""WITH RECURSIVE e AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |         CAST(min(w) AS BIGINT) AS w
       |  FROM ($edgesSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND w IS NOT NULL
       |    AND src <> dst
       |  GROUP BY 1, 2
       |), se AS MATERIALIZED (
       |  SELECT a, b, w,
       |         CAST(row_number() OVER (ORDER BY w, a, b) AS BIGINT) AS rn
       |  FROM e
       |), init AS (
       |  SELECT list(struct_pack(n := node, c := node) ORDER BY node)
       |    AS comps
       |  FROM (SELECT a AS node FROM e UNION SELECT b FROM e)
       |), k AS (
       |  SELECT CAST(0 AS BIGINT) AS i,
       |         CAST(NULL AS BIGINT) AS ka, CAST(NULL AS BIGINT) AS kb,
       |         CAST(NULL AS BIGINT) AS kw, false AS kept,
       |         comps
       |  FROM init
       |  UNION ALL
       |  SELECT s.i + 1, s.a, s.b, s.w,
       |         s.cu <> s.cv,
       |         CASE WHEN s.cu <> s.cv THEN
       |           list_transform(s.comps, x -> struct_pack(n := x.n,
       |             c := CASE WHEN x.c = greatest(s.cu, s.cv)
       |                       THEN least(s.cu, s.cv) ELSE x.c END))
       |         ELSE s.comps END
       |  FROM (
       |    SELECT k.i, k.comps, se.a, se.b, se.w,
       |           list_filter(k.comps, x -> x.n = se.a)[1].c AS cu,
       |           list_filter(k.comps, x -> x.n = se.b)[1].c AS cv
       |    FROM k JOIN se ON se.rn = k.i + 1
       |  ) s
       |)
       |SELECT ka AS a, kb AS b, kw AS w FROM k WHERE kept""".stripMargin
}
