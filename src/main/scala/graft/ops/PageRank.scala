package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge frame, in EXACT integer arithmetic.
  *
  * Ranks are carried as quantized longs (`scale` units = rank 1.0) and
  * every step is integer division/multiplication — no floating point
  * until the final readout — so the result is deterministic across
  * partitionings, retries, AND engines: the DuckDB oracle (q63) replays
  * the identical integer recurrence and matches bit-for-bit. A
  * double-valued PageRank cannot be oracled this way (shuffle-order
  * float sums), which is why published implementations are only ever
  * "close"; this one is reproducible to the unit.
  *
  * Recurrence (α as a rational `alphaNum/alphaDen`):
  *   r₀(v)   = scale
  *   rₖ₊₁(v) = ⌊scale·(den−num)/den⌋ + ⌊num·Σ_{u→v}⌊rₖ(u)/deg(u)⌋ / den⌋
  * Dangling mass (nodes without out-edges) is dropped, not
  * redistributed — the usual simplification; document if ranks must sum
  * to n. Overflow bound: n·scale·alphaNum must stay under 2⁶³ — at
  * 10¹² nodes drop scale to 10⁶.
  *
  * Scale shape: per iteration ONE keyed join of the edge frame with the
  * rank frame (both partitioned by the join key), a map-side-combinable
  * inflow sum, and a left join back to the node set. The edge frame and
  * degree frame are computed once. Iterations are few and each
  * generation references the previous exactly once, so the logical plan
  * grows linearly — no checkpoint needed (contrast
  * [[graft.dedup.NearDup.connectedComponents]]' distributed loop,
  * whose 3-way self-reference forces per-round lineage truncation).
  */
object PageRank {

  /** @return (node, r: quantized long, rank: r/scale as double) */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1000000000L,
      alphaNum: Long = 17L, alphaDen: Long = 20L): DataFrame = {
    require(iters >= 1 && alphaNum > 0 && alphaDen > alphaNum)
    // e/nodes/eDeg are re-embedded by EVERY round's join — checkpointed
    // once so the per-round chain reads cut leaves instead of replaying
    // the distinct/union/degree subtrees (q63's before-plan re-planned
    // 56 scans); the rank chain itself is linear (each generation
    // referenced once) and stays lazy.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val eDeg = e.join(outdeg, "src").localCheckpoint()
    val base = scale * (alphaDen - alphaNum) / alphaDen
    var ranks = nodes.withColumn("r", lit(scale))
    (1 to iters).foreach { _ =>
      val inflow = eDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
      ranks = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"($alphaNum * coalesce(inflow, 0L)) div $alphaDen")).as("r"))
    }
    ranks.select(col("node"), col("r"),
      (col("r").cast("double") / lit(scale.toDouble)).as("rank"))
  }

  /** PERSONALIZED PageRank — teleport mass returns to a SEED SET
    * instead of everywhere, so rank measures proximity TO THE SEEDS
    * (the standard "related nodes" / seeded-recommendation operator;
    * the global [[pageRank]] measures importance, PPR measures
    * relevance). Same exact integer recurrence with the restart term
    * gated by the seed indicator:
    *   r₀(v)   = [v ∈ S]·scale
    *   rₖ₊₁(v) = [v ∈ S]·⌊scale·(den−num)/den⌋ + ⌊num·Σ inflow / den⌋
    * Only nodes with r > 0 return — PPR mass reaches at most the
    * seeds' `iters`-hop out-neighborhood, so the output is
    * neighborhood-bounded, not graph-bounded (the property that makes
    * PPR usable per-query at scale).
    *
    * Scale shape identical to [[pageRank]] (the seed indicator rides
    * the node frame — one extra column, no extra shuffle).
    *
    * @param seeds one column `node`
    * @return (node, r, ppr) with r > 0 */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, iters: Int = 3,
      scale: Long = 1000000000L, alphaNum: Long = 17L,
      alphaDen: Long = 20L): DataFrame = {
    require(iters >= 1 && alphaNum > 0 && alphaDen > alphaNum)
    // same leaf checkpoints as [[pageRank]] — the per-round joins
    // otherwise replay the distinct/union/degree subtrees every round
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .join(seeds.select(col("node")).distinct()
        .withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("s"))
      .localCheckpoint()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val eDeg = e.join(outdeg, "src").localCheckpoint()
    val base = scale * (alphaDen - alphaNum) / alphaDen
    var ranks = nodes.select(col("node"), col("s"),
      (col("s") * scale).as("r"))
    (1 to iters).foreach { _ =>
      val inflow = eDeg
        .join(ranks.select(col("node").as("src"), col("r")), "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
      ranks = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"), col("s"),
          (col("s") * base +
            expr(s"($alphaNum * coalesce(inflow, 0L)) div $alphaDen")).as("r"))
    }
    ranks.filter(col("r") > 0)
      .select(col("node"), col("r"),
        (col("r").cast("double") / lit(scale.toDouble)).as("ppr"))
  }

  /** Synchronous label propagation — community detection, the
    * modularity-flavored sibling of
    * [[graft.dedup.NearDup.connectedComponents]]: CC fuses anything
    * reachable (a fixpoint, resolved in the driver when the graph is
    * small); LPA keeps weakly-bridged regions apart because labels
    * advance by NEIGHBOR MAJORITY, not mere reachability. The classic
    * async sweep is visit-order-dependent (useless for reproducible
    * pipelines); this is the synchronous variant with a TOTAL tie-break
    * — per node take the most frequent neighbor label, count ties to
    * the smallest label — so a fixed iteration count gives a
    * deterministic, engine-portable labeling (the oracle unrolls the
    * identical recurrence). Sync LPA can oscillate on bipartite
    * structure; fixed small `iters` (the published mitigation) bounds
    * that and the plan.
    *
    * Scale shape: per iteration ONE keyed edge×labels join + a
    * map-side-combinable (node, lab) count + an argmax as
    * `max(struct(c, −lab))` — no window over the corpus. Each
    * generation is referenced once, so lineage grows linearly (the
    * PageRank property, not CC's 3-way self-reference).
    *
    * @return (node, community) — every edge endpoint labeled */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    // every round joins against sym — checkpointed once (the pageRank
    // leaf recipe); the label chain is linear and stays lazy
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
    (1 to iters).foreach { _ =>
      labels = sym
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        // largest count, then smallest label: min over (-c, lab). `c` is
        // always a long count so negating it is safe; `lab` stays in its
        // own type (string node ids order correctly — no numeric cast).
        .agg(min(struct((-col("c")).as("nc"), col("lab"))).as("b"))
        .select(col("node"), col("b.lab").as("lab"))
    }
    labels.select(col("node"), col("lab").as("community"))
  }

  /** Incremental PageRank: REFINE stored ranks after a small edge
    * delta instead of recomputing the world — the graph sibling of the
    * q89 incremental rollup contract. Runs [[pageRank]]'s recurrence
    * `iters` times on the base edges (standing in for the stored rank
    * table), then ONE refinement sweep over base ∪ delta starting from
    * those ranks; nodes the delta introduces start at `scale` (the cold
    * prior). The report shows where rank mass actually moved — which is
    * the signal that decides whether more sweeps are worth running.
    *
    * Scale shape: the refinement costs exactly one [[pageRank]]
    * iteration (one keyed join + keyed sum + left join) regardless of
    * how many iterations built the base — that asymmetry is the whole
    * point. Same integer arithmetic, so old, new and moved all
    * hash-match the unrolled oracle.
    *
    * @return (node, r_prev, r_new, moved) — r_prev NULL for nodes the
    *         delta introduced; moved = r_new − coalesce(r_prev, scale)
    */
  def incrementalPageRank(baseEdges: DataFrame, deltaEdges: DataFrame,
      srcCol: String, dstCol: String, iters: Int = 3,
      scale: Long = 1000000000L, alphaNum: Long = 17L,
      alphaDen: Long = 20L): DataFrame = {
    val prev = pageRank(baseEdges, srcCol, dstCol, iters, scale,
      alphaNum, alphaDen).select(col("node"), col("r").as("r_prev"))
    val all = baseEdges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionAll(deltaEdges.select(col(srcCol).as("src"),
        col(dstCol).as("dst")))
      .distinct()
    val nodes = all.select(col("src").as("node"))
      .unionAll(all.select(col("dst").as("node"))).distinct()
    val outdeg = all.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ranks0 = nodes.join(prev, Seq("node"), "left")
      .select(col("node"), col("r_prev"),
        coalesce(col("r_prev"), lit(scale)).as("r"))
    val base = scale * (alphaDen - alphaNum) / alphaDen
    val inflow = all.join(outdeg, "src")
      .join(ranks0.select(col("node").as("src"), col("r")), "src")
      .select(col("dst").as("node"), expr("r div deg").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
    ranks0.join(inflow, Seq("node"), "left")
      .select(col("node"), col("r_prev"),
        (lit(base) +
          expr(s"($alphaNum * coalesce(inflow, 0L)) div $alphaDen"))
          .as("r_new"))
      .withColumn("moved",
        col("r_new") - coalesce(col("r_prev"), lit(scale)))
  }

  /** DuckDB oracle for [[incrementalPageRank]]: the [[pageRankOracleSql]]
    * unroll plus one refinement CTE over base ∪ delta. */
  def incrementalPageRankOracleSql(edgeSql: String, deltaSql: String,
      iters: Int = 3, scale: Long = 1000000000L, alphaNum: Long = 17L,
      alphaDen: Long = 20L): String = {
    val base = scale * (alphaDen - alphaNum) / alphaDen
    val steps = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node, sum(r${k - 1}.r // deg) AS inflow
         |  FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
         |  JOIN outdeg USING (src) GROUP BY 1
         |), r$k AS (
         |  SELECT n.node,
         |         CAST($base + ($alphaNum * coalesce(c$k.inflow, 0)) // $alphaDen
         |              AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$k USING (node)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgeSql)),
      |nodes AS (
      |  SELECT DISTINCT node FROM
      |    (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
      |), outdeg AS (
      |  SELECT src, count(*) AS deg FROM e GROUP BY 1
      |), r0 AS (
      |  SELECT node, CAST($scale AS BIGINT) AS r FROM nodes
      |), $steps,
      |allE AS (
      |  SELECT DISTINCT src, dst FROM
      |    (SELECT src, dst FROM ($edgeSql)
      |     UNION ALL SELECT src, dst FROM ($deltaSql))
      |), allNodes AS (
      |  SELECT DISTINCT node FROM
      |    (SELECT src AS node FROM allE UNION ALL SELECT dst FROM allE)
      |), allDeg AS (
      |  SELECT src, count(*) AS deg FROM allE GROUP BY 1
      |), rk0 AS (
      |  SELECT n.node, r$iters.r AS r_prev,
      |         CAST(coalesce(r$iters.r, $scale) AS BIGINT) AS r
      |  FROM allNodes n LEFT JOIN r$iters USING (node)
      |), flow AS (
      |  SELECT allE.dst AS node, sum(rk0.r // deg) AS inflow
      |  FROM allE JOIN rk0 ON allE.src = rk0.node
      |  JOIN allDeg USING (src) GROUP BY 1
      |)
      |SELECT rk0.node, rk0.r_prev,
      |       CAST($base + ($alphaNum * coalesce(flow.inflow, 0)) // $alphaDen
      |            AS BIGINT) AS r_new,
      |       CAST($base + ($alphaNum * coalesce(flow.inflow, 0)) // $alphaDen
      |            AS BIGINT) - coalesce(rk0.r_prev, $scale) AS moved
      |FROM rk0 LEFT JOIN flow USING (node)""".stripMargin
  }

  /** HITS hubs & authorities (Kleinberg 1999) in EXACT integer
    * arithmetic — the link-analysis pair PageRank doesn't give:
    * PageRank scores a page's overall endorsement mass; HITS separates
    * CURATORS (hubs: pages pointing at many good authorities) from
    * CONTENT (authorities: pages pointed at by many good hubs), which is
    * the right lens on bipartite-ish web/curation graphs.
    *
    * The published algorithm L2-normalizes each round — irreproducible
    * across engines (float accumulation order). Here scores are
    * quantized longs and each round max-normalizes by integer division:
    *   hₖ(u) = ⌊scale · Σ_{u→v} aₖ₋₁(v) / max_u'(Σ ...)⌋
    *   aₖ(v) = ⌊scale · Σ_{u→v} hₖ(u)   / max_v'(Σ ...)⌋
    * Max-normalization keeps the argmax and relative ordering (what HITS
    * is used for) while making every intermediate a deterministic long:
    * the oracle (q151) replays the identical recurrence bit-for-bit.
    *
    * Overflow bound: sum·scale < 2⁶³ requires deg_max·scale² < 2⁶³ —
    * at the default scale 10⁶ that allows deg_max ≈ 9·10⁶; larger hubs
    * need a smaller scale.
    *
    * Scale shape: per round TWO keyed edge×score joins with map-side
    * combinable sums, and two ONE-ROW max aggregates joined back via
    * broadcast (the stat-broadcast idiom — never a collect). Each
    * generation is referenced TWICE (raw sum + its max) and the readout
    * joins hub against auth, so generations are checkpointed (lineage
    * truncation — see the in-body note).
    *
    * @return (node, hub_q, auth_q, hub, auth) — quantized longs + readout */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale > 0)
    // Per-generation lineage truncation (the GraphANN.traverse recipe):
    // each round references the previous score frame TWICE (the raw sum
    // AND its 1-row max), and the final readout joins hub with auth —
    // whose plan CONTAINS hub — so the lazy form fans out ~4× per round
    // (q151's before-plan: 13,118 lines / 900 Exchanges / 544 scans,
    // plans/r14). Frames are node-count × 2 columns; unreplicated
    // checkpoint blocks — executor loss fails the query instead of
    // recomputing (the documented tradeoff).
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    var auth = nodes.withColumn("a", lit(scale))
    var hub: DataFrame = null
    (1 to iters).foreach { r =>
      val hRaw = e.join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("hs"))
      val hMax = hRaw.agg(max(col("hs")).as("hmax"))
      val nextHub = nodes.join(hRaw, Seq("node"), "left")
        .crossJoin(broadcast(hMax))
        .select(col("node"),
          expr(s"(coalesce(hs, 0L) * $scale) div hmax").as("h"))
        .localCheckpoint()
      // the previous auth was read only by nextHub, the previous hub
      // only by that auth (round 1's auth is a lazy projection of nodes)
      if (r > 1) { Cuts.release(auth); Cuts.release(hub) }
      hub = nextHub
      val aRaw = e.join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("as_"))
      val aMax = aRaw.agg(max(col("as_")).as("amax"))
      auth = nodes.join(aRaw, Seq("node"), "left")
        .crossJoin(broadcast(aMax))
        .select(col("node"),
          expr(s"(coalesce(as_, 0L) * $scale) div amax").as("a"))
        .localCheckpoint()
    }
    // the readout reads only the last hub and auth
    Cuts.release(e)
    Cuts.release(nodes)
    hub.join(auth, "node")
      .select(col("node"), col("h").as("hub_q"), col("a").as("auth_q"),
        (col("h").cast("double") / lit(scale.toDouble)).as("hub"),
        (col("a").cast("double") / lit(scale.toDouble)).as("auth"))
  }

  /** DuckDB oracle for [[hits]], unrolled from the same recurrence.
    * `edgeSql` must yield columns (src, dst). */
  def hitsOracleSql(edgeSql: String, iters: Int = 2,
      scale: Long = 1000000L): String = {
    val steps = (1 to iters).map { k =>
      s"""hr$k AS (
         |  SELECT e.src AS node, sum(a) AS hs
         |  FROM e JOIN a${k - 1} ON e.dst = a${k - 1}.node GROUP BY 1
         |), h$k AS (
         |  SELECT n.node,
         |         CAST((coalesce(hs, 0) * $scale)
         |              // (SELECT max(hs) FROM hr$k) AS BIGINT) AS h
         |  FROM nodes n LEFT JOIN hr$k USING (node)
         |), ar$k AS (
         |  SELECT e.dst AS node, sum(h) AS as_
         |  FROM e JOIN h$k ON e.src = h$k.node GROUP BY 1
         |), a$k AS (
         |  SELECT n.node,
         |         CAST((coalesce(as_, 0) * $scale)
         |              // (SELECT max(as_) FROM ar$k) AS BIGINT) AS a
         |  FROM nodes n LEFT JOIN ar$k USING (node)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgeSql)),
      |nodes AS (
      |  SELECT DISTINCT node FROM
      |    (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
      |), a0 AS (SELECT node, CAST($scale AS BIGINT) AS a FROM nodes),
      |$steps
      |SELECT h$iters.node, h AS hub_q, a AS auth_q,
      |       CAST(h AS DOUBLE) / $scale.0 AS hub,
      |       CAST(a AS DOUBLE) / $scale.0 AS auth
      |FROM h$iters JOIN a$iters USING (node)""".stripMargin
  }

  /** Degree assortativity — Pearson correlation of endpoint degrees over
    * the undirected edge list (Newman 2002): positive = hubs link hubs
    * (social graphs), negative = hubs link leaves (web/biological). The
    * one-number topology summary that tells a curation pipeline whether
    * its link graph is hub-and-spoke (cap the hubs) or core-periphery
    * (sample the core). Exact integer sums through
    * [[Exact.corrFromSums]]' fixed IEEE readout, so the verdict is
    * bit-portable (built-in `corr` never is).
    *
    * Scale shape: one distinct, one degree aggregation, two keyed joins
    * of the edge list against the aggregate-sized degree frame, one
    * global 6-sum fold. No windows.
    *
    * @return one row: (n_nodes, n_edges, r) — `n_edges` counts each
    *         undirected edge once; r NULL on degree-constant graphs */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val pairs = sym
      .join(deg.select(col("node").as("src"), col("deg").as("du")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dv")), "dst")
    pairs.agg(count(lit(1)).as("n2"),
        countDistinct(col("src")).as("n_nodes"),
        sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("dv") * col("dv")).as("syy"),
        sum(col("du") * col("dv")).as("sxy"))
      .select(col("n_nodes"), expr("n2 div 2").as("n_edges"),
        Exact.corrFromSums(col("n2"), col("sx"), col("sy"),
          col("sxx"), col("syy"), col("sxy")).as("r"))
  }

  /** DuckDB oracle for [[degreeAssortativity]]; `edgeSql` must yield
    * (src, dst). */
  def assortativityOracleSql(edgeSql: String): String =
    s"""WITH e AS (
      |  SELECT DISTINCT src, dst FROM ($edgeSql) WHERE src <> dst
      |), sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
      |p AS (
      |  SELECT du.deg AS du, dv.deg AS dv, sym.src
      |  FROM sym JOIN deg du ON sym.src = du.node
      |           JOIN deg dv ON sym.dst = dv.node
      |), s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n2,
      |         CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
      |         CAST(sum(du) AS BIGINT) AS sx, CAST(sum(dv) AS BIGINT) AS sy,
      |         CAST(sum(du * du) AS BIGINT) AS sxx,
      |         CAST(sum(dv * dv) AS BIGINT) AS syy,
      |         CAST(sum(du * dv) AS BIGINT) AS sxy
      |  FROM p
      |)
      |SELECT n_nodes, n2 // 2 AS n_edges,
      |       CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n2 > 0
      |             AND CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n2 > 0
      |       THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n2)
      |            / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n2)
      |               * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n2))
      |       END AS r
      |FROM s""".stripMargin

  /** Newman modularity of the [[labelPropagation]] partition — the
    * number that says whether LPA's communities are real structure or
    * noise (Q ≈ 0): Q = Σ_c [ m_c/m − (d_c/2m)² ] over the undirected
    * simple graph, where m = edges, m_c = intra-community edges,
    * d_c = total degree of community c.
    *
    * Exact-rational form: each community's contribution numerator is
    * the integer `q_num = 4·m·m_c − d_c²` (so Q = Σ q_num / (4m²)) —
    * integers end-to-end, ONE fixed IEEE division per row for the
    * readout, and the whole LPA+modularity composition hash-matches the
    * unrolled oracle. Overflow bound: 4·m·m_c < 2⁶³ needs m < 1.5·10⁹
    * undirected edges; beyond that drop to a sampled m or 128-bit
    * decimal.
    *
    * Scale shape: LPA's per-iteration keyed joins (see above), then one
    * distinct over canonicalized edges, two label joins keyed by node,
    * two keyed aggregations, and the one-row m broadcast (stat-broadcast
    * idiom, never a collect).
    *
    * @return per community: (community, n_nodes, d_c, m_c, q_num,
    *         contribution) — Σ contribution is the graph's modularity */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // referenced four times below (m, intra-edge join, both degree
    // legs) — left unpersisted on purpose: the references are
    // plan-identical, so ReuseExchange computes the distinct once;
    // an explicit persist measured SLOWER (breaks stage pipelining)
    val und = e.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // referenced three times below (both endpoint joins + the degree
    // leg) — cut so the LPA rounds run once, not thrice
    val labels = labelPropagation(edges, srcCol, dstCol, iters)
      .localCheckpoint()
    val mRow = und.agg(count(lit(1)).as("m"))
    val lu = labels.select(col("node").as("u"), col("community").as("cu"))
    val lv = labels.select(col("node").as("v"), col("community").as("cv"))
    val mc = und.join(lu, "u").join(lv, "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("m_c"))
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dc = deg.join(labels, "node")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_c"))
    dc.join(mc, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"), col("d_c"),
        coalesce(col("m_c"), lit(0L)).as("m_c"), col("m"))
      .withColumn("q_num",
        lit(4L) * col("m") * col("m_c") - col("d_c") * col("d_c"))
      .withColumn("contribution",
        col("q_num").cast("double") /
          (lit(4.0) * col("m") * col("m")))
      .drop("m")
  }

  /** DuckDB oracle for [[modularity]], embedding the unrolled
    * [[labelPropagation]] recurrence. `edgeSql` must yield (src, dst). */
  def modularityOracleSql(edgeSql: String, iters: Int = 3): String = {
    val steps = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT s.src AS node, l.lab, count(*) AS c
         |  FROM sym s JOIN l${k - 1} l ON s.dst = l.node GROUP BY 1, 2
         |), l$k AS (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |           row_number() OVER (PARTITION BY node
         |             ORDER BY c DESC, lab) AS rn
         |    FROM c$k) WHERE rn = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (SELECT src, dst FROM ($edgeSql)),
      |ed AS (SELECT DISTINCT src, dst FROM e),
      |sym AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
      |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM sym),
      |$steps,
      |und AS (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM e WHERE src <> dst
      |), mrow AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
      |mc AS (
      |  SELECT lu.lab AS community, CAST(count(*) AS BIGINT) AS m_c
      |  FROM und JOIN l$iters lu ON und.u = lu.node
      |           JOIN l$iters lv ON und.v = lv.node
      |  WHERE lu.lab = lv.lab GROUP BY 1
      |), deg AS (
      |  SELECT node, count(*) AS deg FROM
      |    (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
      |  GROUP BY 1
      |), dc AS (
      |  SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_nodes,
      |         CAST(sum(deg) AS BIGINT) AS d_c
      |  FROM deg JOIN l$iters ON deg.node = l$iters.node GROUP BY 1
      |)
      |SELECT community, n_nodes, d_c,
      |       CAST(coalesce(m_c, 0) AS BIGINT) AS m_c,
      |       CAST(4 * m * coalesce(m_c, 0) - d_c * d_c AS BIGINT) AS q_num,
      |       CAST(4 * m * coalesce(m_c, 0) - d_c * d_c AS DOUBLE)
      |         / (4.0 * m * m) AS contribution
      |FROM dc LEFT JOIN mc USING (community) CROSS JOIN mrow""".stripMargin
  }

  /** DuckDB oracle for [[labelPropagation]], unrolled from the same
    * recurrence. `edgeSql` must yield columns (src, dst). */
  def labelPropagationOracleSql(edgeSql: String, iters: Int = 3): String = {
    val steps = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT s.src AS node, l.lab, count(*) AS c
         |  FROM sym s JOIN l${k - 1} l ON s.dst = l.node GROUP BY 1, 2
         |), l$k AS (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |           row_number() OVER (PARTITION BY node
         |             ORDER BY c DESC, lab) AS rn
         |    FROM c$k) WHERE rn = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgeSql)),
      |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM sym),
      |$steps
      |SELECT node, lab AS community FROM l$iters""".stripMargin
  }

  /** DuckDB oracle for [[pageRank]], unrolled from the same constants.
    * `edgeSql` must yield columns (src, dst). */
  def pageRankOracleSql(edgeSql: String, iters: Int = 3,
      scale: Long = 1000000000L, alphaNum: Long = 17L,
      alphaDen: Long = 20L): String = {
    val base = scale * (alphaDen - alphaNum) / alphaDen
    val steps = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node, sum(r${k - 1}.r // deg) AS inflow
         |  FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
         |  JOIN outdeg USING (src) GROUP BY 1
         |), r$k AS (
         |  SELECT n.node,
         |         CAST($base + ($alphaNum * coalesce(c$k.inflow, 0)) // $alphaDen
         |              AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$k USING (node)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgeSql)),
      |nodes AS (
      |  SELECT DISTINCT node FROM
      |    (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
      |), outdeg AS (
      |  SELECT src, count(*) AS deg FROM e GROUP BY 1
      |), r0 AS (
      |  SELECT node, CAST($scale AS BIGINT) AS r FROM nodes
      |), $steps
      |SELECT node, r, CAST(r AS DOUBLE) / $scale.0 AS rank FROM r$iters""".stripMargin
  }

  /** DuckDB oracle for [[personalizedPageRank]]; `seedSql` yields one
    * column `node`. */
  def personalizedPageRankOracleSql(edgeSql: String, seedSql: String,
      iters: Int = 3, scale: Long = 1000000000L, alphaNum: Long = 17L,
      alphaDen: Long = 20L): String = {
    val base = scale * (alphaDen - alphaNum) / alphaDen
    val steps = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node, sum(r${k - 1}.r // deg) AS inflow
         |  FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
         |  JOIN outdeg USING (src) GROUP BY 1
         |), r$k AS (
         |  SELECT n.node,
         |         CAST(n.s * $base + ($alphaNum * coalesce(c$k.inflow, 0)) // $alphaDen
         |              AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$k USING (node)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgeSql)),
      |sd AS (SELECT DISTINCT node FROM ($seedSql)),
      |nodes AS (
      |  SELECT a.node, CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS s
      |  FROM (SELECT DISTINCT node FROM
      |          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)) a
      |  LEFT JOIN sd USING (node)
      |), outdeg AS (
      |  SELECT src, count(*) AS deg FROM e GROUP BY 1
      |), r0 AS (
      |  SELECT node, CAST(s * $scale AS BIGINT) AS r FROM nodes
      |), $steps
      |SELECT node, r, CAST(r AS DOUBLE) / $scale.0 AS ppr
      |FROM r$iters WHERE r > 0""".stripMargin
  }
}
