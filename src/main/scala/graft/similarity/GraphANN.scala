package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hash64
import graft.ops.Cuts

/** Graph-based approximate nearest neighbour — the production-standard
  * third member of the ANN family next to [[IVF]] (cell pruning) and
  * [[PQ]] (compression): a k-NN GRAPH over the corpus plus a greedy
  * BEAM traversal per query. The reference surface has no native ANN
  * (its similarity path is brute force); this family is the scale path
  * a training-data pipeline actually deploys (HNSW/NSG-style
  * navigable-graph search), re-expressed relationally: graph
  * construction is banded-LSH candidate generation + exact re-rank
  * (never all-pairs), and the search is a FIXED number of synchronous
  * frontier expansions — each round one broadcast join of the
  * (tiny) beam against the edge list, one candidate re-rank — the
  * k-core/water-fill unrolled-iteration recipe applied to traversal,
  * so both build and search replay exactly in the DuckDB oracle.
  *
  * Scale shape, build: candidate mass is Σ|bucket|² per band (the
  * [[Similarity.lshBucket]] sizing rule: bits ≈ log2(n/b) keeps it
  * ~n·b per band), the re-rank is a bounded-buffer per-group top-k
  * ([[TopK.perGroup]] — map-side combined, no per-node sort), and the
  * edge list is n·k rows. Search: each round shuffles |Q|·beam·k
  * candidate rows, NEVER the corpus — the scored-node count per query
  * is entries + rounds·beam·k, a vanishing fraction of n (emitted as
  * `n_scored` by [[graft.queries.VectorsGraph]]'s recall gate so the
  * sub-scan claim is measured, not asserted).
  */
object GraphANN {

  /** (id, band, bucket) — every vector's LSH bucket in each of `bands`
    * independent bands. The ONE candidate-key projection both the batch
    * [[knnGraph]] and the streaming incremental graph sink
    * ([[graft.streaming.VectorSinks.incrementalKnnGraphSink]]) use, so
    * their candidate sets agree by construction. */
  def bandedBuckets(base: DataFrame, dim: Int, bits: Int,
      bands: Int): DataFrame =
    base.select(col("id"),
        posexplode(array((0 until bands).map(b =>
          Similarity.lshBucket(col("ev"), dim, bits, b)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Build the k-NN graph: for every corpus vector, its `k` highest-
    * cosine neighbours among the banded-LSH candidates (vectors
    * sharing any band's bucket — the q33 candidate generator, both
    * directions of each collision). Deterministic: ties break
    * (cosine desc, dst asc), the [[TopK]] contract.
    *
    * The graph is DIRECTED and approximate (a node's true neighbour
    * missed by every band is absent — the standard LSH-recall
    * trade-off, priced by [[Similarity.lshBucket]]'s formula); beam
    * search tolerates missing edges by exploring `beam` > k paths.
    *
    * @param base (id, ev: array&lt;double&gt;)
    * @return (src, dst, cosine, rn) — rn 1..k by descending cosine */
  def knnGraph(base: DataFrame, dim: Int, k: Int, bits: Int = 6,
      bands: Int = 3): DataFrame = {
    require(k >= 1 && bits >= 1 && bands >= 1)
    val banded = bandedBuckets(base, dim, bits, bands)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"))
      .distinct()
    TopK.perGroup(scoreCosine(cand, base), Seq("src"), "dst",
      "cosine", k)
  }

  /** Exact-cosine scoring of a (src, dst) candidate frame against the
    * corpus vectors, with per-VECTOR norms computed once on the n-row
    * side instead of per candidate pair — the candidate mass is
    * Σ|bucket|² ≫ n, so the lazy form re-derived sqrt(dot(v,v)) twice
    * per pair (2 of the 3 dim-length dot products; guide §1.2
    * per-task work). Same fold, same division order as
    * [[Similarity.cosineNative]] (dot/‖s‖/‖d‖) — bit-identical
    * cosines, q446/q450/q451's oracles gate it. */
  private def scoreCosine(cand: DataFrame, vecs: DataFrame): DataFrame = {
    val nd = graft.functions.DotProduct.dot _
    val withN = vecs.select(col("id"), col("ev"),
      sqrt(nd(col("ev"), col("ev"))).as("__nrm"))
    cand
      .join(withN.select(col("id").as("src"), col("ev").as("__sv"),
        col("__nrm").as("__sn")), "src")
      .join(withN.select(col("id").as("dst"), col("ev").as("__dv"),
        col("__nrm").as("__dn")), "dst")
      .select(col("src"), col("dst"),
        (nd(col("__sv"), col("__dv")) / col("__sn") / col("__dn"))
          .as("cosine"))
  }

  /** Greedy beam search over a [[knnGraph]] edge list, batch form: all
    * queries advance together through `rounds` synchronous expansions.
    * Round r: the current beam's out-neighbours join in, the union of
    * beam ∪ neighbours re-scores against the query vector (exact
    * cosine), and the best `beam` survive — monotone (the union always
    * contains the incumbent beam, so the best-so-far never regresses),
    * deterministic, and exactly replayable as `rounds` unrolled SQL
    * CTEs. Entry points are a FIXED id list (data-independent seed —
    * the reproducibility contract; a production index would use a
    * medoid or the top layer of a hierarchy).
    *
    * @param queries (qid, qv) — expected small (a query batch)
    * @param edges   [[knnGraph]] output (src, dst, ...)
    * @return (beamDf, visitedCounts): top-`k` rows per query
    *         (qid, id, cosine, rn) and (qid, n_scored) — how many
    *         distinct corpus nodes were ever scored for that query */
  def beamSearchTopK(base: DataFrame, queries: DataFrame,
      edges: DataFrame, entries: Seq[Long], beam: Int, rounds: Int,
      k: Int): (DataFrame, DataFrame) = {
    require(entries.nonEmpty)
    beamSearchTopKFrom(base, queries, edges,
      queries.select(col("qid"))
        .crossJoin(base.filter(col("id").isInCollection(entries))
          .select(col("id"))),
      beam, rounds, k)
  }

  /** DELETION with affected-only repair (round 12) — the operation a
    * long-lived vector index cannot avoid (corpus retractions, GDPR
    * erasure, licence withdrawals): remove `deleted` ids from a
    * [[knnGraph]] WITHOUT rebuilding it. Exactness argument: a node
    * with no deleted out-neighbour keeps its list verbatim — its
    * candidate set on the reduced corpus is a subset of the full one,
    * every kept top-k member is still a candidate (bucket keys are
    * functions of the vectors), and anything it dominated before is
    * still dominated; a node that LOST an edge re-ranks over its full
    * banded candidate set among survivors, which IS its from-scratch
    * candidate set. So the repaired graph EQUALS [[knnGraph]] of the
    * reduced corpus edge for edge — q451 gates it against that very
    * oracle (the q450 cross-engine-parity pattern).
    *
    * Scale shape: tombstones are joined, never broadcast corpus-side;
    * the recompute touches only affected srcs' bucket collisions —
    * cost ∝ |affected| · bucket occupancy, not n. Untouched edge rows
    * copy forward.
    *
    * @param base    the FULL corpus (id, ev), deleted ids included
    * @param edges   the current [[knnGraph]] (src, dst, cosine, rn)
    * @param deleted (id) tombstones
    * @return the repaired graph (src, dst, cosine, rn ≤ k) */
  def deleteFromGraph(base: DataFrame, edges: DataFrame,
      deleted: DataFrame, dim: Int, k: Int, bits: Int = 6,
      bands: Int = 3): DataFrame = {
    val tomb = deleted.select(col("id"))
    val kept = base.join(tomb, Seq("id"), "left_anti")
    repairAfterDelete(bandedBuckets(kept, dim, bits, bands), kept,
      edges, tomb, k)
  }

  /** [[deleteFromGraph]]'s repair core over PREPARED state — the form
    * the streaming sinks use, where the surviving corpus's bucket keys
    * and vectors come from persisted history rather than a recompute:
    * `keptBanded`/`keptVecs` must already EXCLUDE the tombstones. */
  def repairAfterDelete(keptBanded: DataFrame, keptVecs: DataFrame,
      edges: DataFrame, tomb: DataFrame, k: Int): DataFrame = {
    // srcs that lost an out-neighbour, minus tombstoned srcs themselves
    val affected = edges
      .join(tomb.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src")).distinct()
      .join(tomb.select(col("id").as("src")), Seq("src"), "left_anti")
    val affBanded = keptBanded
      .join(affected.select(col("src").as("id")), Seq("id"), "left_semi")
    val cand = affBanded.as("a")
      .join(keptBanded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"))
      .distinct()
    val scored = scoreCosine(cand, keptVecs)
    val untouched = edges
      .join(affected, Seq("src"), "left_anti")
      .join(tomb.select(col("id").as("src")), Seq("src"), "left_anti")
    TopK.perGroup(scored, Seq("src"), "dst", "cosine", k)
      .unionByName(untouched)
  }

  /** SELF-CONTAINED entry points (round-12 item 2): a sampled TOP
    * LAYER derived IN-PLAN — the `layerSize` corpus ids with the
    * smallest salted hash (hash60(salt_id), ties by id), i.e. the
    * upper layer of an HNSW-style hierarchy chosen by a deterministic
    * coin rather than a hand-picked id list ([[beamSearchTopK]]'s
    * documented gap). Computed as ONE bounded-buffer global bottom-k
    * ([[TopK.bottomKLongPerGroup]] with no group keys — every map task
    * emits ≤ layerSize rows), so the layer derivation never sorts the
    * corpus. Search then seeds cand0 with the WHOLE layer per query:
    * round 0's beam selection IS the layer scoring (the layer nodes
    * count toward n_scored — the honest accounting), and the traversal
    * descends from the best layer nodes exactly as a hierarchy search
    * descends from its top layer. */
  def topLayer(base: DataFrame, layerSize: Int, salt: String): DataFrame = {
    require(layerSize >= 1)
    val scored = base.select(col("id"),
      Hash64.hash60(concat_ws("_", lit(salt), col("id").cast("string")))
        .as("__h"))
    TopK.bottomKLongPerGroup(scored, Seq.empty, "id", "__h", layerSize)
      .select(col("id"))
  }

  /** [[beamSearchTopK]] from a PER-QUERY seed frame (qid, id) — the
    * composite form: a coarse quantizer ([[IVF.topK]]'s shortlist)
    * picks entry points near each query, and the graph traversal
    * refines beyond the probed cells — recovering the cross-cell
    * neighbours cell pruning misses at a fixed probe budget. */
  def beamSearchTopKFrom(base: DataFrame, queries: DataFrame,
      edges: DataFrame, seeds: DataFrame, beam: Int, rounds: Int,
      k: Int): (DataFrame, DataFrame) = {
    // the answer comes from the beam-sized frame here, so a beam < k
    // would silently cap results at beam rows per query (the filtered
    // form answers from the visited set and has no such floor)
    require(beam >= k && rounds >= 0)
    val (beamDf, visited) = traverse(base, queries, edges, seeds, beam,
      rounds)
    val topk = TopK.perGroup(
      beamDf.select(col("qid"), col("id"), col("cosine")),
      Seq("qid"), "id", "cosine", k)
    (topk, nScoredOf(visited))
  }

  /** The shared synchronous-expansion loop: returns the final beam
    * (qid, id, cosine) and the full visited set (qid, id).
    *
    * Each beam is a [[Cuts.generations]] generation and each round's
    * candidates an eager cut (the q401/q411 lineage recipe): round r
    * references the edge list and round r−1's beam 2–3×, so left lazy
    * the plan re-embeds — and re-EXECUTES — the entire upstream graph
    * build per reference, exponentially in `rounds` (q447's plan read
    * 854 parquet scans / 1174 Exchanges before the cut; 14 scans / ~60
    * Exchanges after).
    * The checkpointed frames are tiny by the operator's own scale
    * contract: |Q|·beam beam rows, |Q|·beam·k candidate rows, n·k
    * edges — never the corpus. */
  private def traverse(base: DataFrame, queries: DataFrame,
      edges: DataFrame, seeds: DataFrame, beam: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    require(beam >= 1 && rounds >= 0)
    def score(cand: DataFrame): DataFrame = cand
      .join(base, "id")
      .join(queries, "qid")
      .select(col("qid"), col("id"),
        Similarity.cosineNative(col("qv"), col("ev")).as("cosine"))
    Cuts.scoped(edges.select(col("src"), col("dst")).localCheckpoint()) { e =>
      // every round's candidates stay cut: the visited set reads them all
      val cand0 = seeds.select(col("qid"), col("id")).localCheckpoint()
      var visited = cand0
      val beamDf = Cuts.generations(TopK.perGroup(score(cand0), Seq("qid"),
          "id", "cosine", beam), rounds) { (beamDf, _) =>
        val cand = beamDf.select(col("qid"), col("id"))
          .join(e, col("id") === col("src"))
          .select(col("qid"), col("dst").as("id"))
          .union(beamDf.select(col("qid"), col("id")))
          .distinct().localCheckpoint()
        visited = visited.union(cand).distinct()
        TopK.perGroup(score(cand), Seq("qid"), "id", "cosine", beam)
      }
      (beamDf, visited)
    }
  }

  private def nScoredOf(visited: DataFrame): DataFrame =
    visited.groupBy(col("qid")).agg(count(lit(1)).as("n_scored"))

  /** FILTERED search (round 12) — top-k among the corpus subset
    * passing `pred` (metadata filtering: language, licence, split —
    * the filtered-HNSW problem every production vector index faces).
    * The traversal runs on the UNFILTERED graph — pruning the graph to
    * the subset would disconnect it and strand the walk — and the
    * answer is the top-k over ALL visited nodes passing the filter
    * (not just the final beam: an eligible node evicted from the beam
    * by a closer ineligible one is still a correct answer — the
    * standard post-filter-over-visited recipe). Recall is measured
    * against brute force over the FILTERED corpus; n_scored counts the
    * full visited set, the honest traversal cost.
    *
    * @param pred predicate over `base`'s columns selecting the
    *             eligible subset */
  def beamSearchFilteredTopK(base: DataFrame, queries: DataFrame,
      edges: DataFrame, seeds: DataFrame, pred: Column, beam: Int,
      rounds: Int, k: Int): (DataFrame, DataFrame) = {
    val (_, visited) = traverse(base, queries, edges, seeds, beam,
      rounds)
    val eligible = base.filter(pred).select(col("id"))
    val scoredF = visited
      .join(eligible, Seq("id"), "left_semi")
      .join(base, "id")
      .join(queries, "qid")
      .select(col("qid"), col("id"),
        Similarity.cosineNative(col("qv"), col("ev")).as("cosine"))
    (TopK.perGroup(scoredF, Seq("qid"), "id", "cosine", k),
      nScoredOf(visited))
  }

  /** ADAPTIVE filtered search (round 13) — [[beamSearchFilteredTopK]]
    * with the low-selectivity fallback the post-filter-over-visited
    * recipe needs: at 1–5% selectivity the walk's visited set contains
    * almost no eligible nodes (the known filtered-HNSW starvation mode —
    * the traversal is steered by ineligible neighbours and the answer
    * pool shrinks toward empty), while the eligible subset itself is by
    * definition SMALL — so when the eligible fraction is below
    * `minEligibleFrac`, skip the graph entirely and brute-force the
    * filtered subset ([[Similarity.bruteForceTopK]] over one
    * filter-pushed scan: |Q|·(sel·n) scoring, exact, recall 1 by
    * construction; n_scored reports the honest |eligible| cost).
    * Above the threshold the walk wins (it scores entries +
    * rounds·beam·k nodes regardless of n) and runs unchanged.
    *
    * The branch condition is two driver-side counts — bounded scalars,
    * the decision a production planner would also make from table
    * statistics. The q454 gate replays BOTH branches cross-engine over
    * a 3-point selectivity sweep (1/3, 1/10, 1/33 with the fallback at
    * 5%), so each branch's full output is DuckDB-verified and the
    * sweep documents where the crossover sits.
    *
    * @param nTotal precomputed corpus count — pass it when calling for
    *               several predicates over one corpus (q454's sweep) so
    *               the base scan is not re-counted per point
    * @return (topk, nScored, usedFallback) */
  def filteredTopKAdaptive(base: DataFrame, queries: DataFrame,
      edges: DataFrame, seeds: DataFrame, pred: Column, beam: Int,
      rounds: Int, k: Int, minEligibleFrac: Double = 0.05,
      nTotal: Option[Long] = None): (DataFrame, DataFrame, Boolean) = {
    val n = nTotal.getOrElse(base.count())
    val eligible = base.filter(pred)
    val ne = eligible.count()
    require(n > 0 && ne > 0, s"empty corpus ($n) or filter ($ne)")
    if (ne.toDouble / n < minEligibleFrac) {
      val found = Similarity.bruteForceTopK(eligible, queries, k)
        .select(col("qid"), col("id"), col("cosine"))
      val nScored = queries.select(col("qid"), lit(ne).as("n_scored"))
      (found, nScored, true)
    } else {
      val (found, nScored) = beamSearchFilteredTopK(base, queries,
        edges, seeds, pred, beam, rounds, k)
      (found, nScored, false)
    }
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB banded [[Similarity.lshBucket]] mirror: band `band` uses
    * planes [band·bits, (band+1)·bits) — the same md5-literal
    * hyperplanes, the same sequential fold. */
  private def bandBucketSql(vecCol: String, dim: Int, bits: Int,
      band: Int): String = {
    val plane = s"((${Hash64.duckSql(
      s"CAST(p + ${band * bits} AS VARCHAR) || '_' || CAST(pr[2] AS VARCHAR)")} % 1000) / 1000.0 - 0.5)"
    val proj =
      s"list_reduce(list_transform(list_zip($vecCol, range(0, $dim)), pr -> pr[1] * $plane), (a, x) -> a + x)"
    s"CAST(list_sum(list_transform(range(0, $bits), p -> CASE WHEN $proj > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT)"
  }

  private def cosSql(x: String, y: String): String =
    s"""list_reduce(list_transform(list_zip($x, $y), p -> p[1] * p[2]), (a, v) -> a + v)
       |      / sqrt(list_reduce(list_transform($x, v -> v * v), (a, v) -> a + v))
       |      / sqrt(list_reduce(list_transform($y, v -> v * v), (a, v) -> a + v))""".stripMargin

  /** Shared CTE prefix: corpus `b(id, ev)` from `baseSql`, banded
    * buckets, distinct candidates, and the top-`k` edge list `ek`. */
  private def edgesCte(baseSql: String, dim: Int, k: Int, bits: Int,
      bands: Int): String = {
    val bb = (0 until bands)
      .map(b => s"SELECT id, $b AS band, ${bandBucketSql("ev", dim, bits, b)} AS bucket FROM b")
      .mkString("\n  UNION ALL\n  ")
    s"""b AS ($baseSql),
       |bb AS (
       |  $bb
       |),
       |cand AS (
       |  SELECT DISTINCT a.id AS src, z.id AS dst
       |  FROM bb a JOIN bb z ON a.band = z.band AND a.bucket = z.bucket
       |   AND a.id <> z.id
       |),
       |es AS (
       |  SELECT c.src, c.dst, ${cosSql("sb.ev", "db.ev")} AS cosine
       |  FROM cand c JOIN b sb ON c.src = sb.id JOIN b db ON c.dst = db.id
       |),
       |ek AS (
       |  SELECT src, dst, cosine, rn FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY src
       |      ORDER BY cosine DESC, dst) AS BIGINT) AS rn FROM es
       |  ) WHERE rn <= $k
       |)""".stripMargin
  }

  /** DuckDB oracle for [[knnGraph]]: `baseSql` yields (id, ev). */
  def knnGraphOracleSql(baseSql: String, dim: Int, k: Int,
      bits: Int = 6, bands: Int = 3): String =
    s"""WITH ${edgesCte(baseSql, dim, k, bits, bands)}
       |SELECT src, dst, cosine, rn FROM ek""".stripMargin

  /** The unrolled traversal CTEs (cand0..candR, beam0..beamR) plus the
    * visited-union arms — shared by every search-replay oracle form. */
  private def roundCtesSql(beam: Int, rounds: Int): (String, String) = {
    val roundCtes = (0 to rounds).map { r =>
      val src = if (r == 0) "" else
        s"""cand$r AS (
           |  SELECT qid, dst AS id
           |  FROM beam${r - 1} JOIN ek ON beam${r - 1}.id = ek.src
           |  UNION
           |  SELECT qid, id FROM beam${r - 1}
           |),
           |""".stripMargin
      s"""${src}beam$r AS (
         |  SELECT qid, id, cosine FROM (
         |    SELECT s.qid, s.id, ${cosSql("q.qv", "nb.ev")} AS cosine,
         |           row_number() OVER (PARTITION BY s.qid
         |             ORDER BY ${cosSql("q.qv", "nb.ev")} DESC, s.id) AS brn
         |    FROM cand$r s JOIN b nb ON s.id = nb.id
         |    JOIN q ON s.qid = q.qid
         |  ) WHERE brn <= $beam
         |)""".stripMargin
    }.mkString(",\n")
    val visitedArms = (0 to rounds)
      .map(r => s"SELECT qid, id FROM cand$r")
      .mkString("\n  UNION\n  ")
    (roundCtes, visitedArms)
  }

  /** The unrolled search-and-recall CTE chain shared by both oracle
    * forms: expects CTEs `b` (corpus), `ek` (edge list), `q`
    * (queries), `cand0` (qid, id seed pairs) already defined. */
  private def searchReplaySql(beam: Int, rounds: Int, k: Int): String = {
    val (roundCtes, visitedArms) = roundCtesSql(beam, rounds)
    s"""$roundCtes,
       |found AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id, row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, id) AS frn FROM beam$rounds
       |  ) WHERE frn <= $k
       |),
       |brute AS (
       |  SELECT qid, id FROM (
       |    SELECT q.qid, b.id, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("q.qv", "b.ev")} DESC, b.id) AS rn
       |    FROM q CROSS JOIN b
       |  ) WHERE rn <= $k
       |),
       |hits AS (
       |  SELECT brute.qid, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM brute JOIN found ON brute.qid = found.qid
       |    AND brute.id = found.id
       |  GROUP BY 1
       |),
       |vis AS (
       |  $visitedArms
       |),
       |nsc AS (
       |  SELECT qid, CAST(count(*) AS BIGINT) AS n_scored
       |  FROM vis GROUP BY 1
       |)
       |SELECT q.qid, coalesce(n_hits, 0) AS n_hits,
       |       CAST(coalesce(n_hits, 0) AS DOUBLE) / $k.0 AS recall,
       |       nsc.n_scored
       |FROM q LEFT JOIN hits ON q.qid = hits.qid
       |JOIN nsc ON q.qid = nsc.qid""".stripMargin
  }

  /** DuckDB oracle replaying [[knnGraph]] + [[beamSearchTopK]] +
    * the recall@k join against brute force — `rounds` unrolled CTEs,
    * the k-core replay recipe. `queriesSql` yields (qid, qv).
    * Output: (qid, n_hits, recall, n_scored). */
  def beamRecallOracleSql(baseSql: String, queriesSql: String, dim: Int,
      graphK: Int, entries: Seq[Long], beam: Int, rounds: Int, k: Int,
      bits: Int = 6, bands: Int = 3): String = {
    val entryList = entries.mkString(", ")
    s"""WITH ${edgesCte(baseSql, dim, graphK, bits, bands)},
       |q AS ($queriesSql),
       |cand0 AS (
       |  SELECT qid, id FROM q CROSS JOIN
       |    (SELECT id FROM b WHERE id IN ($entryList))
       |),
       |${searchReplaySql(beam, rounds, k)}""".stripMargin
  }

  /** DuckDB oracle for the TOP-LAYER-SEEDED search: the [[topLayer]]
    * derivation replayed in SQL (bottom-`layerSize` by (hash60, id) —
    * one window over the corpus ids, which the Spark side does as a
    * bounded-buffer bottom-k), cand0 = every layer node per query, then
    * the unrolled search and recall join. */
  def beamRecallTopLayerOracleSql(baseSql: String, queriesSql: String,
      dim: Int, graphK: Int, layerSize: Int, salt: String, beam: Int,
      rounds: Int, k: Int, bits: Int = 6, bands: Int = 3): String = {
    val h = Hash64.duckSql(s"'${salt}_' || CAST(id AS VARCHAR)")
    s"""WITH ${edgesCte(baseSql, dim, graphK, bits, bands)},
       |q AS ($queriesSql),
       |layer AS (
       |  SELECT id FROM (
       |    SELECT id, row_number() OVER (ORDER BY $h, id) AS lrn FROM b
       |  ) WHERE lrn <= $layerSize
       |),
       |cand0 AS (
       |  SELECT qid, id FROM q CROSS JOIN layer
       |),
       |${searchReplaySql(beam, rounds, k)}""".stripMargin
  }

  /** DuckDB oracle for [[beamSearchFilteredTopK]] with [[topLayer]]
    * seeds: the traversal replays unfiltered, the answer set is the
    * top-`k` over visited ∩ filter, and recall joins against brute
    * force over the FILTERED corpus. `filterPred` is a SQL predicate
    * over the corpus row aliased `nb` (e.g. "nb.id % 3 = 1"). */
  def beamRecallFilteredOracleSql(baseSql: String, queriesSql: String,
      filterPred: String, dim: Int, graphK: Int, layerSize: Int,
      salt: String, beam: Int, rounds: Int, k: Int, bits: Int = 6,
      bands: Int = 3): String = {
    val h = Hash64.duckSql(s"'${salt}_' || CAST(id AS VARCHAR)")
    val (roundCtes, visitedArms) = roundCtesSql(beam, rounds)
    s"""WITH ${edgesCte(baseSql, dim, graphK, bits, bands)},
       |q AS ($queriesSql),
       |layer AS (
       |  SELECT id FROM (
       |    SELECT id, row_number() OVER (ORDER BY $h, id) AS lrn FROM b
       |  ) WHERE lrn <= $layerSize
       |),
       |cand0 AS (
       |  SELECT qid, id FROM q CROSS JOIN layer
       |),
       |$roundCtes,
       |vis AS (
       |  $visitedArms
       |),
       |found AS (
       |  SELECT qid, id FROM (
       |    SELECT v.qid, v.id,
       |           row_number() OVER (PARTITION BY v.qid
       |             ORDER BY ${cosSql("q.qv", "nb.ev")} DESC, v.id) AS frn
       |    FROM vis v JOIN b nb ON v.id = nb.id
       |    JOIN q ON v.qid = q.qid
       |    WHERE $filterPred
       |  ) WHERE frn <= $k
       |),
       |brute AS (
       |  SELECT qid, id FROM (
       |    SELECT q.qid, nb.id, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("q.qv", "nb.ev")} DESC, nb.id) AS rn
       |    FROM q CROSS JOIN b nb WHERE $filterPred
       |  ) WHERE rn <= $k
       |),
       |hits AS (
       |  SELECT brute.qid, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM brute JOIN found ON brute.qid = found.qid
       |    AND brute.id = found.id
       |  GROUP BY 1
       |),
       |nsc AS (
       |  SELECT qid, CAST(count(*) AS BIGINT) AS n_scored
       |  FROM vis GROUP BY 1
       |)
       |SELECT q.qid, coalesce(n_hits, 0) AS n_hits,
       |       CAST(coalesce(n_hits, 0) AS DOUBLE) / $k.0 AS recall,
       |       nsc.n_scored
       |FROM q LEFT JOIN hits ON q.qid = hits.qid
       |JOIN nsc ON q.qid = nsc.qid""".stripMargin
  }

  /** DuckDB oracle for ONE fallback (brute-over-filtered-subset) point
    * of the q454 selectivity sweep: found ≡ brute by construction, so
    * the recall join replays as a count over the filtered brute top-k
    * (min(k, |eligible per query|) hits — replayed, not asserted), and
    * n_scored is the eligible-subset size, the honest fallback cost. */
  def bruteFilteredOracleSql(baseSql: String, queriesSql: String,
      filterPred: String, k: Int): String =
    s"""WITH b AS ($baseSql),
       |q AS ($queriesSql),
       |brute AS (
       |  SELECT qid, id FROM (
       |    SELECT q.qid, nb.id, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("q.qv", "nb.ev")} DESC, nb.id) AS rn
       |    FROM q CROSS JOIN b nb WHERE $filterPred
       |  ) WHERE rn <= $k
       |)
       |SELECT qid, CAST(count(*) AS BIGINT) AS n_hits,
       |       CAST(count(*) AS DOUBLE) / $k.0 AS recall,
       |       (SELECT CAST(count(*) AS BIGINT) FROM b nb
       |        WHERE $filterPred) AS n_scored
       |FROM brute GROUP BY qid""".stripMargin

  /** DuckDB oracle for the IVF-SEEDED composite: [[IVF.topK]]'s
    * shortlist (nearest-centroid assignment, top-`nProbe` probed
    * cells, top-`kSeed` exact-cosine candidates per query — the q36
    * replay, identical tie-breaks) seeds the beam, then the unrolled
    * graph search and recall join. `centsSql` yields (cid, cv). */
  def beamRecallIvfSeededOracleSql(baseSql: String, queriesSql: String,
      centsSql: String, dim: Int, graphK: Int, nProbe: Int, kSeed: Int,
      beam: Int, rounds: Int, k: Int, bits: Int = 6,
      bands: Int = 3): String =
    s"""WITH ${edgesCte(baseSql, dim, graphK, bits, bands)},
       |q AS ($queriesSql),
       |c AS ($centsSql),
       |assigned AS (
       |  SELECT id, cell FROM (
       |    SELECT b.id, c.cid AS cell,
       |           row_number() OVER (PARTITION BY b.id
       |             ORDER BY ${cosSql("b.ev", "c.cv")} DESC, c.cid) AS arn
       |    FROM b CROSS JOIN c
       |  ) WHERE arn = 1
       |),
       |probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, c.cid AS cell,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.cid) AS prn
       |    FROM q CROSS JOIN c
       |  ) WHERE prn <= $nProbe
       |),
       |seedc AS (
       |  SELECT p.qid, a.id, ${cosSql("q.qv", "sb.ev")} AS cosine
       |  FROM probes p JOIN assigned a ON p.cell = a.cell
       |  JOIN q ON p.qid = q.qid JOIN b sb ON a.id = sb.id
       |),
       |cand0 AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id, row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, id) AS srn FROM seedc
       |  ) WHERE srn <= $kSeed
       |),
       |${searchReplaySql(beam, rounds, k)}""".stripMargin
}
