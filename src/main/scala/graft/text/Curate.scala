package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.dedup.NearDup
import graft.functions.{DocGates, Hash64}
import graft.ops.{Cuts, Sampling}

/** The ONE-PLAN curation pipeline (round-9 item 3) — the round-8 gates
  * composed the way [[Corpus.build]] composed sampling + dedup + split:
  *
  *   Gopher rule gates → repetition-coverage gates → phrase blocklist
  *   → KN-perplexity ceiling → exact dedup (keep-first) → split
  *
  * as one lazy DataFrame plan, plus the per-stage ATTRITION readout
  * (docs and tokens dropped per gate — the datasheet number a corpus
  * release publishes). A document is attributed to the FIRST stage
  * that drops it, in the fixed order above, so per-stage drops sum to
  * total attrition.
  *
  * SHUFFLE BUDGET (the plan a 100 TB corpus build wants):
  *  - Gopher rules, repetition coverage and the blocklist are ONE
  *    scan-side projection — ZERO shuffles: the codegen'd
  *    [[graft.functions.DocGates]] kernel returns every count the three
  *    gates read in one byte scan per row, and the same projection
  *    carries the PII count (stage 6) and, for docs passing gates 1–3,
  *    the dedup fingerprint (stage 5);
  *  - the KN gate is one bigram-vocabulary aggregation (model size is
  *    vocab², NOT corpus-sized) broadcast back, plus one doc-keyed
  *    aggregation (q362's plan), and its doc-keyed equi-join to the
  *    gate projection is the only verdict join of stages 1–4;
  *  - the dedup is ONE fingerprint-keyed aggregation over the gate cut,
  *    joined back by id, and the attrition readout is one 6-group
  *    aggregation plus a window over the 6-row stage frame.
  *  Nothing is ever all-pairs, and no gate materializes the corpus.
  *  Ids must be non-null and distinct: every gate reads one row as one
  *  document.
  *
  * READ-ONCE INPUT: the multi-gate entry points ([[attrition]],
  * [[attritionBySource]], [[releaseVerdicts]]) DO materialize the
  * corpus' `(idCol, textCol)` columns, once, and read `docs` through
  * that one frame ([[withInputOnce]]), so a lazy input — a union of
  * planted branches over a parquet scan — is scanned and planned once
  * instead of once per gate. The price: every document's text sits in
  * executor block storage until the entry point has read it for the
  * last time, and the frame is a `localCheckpoint`, so it gives up
  * lineage recovery — an executor lost mid-call fails the query on the
  * missing blocks instead of re-reading the input.
  *
  * Token accounting uses the gate family's own unit
  * ([[TextAnalysis.tokens]]); stage codes are stable public contract:
  * 1 gopher, 2 repetition, 3 blocklist, 4 kn_perplexity, 5 exact_dedup.
  */
object Curate {

  val stageNames: Seq[(Int, String)] = Seq(
    1 -> "gopher", 2 -> "repetition", 3 -> "blocklist",
    4 -> "kn_perplexity", 5 -> "exact_dedup")

  /** [[stageNames]] extended to the full CORPUS-RELEASE shape (round-10
    * item 1): 6 PII density gate, 7 benchmark decontamination, 8 fuzzy
    * (MinHash) near-dup cluster resolution. Stage ORDER is the
    * attribution contract AND the cost ladder: 6–7 are scan-side /
    * one-equi-join verdicts computed for every doc, 8's banding runs
    * ONLY over stage-≤7 survivors — the expensive stage sees the
    * smallest corpus, and near-dup's banding stays out of the
    * scan-side budget. */
  val releaseStageNames: Seq[(Int, String)] = stageNames ++ Seq(
    6 -> "pii", 7 -> "decontam", 8 -> "near_dup")

  /** Per-document verdict frame: (idCol, n_tokens, stage) with stage ∈
    * 1..4 for dropped docs (first failing stage) and NULL for
    * survivors. The KN reference model trains on `knRef` — default the
    * input corpus itself (the q362 self-reference form); the streaming
    * sink passes a FIXED external reference so every epoch gates
    * against the same model (per-doc determinism = exact batch parity).
    * Docs the KN model cannot score (< 2 tokens) fail stage 4 unless an
    * earlier gate already took them. Ids must be non-null and
    * distinct. */
  def verdicts(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], minTokens: Long = 50L,
      maxMeanBitsMicro: Long = 5500000L,
      repNs: Seq[Int] = Seq(5, 10),
      knRef: Option[DataFrame] = None): DataFrame =
    gateVerdicts(docs, idCol, textCol, phrases, minTokens,
      maxMeanBitsMicro, repNs, knRef)._1
      .select(col(idCol), col("n_tokens"), col("stage"))

  /** [[verdicts]] from ONE projection of `docs`: the
    * [[graft.functions.DocGates]] kernel decides gates 1–3 in the row,
    * beside the PII count (`__pii`, stage 6) and, for docs that pass
    * gates 1–3, the dedup fingerprint (`__fp`, stage 5); only the KN
    * score (stage 4) joins. Returns the frame (idCol, n_tokens, stage,
    * __pii, __fp) and the KN model's held frames, dead once a cut of the
    * frame exists. */
  private def gateVerdicts(docs: DataFrame, idCol: String,
      textCol: String, phrases: Seq[String], minTokens: Long,
      maxMeanBitsMicro: Long, repNs: Seq[Int],
      knRef: Option[DataFrame]): (DataFrame, Seq[DataFrame]) = {
    val text = col(textCol)
    val k = col("__k")
    val (kn, held) = LangModel.kneserNeyScoreHeld(docs, idCol, textCol,
      knRef.getOrElse(docs), textCol)
    val s13 = when(!Gopher.rulePass(Gopher.statOf(k), minTokens), 1)
      .when(!Gopher.repetitionPass(k, repNs), 2)
      .when(Blocklist.blockedOf(k), 3)
    val gates = docs
      .select(col(idCol), text.as("__t"),
        DocGates.docGates(text, repNs,
          Blocklist.nonEmptyPhraseTokens(phrases), TextAnalysis.stopEn)
          .as("__k"))
      .select(col(idCol),
        Gopher.statOf(k)("n_tokens").as("n_tokens"), s13.as("__s"),
        (Scrub.countEmails(col("__t")) + Scrub.countIps(col("__t")) +
          Scrub.countPhones(col("__t"))).cast("long").as("__pii"),
        when(s13.isNull, TextAnalysis.fingerprint(col("__t"))).as("__fp"))
    val frame = gates
      .join(kn.select(col(idCol), col("mean_bits_micro").as("__kb")),
        Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__s"),
          when(!coalesce(col("__kb") <= maxMeanBitsMicro, lit(false)), 4))
          .cast("int").as("stage"),
        col("__pii"), col("__fp"))
    (frame, held)
  }

  /** [[verdicts]] extended through the dedup stage: gate-passers that
    * are a later exact copy (normalized fingerprint, keep lowest id)
    * get stage 5; survivors keep stage NULL. With `withPii` the frame
    * also carries the stage-6 PII count `__pii`. Returns the frame and
    * the gate cut it reads, which is dead once a cut of the frame
    * exists. */
  private def verdictsWithDedup(docs: DataFrame, idCol: String,
      textCol: String, phrases: Seq[String], minTokens: Long,
      maxMeanBitsMicro: Long, repNs: Seq[Int],
      knRef: Option[DataFrame] = None,
      withPii: Boolean = false): (DataFrame, DataFrame) = {
    // the gate frame feeds BOTH the keep-first arm and the final join —
    // left lazy, the stage-1–4 gates (the KN model is the expensive
    // one) execute twice per query; the frame is narrow, so the eager
    // cut is the q401 lineage recipe applied one level down, and the
    // KN model's stored frames are dead once it exists
    val (g, held) = gateVerdicts(docs, idCol, textCol, phrases, minTokens,
      maxMeanBitsMicro, repNs, knRef)
    val carried = if (withPii) Seq(col("__pii")) else Nil
    val v = Cuts.superseding(
      g.select(Seq(col(idCol), col("n_tokens"), col("stage"),
        col("__fp")) ++ carried: _*), held: _*)
    val keep = v.filter(col("stage").isNull)
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as("__keep_id"))
      .select(col("__keep_id").as(idCol), lit(true).as("__kept"))
    (v.join(keep, Seq(idCol), "left")
      .select(Seq(col(idCol), col("n_tokens"),
        coalesce(col("stage"),
          when(col("__kept").isNull, 5)).cast("int").as("stage")) ++
        carried: _*), v)
  }

  /** Surviving corpus with split assignment:
    * (idCol, n_tokens, split). */
  def survivors(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], minTokens: Long = 50L,
      maxMeanBitsMicro: Long = 5500000L, repNs: Seq[Int] = Seq(5, 10),
      salt: String = "curate",
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      knRef: Option[DataFrame] = None): DataFrame =
    Sampling.assignSplit(
      verdictsWithDedup(docs, idCol, textCol, phrases, minTokens,
        maxMeanBitsMicro, repNs, knRef)._1.filter(col("stage").isNull)
        .select(col(idCol), col("n_tokens")),
      col(idCol), salt, splits)
      .select(col(idCol), col("n_tokens"), col("split"))

  /** The DATASHEET: one row per stage —
    * (stage_ord, stage, docs_in, docs_dropped, tokens_in,
    * tokens_dropped) — where docs_in/tokens_in are what ENTERED the
    * stage (sequential attrition, so docs_in(k+1) =
    * docs_in(k) − docs_dropped(k)); the survivor line is stage_ord 6
    * with zero drops (docs_in = the released corpus). */
  def attrition(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], minTokens: Long = 50L,
      maxMeanBitsMicro: Long = 5500000L,
      repNs: Seq[Int] = Seq(5, 10),
      knRef: Option[DataFrame] = None): DataFrame =
    withInputOnce(docs, idCol, textCol) { in =>
      // the datasheet readout references the per-doc frame twice
      // (per-stage drops + totals) — cut it so the dedup tail runs once;
      // the cut is the last read of `in` and of the gate cut
      val (pd, v) = verdictsWithDedup(in, idCol, textCol, phrases,
        minTokens, maxMeanBitsMicro, repNs, knRef)
      datasheetFrom(Cuts.superseding(pd, v), stageNames)
    }

  /** READ-ONCE INPUT for an entry point whose gates each read `docs`:
    * runs `body` over `docs.select(idCol, textCol)` materialized once
    * by a `localCheckpoint`, so every gate reads the stored columns
    * instead of re-scanning the input, and plans over one leaf instead
    * of the input's whole plan. A cut, not a `persist`: with a cached
    * frame every gate still plans over the input's plan, and q403
    * measured 2–3 s slower that way (sf0.001, 4 cores).
    * The cut lives for `body` ([[Cuts.scoped]]), so a cache the caller
    * put on `docs` stays cached. Results are unchanged: the gates see
    * the same rows either way. */
  private def withInputOnce[T](docs: DataFrame, idCol: String,
      textCol: String)(body: DataFrame => T): T = {
    val cut = docs.select(col(idCol), col(textCol)).localCheckpoint()
    cut.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd.setName(readOnceInput)
    }
    Cuts.scoped(cut)(body)
  }

  /** Storage name of [[withInputOnce]]'s cut while it is held. */
  private[graft] val readOnceInput = "curate read-once input"

  /** The datasheet readout over ANY per-doc verdict frame
    * (n_tokens, stage ∈ stages | NULL): the [[attrition]] shape, shared
    * with the release pipeline. The released line gets ord max+1. */
  private def datasheetFrom(pd: DataFrame,
      stages: Seq[(Int, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = pd.sparkSession
    import spark.implicits._
    val byStage = pd.filter(col("stage").isNotNull)
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("__d"), sum(col("n_tokens")).as("__t"))
    val tot = pd.agg(count(lit(1)).as("__nd"),
      sum(col("n_tokens")).as("__nt")) // 1 row
    val stFrame = (stages :+ ((stages.map(_._1).max + 1) -> "released"))
      .toDF("stage_ord", "stage")
    val w = Window.orderBy(col("stage_ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    stFrame
      .join(byStage.withColumnRenamed("stage", "stage_ord"),
        Seq("stage_ord"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("docs_dropped", coalesce(col("__d"), lit(0L)))
      .withColumn("tokens_dropped", coalesce(col("__t"), lit(0L)))
      .withColumn("docs_in",
        col("__nd") - coalesce(sum(col("docs_dropped")).over(w), lit(0L)))
      .withColumn("tokens_in",
        col("__nt") - coalesce(sum(col("tokens_dropped")).over(w), lit(0L)))
      .select(col("stage_ord").cast("long").as("stage_ord"), col("stage"),
        col("docs_in"), col("docs_dropped"), col("tokens_in"),
        col("tokens_dropped"))
  }

  /** [[attrition]] broken out BY SOURCE — the datasheet table a corpus
    * release actually publishes ("which sources lose most to which
    * gate"): one row per (source, stage) with the same sequential
    * docs_in/dropped accounting, cumulated WITHIN each source
    * (partitioned window over the |sources|×6 frame). `srcFrame` maps
    * idCol → srcCol (one row per input doc). */
  def attritionBySource(docs: DataFrame, idCol: String, textCol: String,
      srcFrame: DataFrame, srcCol: String, phrases: Seq[String],
      minTokens: Long = 50L, maxMeanBitsMicro: Long = 5500000L,
      repNs: Seq[Int] = Seq(5, 10),
      knRef: Option[DataFrame] = None): DataFrame =
    withInputOnce(docs, idCol, textCol) { in =>
      val (pd, v) = verdictsWithDedup(in, idCol, textCol, phrases,
        minTokens, maxMeanBitsMicro, repNs, knRef)
      datasheetBySourceFrom(
        Cuts.superseding( // the readout references it twice
          pd.join(srcFrame.select(col(idCol), col(srcCol).as("source")),
            Seq(idCol)), v),
        stageNames)
    }

  /** The per-source datasheet readout over ANY per-doc verdict frame
    * carrying a `source` column — shared by [[attritionBySource]] and
    * the release pipeline. */
  private def datasheetBySourceFrom(pd: DataFrame,
      stages: Seq[(Int, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = pd.sparkSession
    import spark.implicits._
    val byStage = pd.filter(col("stage").isNotNull)
      .groupBy(col("source"), col("stage"))
      .agg(count(lit(1)).as("__d"), sum(col("n_tokens")).as("__t"))
    val tot = pd.groupBy(col("source"))
      .agg(count(lit(1)).as("__nd"), sum(col("n_tokens")).as("__nt"))
    val stFrame = (stages :+ ((stages.map(_._1).max + 1) -> "released"))
      .toDF("stage_ord", "stage")
    val w = Window.partitionBy(col("source")).orderBy(col("stage_ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tot.crossJoin(broadcast(stFrame))
      .join(byStage.withColumnRenamed("stage", "stage_ord"),
        Seq("source", "stage_ord"), "left")
      .withColumn("docs_dropped", coalesce(col("__d"), lit(0L)))
      .withColumn("tokens_dropped", coalesce(col("__t"), lit(0L)))
      .withColumn("docs_in",
        col("__nd") - coalesce(sum(col("docs_dropped")).over(w), lit(0L)))
      .withColumn("tokens_in",
        col("__nt") - coalesce(sum(col("tokens_dropped")).over(w), lit(0L)))
      .select(col("source"), col("stage_ord").cast("long").as("stage_ord"),
        col("stage"), col("docs_in"), col("docs_dropped"),
        col("tokens_in"), col("tokens_dropped"))
  }

  /** DuckDB oracle for [[attritionBySource]]; `srcSql` yields
    * (doc_id, source). */
  def attritionBySourceOracleSql(tableSql: String, srcSql: String,
      toksSql: String, phrases: Seq[String], minTokens: Long = 50L,
      maxMeanBitsMicro: Long = 5500000L,
      repNs: Seq[Int] = Seq(5, 10)): String = {
    val names = (stageNames :+ (6 -> "released"))
      .map { case (o, n) => s"($o, '$n')" }.mkString(", ")
    s"""WITH pd0 AS (${perDocOracleSql(tableSql, toksSql, phrases,
          minTokens, maxMeanBitsMicro, repNs)}),
       |pd AS (
       |  SELECT pd0.*, s.source FROM pd0 JOIN ($srcSql) s USING (doc_id)
       |), bys AS (
       |  SELECT source, stage, CAST(count(*) AS BIGINT) AS d,
       |         CAST(sum(n_tokens) AS BIGINT) AS t
       |  FROM pd WHERE stage IS NOT NULL GROUP BY 1, 2
       |), tot AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS nd,
       |         CAST(sum(n_tokens) AS BIGINT) AS nt
       |  FROM pd GROUP BY 1
       |), st AS (SELECT * FROM (VALUES $names) s(stage_ord, stage))
       |SELECT source, CAST(stage_ord AS BIGINT) AS stage_ord, stage,
       |       CAST(nd - coalesce(sum(docs_dropped) OVER w, 0) AS BIGINT)
       |         AS docs_in,
       |       docs_dropped,
       |       CAST(nt - coalesce(sum(tokens_dropped) OVER w, 0) AS BIGINT)
       |         AS tokens_in,
       |       tokens_dropped
       |FROM (
       |  SELECT tot.source, tot.nd, tot.nt, st.stage_ord, st.stage,
       |         CAST(coalesce(bys.d, 0) AS BIGINT) AS docs_dropped,
       |         CAST(coalesce(bys.t, 0) AS BIGINT) AS tokens_dropped
       |  FROM tot CROSS JOIN st
       |  LEFT JOIN bys ON bys.source = tot.source
       |               AND st.stage_ord = bys.stage
       |)
       |WINDOW w AS (PARTITION BY source ORDER BY stage_ord
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
  }

  /** DuckDB oracle CTE for the per-doc staged verdict over `tableSql`
    * (must yield (doc_id, text)) — composes the component oracles
    * verbatim, so the pipeline oracle can never drift from the
    * single-gate oracles (q364/q377/q379/q362). Yields
    * (doc_id, n_tokens, stage) with the [[verdictsWithDedup]]
    * semantics. */
  private def perDocOracleSql(tableSql: String, toksSql: String,
      phrases: Seq[String], minTokens: Long, maxMeanBitsMicro: Long,
      repNs: Seq[Int]): String =
    s"""WITH g AS (
       |  SELECT doc_id, n_tokens, pass AS gp
       |  FROM (${Gopher.ruleGatesOracleSql(tableSql, "doc_id", toksSql,
                  minTokens = minTokens)})
       |), r AS (
       |  SELECT doc_id, min(CASE WHEN pass THEN 1 ELSE 0 END) = 1 AS rp
       |  FROM (${Gopher.dupNgramCoverageOracleSql(tableSql, "doc_id",
                  toksSql, repNs)})
       |  GROUP BY 1
       |), b AS (
       |  SELECT doc_id, blocked AS bl
       |  FROM (${Blocklist.phraseHitsOracleSql(tableSql, "doc_id",
                  toksSql, phrases)})
       |), k AS (
       |  SELECT doc_id, mean_bits_micro AS kb
       |  FROM (${LangModel.kneserNeyScoreOracleSql(
                  s"SELECT doc_id, $toksSql AS toks FROM $tableSql",
                  s"SELECT doc_id, $toksSql AS toks FROM $tableSql")})
       |), v AS (
       |  SELECT g.doc_id, g.n_tokens,
       |         CASE WHEN NOT g.gp THEN 1
       |              WHEN NOT r.rp THEN 2
       |              WHEN b.bl THEN 3
       |              WHEN NOT coalesce(k.kb <= $maxMeanBitsMicro, false)
       |                THEN 4
       |         END AS gstage
       |  FROM g JOIN r USING (doc_id) JOIN b USING (doc_id)
       |    LEFT JOIN k USING (doc_id)
       |), fp AS (
       |  SELECT v.doc_id, row_number() OVER (
       |    PARTITION BY md5(trim(regexp_replace(lower(i.text),
       |      '\\s+', ' ', 'g')))
       |    ORDER BY v.doc_id) AS rn
       |  FROM v JOIN $tableSql i USING (doc_id)
       |  WHERE v.gstage IS NULL
       |)
       |SELECT v.doc_id, v.n_tokens,
       |       CAST(coalesce(v.gstage,
       |         CASE WHEN f.rn > 1 THEN 5 END) AS INTEGER) AS stage
       |FROM v LEFT JOIN fp f USING (doc_id)""".stripMargin

  /** DuckDB oracle for [[attrition]]. */
  def attritionOracleSql(tableSql: String, toksSql: String,
      phrases: Seq[String], minTokens: Long = 50L,
      maxMeanBitsMicro: Long = 5500000L,
      repNs: Seq[Int] = Seq(5, 10)): String = {
    val names = (stageNames :+ (6 -> "released"))
      .map { case (o, n) => s"($o, '$n')" }.mkString(", ")
    s"""WITH pd AS (${perDocOracleSql(tableSql, toksSql, phrases,
          minTokens, maxMeanBitsMicro, repNs)}),
       |bys AS (
       |  SELECT stage, CAST(count(*) AS BIGINT) AS d,
       |         CAST(sum(n_tokens) AS BIGINT) AS t
       |  FROM pd WHERE stage IS NOT NULL GROUP BY 1
       |), tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS nd,
       |         CAST(sum(n_tokens) AS BIGINT) AS nt
       |  FROM pd
       |), st AS (SELECT * FROM (VALUES $names) s(stage_ord, stage))
       |SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
       |       CAST(nd - coalesce(sum(docs_dropped) OVER w, 0) AS BIGINT)
       |         AS docs_in,
       |       docs_dropped,
       |       CAST(nt - coalesce(sum(tokens_dropped) OVER w, 0) AS BIGINT)
       |         AS tokens_in,
       |       tokens_dropped
       |FROM (
       |  SELECT st.stage_ord, st.stage,
       |         CAST(coalesce(bys.d, 0) AS BIGINT) AS docs_dropped,
       |         CAST(coalesce(bys.t, 0) AS BIGINT) AS tokens_dropped
       |  FROM st LEFT JOIN bys ON st.stage_ord = bys.stage
       |), tot
       |WINDOW w AS (ORDER BY stage_ord
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
  }

  /** DuckDB oracle for [[survivors]]. */
  def survivorsOracleSql(tableSql: String, toksSql: String,
      phrases: Seq[String], minTokens: Long = 50L,
      maxMeanBitsMicro: Long = 5500000L, repNs: Seq[Int] = Seq(5, 10),
      salt: String = "curate",
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): String =
    s"""WITH pd AS (${perDocOracleSql(tableSql, toksSql, phrases,
          minTokens, maxMeanBitsMicro, repNs)})
       |SELECT doc_id, n_tokens,
       |       ${Sampling.splitCaseSql("doc_id", salt, splits)} AS split
       |FROM pd WHERE stage IS NULL""".stripMargin

  // ───────────────────── release pipeline (stages 6–8) ─────────────────

  /** [[verdictsWithDedup]] extended to the full RELEASE shape
    * ([[releaseStageNames]]): survivors of stages 1–5 then face
    *
    *   6 PII density (total email+IP+phone matches > `maxPiiHits` —
    *     the quarantine form of [[Scrub]]; a release either drops or
    *     re-routes these docs, and the attribution row is the same
    *     either way),
    *   7 benchmark DECONTAMINATION (shares any `decontamW`-token
    *     shingle with `benchmark` — [[Decontaminate.overlap]]'s plan),
    *   8 fuzzy NEAR-DUP cluster resolution (MinHash/LSH candidates ≥
    *     `minAgree16`/16 estimated Jaccard → connected components →
    *     min-id representative survives, the [[verdictsWithDedup]]
    *     keep-first convention extended to near-copies).
    *
    * SHUFFLE BUDGET on top of the stage-1–5 plan: every gate reads
    * the ONE read-once `(idCol, textCol)` frame ([[withInputOnce]]), so
    * the input is scanned and its plan built once per call, not once
    * per gate (the gate projection, KN score and reference,
    * decontamination and the near-dup survivor join all read it). The
    * PII count rides in the gate projection and the stage-≤5 cut (zero
    * shuffles, no join); decontamination is one
    * shingle-keyed equi-join (benchmark side tiny → AQE broadcast) +
    * one doc-keyed count; near-dup — the only expensive stage — runs
    * its one signature aggregation and banding self-join over STAGE-≤7
    * SURVIVORS ONLY, never the raw corpus, and its pair graph is
    * bounded by true near-duplicates (LSH bands, never all-pairs).
    *
    * EAGERNESS: the read-once frame is cut (one job) before the first
    * gate. Stages 1–4 are cut once (the KN model's stored frames are
    * released then), and stages 5–7 over that cut are cut again before
    * stage 8's bounded iterative CC loop (O(log diameter) rounds over
    * the PAIR frame, never the corpus), which releases the stage-≤5 cut
    * — the verdict frame feeds both the signature arm and the final
    * verdict join, and without the cut each CC action would replay the
    * whole gate pipeline (the q401 lineage lesson). The signature frame
    * is persisted for its three uses (banding + two verify joins). It
    * and the input are released right after the CC loop, the last
    * reader of the input: the returned frame reads only the
    * checkpointed stage-≤7 verdicts and CC labels, so no caller cache
    * contract is needed. A cache the caller put on `docs` feeds the cut
    * and is left in place.
    *
    * @param benchmark evaluation set to decontaminate against
    *        (idCol, textCol)
    * @return (idCol, n_tokens, stage ∈ 1..8 | NULL for released) */
  def releaseVerdicts(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], benchmark: DataFrame,
      minTokens: Long = 50L, maxMeanBitsMicro: Long = 5500000L,
      repNs: Seq[Int] = Seq(5, 10), knRef: Option[DataFrame] = None,
      maxPiiHits: Long = 0L, decontamW: Int = 13,
      minAgree16: Int = 8): DataFrame =
    releaseVerdictsHeld(docs, idCol, textCol, phrases, benchmark,
      minTokens, maxMeanBitsMicro, repNs, knRef, maxPiiHits, decontamW,
      minAgree16)._1

  /** [[releaseVerdicts]] and the stage-≤7 cut it reads, which is dead
    * once a cut of the verdicts exists. */
  private def releaseVerdictsHeld(docs: DataFrame, idCol: String,
      textCol: String, phrases: Seq[String], benchmark: DataFrame,
      minTokens: Long, maxMeanBitsMicro: Long, repNs: Seq[Int],
      knRef: Option[DataFrame], maxPiiHits: Long, decontamW: Int,
      minAgree16: Int): (DataFrame, DataFrame) =
    withInputOnce(docs, idCol, textCol) { in =>
      val (v5, v) = verdictsWithDedup(in, idCol, textCol, phrases,
        minTokens, maxMeanBitsMicro, repNs, knRef, withPii = true)
      val contam = Decontaminate.overlap(in, benchmark, idCol, textCol,
          w = decontamW)
        .select(col(idCol), lit(true).as("__ct"))
      val v7 = Cuts.superseding(v5
        .join(contam, Seq(idCol), "left")
        .select(col(idCol), col("n_tokens"),
          coalesce(col("stage"),
            when(col("__pii") > maxPiiHits, 6),
            when(col("__ct"), 7)).cast("int").as("stage")), v)
      val survTexts = v7.filter(col("stage").isNull).select(col(idCol))
        .join(in, Seq(idCol))
      val sig = NearDup.minhashSignatures(survTexts, idCol, textCol)
        .persist()
      val agree = aggregate(
        zip_with(col("s1.sig"), col("s2.sig"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (a, v) => a + v)
      val pairs = NearDup.lshCandidatePairs(sig, idCol, "sig")
        .join(sig.as("s1"), col("d1") === col(s"s1.$idCol"))
        .join(sig.as("s2"), col("d2") === col(s"s2.$idCol"))
        .filter(agree >= lit(minAgree16))
        .select(col("d1"), col("d2"))
      // eager on both routes (the driver route's collect, the loop's
      // cuts) — the last read of `in`, released on return
      val clusters = NearDup.connectedComponents(pairs)
      sig.unpersist()
      val dropped = clusters.filter(!col("keep"))
        .select(col("node").as(idCol), lit(true).as("__nd"))
      (v7.join(dropped, Seq(idCol), "left")
        .select(col(idCol), col("n_tokens"),
          coalesce(col("stage"), when(col("__nd"), 8))
            .cast("int").as("stage")), v7)
    }

  /** The release DATASHEET: [[attrition]]'s shape over the 8-stage
    * pipeline — one row per stage + the released line (ord 9). */
  def attritionRelease(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], benchmark: DataFrame,
      minTokens: Long = 50L, maxMeanBitsMicro: Long = 5500000L,
      repNs: Seq[Int] = Seq(5, 10), knRef: Option[DataFrame] = None,
      maxPiiHits: Long = 0L, decontamW: Int = 13,
      minAgree16: Int = 8): DataFrame = {
    // the readout references the per-doc frame twice — cut it so the
    // post-v7 near-dup verdict join runs once
    val (pd, v7) = releaseVerdictsHeld(docs, idCol, textCol, phrases,
      benchmark, minTokens, maxMeanBitsMicro, repNs, knRef, maxPiiHits,
      decontamW, minAgree16)
    datasheetFrom(Cuts.superseding(pd, v7), releaseStageNames)
  }

  /** The released corpus with split assignment over the 8-stage
    * pipeline: (idCol, n_tokens, split). */
  def survivorsRelease(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], benchmark: DataFrame,
      minTokens: Long = 50L, maxMeanBitsMicro: Long = 5500000L,
      repNs: Seq[Int] = Seq(5, 10), knRef: Option[DataFrame] = None,
      maxPiiHits: Long = 0L, decontamW: Int = 13, minAgree16: Int = 8,
      salt: String = "curate",
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame =
    Sampling.assignSplit(
      releaseVerdicts(docs, idCol, textCol, phrases, benchmark,
        minTokens, maxMeanBitsMicro, repNs, knRef, maxPiiHits,
        decontamW, minAgree16).filter(col("stage").isNull)
        .select(col(idCol), col("n_tokens")),
      col(idCol), salt, splits)
      .select(col(idCol), col("n_tokens"), col("split"))

  // ------------------------------------------------- chain-once faces
  // A production run materializes [[releaseVerdicts]] ONCE and derives
  // every release artifact from the verdict frame; the gate queries
  // (q403/q404/q405/q414/q443) re-derive the chain per query for
  // oracle self-containment. These thin faces price the production
  // path separately (the x37 chain-once precedent — Bench's
  // x403_release_chain entry), and are what the streaming release sink
  // effectively computes per epoch.

  /** [[attritionRelease]] from a materialized verdict frame
    * (idCol, n_tokens, stage). */
  def attritionFromVerdicts(verdicts: DataFrame): DataFrame =
    datasheetFrom(verdicts, releaseStageNames)

  /** [[attritionBySourceRelease]] from a materialized verdict frame
    * that already carries a `source` column. */
  def attritionBySourceFromVerdicts(verdicts: DataFrame): DataFrame =
    datasheetBySourceFrom(verdicts, releaseStageNames)

  /** [[survivorsRelease]] from a materialized verdict frame. */
  def survivorsFromVerdicts(verdicts: DataFrame, idCol: String,
      salt: String = "curate",
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame =
    Sampling.assignSplit(verdicts.filter(col("stage").isNull)
        .select(col(idCol), col("n_tokens")), col(idCol), salt, splits)
      .select(col(idCol), col("n_tokens"), col("split"))

  /** [[attritionRelease]] broken out BY SOURCE — per-source rows sum
    * exactly to the global release datasheet (the q400 contract,
    * spec-asserted). `srcFrame` maps idCol → srcCol. */
  def attritionBySourceRelease(docs: DataFrame, idCol: String,
      textCol: String, srcFrame: DataFrame, srcCol: String,
      phrases: Seq[String], benchmark: DataFrame,
      minTokens: Long = 50L, maxMeanBitsMicro: Long = 5500000L,
      repNs: Seq[Int] = Seq(5, 10), knRef: Option[DataFrame] = None,
      maxPiiHits: Long = 0L, decontamW: Int = 13,
      minAgree16: Int = 8): DataFrame = {
    val (pd, v7) = releaseVerdictsHeld(docs, idCol, textCol, phrases,
      benchmark, minTokens, maxMeanBitsMicro, repNs, knRef, maxPiiHits,
      decontamW, minAgree16)
    datasheetBySourceFrom(
      Cuts.superseding( // the readout references it twice
        pd.join(srcFrame.select(col(idCol), col(srcCol).as("source")),
          Seq(idCol)), v7),
      releaseStageNames)
  }

  /** DuckDB oracle CTE chain for [[releaseVerdicts]] over `tableSql`
    * (yields (doc_id, text)) vs `benchSql` (same shape) — composes
    * [[perDocOracleSql]] (stages 1–5 verbatim), the q53 PII counting
    * fragments, the q55 shingle-containment join, and the q27/q90
    * MinHash + recursive-CTE connected-components chain over stage-≤7
    * survivors. Must be embedded under WITH RECURSIVE (the `reach`
    * CTE). Yields (doc_id, n_tokens, stage). */
  private def releasePerDocOracleSql(tableSql: String, benchSql: String,
      toksSql: String, phrases: Seq[String], minTokens: Long,
      maxMeanBitsMicro: Long, repNs: Seq[Int], maxPiiHits: Long,
      decontamW: Int, minAgree16: Int): String = {
    val sigList = (0 until 16)
      .map(i => s"min(${Hash64.duckMixedSql(i, "h")})")
      .mkString("[", ", ", "]")
    // WITH RECURSIVE must sit on the chain DEFINING `reach` — callers
    // embed this whole block as a derived table under a plain WITH.
    s"""WITH RECURSIVE pd5 AS (${perDocOracleSql(tableSql, toksSql,
          phrases, minTokens, maxMeanBitsMicro, repNs)}),
       |piic AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_extract_all(text, '${Scrub.emailRe}'))
       |            + len(regexp_extract_all(text, '${Scrub.ipRe}'))
       |            + len(regexp_extract_all(text, '${Scrub.phoneRe}'))
       |           AS BIGINT) AS pii
       |  FROM $tableSql
       |), csh AS (
       |  SELECT doc_id, g FROM (
       |    SELECT doc_id,
       |           unnest(list_distinct(${NearDup.duckShinglesSql(
                     decontamW)})) AS g
       |    FROM (SELECT doc_id, $toksSql AS toks FROM $tableSql)
       |  ) WHERE g <> ''
       |), bsh AS (
       |  SELECT DISTINCT g FROM (
       |    SELECT unnest(list_distinct(${NearDup.duckShinglesSql(
                     decontamW)})) AS g
       |    FROM (SELECT $toksSql AS toks FROM $benchSql)
       |  ) WHERE g <> ''
       |), ct AS (
       |  SELECT DISTINCT c.doc_id FROM csh c JOIN bsh b USING (g)
       |), v7 AS (
       |  SELECT pd5.doc_id, pd5.n_tokens,
       |         coalesce(pd5.stage,
       |           CASE WHEN piic.pii > $maxPiiHits THEN 6
       |                WHEN ct.doc_id IS NOT NULL THEN 7 END) AS stage
       |  FROM pd5
       |  JOIN piic USING (doc_id)
       |  LEFT JOIN ct ON pd5.doc_id = ct.doc_id
       |), ntoks AS (
       |  SELECT i.doc_id, $toksSql AS toks
       |  FROM $tableSql i JOIN v7 ON i.doc_id = v7.doc_id
       |  WHERE v7.stage IS NULL
       |), nsh AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(${NearDup.duckShinglesSql(3)})) AS sh
       |  FROM ntoks
       |), nhs AS (
       |  SELECT doc_id, ${Hash64.duckSql("sh")} AS h FROM nsh
       |), nsig AS (
       |  SELECT doc_id, $sigList AS sig FROM nhs GROUP BY 1
       |), nbanded AS (
       |  SELECT doc_id, b.band AS band,
       |         sig[b.band*4+1 : b.band*4+4] AS band_key
       |  FROM nsig, (SELECT unnest(range(0, 4)) AS band) b
       |), npairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM nbanded a JOIN nbanded b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |), fpairs AS (
       |  SELECT d1, d2 FROM npairs
       |  JOIN nsig s1 ON d1 = s1.doc_id
       |  JOIN nsig s2 ON d2 = s2.doc_id
       |  WHERE len(list_filter(list_zip(s1.sig, s2.sig),
       |          q -> q[1] = q[2])) >= $minAgree16
       |), sym AS (
       |  SELECT d1 AS src, d2 AS dst FROM fpairs
       |  UNION
       |  SELECT d2 AS src, d1 AS dst FROM fpairs
       |), reach(node, lab) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.lab FROM sym s JOIN reach r ON r.node = s.dst
       |), clusters AS (
       |  SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node
       |)
       |SELECT v7.doc_id, v7.n_tokens,
       |       CAST(coalesce(v7.stage,
       |         CASE WHEN c.node IS NOT NULL AND c.cluster_id <> c.node
       |              THEN 8 END) AS INTEGER) AS stage
       |FROM v7 LEFT JOIN clusters c ON v7.doc_id = c.node""".stripMargin
  }

  /** Shared datasheet SQL over a per-doc SQL: the [[attritionOracleSql]]
    * readout parameterized on the stage table. */
  private def datasheetOracleSqlFrom(perDocSql: String,
      stages: Seq[(Int, String)]): String = {
    val names = (stages :+ ((stages.map(_._1).max + 1) -> "released"))
      .map { case (o, n) => s"($o, '$n')" }.mkString(", ")
    s"""WITH pd AS ($perDocSql),
       |bys AS (
       |  SELECT stage, CAST(count(*) AS BIGINT) AS d,
       |         CAST(sum(n_tokens) AS BIGINT) AS t
       |  FROM pd WHERE stage IS NOT NULL GROUP BY 1
       |), tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS nd,
       |         CAST(sum(n_tokens) AS BIGINT) AS nt
       |  FROM pd
       |), st AS (SELECT * FROM (VALUES $names) s(stage_ord, stage))
       |SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
       |       CAST(nd - coalesce(sum(docs_dropped) OVER w, 0) AS BIGINT)
       |         AS docs_in,
       |       docs_dropped,
       |       CAST(nt - coalesce(sum(tokens_dropped) OVER w, 0) AS BIGINT)
       |         AS tokens_in,
       |       tokens_dropped
       |FROM (
       |  SELECT st.stage_ord, st.stage,
       |         CAST(coalesce(bys.d, 0) AS BIGINT) AS docs_dropped,
       |         CAST(coalesce(bys.t, 0) AS BIGINT) AS tokens_dropped
       |  FROM st LEFT JOIN bys ON st.stage_ord = bys.stage
       |), tot
       |WINDOW w AS (ORDER BY stage_ord
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
  }

  /** DuckDB oracle for [[attritionRelease]]. */
  def attritionReleaseOracleSql(tableSql: String, benchSql: String,
      toksSql: String, phrases: Seq[String], minTokens: Long = 50L,
      maxMeanBitsMicro: Long = 5500000L, repNs: Seq[Int] = Seq(5, 10),
      maxPiiHits: Long = 0L, decontamW: Int = 13,
      minAgree16: Int = 8): String =
    datasheetOracleSqlFrom(
      releasePerDocOracleSql(tableSql, benchSql, toksSql, phrases,
        minTokens, maxMeanBitsMicro, repNs, maxPiiHits, decontamW,
        minAgree16),
      releaseStageNames)

  /** DuckDB oracle for [[survivorsRelease]]. */
  def survivorsReleaseOracleSql(tableSql: String, benchSql: String,
      toksSql: String, phrases: Seq[String], minTokens: Long = 50L,
      maxMeanBitsMicro: Long = 5500000L, repNs: Seq[Int] = Seq(5, 10),
      maxPiiHits: Long = 0L, decontamW: Int = 13, minAgree16: Int = 8,
      salt: String = "curate",
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): String =
    s"""WITH pd AS (${releasePerDocOracleSql(tableSql,
          benchSql, toksSql, phrases, minTokens, maxMeanBitsMicro,
          repNs, maxPiiHits, decontamW, minAgree16)})
       |SELECT doc_id, n_tokens,
       |       ${Sampling.splitCaseSql("doc_id", salt, splits)} AS split
       |FROM pd WHERE stage IS NULL""".stripMargin

  /** DuckDB oracle for [[attritionBySourceRelease]]; `srcSql` yields
    * (doc_id, source). */
  def attritionBySourceReleaseOracleSql(tableSql: String,
      benchSql: String, srcSql: String, toksSql: String,
      phrases: Seq[String], minTokens: Long = 50L,
      maxMeanBitsMicro: Long = 5500000L, repNs: Seq[Int] = Seq(5, 10),
      maxPiiHits: Long = 0L, decontamW: Int = 13,
      minAgree16: Int = 8): String = {
    val names = (releaseStageNames :+ (9 -> "released"))
      .map { case (o, n) => s"($o, '$n')" }.mkString(", ")
    s"""WITH pd0 AS (${releasePerDocOracleSql(tableSql,
          benchSql, toksSql, phrases, minTokens, maxMeanBitsMicro,
          repNs, maxPiiHits, decontamW, minAgree16)}),
       |pd AS (
       |  SELECT pd0.*, s.source FROM pd0 JOIN ($srcSql) s USING (doc_id)
       |), bys AS (
       |  SELECT source, stage, CAST(count(*) AS BIGINT) AS d,
       |         CAST(sum(n_tokens) AS BIGINT) AS t
       |  FROM pd WHERE stage IS NOT NULL GROUP BY 1, 2
       |), tot AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS nd,
       |         CAST(sum(n_tokens) AS BIGINT) AS nt
       |  FROM pd GROUP BY 1
       |), st AS (SELECT * FROM (VALUES $names) s(stage_ord, stage))
       |SELECT source, CAST(stage_ord AS BIGINT) AS stage_ord, stage,
       |       CAST(nd - coalesce(sum(docs_dropped) OVER w, 0) AS BIGINT)
       |         AS docs_in,
       |       docs_dropped,
       |       CAST(nt - coalesce(sum(tokens_dropped) OVER w, 0) AS BIGINT)
       |         AS tokens_in,
       |       tokens_dropped
       |FROM (
       |  SELECT tot.source, tot.nd, tot.nt, st.stage_ord, st.stage,
       |         CAST(coalesce(bys.d, 0) AS BIGINT) AS docs_dropped,
       |         CAST(coalesce(bys.t, 0) AS BIGINT) AS tokens_dropped
       |  FROM tot CROSS JOIN st
       |  LEFT JOIN bys ON bys.source = tot.source
       |               AND st.stage_ord = bys.stage
       |)
       |WINDOW w AS (PARTITION BY source ORDER BY stage_ord
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
  }
}
