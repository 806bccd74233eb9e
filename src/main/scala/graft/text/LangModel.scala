package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bigram language-model quality scoring — the CCNet-style learned
  * perplexity filter (Wenzek et al. 2020): train adjacent-bigram counts
  * on a reference corpus, score every document by its mean per-bigram
  * model cost, keep/bucket documents by that score. This is the learned
  * distributional filter between [[TextAnalysis]]'s surface heuristics
  * (q20) and [[QualityModel]]'s supervised classifier (q112): it needs
  * no labels, only a reference corpus to define "normal" text.
  * Reference analogue: none — LLM-pipeline surface.
  *
  * SCORE SCALE (the cross-engine trick): model "bits" are integer bit
  * lengths — `blog(x) = floor(log2 x) + 1 = length(bin(x))`, exact on
  * both engines for BIGINT x ≥ 1 — so the per-bigram cost
  * `blog(c1 + V) − blog(c12 + 1)` is an integer quantization (within
  * ±1 bit per term) of the Laplace-smoothed cross-entropy
  * `−log2((c12 + 1) / (c1 + V))`. [[Retrieval]] documents why a true
  * `Math.log` can never be oracle-compared bit-wise; BM25 dropped the
  * log because its rankings survive a monotone map, but an additive
  * cross-entropy SUM does not — bit quantization keeps the logarithmic
  * weighting of rare events (which linear ratios lose) while staying
  * integer-exact end to end.
  *
  * Scale contract: training is two keyed aggregations over the
  * reference corpus; at 100 TB one trains on a bounded sample
  * ([[graft.ops.Sampling.stratifiedSample]] — bigram statistics
  * converge long before corpus scale) with `minCount` pruning, which
  * bounds the model to broadcast scale, so full-corpus scoring is
  * broadcast-joined (AQE picks this up from the model's size) plus one
  * per-document aggregation — a single shuffle over the data being
  * scored. Documents with fewer than two tokens carry no bigram
  * evidence and drop out (the q111 convention).
  */
object LangModel {

  /** Integer bit length: `floor(log2 x) + 1` for x ≥ 1, via the binary
    * string — `bin`/`length` agree exactly between Spark and DuckDB. */
  private def blog(x: Column): Column = length(bin(x)).cast("long")

  /** Adjacent bigram pairs of a token array (the q92/BPE slice-zip). */
  private def bigramsOf(toks: Column): Column = {
    val n = size(toks)
    zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => struct(a.as("a"), b.as("b")))
  }

  /** Next-token top-1 accuracy of the bigram model on its own corpus —
    * the cheapest LM eval there is, and the one that catches a broken
    * tokenizer or a mode-collapsed corpus instantly (organic text sits
    * in a characteristic band; templated text scores suspiciously
    * high). Per left-context argmax (count desc, token asc — total,
    * portable), then one weighted hit count: a bigram (a, b) counts as
    * correct `c12` times iff b is a's modal successor.
    *
    * Scale shape: the argmax window partitions by the left token over
    * its successor list (successor-diversity-bounded, never the
    * corpus); everything else is two hash aggregations.
    *
    * @return one row: (n_bigrams, n_contexts, n_correct, top1_acc)
    */
  def nextTokenAccuracy(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = explodedBigrams(docs, textCol)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c12"))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("c12").desc, col("b"))
    counts
      .withColumn("__rn", row_number().over(w))
      .agg(sum(col("c12")).as("n_bigrams"),
        count_distinct(col("a")).as("n_contexts"),
        sum(when(col("__rn") === 1, col("c12")).otherwise(0L))
          .as("n_correct"))
      .withColumn("top1_acc",
        col("n_correct").cast("double") / col("n_bigrams"))
  }

  /** DuckDB oracle for [[nextTokenAccuracy]]: `tokSql` yields
    * (doc_id, toks). */
  def nextTokenAccuracyOracleSql(tokSql: String): String =
    s"""WITH bg AS (
       |  SELECT toks[i] AS a, toks[i + 1] AS b
       |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
       |        FROM ($tokSql) WHERE len(toks) >= 2)
       |), c AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY a
       |    ORDER BY c12 DESC, b) AS rn
       |  FROM c
       |)
       |SELECT CAST(sum(c12) AS BIGINT) AS n_bigrams,
       |       CAST(count(DISTINCT a) AS BIGINT) AS n_contexts,
       |       CAST(sum(CASE WHEN rn = 1 THEN c12 ELSE 0 END) AS BIGINT)
       |         AS n_correct,
       |       CAST(sum(CASE WHEN rn = 1 THEN c12 ELSE 0 END) AS DOUBLE)
       |         / sum(c12) AS top1_acc
       |FROM r""".stripMargin

  private def explodedBigrams(docs: DataFrame, textCol: String,
      keep: Column*): DataFrame =
    docs.select(keep :+ TextAnalysis.tokens(col(textCol)).as("__toks"): _*)
      .filter(size(col("__toks")) >= 2) // slice needs n−1 ≥ 1; sub-bigram docs drop
      .select(keep :+ explode(bigramsOf(col("__toks"))).as("p"): _*)
      .select(keep :+ col("p.a").as("a") :+ col("p.b").as("b"): _*)

  /** Train the model on `ref`: @return (bi, uni, vocab) where
    *  - `bi(a, b, c12)` is the bigram count table, pruned to
    *    `c12 ≥ minCount` (pruned bigrams score as unseen — the model-size
    *    lever that makes the 100 TB model broadcast-scale);
    *  - `uni(a, c1)` is the UNPRUNED left-context total (so pruning
    *    shrinks the table without shifting the denominator);
    *  - `vocab(v)` is one row: distinct right-context types, the Laplace
    *    denominator offset.
    * The reference scan is persisted for the three aggregations and
    * released under the repo's caching contract (callers clearCache). */
  def train(ref: DataFrame, textCol: String,
      minCount: Long): (DataFrame, DataFrame, DataFrame) = {
    val refb = explodedBigrams(ref, textCol)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c12"))
      .persist()
    val bi = refb.filter(col("c12") >= minCount)
    val uni = refb.groupBy(col("a"))
      .agg(sum(col("c12")).as("c1"))
    val vocab = refb.agg(count_distinct(col("b")).as("v"))
    (bi, uni, vocab)
  }

  /** Score `docs` against a trained model: @return
    * (idCol, n_bigrams, total_bits, mean_bits_micro) — integer total
    * model bits, and mean bits per bigram in exact micro-units
    * (`floor(total · 10⁶ / n)`: the product stays below 2⁵³ and IEEE
    * division is correctly rounded on both engines, so the floor is
    * bit-portable — the [[graft.ops.Exact]] rule). Lower = more like
    * the reference corpus; junk and out-of-distribution text pay the
    * unseen-bigram cost `blog(c1 + V) − 1` per hit. */
  def score(docs: DataFrame, idCol: String, textCol: String,
      bi: DataFrame, uni: DataFrame, vocab: DataFrame): DataFrame = {
    val cost = blog(coalesce(col("c12"), lit(0L)) + lit(1L))
    val db = explodedBigrams(docs, textCol, col(idCol))
    db.join(bi, Seq("a", "b"), "left")
      .join(uni, Seq("a"), "left")
      .join(broadcast(vocab)) // one-row Laplace offset: the stat-broadcast idiom
      .select(col(idCol),
        (blog(coalesce(col("c1"), lit(0L)) + col("v")) - cost).as("cost"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cost")).as("total_bits"))
      .withColumn("mean_bits_micro",
        floor(col("total_bits").cast("double") * 1000000.0 /
          col("n_bigrams")).cast("long"))
  }

  /** DuckDB oracle for train-on-`refTokSql`, score-`docsTokSql` (both
    * must yield (doc_id, toks)) — the identical integer recurrence. */
  def scoreOracleSql(docsTokSql: String, refTokSql: String,
      minCount: Long): String =
    s"""WITH refb AS (
      |  SELECT toks[j] AS a, toks[j + 1] AS b, count(*) AS c12
      |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS j
      |        FROM ($refTokSql) WHERE len(toks) >= 2)
      |  GROUP BY 1, 2
      |), bi AS (
      |  SELECT a, b, c12 FROM refb WHERE c12 >= $minCount
      |), uni AS (
      |  SELECT a, CAST(sum(c12) AS BIGINT) AS c1 FROM refb GROUP BY 1
      |), voc AS (
      |  SELECT count(DISTINCT b) AS v FROM refb
      |), db AS (
      |  SELECT doc_id, toks[j] AS a, toks[j + 1] AS b
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(1, len(toks) - 1)) AS j
      |        FROM ($docsTokSql) WHERE len(toks) >= 2)
      |), costs AS (
      |  SELECT doc_id,
      |         length(bin(coalesce(c1, 0) + v)) -
      |         length(bin(coalesce(c12, 0) + 1)) AS cost
      |  FROM db
      |  LEFT JOIN bi USING (a, b)
      |  LEFT JOIN uni USING (a)
      |  CROSS JOIN voc
      |)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_bigrams,
      |       CAST(sum(cost) AS BIGINT) AS total_bits,
      |       CAST(floor(sum(cost) * 1000000.0 / count(*)) AS BIGINT)
      |         AS mean_bits_micro
      |FROM costs GROUP BY 1""".stripMargin

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * the strongest classical n-gram smoother, and the one add-k
    * noticeably underperforms): absolute discount D = 3/4 off every
    * seen bigram, the freed mass allocated by CONTINUATION counts —
    * how many distinct contexts a word follows, not how often it
    * occurs ("San Francisco" makes "Francisco" frequent but a terrible
    * novel-context guess; continuation counting is the fix).
    *
    * `P(b|a) = max(c12 − D, 0)/c1 + D·N1+(a·)/c1 · N1+(·b)/N1+(··)`
    *
    * All five inputs are exact integer aggregates; with D = 3/4 the
    * discounted numerator is the integer `max(4·c12 − 3, 0)` and the
    * probability derives as ONE fixed double formula from integers —
    * bit-identical cross-engine (the [[graft.ops.Exact]] rule). The
    * interpolation makes every context a proper simplex: Σ_b P(b|a)
    * over the full vocabulary is exactly 1 (spec-pinned).
    *
    * Scale shape: three map-side-combinable aggregations over the
    * bigram frame + one 1-row continuation-total broadcast (the stat
    * idiom); the emitted table is the pruned model artifact, the
    * [[train]] broadcast-scale contract.
    *
    * @return (a, b, c12, c1, n1f, n1b, pkn) for bigrams with
    *         c12 ≥ `minCount` */
  def kneserNey(ref: DataFrame, textCol: String,
      minCount: Long = 2L): DataFrame =
    kneserNeyFromPairs(explodedBigrams(ref, textCol), minCount)._1

  /** [[kneserNey]] over an already-exploded (a, b) pair frame — lets
    * the self-reference scorer share ONE tokenize+explode pass between
    * the model leg and the scoring leg. Also returns the persisted
    * bigram counts the model reads three times. */
  private def kneserNeyFromPairs(pairs: DataFrame,
      minCount: Long): (DataFrame, DataFrame) = {
    val refb = pairs.select(col("a"), col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c12"))
      .persist()
    val uni = refb.groupBy(col("a"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val cont = refb.groupBy(col("b"))
      .agg(count(lit(1)).as("n1b"))
    val tot = refb.agg(count(lit(1)).as("n1tot"))
    (refb.filter(col("c12") >= minCount)
      .join(uni, "a")
      .join(cont, "b")
      .join(broadcast(tot)) // one-row continuation total: stat idiom
      .select(col("a"), col("b"), col("c12"), col("c1"),
        col("n1f"), col("n1b"),
        (greatest(col("c12") * 4 - 3, lit(0L)).cast("double") /
          (col("c1") * 4) +
          (lit(3.0) * col("n1f")) / (col("c1") * 4) *
            (col("n1b").cast("double") / col("n1tot"))).as("pkn")),
      refb)
  }

  /** Per-document scoring under the [[kneserNey]] model — the CCNet
    * role (perplexity-filter the corpus with a reference LM) played by
    * the in-house interpolated-KN bigram model instead of an external
    * KenLM: each doc bigram pays `21 − blog(⌊pkn·10⁶⌋ + 1)` bits — the
    * house bit-length log₂ (pkn ∈ (0, 1] ⇒ micro ∈ [1, 10⁶] when
    * modeled), unseen bigrams pay the 20-bit ceiling (micro 0) — and
    * docs aggregate to mean bits per bigram. pkn's micro-floor is
    * bit-portable because the q337 formula is one fixed IEEE sequence
    * over exact integer counts (already hash-gated there).
    *
    * Same shape as [[score]]: one model join (AQE-broadcast at bigram-
    * vocabulary size), one keyed aggregation.
    *
    * @return (idCol, n_bigrams, total_bits, mean_bits_micro) — lower =
    *         more reference-like; docs with < 2 tokens drop out */
  def kneserNeyScore(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String,
      minCount: Long = 2L): DataFrame =
    kneserNeyScoreHeld(docs, idCol, textCol, ref, refTextCol, minCount)._1

  /** [[kneserNeyScore]] and the frames it holds in storage: the
    * persisted bigram counts and, on the self-reference path, the cut
    * bigram frame. The caller drops them ([[graft.ops.Cuts.superseding]])
    * once a cut of the score exists. */
  private[text] def kneserNeyScoreHeld(docs: DataFrame, idCol: String,
      textCol: String, ref: DataFrame, refTextCol: String,
      minCount: Long = 2L): (DataFrame, Seq[DataFrame]) = {
    // SELF-REFERENCE fast path (the q362/curation form — ref IS the
    // corpus): tokenize+explode the bigrams ONCE and feed both the
    // model leg and the scoring leg from the cut; the two legs'
    // exchanges differ ((a,b) agg vs broadcast join), so ReuseExchange
    // cannot share them and the lazy form pays the explode twice.
    val selfRef = (ref eq docs) && refTextCol == textCol
    val db0 =
      if (selfRef) explodedBigrams(docs, textCol, col(idCol))
        .localCheckpoint()
      else null
    val (model, refb) =
      if (selfRef) kneserNeyFromPairs(db0, minCount)
      else kneserNeyFromPairs(explodedBigrams(ref, refTextCol), minCount)
    val kn = model.select(col("a"), col("b"),
        floor(col("pkn") * 1000000.0).cast("long").as("__pm"))
    val db = if (selfRef) db0 else explodedBigrams(docs, textCol, col(idCol))
    (db.join(kn, Seq("a", "b"), "left")
      .select(col(idCol),
        (lit(21L) - blog(coalesce(col("__pm"), lit(0L)) + 1L)).as("__c"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__c")).as("total_bits"))
      .withColumn("mean_bits_micro",
        floor(col("total_bits").cast("double") * 1000000.0 /
          col("n_bigrams")).cast("long")),
      if (selfRef) Seq(refb, db0) else Seq(refb))
  }

  /** DuckDB oracle for [[kneserNeyScore]]: the q337 chain + the same
    * join/cost/fold. `docsTokSql`/`refTokSql` yield (doc_id, toks). */
  def kneserNeyScoreOracleSql(docsTokSql: String, refTokSql: String,
      minCount: Long = 2L): String =
    s"""WITH kn AS (${kneserNeyOracleSql(refTokSql, minCount)}),
       |knm AS (
       |  SELECT a, b,
       |         CAST(floor(pkn * 1000000.0) AS BIGINT) AS pm
       |  FROM kn
       |), dt AS ($docsTokSql), db AS (
       |  SELECT doc_id, toks[j] AS a, toks[j + 1] AS b
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks) - 1)) AS j
       |        FROM dt WHERE len(toks) >= 2)
       |), costs AS (
       |  SELECT db.doc_id,
       |         21 - CAST(length(bin(coalesce(knm.pm, 0) + 1)) AS BIGINT)
       |           AS c
       |  FROM db LEFT JOIN knm ON db.a = knm.a AND db.b = knm.b
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(sum(c) AS BIGINT) AS total_bits,
       |       CAST(floor(CAST(sum(c) AS DOUBLE) * 1000000.0 / count(*))
       |         AS BIGINT) AS mean_bits_micro
       |FROM costs GROUP BY 1""".stripMargin

  /** DuckDB oracle for [[kneserNey]] — the identical integer counts
    * and the identical double formula. `refTokSql` yields (doc_id,
    * toks). */
  def kneserNeyOracleSql(refTokSql: String, minCount: Long = 2L): String =
    s"""WITH refb AS (
      |  SELECT toks[j] AS a, toks[j + 1] AS b,
      |         CAST(count(*) AS BIGINT) AS c12
      |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS j
      |        FROM ($refTokSql) WHERE len(toks) >= 2)
      |  GROUP BY 1, 2
      |), uni AS (
      |  SELECT a, CAST(sum(c12) AS BIGINT) AS c1,
      |         CAST(count(*) AS BIGINT) AS n1f
      |  FROM refb GROUP BY 1
      |), cont AS (
      |  SELECT b, CAST(count(*) AS BIGINT) AS n1b FROM refb GROUP BY 1
      |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n1tot FROM refb)
      |SELECT a, b, c12, c1, n1f, n1b,
      |       CAST(greatest(4 * c12 - 3, 0) AS DOUBLE) / (4 * c1)
      |         + (3.0 * n1f) / (4 * c1)
      |           * (CAST(n1b AS DOUBLE) / n1tot) AS pkn
      |FROM refb
      |JOIN uni USING (a)
      |JOIN cont USING (b)
      |CROSS JOIN tot
      |WHERE c12 >= $minCount""".stripMargin
}
