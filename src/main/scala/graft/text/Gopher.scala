package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DocGates

/** Gopher-style RULE gates (Rae et al. 2021 §A1.1 adapted to the
  * harness corpus) — the hard-threshold curation companion to q20's
  * continuous quality score: five named pass/fail rules per document,
  * each decided by INTEGER CROSS-MULTIPLICATION (never a float ratio
  * compare — `5·n_digit ≤ n_tokens` instead of `n_digit/n ≤ 0.2`), so
  * every verdict hash-matches the oracle bit for bit.
  *
  *  - r_len:    minTokens ≤ n_tokens ≤ maxTokens
  *  - r_mean:   3 ≤ mean token length ≤ 10   (3n ≤ Σlen ∧ Σlen ≤ 10n)
  *  - r_digit:  all-digit tokens ≤ 20% of tokens
  *  - r_stop:   ≥ 2 DISTINCT English stopwords present (the Gopher
  *              "contains required words" rule)
  *  - r_punct:  non-alnum-non-space chars ≤ 10% of chars (raw text)
  *
  * The repetition-family Gopher rules (duplicate line/paragraph
  * fractions) are the q54/q136/q81 operators — composed downstream,
  * not duplicated here. One scan-side projection; zero shuffles.
  */
object Gopher {

  /** r_punct's "not punctuation" classes — Java and RE2 read both
    * spellings identically (char class / Unicode general categories). */
  val asciiPunctRe = "[^a-zA-Z0-9 ]"
  val unicodePunctRe = "[^\\p{L}\\p{M}\\p{N} ]"

  /** @param tokenizer pluggable unit extractor (the round-9 seam):
    *        [[TextAnalysis.tokens]] (ASCII, default — existing oracles
    *        unchanged) or [[TextAnalysis.unicodeTokens]] (letter-class,
    *        multilingual). `punctRe` must match the tokenizer's
    *        alphabet: chars OUTSIDE `punctRe`'s class count as
    *        "punctuation", so the ASCII default would damn every
    *        non-ASCII letter — pass `unicodePunctRe` with
    *        `unicodeTokens`.
    *
    * Plan: with the default tokenizer and `asciiPunctRe`, the six stats
    * are fields of the codegen'd [[graft.functions.DocGates]] kernel, one
    * byte scan per row. Any other tokenizer or class takes the
    * higher-order-function route ([[ruleGatesHof]]): the token array,
    * then `aggregate`/`filter`/`array_intersect` over it and a
    * `regexp_replace` count over the raw text. Both are pure
    * projections, with the same rows and schema.
    *
    * @return (idCol, n_tokens, sum_len, n_digit, n_stop, n_punct,
    *         n_chars, r_len, r_mean, r_digit, r_stop, r_punct, pass) */
  def ruleGates(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      tokenizer: Column => Column = asciiTokens,
      punctRe: String = asciiPunctRe): DataFrame =
    if ((tokenizer eq asciiTokens) && punctRe == asciiPunctRe) {
      val k = col("__k")
      withVerdicts(docs
        .select(col(idCol), DocGates.docGates(col(textCol), Nil, Nil,
          TextAnalysis.stopEn).as("__k"))
        .select(col(idCol) +: statNames.map(f => statOf(k)(f).as(f)): _*),
        minTokens, maxTokens)
    } else ruleGatesHof(docs, idCol, textCol, minTokens, maxTokens,
      tokenizer, punctRe)

  /** The default tokenizer of [[ruleGates]]: the one whose stats the
    * kernel computes. */
  private val asciiTokens: Column => Column = TextAnalysis.tokens

  private val statNames = Seq("n_tokens", "sum_len", "n_digit", "n_stop",
    "n_punct", "n_chars")

  /** A [[ruleGates]] stat read from a [[graft.functions.DocGates]]
    * struct `k`. For null text the struct is null, and the three counts
    * the array route takes with `size` read as `size` of a null array
    * does under the session's `spark.sql.legacy.sizeOfNull`. */
  private[text] def statOf(k: Column)(name: String): Column = name match {
    case "n_tokens" | "n_digit" | "n_stop" =>
      coalesce(k(name), size(lit(null).cast("array<string>")).cast("long"))
    case _ => k(name)
  }

  /** [[ruleGates]] over any tokenizer and punctuation class, by
    * higher-order functions over the token array. */
  private[graft] def ruleGatesHof(docs: DataFrame, idCol: String,
      textCol: String, minTokens: Long, maxTokens: Long,
      tokenizer: Column => Column, punctRe: String): DataFrame = {
    val toks = tokenizer(col(textCol))
    val base = docs.select(col(idCol), col(textCol).as("__t"),
      toks.as("__toks"))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        aggregate(col("__toks"), lit(0L),
          (a, t) => a + length(t)).as("sum_len"),
        size(filter(col("__toks"), t => t.rlike("^[0-9]+$")))
          .cast("long").as("n_digit"),
        size(array_intersect(array_distinct(col("__toks")),
          array(TextAnalysis.stopEn.map(lit): _*))).cast("long")
          .as("n_stop"),
        (length(col("__t")) -
          length(regexp_replace(col("__t"), punctRe, "")))
          .cast("long").as("n_punct"),
        length(col("__t")).cast("long").as("n_chars"))
    withVerdicts(base, minTokens, maxTokens)
  }

  /** The six stat columns of `base` with the five rule verdicts and
    * `pass`. */
  private def withVerdicts(base: DataFrame, minTokens: Long,
      maxTokens: Long): DataFrame =
    base.select(col("*") +: ruleVerdicts(col, minTokens, maxTokens)
      .map { case (name, c) => c.as(name) }: _*)

  /** The five rule verdicts and their conjunction `pass`, over the six
    * stats read through `stat`. */
  private def ruleVerdicts(stat: String => Column, minTokens: Long,
      maxTokens: Long): Seq[(String, Column)] = {
    val n = stat("n_tokens")
    val sumLen = stat("sum_len")
    val rules = Seq(
      "r_len" -> (n >= minTokens && n <= maxTokens),
      "r_mean" -> (lit(3L) * n <= sumLen && sumLen <= lit(10L) * n),
      "r_digit" -> (lit(5L) * stat("n_digit") <= n),
      "r_stop" -> (stat("n_stop") >= 2L),
      "r_punct" -> (lit(10L) * stat("n_punct") <= stat("n_chars")))
    rules :+ ("pass" -> rules.map(_._2).reduce(_ && _))
  }

  /** [[ruleGates]]' `pass` over stats read through `stat`. */
  private[text] def rulePass(stat: String => Column, minTokens: Long,
      maxTokens: Long = 100000L): Column =
    ruleVerdicts(stat, minTokens, maxTokens).last._2

  /** Gopher REPETITION rules (Rae et al. 2021 §A1.1, the other half of
    * [[ruleGates]]): per document and n-gram order n, the fraction of
    * CHARACTERS covered by duplicated n-grams — positional coverage
    * (union of overlapping [start, end) spans, merged), not the count
    * ratio q54 reports. Char space is the normalized token stream
    * (tokens joined by single spaces — the q353 convention), so the
    * verdict is tokenizer-stable. Gates use the paper's ladder
    * threshold (20−n)/100 (n=5 → 0.15 … n=10 → 0.10) decided by
    * integer cross-multiplication: `100·covered ≤ (20−n)·n_chars`.
    *
    * Plan: one projection and one generator, no shuffle. The codegen'd
    * [[graft.functions.DocGates]] kernel tokenizes each row once and,
    * per n, finds the grams occurring at least twice in the row and
    * merges their spans (they start strictly increasing in token index,
    * so the merge is one ordered pass); an `inline` then emits one row
    * per n. The DuckDB oracle keeps the window form: spans from a
    * bounded n-row window, duplicates from a count over (doc, gram),
    * coverage from the islands merge.
    *
    * Ids must be non-null and distinct: each row is its own document
    * here, where the window form merged the tokens of two rows sharing
    * an id into one document.
    *
    * @return (idCol, n, n_chars, covered_chars, frac_micro, pass) —
    *         one row per doc per n; docs shorter than n tokens (or
    *         empty or null) report covered 0 and pass */
  def dupNgramCoverage(docs: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(5, 10)): DataFrame = {
    checkOrders(ns)
    val k = col("__k")
    val nChars = coalesce(k("tok_chars"), lit(0L))
    docs
      .select(col(idCol),
        DocGates.docGates(col(textCol), ns, Nil, Nil).as("__k"))
      .select(col(idCol), inline(array(ns.zipWithIndex.map { case (n, i) =>
        struct(lit(n.toLong).as("n"), nChars.as("n_chars"),
          coveredOf(k, i).as("covered_chars"))
      }: _*)))
      .withColumn("frac_micro", when(col("n_chars") > 0L,
        expr("covered_chars * 1000000 div n_chars"))
        .otherwise(0L).cast("long"))
      .withColumn("pass",
        repetitionGate(col("n"), col("covered_chars"), col("n_chars")))
  }

  private def checkOrders(ns: Seq[Int]): Unit =
    require(ns.nonEmpty && ns.forall(n => n >= 2 && n <= 19),
      s"n-gram orders must lie in [2, 19]: $ns")

  /** [[dupNgramCoverage]]'s gate at order `n`. */
  private def repetitionGate(n: Column, covered: Column,
      nChars: Column): Column =
    lit(100L) * covered <= (lit(20L) - n) * nChars

  /** Characters covered at the `i`-th order of a
    * [[graft.functions.DocGates]] struct; 0 for null text. */
  private def coveredOf(k: Column, i: Int): Column =
    coalesce(k("covered")(i), lit(0L))

  /** Whether every order of `ns` passes [[dupNgramCoverage]]'s gate, read
    * from a [[graft.functions.DocGates]] struct built with `ns`. */
  private[text] def repetitionPass(k: Column, ns: Seq[Int]): Column = {
    checkOrders(ns)
    val nChars = coalesce(k("tok_chars"), lit(0L))
    ns.zipWithIndex.map { case (n, i) =>
      repetitionGate(lit(n.toLong), coveredOf(k, i), nChars)
    }.reduce(_ && _)
  }

  /** DuckDB oracle for [[dupNgramCoverage]] — identical token stream,
    * spans, dup test, islands merge, and cross-multiplied gate. */
  def dupNgramCoverageOracleSql(table: String, idName: String,
      toksSql: String, ns: Seq[Int] = Seq(5, 10)): String = {
    val blocks = ns.map { n =>
      s"""SELECT t.$idName, CAST($n AS BIGINT) AS n, t.n_chars,
         |       coalesce(c.covered_chars, 0) AS covered_chars
         |FROM tot t LEFT JOIN (
         |  WITH grams AS (
         |    SELECT $idName, s,
         |           string_agg(tok, ' ') OVER w AS gram,
         |           count(*) OVER w AS k,
         |           max(s + length(tok)) OVER w AS e
         |    FROM off
         |    WINDOW w AS (PARTITION BY $idName ORDER BY i
         |                 ROWS BETWEEN CURRENT ROW AND ${n - 1} FOLLOWING)
         |  ), dup AS (
         |    SELECT $idName, s, e FROM (
         |      SELECT *, count(*) OVER (PARTITION BY $idName, gram) AS c
         |      FROM grams WHERE k = $n)
         |    WHERE c >= 2
         |  ), isl AS (
         |    SELECT $idName, s, e,
         |           CASE WHEN s > coalesce(max(e) OVER (
         |             PARTITION BY $idName ORDER BY s
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |             -1) THEN 1 ELSE 0 END AS brk
         |    FROM dup
         |  ), grp AS (
         |    SELECT $idName, s, e, sum(brk) OVER (
         |      PARTITION BY $idName ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         |    FROM isl
         |  )
         |  SELECT $idName, CAST(sum(cov) AS BIGINT) AS covered_chars
         |  FROM (SELECT $idName, g, max(e) - min(s) AS cov
         |        FROM grp GROUP BY 1, 2)
         |  GROUP BY 1
         |) c ON t.$idName = c.$idName""".stripMargin
    }
    s"""WITH src AS (SELECT $idName, $toksSql AS toks FROM $table),
       |tot AS (
       |  SELECT $idName,
       |         CAST(length(array_to_string(toks, ' ')) AS BIGINT)
       |           AS n_chars
       |  FROM src
       |), tok AS (
       |  SELECT $idName, CAST(pr[2] AS BIGINT) AS i,
       |         CAST(pr[1] AS VARCHAR) AS tok
       |  FROM (SELECT $idName,
       |          unnest(list_zip(toks, range(0, len(toks)))) AS pr
       |        FROM src)
       |  WHERE pr[1] IS NOT NULL
       |), off AS (
       |  SELECT $idName, i, tok,
       |         CAST(coalesce(sum(length(tok) + 1) OVER (
       |           PARTITION BY $idName ORDER BY i
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS s
       |  FROM tok
       |)
       |SELECT $idName, n, n_chars, covered_chars,
       |       CASE WHEN n_chars > 0
       |            THEN covered_chars * 1000000 // n_chars
       |            ELSE 0 END AS frac_micro,
       |       100 * covered_chars <= (20 - n) * n_chars AS pass
       |FROM (${blocks.mkString("\nUNION ALL\n")})""".stripMargin
  }

  /** DuckDB oracle for [[ruleGates]] — identical counts and
    * cross-multiplied verdicts. `toksSql` mirrors
    * [[TextAnalysis.tokens]]. */
  def ruleGatesOracleSql(table: String, idName: String, toksSql: String,
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      punctRe: String = asciiPunctRe): String = {
    val stop = TextAnalysis.stopEn.map(w => s"'$w'").mkString(", ")
    s"""WITH b AS (
       |  SELECT $idName,
       |         CAST(len(toks) AS BIGINT) AS n_tokens,
       |         CAST(coalesce(list_sum(list_transform(toks,
       |           t -> length(t))), 0) AS BIGINT) AS sum_len,
       |         CAST(len(list_filter(toks,
       |           t -> regexp_full_match(t, '[0-9]+'))) AS BIGINT)
       |           AS n_digit,
       |         CAST(len(list_intersect(list_distinct(toks),
       |           [$stop])) AS BIGINT) AS n_stop,
       |         CAST(length(text) - length(regexp_replace(text,
       |           '$punctRe', '', 'g')) AS BIGINT) AS n_punct,
       |         CAST(length(text) AS BIGINT) AS n_chars
       |  FROM (SELECT $idName, text, $toksSql AS toks FROM $table)
       |)
       |SELECT *,
       |       n_tokens >= $minTokens AND n_tokens <= $maxTokens AS r_len,
       |       3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens
       |         AS r_mean,
       |       5 * n_digit <= n_tokens AS r_digit,
       |       n_stop >= 2 AS r_stop,
       |       10 * n_punct <= n_chars AS r_punct,
       |       (n_tokens >= $minTokens AND n_tokens <= $maxTokens)
       |         AND (3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens)
       |         AND (5 * n_digit <= n_tokens)
       |         AND (n_stop >= 2)
       |         AND (10 * n_punct <= n_chars) AS pass
       |FROM b""".stripMargin
  }
}
