package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DocGates

/** Multi-token PHRASE blocklist matching — the curation gate behind
  * "drop documents hitting a banned-phrase list" (profanity, boilerplate
  * legalese, licence headers). Single-token blocklists are a trivial
  * `array_intersect`; the operator here matches MULTI-token phrases with
  * exact token-boundary semantics (never a substring `contains`, which
  * false-positives across word boundaries and survives no tokenizer
  * change), in the normalized [[TextAnalysis.tokens]] space so the
  * verdict is case/punctuation-stable.
  *
  * Plan shape: ZERO SHUFFLES — the blocklist is a plan-build-time
  * literal (kilobytes), so the op is one projection: the codegen'd
  * [[graft.functions.DocGates]] kernel tokenizes each row once, interns
  * its tokens and counts every phrase's occurrences over the row's
  * token positions. No explode, no window, no join — which is also what
  * makes it directly usable on a STREAMING frame (the
  * tokenize-the-stream convention). Zero-hit and null-text documents
  * pass through with zeros — the common case a curation pipeline must
  * not disturb. The DuckDB oracle keeps the gram form: per phrase
  * length L, the doc's L-grams counted against the phrase set.
  *
  * Phrases are tokenized by the SAME tokenizer at plan-build time;
  * phrases that normalize to nothing are dropped. Overlapping and
  * repeated occurrences each count once per starting position.
  */
object Blocklist {

  /** Normalized token form of each phrase, deduplicated. */
  private[text] def phraseTokens(phrases: Seq[String]): Seq[Seq[String]] =
    phrases
      .map(p => p.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .distinct

  /** Plan: one projection of the codegen'd [[graft.functions.DocGates]]
    * kernel's hit counts. The higher-order-function route it replaced
    * (per phrase length L, the doc's L-grams from an index `transform`
    * + `slice`, filtered against the phrase set) is kept in the test
    * sources as the reference it must reproduce row for row.
    *
    * @return one row per input doc: (idCol, n_hits, n_phrases, blocked)
    *         — n_hits counts every occurrence (all phrases, all start
    *         positions), n_phrases the distinct phrases present */
  def phraseHits(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    val k = col("__k")
    docs
      .select(col(idCol), DocGates.docGates(col(textCol), Nil,
        nonEmptyPhraseTokens(phrases), Nil).as("__k"))
      .select(col(idCol), coalesce(k("n_hits"), lit(0L)).as("n_hits"),
        coalesce(k("n_phrases"), lit(0L)).as("n_phrases"))
      .withColumn("blocked", col("n_hits") > 0L)
  }

  /** [[phraseTokens]], which must not be empty. */
  private[text] def nonEmptyPhraseTokens(
      phrases: Seq[String]): Seq[Seq[String]] = {
    val plist = phraseTokens(phrases)
    require(plist.nonEmpty, "empty blocklist")
    plist
  }

  /** Whether a [[graft.functions.DocGates]] struct counted any phrase
    * hit: [[phraseHits]]' `blocked`. */
  private[text] def blockedOf(k: Column): Column =
    coalesce(k("n_hits"), lit(0L)) > 0L

  /** DuckDB oracle for [[phraseHits]] — identical token grams per
    * length and the same phrase list. `toksSql` mirrors
    * [[TextAnalysis.tokens]]. */
  def phraseHitsOracleSql(table: String, idName: String, toksSql: String,
      phrases: Seq[String]): String = {
    val plist = phraseTokens(phrases)
    val blocks = plist.map(_.length).distinct.sorted.map { l =>
      val inList = plist.filter(_.length == l)
        .map(p => s"'${p.mkString(" ")}'").mkString(", ")
      s"""SELECT $idName, gram AS phrase FROM (
         |  SELECT $idName,
         |         string_agg(tok, ' ') OVER (PARTITION BY $idName
         |           ORDER BY i ROWS BETWEEN CURRENT ROW AND ${l - 1}
         |           FOLLOWING) AS gram,
         |         count(*) OVER (PARTITION BY $idName ORDER BY i
         |           ROWS BETWEEN CURRENT ROW AND ${l - 1} FOLLOWING) AS k
         |  FROM tok)
         |WHERE k = $l AND gram IN ($inList)""".stripMargin
    }
    s"""WITH src AS (SELECT $idName, $toksSql AS toks FROM $table),
       |tok AS (
       |  SELECT $idName, CAST(pr[2] AS BIGINT) AS i,
       |         CAST(pr[1] AS VARCHAR) AS tok
       |  FROM (SELECT $idName,
       |          unnest(list_zip(toks, range(0, len(toks)))) AS pr
       |        FROM src)
       |  WHERE pr[1] IS NOT NULL
       |), hits AS (
       |${blocks.mkString("\nUNION ALL\n")}
       |), per_doc AS (
       |  SELECT $idName, CAST(count(*) AS BIGINT) AS n_hits,
       |         CAST(count(DISTINCT phrase) AS BIGINT) AS n_phrases
       |  FROM hits GROUP BY 1
       |)
       |SELECT s.$idName, coalesce(n_hits, 0) AS n_hits,
       |       coalesce(n_phrases, 0) AS n_phrases,
       |       coalesce(n_hits, 0) > 0 AS blocked
       |FROM (SELECT $idName FROM $table) s
       |LEFT JOIN per_doc p ON s.$idName = p.$idName""".stripMargin
  }
}
