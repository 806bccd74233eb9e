package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relational forms of the word-level curation gates, kept as the
  * references the [[graft.functions.DocGates]] kernel routes must
  * reproduce row for row: [[dupNgramCoverage]] by token posexplode and
  * windows, [[phraseHits]] by higher-order functions over the token
  * array. (The higher-order form of `Gopher.ruleGates` stays in the main
  * sources as `Gopher.ruleGatesHof`, the route of every tokenizer but
  * the default.) */
object GateReference {

  /** `Gopher.dupNgramCoverage` by windows: one token posexplode; per n,
    * grams and their [s, e) spans from a bounded n-row window frame,
    * within-doc duplication from a count over (doc, gram), and coverage
    * from the islands merge (running max-end window). */
  def dupNgramCoverage(docs: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int]): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val src = docs.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    val tot = src.select(col(idCol),
      length(concat_ws(" ", col("__toks"))).cast("long").as("n_chars"))
    val tok = src
      .select(col(idCol), posexplode(col("__toks")).as(Seq("i", "tok")))
      .withColumn("s", coalesce(
        sum(length(col("tok")).cast("long") + 1L)
          .over(W.partitionBy(col(idCol)).orderBy(col("i"))
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
    val perN = ns.map { n =>
      val wf = W.partitionBy(col(idCol)).orderBy(col("i"))
        .rowsBetween(0, n - 1)
      val grams = tok.select(col(idCol), col("s"),
          concat_ws(" ", collect_list(col("tok")).over(wf)).as("gram"),
          count(lit(1)).over(wf).as("__k"),
          max(col("s") + length(col("tok")).cast("long")).over(wf)
            .as("e"))
        .where(col("__k") === n)
      val dup = grams
        .withColumn("__c", count(lit(1))
          .over(W.partitionBy(col(idCol), col("gram"))))
        .where(col("__c") >= 2L)
        .select(col(idCol), col("s"), col("e"))
      val islands = dup
        .withColumn("__brk", when(col("s") > coalesce(
          max(col("e")).over(W.partitionBy(col(idCol)).orderBy(col("s"))
            .rowsBetween(W.unboundedPreceding, -1)), lit(-1L)),
          1L).otherwise(0L))
        .withColumn("__g", sum(col("__brk"))
          .over(W.partitionBy(col(idCol)).orderBy(col("s"))
            .rowsBetween(W.unboundedPreceding, 0)))
      val covered = islands.groupBy(col(idCol), col("__g"))
        .agg((max(col("e")) - min(col("s"))).as("__cov"))
        .groupBy(col(idCol))
        .agg(sum(col("__cov")).as("covered_chars"))
      tot.join(covered, Seq(idCol), "left")
        .select(col(idCol), lit(n.toLong).as("n"), col("n_chars"),
          coalesce(col("covered_chars"), lit(0L)).as("covered_chars"))
    }
    perN.reduce(_ unionAll _)
      .withColumn("frac_micro", when(col("n_chars") > 0L,
        expr("covered_chars * 1000000 div n_chars"))
        .otherwise(0L).cast("long"))
      .withColumn("pass",
        lit(100L) * col("covered_chars") <=
          (lit(20L) - col("n")) * col("n_chars"))
  }

  /** `Blocklist.phraseHits` by higher-order functions: per distinct
    * phrase length L, the doc's L-grams from an index `transform` +
    * `slice`, filtered against the phrase set. */
  def phraseHits(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    val plist = Blocklist.phraseTokens(phrases)
    require(plist.nonEmpty, "empty blocklist")
    val matchesByLen = plist.map(_.length).distinct.sorted.map { l =>
      val pset = plist.filter(_.length == l).map(_.mkString(" "))
      // sequence(1, n) DESCENDS when n < 1: docs shorter than L have no
      // L-grams
      val grams = when(size(col("__toks")) >= l,
        transform(sequence(lit(1), size(col("__toks")) - (l - 1)),
          i => concat_ws(" ", slice(col("__toks"), i, lit(l)))))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
      filter(grams, g => pset.map(p => g === p).reduce(_ || _))
    }
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .withColumn("__hits", concat(matchesByLen: _*))
      .select(col(idCol),
        size(col("__hits")).cast("long").as("n_hits"),
        size(array_distinct(col("__hits"))).cast("long").as("n_phrases"))
      .withColumn("blocked", col("n_hits") > 0L)
  }

  /** `Gopher.ruleGates` by higher-order functions over the default
    * tokenizer. */
  def ruleGates(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Long, maxTokens: Long = 100000L): DataFrame =
    Gopher.ruleGatesHof(docs, idCol, textCol, minTokens, maxTokens,
      TextAnalysis.tokens, Gopher.asciiPunctRe)
}
