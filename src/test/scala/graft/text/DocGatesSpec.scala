package graft.text

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec

import graft.SparkSuite

/** The [[graft.functions.DocGates]] routes of the word-level gates against
  * their relational references ([[GateReference]]): the same rows and the
  * same schema on seeded corpora and on hand-picked edges, and the
  * repetition gate's plan shape. */
class DocGatesSpec extends SparkSuite {
  import spark.implicits._

  private val words = Vector("the", "a", "and", "of", "is", "it", "data",
    "scan", "merge", "table", "join", "order", "42", "007", "X", "Zz9",
    "kelvin", "\u212Aelvin", "\u0130stanbul", "café")
  private val seps = Vector(" ", " ", " ", "  ", ", ", "-", "!! ", "\n",
    " é ", " 😀 ", "𝒜", " \u212A ", "\u0130 ")

  /** Seeded documents: random words, repeated runs and repeated spans
    * (so n-grams repeat and phrases overlap), and the edges: empty,
    * whitespace-only, null, shorter than every n, all digits, the Kelvin
    * sign and U+0130, supplementary code points. */
  private def corpus(rng: Random): DataFrame = {
    def words(n: Int) = Seq.fill(n)(this.words(rng.nextInt(this.words.size)))
    def join(ws: Seq[String]) =
      ws.map(_ + seps(rng.nextInt(seps.size))).mkString
    val random = Seq.fill(30) {
      rng.nextInt(4) match {
        case 0 => join(words(rng.nextInt(40)))
        case 1 => join(Seq.fill(2 + rng.nextInt(25))(words(1).head))
        case 2 =>
          val span = words(1 + rng.nextInt(6))
          join(Seq.fill(2 + rng.nextInt(4))(span ++ words(rng.nextInt(3)))
            .flatten)
        case _ => join(words(rng.nextInt(5)))
      }
    }
    val edges = Seq("", "   ", " \n\t ", "a", "1 2 3 44 555", "the a",
      "\u212A \u212A \u212A", "\u0130 \u0130 \u0130 i i", "a😀b",
      "𝒜𝒜 x", "a a a a a a a a a a a a a a a a a a a a",
      "scan merge scan merge scan merge", "TABLE SCAN merge table scan")
    val texts = (random ++ edges).map(Option(_)) ++ Seq(None, None)
    texts.zipWithIndex.map { case (t, i) => (i.toLong * 7 + 3, t) }
      .toDF("doc_id", "text")
  }

  private def phrasesOf(rng: Random): Seq[String] =
    Seq("scan merge", "a a", "the", "table scan merge", "x x x",
      "\u212Aelvin data", "i") ++
      Seq.fill(4)(Seq.fill(1 + rng.nextInt(4))(
        words(rng.nextInt(words.size))).mkString(" "))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String) = {
    assert(got.schema.catalogString == want.schema.catalogString, what)
    assert(rows(got) == rows(want), what)
  }

  private val seeds = Seq(9301, 9302, 9303, 9304)

  test("ruleGates' kernel route equals the higher-order route under all " +
      "four seeds") {
    for (seed <- seeds) {
      val docs = corpus(new Random(seed)).cache()
      for (minTokens <- Seq(1L, 5L))
        assertSame(Gopher.ruleGates(docs, "doc_id", "text", minTokens),
          GateReference.ruleGates(docs, "doc_id", "text", minTokens),
          s"seed $seed, minTokens $minTokens")
      docs.unpersist()
    }
  }

  test("dupNgramCoverage's kernel route equals the window route under " +
      "all four seeds, at n = 2 and n = 19") {
    for (seed <- seeds) {
      val rng = new Random(seed)
      val docs = corpus(rng).cache()
      for (ns <- Seq(Seq(2, 19), Seq(5, 10), Seq(2 + rng.nextInt(17))))
        assertSame(Gopher.dupNgramCoverage(docs, "doc_id", "text", ns),
          GateReference.dupNgramCoverage(docs, "doc_id", "text", ns),
          s"seed $seed, ns $ns")
      docs.unpersist()
    }
  }

  test("phraseHits' kernel route equals the higher-order route under all " +
      "four seeds, phrases of 1-4 tokens") {
    for (seed <- seeds) {
      val rng = new Random(seed)
      val docs = corpus(rng).cache()
      val phrases = phrasesOf(rng)
      assertSame(Blocklist.phraseHits(docs, "doc_id", "text", phrases),
        GateReference.phraseHits(docs, "doc_id", "text", phrases),
        s"seed $seed, phrases $phrases")
      docs.unpersist()
    }
  }

  test("the edges, spelled out: null, empty and whitespace text, the " +
      "Kelvin sign, U+0130, supplementary code points, all digits") {
    val docs = Seq((1L, None), (2L, Some("")), (3L, Some(" \n ")),
      (4L, Some("\u212Aelvin")), (5L, Some("\u0130stanbul")),
      (6L, Some("a😀b")), (7L, Some("12 345 a6")))
      .toDF("doc_id", "text")
    def stats(id: Long) = Gopher.ruleGates(docs, "doc_id", "text", 1L)
      .filter($"doc_id" === id)
      .select("n_tokens", "sum_len", "n_digit", "n_stop", "n_punct",
        "n_chars").head().toSeq
    // null text: the counts are what `size` of a null array gives
    val nullSize = spark.sql("SELECT size(CAST(NULL AS ARRAY<STRING>))")
      .head().get(0)
    val nullCount: Any =
      if (nullSize == null) null else nullSize.asInstanceOf[Int].toLong
    assert(stats(1L) == Seq(nullCount, null, nullCount, nullCount, null,
      null))
    assert(stats(2L) == Seq(0L, 0L, 0L, 0L, 0L, 0L))
    assert(stats(3L) == Seq(0L, 0L, 0L, 0L, 1L, 3L))
    // the Kelvin sign lowercases to k; its raw code point is not ASCII
    assert(stats(4L) == Seq(1L, 6L, 0L, 0L, 1L, 6L))
    // U+0130 lowercases to i + U+0307, which splits the token
    assert(stats(5L) == Seq(2L, 8L, 0L, 0L, 1L, 8L))
    // one supplementary code point: one char, one punctuation char
    assert(stats(6L) == Seq(2L, 2L, 0L, 1L, 1L, 3L))
    assert(stats(7L) == Seq(3L, 7L, 2L, 0L, 0L, 9L))
    val cov = Gopher.dupNgramCoverage(docs, "doc_id", "text", Seq(2))
      .filter($"doc_id" <= 3L).orderBy("doc_id").collect().toSeq
    assert(cov == Seq(1L, 2L, 3L).map(id => Row(id, 2L, 0L, 0L, 0L, true)))
    val hits = Blocklist.phraseHits(docs, "doc_id", "text", Seq("kelvin"))
      .orderBy("doc_id").collect().toSeq
    assert(hits.map(_.getLong(1)) == Seq(0L, 0L, 0L, 1L, 0L, 0L, 0L))
  }

  /** The physical operators of `df`'s executed plan, AQE stages
    * unwrapped. */
  private def operators(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case o => o +: o.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("dupNgramCoverage runs with no Window and no Exchange") {
    val docs = corpus(new Random(9301))
    val ops = operators(
      Gopher.dupNgramCoverage(docs, "doc_id", "text", Seq(5, 10)))
    assert(!ops.exists(_.isInstanceOf[WindowExec]), ops.map(_.nodeName))
    assert(!ops.exists(_.isInstanceOf[Exchange]), ops.map(_.nodeName))
  }
}
