package graft.text

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}

import graft.{JobGroups, SparkSuite}

/** The driver-side trainer against the per-generation Spark recurrence
  * ([[BpeReference]]), its job count across merge counts, and its state
  * bound. */
class BpeTrainSpec extends SparkSuite {

  private val seeds: Seq[(String, Column => Column)] = Seq(
    "tokens" -> TextAnalysis.tokens,
    "charSymbols" -> Bpe.charSymbols,
    "byteFallbackSymbols" -> Bpe.byteFallbackSymbols,
    "byteFallbackPreTokenSymbols" -> Bpe.byteFallbackPreTokenSymbols)

  private def docsOf(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  /** A seeded corpus mixing tie-heavy words from a tiny vocabulary,
    * `a a a` runs, repeated documents, empty and 1-symbol documents and
    * non-ASCII text for the byte seeds. */
  private def corpus(rng: Random): Seq[String] = {
    val tiny = Vector("a", "b", "ab", "ba", "aa", "c")
    def tieHeavy = Seq.fill(rng.nextInt(9))(tiny(rng.nextInt(tiny.size)))
      .mkString(" ")
    def run = Seq.fill(2 + rng.nextInt(4))(if (rng.nextBoolean()) "a" else "aa")
      .mkString(" ")
    val odd = Vector("", "z", "!!", " ", "a", "Café déjà", "Это тест",
      "good 😀😀 it's", "under_score <0x41>", "x_y 42!")
    val distinct = Seq.fill(6 + rng.nextInt(6)) {
      rng.nextInt(3) match {
        case 0 => tieHeavy
        case 1 => run
        case _ => odd(rng.nextInt(odd.size))
      }
    }
    // duplicates: every document appears 1-3 times
    rng.shuffle(distinct.flatMap(d => Seq.fill(1 + rng.nextInt(3))(d)))
  }

  test("trainMerges equals the per-generation Spark recurrence under all " +
      "four seeds: ties, runs, duplicates, empty docs, past exhaustion") {
    for ((name, seed) <- seeds; s <- Seq(11, 12, 13)) {
      val rng = new Random(s * 31 + name.length)
      val docs = docsOf(corpus(rng)).cache()
      val n = 8 + rng.nextInt(17)
      val got = Bpe.trainMerges(docs, "doc_id", "text", n, seed)
      val want = BpeReference.trainMerges(docs, "text", n, seed)
      assert(got == want, s"seed function $name, corpus $s, nMerges $n")
      docs.unpersist()
    }
    // nMerges past exhaustion: both stop at the same short table
    for ((name, seed) <- seeds) {
      val docs = docsOf(Seq("a a a", "a b", "", "z", "a b", "ab b"))
      val got = Bpe.trainMerges(docs, "doc_id", "text", 64, seed)
      val want = BpeReference.trainMerges(docs, "text", 64, seed)
      assert(got == want, s"seed function $name past exhaustion")
      assert(got.length < 64, s"$name did not exhaust")
    }
  }

  test("learnMerges: `a a a` merges greedily left to right without " +
      "overlap; multiplicity weights the pair counts") {
    // (a,a) x2 in one state of multiplicity 3: freq 6; the state becomes
    // [a a, a], so the next pair is (a a, a) at freq 3
    assert(Bpe.learnMerges(Seq((Seq("a", "a", "a"), 3L)), 4) == Seq(
      (1L, "a", "a", 6L), (2L, "a a", "a", 3L)))
    // a tie at freq 2 breaks on the left symbol, then the right one
    assert(Bpe.learnMerges(
      Seq((Seq("b", "a"), 2L), (Seq("a", "c"), 1L), (Seq("a", "b"), 2L)),
      1) == Seq((1L, "a", "b", 2L)))
  }

  test("trainMerges starts the same number of Spark jobs at 4 merges " +
      "and at 64, and leaves nothing persisted") {
    val docs = docsOf((0 until 40).map(i =>
      Seq.tabulate(12)(j => "w" + ((i * 7 + j * 3) % 11)).mkString(" ")))
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val merges = scala.collection.mutable.Map.empty[Int, Int]
    val jobs = JobGroups.started(spark)(Seq(4, 64).map { n =>
      s"merges-$n" -> (() => merges(n) = Bpe.trainMerges(docs, "doc_id",
        "text", n, Bpe.charSymbols).length)
    })
    assert(merges(4) == 4 && merges(64) == 64)
    assert(jobs.get("merges-4").exists(_ >= 1))
    assert(jobs.get("merges-4") == jobs.get("merges-64"), jobs.toString)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
  }

  test("more distinct seed states than the bound fails and names the " +
      "sampling operator; duplicates count once") {
    val docs = docsOf(Seq("a b", "b c", "c d", "a b", "a b"))
    assert(Bpe.trainMergesWithin(docs, "text", 2, TextAnalysis.tokens,
      maxStates = 3).length == 2)
    val e = intercept[IllegalArgumentException] {
      Bpe.trainMergesWithin(docs, "text", 2, TextAnalysis.tokens,
        maxStates = 2)
    }
    assert(e.getMessage.contains("Sampling.stratifiedSample"), e.getMessage)
  }
}
