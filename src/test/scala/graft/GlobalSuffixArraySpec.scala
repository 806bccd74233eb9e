package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.text.SuffixArray

/** [[SuffixArray.globalRanks]]' two routes — prefix doubling in the driver
  * up to the character bound, the distributed loop above it — give the
  * same rows and schema; the character bound decides which one runs.
  * Each forced-loop call runs dozens of Spark jobs, so the corpora are
  * few and each covers several cases. */
class GlobalSuffixArraySpec extends SparkSuite {
  import spark.implicits._

  private val Huge = 1L << 40

  private def ranks(docs: DataFrame, bound: Long,
      maxLenLog2: Int = 12): DataFrame =
    SuffixArray.globalRanksWithin(docs, "doc_id", "text", maxLenLog2, bound)

  private def onDriver(out: DataFrame): Boolean =
    out.queryExecution.logical.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  private def sameOnBothRoutes(docs: DataFrame, maxLenLog2: Int,
      clue: String): Unit = {
    val loop = ranks(docs, 0L, maxLenLog2)
    val driver = ranks(docs, Huge, maxLenLog2)
    assert(!onDriver(loop) && onDriver(driver), clue)
    assert(driver.schema.catalogString == loop.schema.catalogString, clue)
    val (d, l) = (driver.collect(), loop.collect())
    assert(d.length == l.length && d.toSet == l.toSet, clue)
  }

  private def ab(rnd: Random, n: Int): String =
    Seq.fill(n)(if (rnd.nextBoolean()) 'a' else 'b').mkString

  test("both routes agree on a 2-letter corpus with exact duplicate docs") {
    val rnd = new Random(11)
    val texts = Seq.fill(6)(ab(rnd, 20 + rnd.nextInt(50)))
    val docs = (texts ++ texts.take(2)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    sameOnBothRoutes(docs, 12, "2-letter")
  }

  test("both routes agree on prefix docs, 1-character docs, empty and " +
      "null texts, and code points past U+FFFF") {
    val texts = Seq("abcab", "abc", "abcabc", "a", "b", "a", "", null,
      "x\uFFFFy", "x\uD83D\uDE00y", "\uD83D\uDE00\uFFFF\uD83D\uDE00",
      "\uFFFF", "\uD83D\uDE00")
    val docs = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("doc_id", "text")
    sameOnBothRoutes(docs, 12, "edge texts")
    val out = ranks(docs, Huge).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!out.keys.exists(k => k._1 == 6 || k._1 == 7))
    // UTF-8 order puts U+FFFF before U+1F600; UTF-16 order would not
    assert(out((11, 1L)) < out((12, 1L)))
    assert(out((8, 2L)) < out((9, 2L)))
  }

  test("both routes agree at maxLenLog2 3 and 6 on docs that share " +
      "more than the compared prefix") {
    val rnd = new Random(12)
    val p = ab(rnd, 70)
    val texts = Seq(p + "ab", p + "ba", p.take(40) + "aab",
      p.take(40) + "bba", ab(rnd, 90))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (log2 <- Seq(3, 6)) sameOnBothRoutes(docs, log2, s"cap 2^$log2")
    // 32 characters compared: docs 0-3 tie at position 1; 64: only 0-1
    val at1 = (log2: Int) => ranks(docs, Huge, log2)
      .filter($"pos" === 1L && $"doc_id" < 4L).select("sa_rank")
      .distinct().count()
    assert(at1(3) == 1 && at1(6) == 3)
  }

  test("both routes agree on a corpus of one code point") {
    // the first sort splits nothing; only doubling orders "a" < "aa"
    val docs = Seq((1L, "aaaa"), (2L, "aa"), (3L, "a"), (4L, "aaaa"))
      .toDF("doc_id", "text")
    sameOnBothRoutes(docs, 12, "one code point")
    val out = ranks(docs, Huge).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((3L, 1L)) == 1L && out((2L, 1L)) == 5L &&
      out((1L, 2L)) == 8L && out((4L, 1L)) == 10L, out)
  }

  test("the character bound picks the route") {
    val docs = Seq((1L, "ab"), (2L, "ba")).toDF("doc_id", "text")
    assert(onDriver(ranks(docs, 4L, 3)) && !onDriver(ranks(docs, 3L, 3)))
  }

  test("the driver route starts as many jobs for 2 docs as for 200") {
    val rnd = new Random(13)
    val small = Seq((1L, "abab"), (2L, "aba")).toDF("doc_id", "text")
    val large = (1 to 200).map(i => (i.toLong, ab(rnd, 40)))
      .toDF("doc_id", "text")
    val jobs = JobGroups.started(spark)(Seq(
      "small" -> (() => SuffixArray.globalRanks(small, "doc_id", "text")
        .collect()),
      "large" -> (() => SuffixArray.globalRanks(large, "doc_id", "text")
        .collect())))
    assert(jobs("small") == jobs("large"), jobs)
  }
}
