package graft

import org.apache.spark.sql.DataFrame

import graft.dedup.NearDup
import graft.ops.{Densest, PageRank, Sampling}
import graft.text.{Bpe, SuffixArray}

/** Loop operators release superseded checkpoint generations: after a
  * call, with its result materialized, only the cuts the result still
  * reads stay persisted. */
class LoopReleaseSpec extends SparkSuite {
  import spark.implicits._

  /** Persisted RDDs the call created that are still persisted once its
    * result is collected (twice: a released cut the result still read
    * would fail the second read). Counted by RDD id, because the
    * context holds persisted RDDs weakly: an earlier spec's unreachable
    * frames may leave the map at any time. */
  private def heldBy(call: => DataFrame): Int = {
    val sc = spark.sparkContext
    val firstId = sc.emptyRDD[Int].id
    val out = call
    out.collect()
    out.collect()
    sc.getPersistentRDDs.keys.count(_ > firstId)
  }

  test("hits keeps only the last hub and auth") {
    val edges = Seq((1L, 101L), (1L, 102L), (1L, 103L), (2L, 101L),
      (3L, 102L)).toDF("s", "d")
    for (iters <- Seq(1, 3))
      assert(heldBy(PageRank.hits(edges, "s", "d", iters = iters)) == 2,
        s"iters = $iters")
  }

  test("waterFillAllocation keeps only the last state") {
    val ps = Seq(("a", 100L), ("b", 100L), ("c", 10L)).toDF("src", "avail")
    assert(heldBy(Sampling.waterFillAllocation(ps, "src", "avail",
      Map("c" -> 8L), defaultWeight = 1L, budgetNum = 3L,
      budgetDen = 5L)) == 1)
  }

  test("densestSubgraphTrace keeps every round's degrees, no edge " +
      "generation") {
    val k5 = for { a <- 1L to 5L; b <- 1L to 5L if a < b } yield (a, b)
    val path = (0 until 20).map(i =>
      (if (i == 0) 5L else 100L + i, 101L + i))
    val e = (k5 ++ path).toDF("src", "dst")
    assert(heldBy(Densest.densestSubgraphTrace(e, "src", "dst",
      epsNum = 1L, epsDen = 2L, rounds = 4)) == 5)
  }

  test("connectedComponents' loop keeps only the last label generation") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("d1", "d2")
    assert(heldBy(NearDup.connectedComponentsWithin(e, "d1", "d2",
      maxIter = 50, maxDriverEdges = 0)) == 1)
    assert(heldBy(NearDup.connectedComponents(e)) == 0)
  }

  test("globalRanks' loop keeps only the last rank arrays") {
    // ties past 32 characters, so the loop runs doubling rounds
    val docs = Seq((1L, "abab" * 20), (2L, "aba" * 20), (3L, "xy"))
      .toDF("doc_id", "text")
    assert(heldBy(SuffixArray.globalRanksWithin(docs, "doc_id", "text",
      maxLenLog2 = 12, maxDriverChars = 0L)) == 1)
    assert(heldBy(SuffixArray.globalRanks(docs, "doc_id", "text")) == 0)
  }

  test("Bpe.encode above 64 merges keeps only the last chunk") {
    val docs = Seq((1L, "ab ab abc"), (2L, "bc a")).toDF("doc_id", "text")
    for (n <- Seq(128, 256)) {
      val merges = ("a", "b") +: (1 until n).map(i => (s"x$i", s"y$i"))
      assert(heldBy(Bpe.encode(docs, "doc_id", "text", merges)) == 1,
        s"$n merges")
    }
  }
}
