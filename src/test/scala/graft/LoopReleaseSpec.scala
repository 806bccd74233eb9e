package graft

import org.apache.spark.HeldRdds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.dedup.NearDup
import graft.ops.{Betweenness, Bfs, Coverage, Densest, KCore, Mst, PageRank,
  Sampling, Truss, Walks}
import graft.similarity.GraphANN
import graft.text.{Bpe, Curate, SuffixArray}

/** Loop operators release superseded checkpoint generations: after a
  * call, with its result materialized, only the cuts the result still
  * reads stay persisted. */
class LoopReleaseSpec extends SparkSuite {
  import spark.implicits._

  /** RDDs the call created that still hold storage once its result is
    * collected (twice: a released cut the result still read would fail
    * the second read) — counted by [[HeldRdds]], which a GC during the
    * call cannot fool. */
  private def heldBy(call: => DataFrame): Int = heldByAll(Seq(call))

  private def heldByAll(call: => Seq[DataFrame]): Int =
    HeldRdds.by(spark.sparkContext) {
      val outs = call
      outs.foreach(_.collect())
      outs.foreach(_.collect())
    }.size

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

  private def path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
    .toDF("src", "dst")

  test("Bfs keeps only the last distance generation") {
    val seeds = Seq(1L, 7L).toDF("node")
    assert(heldBy(Bfs.kHopDistances(path, "src", "dst", seeds, 3)) == 1)
    assert(heldBy(Bfs.harmonicCentrality(path, "src", "dst", seeds,
      3)) == 1)
    assert(heldBy(Bfs.eccentricity(path, "src", "dst", seeds, 3)) == 1)
    val weighted = path.withColumn("w", col("src") + 1L)
    assert(heldBy(Bfs.weightedDistances(weighted, "src", "dst", "w",
      seeds, 3)) == 1)
  }

  test("kCore keeps only the last edge generation, corenessHIndex the " +
      "last values and the adjacency its degrees read") {
    // K4 plus a tail: the tail peels at k = 3
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    assert(heldBy(KCore.kCore(g, "src", "dst", k = 3, rounds = 3)) == 1)
    assert(heldBy(KCore.corenessHIndex(g, "src", "dst", rounds = 3)) == 2)
  }

  test("kTruss keeps only the last generation, at its fixpoint exit too") {
    // two triangles sharing (1, 2) and a pendant: the 3-truss is reached
    // in round 1, so round 2 finds the fixpoint well before round 8
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (2L, 4L),
      (5L, 1L)).toDF("src", "dst")
    for (rounds <- Seq(1, 8))
      assert(heldBy(Truss.kTruss(g, "src", "dst", k = 3, rounds = rounds))
        == 1, s"rounds = $rounds")
  }

  test("greedySelect keeps no cut") {
    val pairs = Seq("s1" -> "a", "s1" -> "b", "s2" -> "b", "s2" -> "c",
      "s3" -> "a").toDF("src", "unit")
    for (k <- Seq(1, 2, 3))
      assert(heldBy(Coverage.greedySelect(pairs, "src", "unit", k)) == 0,
        s"k = $k")
  }

  test("beamSearchTopKFrom keeps the last beam and every round's " +
      "candidates") {
    val base = (1L to 6L).map(i => (i, Seq(1.0, i.toDouble)))
      .toDF("id", "ev")
    val queries = Seq((100L, Seq(1.0, 6.0))).toDF("qid", "qv")
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds = Seq((100L, 1L)).toDF("qid", "id")
    for (rounds <- Seq(0, 2)) {
      // the beam and, for n_scored, the seeds and one cut per round
      assert(heldByAll {
        val (topk, nScored) = GraphANN.beamSearchTopKFrom(base, queries,
          edges, seeds, beam = 2, rounds = rounds, k = 2)
        Seq(topk, nScored)
      } == 2 + rounds, s"rounds = $rounds")
    }
  }

  test("boruvka keeps only the last forest") {
    val weighted = path.withColumn("w", col("dst") * 3L % 5L)
    for (rounds <- Seq(1, 16))
      assert(heldBy(Mst.boruvka(weighted, "src", "dst", "w",
        rounds = rounds)) == 1, s"rounds = $rounds")
  }

  test("betweenness keeps only its backward generations") {
    val seeds = Seq(1L, 7L).toDF("node")
    for (hops <- Seq(1, 3))
      assert(heldBy(Betweenness.fromSeeds(path, "src", "dst", seeds,
        hops)) == hops + 1, s"hops = $hops")
  }

  test("walks keep only their frontier generations") {
    assert(heldBy(Walks.deterministicWalks(path, "src", "dst",
      walksPerNode = 2, steps = 3, salt = "w")) == 4)
  }

  test("attrition and attritionRelease keep only their datasheet cut") {
    // one doc per stage: short, repetitive, blocked, an exact copy, PII,
    // a benchmark leak and a near copy
    val base = "the quick brown fox jumps over a lazy dog today"
    val docs = Seq((1L, base), (2L, "xx"), (3L, s"$base $base"),
      (4L, "the quick brown fox has a bad phrase inside it now"),
      (5L, base), (6L, s"$base contact me at bob@example.com now"),
      (7L, "the cat and the dog walked along a very quiet forest path"),
      (8L, s"$base extra")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the cat and the dog walked along a very quiet forest path"))
      .toDF("doc_id", "text")
    val phrases = Seq("bad phrase")
    assert(heldBy(Curate.attrition(docs, "doc_id", "text", phrases,
      minTokens = 3L, maxMeanBitsMicro = 30000000L)) == 1)
    assert(heldBy(Curate.attritionRelease(docs, "doc_id", "text", phrases,
      bench, minTokens = 3L, maxMeanBitsMicro = 30000000L)) == 1)
  }
}
