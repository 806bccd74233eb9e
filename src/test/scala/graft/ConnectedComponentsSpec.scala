package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.dedup.NearDup

/** [[NearDup.connectedComponents]]' two routes — union-find in the driver
  * below the edge bound, the distributed label loop above it — give the
  * same rows and schema; the bound decides which one runs. */
class ConnectedComponentsSpec extends SparkSuite {
  import spark.implicits._

  private val Huge = 1 << 30

  private def cc(edges: DataFrame, bound: Int): DataFrame =
    NearDup.connectedComponentsWithin(edges, "d1", "d2", maxIter = 50,
      maxDriverEdges = bound)

  private def onDriver(out: DataFrame): Boolean =
    out.queryExecution.logical.isInstanceOf[LocalRelation]

  private def sameOnBothRoutes(edges: DataFrame, clue: String): Unit = {
    val loop = cc(edges, 0)
    val driver = cc(edges, Huge)
    assert(!onDriver(loop) && onDriver(driver), clue)
    assert(driver.schema == loop.schema, clue)
    assert(driver.collect().toSet == loop.collect().toSet, clue)
  }

  /** Chains, cliques, isolated pairs, self-loops, duplicate and reversed
    * edges over sparse random ids. */
  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val ids = Seq.fill(60)(rnd.nextInt(1000000).toLong * 7919L).distinct
    def pick(): Long = ids(rnd.nextInt(ids.size))
    val chain = Seq.fill(8)(pick()).sliding(2).map(p => (p(0), p(1))).toSeq
    val k = Seq.fill(4)(pick()).distinct
    val clique = for (a <- k; b <- k if a < b) yield (a, b)
    val loose = Seq.fill(12)((pick(), pick()))
    val self = Seq.fill(2) { val v = pick(); (v, v) }
    val edges = chain ++ clique ++ loose ++ self
    edges ++ edges.take(5) ++ edges.take(5).map(_.swap)
  }

  test("driver and loop routes agree on seeded random graphs, Long and " +
      "Int ids") {
    for (seed <- 1 to 4) {
      val e = randomGraph(seed)
      sameOnBothRoutes(e.toDF("d1", "d2"), s"Long, seed $seed")
      sameOnBothRoutes(e.map { case (a, b) => ((a % 100003).toInt,
        (b % 100003).toInt) }.toDF("d1", "d2"), s"Int, seed $seed")
    }
  }

  test("driver and loop routes agree on a 5,000-link chain") {
    val chain = spark.range(1, 5001)
      .select(($"id" * 3 - 3).as("d1"), ($"id" * 3).as("d2"))
    sameOnBothRoutes(chain, "chain")
    assert(cc(chain, Huge).filter($"cluster_id" =!= 0L).isEmpty)
  }

  test("bound + 1 edges, null endpoints and string ids take the loop") {
    val e = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("d1", "d2")
    assert(onDriver(cc(e, 3)) && !onDriver(cc(e, 2)))
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (3L, null))
      .toDF("d1", "d2")
    assert(!onDriver(cc(withNull, Huge)))
    assert(!onDriver(cc(Seq(("a", "b")).toDF("d1", "d2"), Huge)))
  }

  test("the driver route starts as many jobs for 2 edges as for a " +
      "5,000-link chain") {
    val small = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val chain = spark.range(1, 5001).select(($"id" - 1).as("d1"), $"id".as("d2"))
    val jobs = JobGroups.started(spark)(Seq(
      "small" -> (() => NearDup.connectedComponents(small)),
      "chain" -> (() => NearDup.connectedComponents(chain))))
    assert(jobs("small") == jobs("chain"), jobs)
  }
}
