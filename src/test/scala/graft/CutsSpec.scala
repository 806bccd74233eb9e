package graft

import org.apache.spark.HeldRdds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.Cuts

/** The contract of [[Cuts]]: which cuts its loop form and its scoped
  * form leave held, and what they return. */
class CutsSpec extends SparkSuite {
  import spark.implicits._

  private def ones = Seq(1L, 2L, 3L).toDF("v")

  /** Adds 1 to `v`, one round per generation. */
  private def inc(g: DataFrame, r: Int): DataFrame =
    g.select((col("v") + 1).as("v"))

  private def values(df: DataFrame): Seq[Long] =
    df.orderBy("v").collect().map(_.getLong(0)).toSeq

  test("0 rounds returns init, cut") {
    var out: DataFrame = null
    val held = HeldRdds.by(spark.sparkContext) {
      out = Cuts.generations(ones, 0)(inc)
    }
    assert(values(out) == Seq(1L, 2L, 3L))
    assert(held.size == 1)
    Cuts.release(out) // throws unless `out` is a cut
  }

  test("fixed rounds hold only the last generation") {
    var out: DataFrame = null
    val held = HeldRdds.by(spark.sparkContext) {
      out = Cuts.generations(ones, 3)(inc)
      values(out)
    }
    assert(values(out) == Seq(4L, 5L, 6L))
    assert(held.size == 1)
  }

  test("the early-stop form returns the first generation done accepts, " +
      "and holds nothing else") {
    var out: DataFrame = null
    val seen = Seq.newBuilder[Int]
    val held = HeldRdds.by(spark.sparkContext) {
      out = Cuts.generations(ones, 10, (g, r) => {
        seen += r
        g.agg(max(col("v"))).head().getLong(0) >= 5L
      })(inc)
      values(out)
    }
    assert(values(out) == Seq(3L, 4L, 5L))
    assert(seen.result() == Seq(0, 1, 2))
    assert(held.size == 1)
  }

  test("a scoped cut is released when its body returns; a cache on its " +
      "input stays cached") {
    val in = ones.persist()
    try {
      in.count() // the cache exists before the counted block
      val held = HeldRdds.by(spark.sparkContext) {
        assert(Cuts.scoped(in.localCheckpoint())(_.count()) == 3L)
      }
      assert(held.isEmpty)
      assert(in.storageLevel != StorageLevel.NONE)
      assert(values(in) == Seq(1L, 2L, 3L))
    } finally in.unpersist()
  }

  test("release of a frame that is not a cut throws") {
    intercept[IllegalArgumentException](Cuts.release(ones))
    val cached = ones.persist()
    try intercept[IllegalArgumentException](Cuts.release(cached))
    finally cached.unpersist()
  }
}
