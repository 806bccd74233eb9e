package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-generation Spark form of the BPE merge recurrence, kept as the
  * reference [[Bpe.trainMerges]] must reproduce: every round is one
  * pair-count job over the delimiter-enclosed state strings, a 1-row
  * argmax collect ordered (freq desc, left, right) by Spark's own string
  * order, and a per-row `replace` of `␁a␁␁b␁` with `␁a b␁`. */
object BpeReference {

  private val SEP = "\u0001"

  private def stateOf(toks: Column): Column =
    when(size(toks) === 0, lit(""))
      .otherwise(concat(lit(SEP), array_join(toks, SEP + SEP), lit(SEP)))

  private def symbolsOf(state: Column): Column =
    filter(split(trim(state, SEP), SEP + SEP), x => x =!= "")

  private def applyMerge(state: Column, a: String, b: String): Column =
    replace(state, lit(SEP + a + SEP + SEP + b + SEP),
      lit(SEP + a + " " + b + SEP))

  def trainMerges(docs: DataFrame, textCol: String, nMerges: Int,
      seed: Column => Column): Seq[(Long, String, String, Long)] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var state = docs.select(stateOf(seed(col(textCol))).as("state")).persist()
    var prev: DataFrame = null
    var exhausted = false
    var i = 1
    while (i <= nMerges && !exhausted) {
      val syms = state.select(symbolsOf(col("state")).as("syms"))
        .filter(size(col("syms")) >= 2)
      val n = size(col("syms"))
      val top = syms
        .select(explode(zip_with(
          slice(col("syms"), lit(1), n - 1),
          slice(col("syms"), lit(2), n - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b"))
        .limit(1).collect()
      // the pair count materialized `state`, so the generation behind it
      // can go
      if (prev != null) { prev.unpersist(); () }
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, f) =
          (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((i.toLong, a, b, f))
        prev = state
        state = state
          .withColumn("state", applyMerge(col("state"), a, b)).persist()
        // lineage cut every 32 rounds: one nested Project per merge
        // stack-overflows task serialization near ~250 merges
        if (i % 32 == 0) {
          val cp = state.localCheckpoint()
          state.unpersist()
          state = cp
        }
        i += 1
      }
    }
    if (prev != null && !(prev eq state)) { prev.unpersist(); () }
    state.unpersist()
    merges.toSeq
  }
}
