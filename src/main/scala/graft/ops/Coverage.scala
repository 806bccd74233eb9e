package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy maximum-coverage source selection — the classic data-mixture
  * curation move (pick the k sources/crawls/dumps that together cover
  * the most distinct vocabulary/domains/entities): NP-hard exactly,
  * while the greedy marginal-gain sweep carries the (1 − 1/e)
  * guarantee (Nemhauser et al. 1978) and is what practitioners run.
  * Complements the mixture-planning family (token accounting q97, JS
  * divergence q181, source ablation q270): those EVALUATE a mix, this
  * CHOOSES one under a budget. Reference analogue: none —
  * LLM-pipeline surface.
  *
  * Deterministic: gains tie-break to the lexicographically smallest
  * source, so the selection sequence is a pure function of the data
  * and both engines replay it exactly.
  *
  * Scale shape: one distinct (source, unit) aggregation up front
  * (map-side combinable; the frame is coverage-matrix-sized, not
  * corpus-sized), then per selection round one anti-join against the
  * covered-unit set + one count aggregation + a 1-ROW argmax collect
  * (the BPE contract-bounded driver round-trip — k rounds, k ≤ 16).
  * The covered set lives as a checkpointed unit frame, never a
  * driver-side collection, one [[Cuts.generations]] generation a pick.
  */
object Coverage {

  /** Greedily select `k` sources maximizing covered distinct units.
    *
    * @param pairs frame carrying (srcCol, unitCol) — duplicates fine
    * @return one row per selection round: (round, srcCol, gain,
    *         covered_total) — gain = units newly covered by the pick;
    *         stops early when every remaining source adds nothing */
  def greedySelect(pairs: DataFrame, srcCol: String, unitCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 16)
    val spark = pairs.sparkSession
    import org.apache.spark.sql.types._
    var chosen = Seq.empty[(Int, Any, Long, Long)]
    Cuts.scoped(pairs
      .filter(col(srcCol).isNotNull && col(unitCol).isNotNull)
      .select(col(srcCol).cast("string").as("__s"), col(unitCol).as("__u"))
      .distinct()
      .localCheckpoint()) { m =>
      // picks the source that adds the most units beyond `covered`;
      // false when every remaining source adds nothing
      def pick(covered: DataFrame): Boolean = {
        val picked = chosen.map(_._2.toString)
        val gains = m
          .filter(if (picked.isEmpty) lit(true)
            else !col("__s").isInCollection(picked))
          .join(covered, Seq("__u"), "left_anti")
          .groupBy(col("__s")).agg(count(lit(1)).as("__g"))
          .orderBy(col("__g").desc, col("__s"))
          .limit(1)
          .collect()
        for (g <- gains.headOption if g.getLong(1) != 0L)
          chosen = chosen :+ ((chosen.length + 1, g.get(0), g.getLong(1),
            chosen.map(_._3).sum + g.getLong(1)))
        chosen.length > picked.length
      }
      // `covered` plus the last pick's units
      def cover(covered: DataFrame): DataFrame = covered
        .unionAll(m.filter(col("__s") === chosen.last._2).select(col("__u")))
        .distinct()
      val none = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("__u", m.schema("__u").dataType))))
      // generation r is the covered set after pick r + 1, and the next
      // pick against it is the loop's stop test. The result reads no
      // covered set, so the last one goes too.
      if (pick(none)) {
        val last = Cuts.generations(cover(none), k - 1,
          (covered, _) => chosen.length == k || !pick(covered))(
          (covered, _) => cover(covered))
        Cuts.scoped(last)(_ => ())
      }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      chosen.map { case (r, s, g, t) =>
        org.apache.spark.sql.Row(r.toLong, s.toString, g, t)
      }.asJava,
      StructType(Seq(
        StructField("round", LongType), StructField(srcCol, StringType),
        StructField("gain", LongType),
        StructField("covered_total", LongType))))
  }

  /** DuckDB oracle for [[greedySelect]]: the k rounds unrolled — each
    * round a gains CTE (anti-semi-join against the accumulated covered
    * set), a 1-row argmax pick, and a covered-union. `pairsSql` yields
    * (s, u). */
  def greedyOracleSql(pairsSql: String, srcName: String, k: Int): String = {
    val rounds = (1 to k).map { r =>
      val prevPicks = (1 until r).map(i => s"SELECT s FROM pick$i")
        .mkString(" UNION ALL ")
      val notPicked =
        if (r == 1) "" else s"AND m.s NOT IN ($prevPicks)"
      val prevCov =
        if (r == 1) "SELECT NULL AS u WHERE false"
        else s"SELECT u FROM cov${r - 1}"
      val covered = prevCov
      s"""g$r AS (
         |  SELECT m.s, CAST(count(*) AS BIGINT) AS gain
         |  FROM m
         |  WHERE m.u NOT IN ($covered) $notPicked
         |  GROUP BY 1
         |), pick$r AS (
         |  SELECT s, gain FROM g$r WHERE gain > 0
         |  ORDER BY gain DESC, s LIMIT 1
         |), cov$r AS (
         |  SELECT u FROM ($prevCov)
         |  UNION
         |  SELECT m.u FROM m JOIN pick$r p ON m.s = p.s
         |)""".stripMargin
    }.mkString(", ")
    val out = (1 to k).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, s AS $srcName, gain,
         |  CAST((SELECT count(*) FROM cov$r) AS BIGINT) AS covered_total
         |FROM pick$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS MATERIALIZED (
       |  SELECT DISTINCT s, u FROM ($pairsSql)
       |  WHERE s IS NOT NULL AND u IS NOT NULL
       |), $rounds
       |$out""".stripMargin
  }
}
