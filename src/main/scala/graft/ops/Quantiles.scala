package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped quantiles, exact and sketched — the latency-percentile shape of
  * every telemetry dashboard.
  *
  * [[exact]] computes DISCRETE quantiles (the element at rank
  * `ceil(p·n)`), not interpolated ones: selecting a value BY RANK from the
  * sorted group is deterministic across engines and tie orders (equal
  * values are interchangeable under a value-only sort), so the result
  * hash-matches a DuckDB window recomputation (q40) — interpolation
  * formulas (`a + (b−a)·f` vs `(1−f)·a + f·b`) do NOT bit-match across
  * engines. Cost: one window sort per group — inherent to exactness; the
  * shuffle is keyed by group and the frame is running, so memory is
  * per-partition sort, not per-row rescan.
  *
  * [[approx]] is the 100 TB path: `approx_percentile` (KLL-style mergeable
  * sketch) — fixed-size buffers, map-side combined, rank error ≤ 1/accuracy.
  * Sketch internals are engine-specific (no SQL oracle); QuantilesSpec
  * bounds it against [[exact]], mirroring the HLL rollup pattern. */
object Quantiles {

  private def colName(p: Double): String =
    "p" + (p * 100).round.toString

  /** Distinct-value count above which the histogram cumulative sums
    * switch from the one-partition window (optimal when the histogram
    * is small — the common bounded-integer-metric case) to the
    * [[bucketedCum]] two-phase shape (the 100 TB high-cardinality
    * path). Scale-adaptive per guide §2 — derived from the input, not
    * a constant tuned for either local mode or the cluster: one
    * partition sorting ≤ 2²⁰ narrow rows is sub-second anywhere, while
    * beyond it the single sorted partition becomes the straggler. */
  private val DISTRIBUTED_CUM_THRESHOLD = 1L << 20

  /** Inclusive running sum of `term` over a lazy distinct-value
    * histogram, plus the broadcast grand total of `term` as `totalName`.
    * Routes on Spark's own size estimate of the histogram (the one that
    * picks broadcast joins: `optimizedPlan.stats.sizeInBytes` over the
    * row width), so building it runs no job. Both routes are
    * result-identical, so a misestimate costs speed only.
    *
    * Small: one single-partition window, left lazy — its two references
    * to the histogram share one aggregation exchange (ReuseExchange).
    * Large: the histogram is checkpointed here, the one place the
    * [[bucketedCum]] contract is met, then runs the two-phase shape. */
  private def histCum(hist: DataFrame, valName: String, term: Column,
      desc: Boolean, cumName: String, totalName: String): DataFrame = {
    val rowBytes = 8 + hist.schema.fields.map(_.dataType.defaultSize).sum
    val estRows = hist.queryExecution.optimizedPlan.stats.sizeInBytes /
      rowBytes
    val (h, cum) =
      if (estRows > DISTRIBUTED_CUM_THRESHOLD) {
        // unreplicated blocks — the documented lineage-cut tradeoff
        val h = hist.localCheckpoint()
        (h, bucketedCum(h, valName, term, desc, cumName))
      } else {
        val v = col(valName)
        val w = Window.orderBy(if (desc) v.desc else v.asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        (hist, hist.withColumn(cumName, sum(term).over(w)))
      }
    cum.crossJoin(broadcast(h.agg(sum(term).as(totalName))))
  }

  /** TWO-PHASE distributed inclusive running sum of `term` over a
    * DISTINCT-value histogram, in `valName` order (desc when `desc`) —
    * the guide-§2 distributed-cumsum shape replacing the
    * single-partition `Window.orderBy(value)` that [[histogramCuts]]
    * and [[abcClassify]] used to run (fine for bounded integer metrics,
    * a scale-killer for high-cardinality doubles at 100 TB — the
    * `WindowExec: No Partition Defined` class):
    *
    *  1. the histogram stays lazy — its references below share one
    *     identical aggregation exchange (ReuseExchange),
    *  2. order-preserving range bucket from the broadcast (min, max) —
    *     monotone double arithmetic, so bucket order = value order;
    *     the bucket only PLACES rows, every sum stays exact integers,
    *  3. per-bucket running sums in parallel (window partitioned by
    *     bucket),
    *  4. strictly-earlier-bucket offsets via a triangular join on the
    *     ≤ `buckets`-row totals frame (window-free), broadcast back.
    *
    * Equal to the single-window form at every bucket count (the
    * [[graft.ops.Sampling.bandedPrefix]] argument); the existing
    * hand-derived + property suites gate the equivalence. Values must
    * be NaN-free (the house integer-metric contract); non-numeric
    * values degenerate to one bucket, still correct.
    *
    * Callers pass an already-checkpointed histogram ([[histCum]]'s
    * large route checkpoints before calling): it feeds the
    * (min, max) broadcast, both sides of the triangular offsets join,
    * and the main leg, and those subtrees are NOT exchange-identical,
    * so ReuseExchange cannot dedup them (measured 3.2× on q186 when
    * left lazy). @return hist + `cumName` */
  private[graft] def bucketedCum(hist: DataFrame, valName: String,
      term: Column, desc: Boolean, cumName: String,
      buckets: Int = 1024): DataFrame = {
    val v = col(valName)
    val mm = hist.agg(min(v).as("__lo"), max(v).as("__hi"))
    val width = (col("__hi").cast("double") - col("__lo").cast("double")) /
      buckets
    val raw = floor((v.cast("double") - col("__lo").cast("double")) / width)
      .cast("int")
    val b0 = when(col("__hi") <=> col("__lo") || !(width > 0.0), lit(0))
      .otherwise(least(greatest(coalesce(raw, lit(0)), lit(0)),
        lit(buckets - 1)))
    val bucketed = hist.crossJoin(broadcast(mm))
      .withColumn("__b", if (desc) lit(buckets - 1) - b0 else b0)
      .drop("__lo", "__hi")
    val perB = bucketed.groupBy(col("__b")).agg(sum(term).as("__bsum"))
    val offsets = perB.as("a")
      .join(perB.as("b"), col("b.__b") < col("a.__b"), "left")
      .groupBy(col("a.__b").as("__b"))
      .agg(coalesce(sum(col("b.__bsum")), lit(0L)).as("__off"))
    val wIn = Window.partitionBy(col("__b"))
      .orderBy(if (desc) v.desc else v.asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed
      .withColumn("__cin", sum(term).over(wIn))
      .join(broadcast(offsets), "__b")
      .withColumn(cumName, col("__cin") + col("__off"))
      .drop("__b", "__cin", "__off")
  }

  /** One row per group: `p<NN>` columns with the exact discrete quantile
    * values of `v` (long-typed, e.g. cents). */
  def exact(df: DataFrame, grp: Seq[Column], v: Column,
      ps: Seq[Double]): DataFrame = {
    val w = Window.partitionBy(grp: _*).orderBy(v)
    val ranked = df
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(grp: _*)))
    val aggs = ps.map(p =>
      max(when(col("__rn") === ceil(lit(p) * col("__n")), v)).as(colName(p)))
    ranked.groupBy(grp: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** [[exact]] with RATIONAL quantile fractions: rank = ⌈num·n/den⌉
    * computed as `(num·n + den − 1) div den` in pure integers. The
    * float form's `ceil(p·n)` is correct only by a delicate rounding
    * argument (double(p)'s ≤ 2⁻⁵³ relative error stays under half an
    * ulp through one exact-int multiply, so IEEE rounds back — measured:
    * 0.9·10 IS 9.0 in both Spark and DuckDB decimal); this form is
    * exact BY CONSTRUCTION, with no analysis to re-verify per p, and is
    * the one to compose (q297) when p is not binary-representable.
    * Same cost shape and output columns as [[exact]] (`p<NN>` from
    * num/den). */
  def exactRatio(df: DataFrame, grp: Seq[Column], v: Column,
      ps: Seq[(Int, Int)]): DataFrame = {
    require(ps.forall { case (num, den) =>
      num >= 1 && num <= den && den >= 1 })
    val w = Window.partitionBy(grp: _*).orderBy(v)
    val ranked = df
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(grp: _*)))
    val aggs = ps.map { case (num, den) =>
      max(when(col("__rn") ===
          expr(s"($num * __n + ${den - 1}) div $den"), v))
        .as(colName(num.toDouble / den))
    }
    ranked.groupBy(grp: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Sketched form, same output shape. `accuracy` trades memory for rank
    * error (default 10000 ≈ 0.01% rank error). */
  def approx(df: DataFrame, grp: Seq[Column], v: Column, ps: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    val aggs = ps.map(p => approx_percentile(v, lit(p), lit(accuracy)).as(colName(p)))
    df.groupBy(grp: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** EXACT GLOBAL quantiles WITHOUT the single sorted partition —
    * iterative histogram bisection (the classic distributed selection
    * algorithm): [[exact]]/[[exactRatio]] window-sort each group, which
    * is the right plan for many bounded groups but puts a 100 TB column
    * with ONE group through one sorted partition. Here each round runs
    * one scan that histograms every still-unresolved quantile's
    * candidate range into `buckets` integer sub-ranges, the driver walks
    * the (bounded: buckets × |ps| rows — the IVF centroid collect idiom)
    * histogram to find the bucket containing the target rank, and the
    * range narrows by ×buckets; a 64-bit value range resolves in
    * ≤ ⌈64/log₂ buckets⌉ + 1 scans (3 for cents-scale data at the
    * default 4096). No sort, no shuffle of the data at all — every pass
    * is a map-side-combinable aggregation, which also makes the
    * per-round cost independent of skew: a range where all values are
    * equal collapses to width 1 and resolves immediately.
    *
    * Rank semantics identical to [[exactRatio]] (the element at
    * ⌈num·n/den⌉ of the value-sorted column), so results hash-match the
    * same window-recomputation oracle.
    *
    * @param v long-typed values (cents)
    * @return ONE row: (n, p<NN>...) */
  def exactGlobalRatio(df: DataFrame, v: Column, ps: Seq[(Int, Int)],
      buckets: Int = 4096): DataFrame = {
    require(ps.nonEmpty && buckets >= 2 &&
      ps.forall { case (nu, de) => nu >= 1 && nu <= de && de >= 1 })
    val spark = df.sparkSession
    val vals = df.select(v.cast("long").as("__v")).persist()
    val head = vals.agg(count(lit(1)).as("n"), min(col("__v")),
      max(col("__v"))).head()
    val n = head.getLong(0)
    require(n > 0, "exactGlobalRatio needs a non-empty column")
    final case class S(var rank: Long, var lo: Long, var hi: Long)
    val states = ps.map { case (nu, de) =>
      S((nu.toLong * n + de - 1) / de, head.getLong(1), head.getLong(2))
    }
    var guard = 0
    while (states.exists(s => s.lo < s.hi)) {
      guard += 1
      require(guard <= 66, "bisection failed to converge") // impossible
      val active = states.zipWithIndex.filter { case (s, _) => s.lo < s.hi }
      val widths = active.map { case (s, _) =>
        ((s.hi - s.lo + 1) + buckets - 1) / buckets.toLong
      }
      val hist = active.zip(widths).map { case ((s, i), w) =>
        vals.filter(col("__v") >= s.lo && col("__v") <= s.hi)
          .select(lit(i).as("pi"),
            expr(s"(__v - (${s.lo}L)) div ${w}L").as("b"))
      }.reduce(_ unionAll _)
        .groupBy(col("pi"), col("b")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      active.zip(widths).foreach { case ((s, i), w) =>
        var cum = 0L
        var b = 0L
        var stop = false
        while (!stop) {
          val c = hist.getOrElse((i, b), 0L)
          if (cum + c >= s.rank) stop = true
          else { cum += c; b += 1 }
        }
        s.rank -= cum
        val lo2 = s.lo + b * w
        s.hi = math.min(s.hi, lo2 + w - 1)
        s.lo = lo2
      }
    }
    vals.unpersist()
    import spark.implicits._
    val cols = lit(n).as("n") +: ps.zip(states).map { case ((nu, de), s) =>
      lit(s.lo).as(colName(nu.toDouble / de))
    }
    Seq(1).toDF("__one").select(cols: _*)
  }

  /** Trimmed and winsorized per-group means — the robust dashboard
    * aggregates between plain `avg` (outlier-dragged) and q103's
    * median/MAD (throws away all magnitude information): drop
    * (trimmed) or clamp (winsorized) the k most extreme values per
    * side, k = ⌊num·n/den⌋ in PURE INTEGER arithmetic — no
    * `ceil(p·n)`-in-doubles cross-engine trap, and single-row groups
    * are correctly untrimmed. Clamp bounds are the kept extremes, so
    * winsorized_sum = trimmed_sum + k_lo·min_kept + k_hi·max_kept in
    * exact integers; the ONLY doubles are the two final divisions.
    *
    * Same one-keyed-window cost shape as [[exact]] (per-group sort is
    * inherent to exact rank selection; the 100 TB alternative is
    * clamping by [[approx]] cuts, which binByCuts composes).
    *
    * @param v long-typed exact units (e.g. cents)
    * @return (grp..., n, n_kept, trimmed_mean, winsorized_mean) */
  /** Deterministic LOG-BUCKET quantile sketch — the bounded-state
    * one-pass answer where [[exactGlobalRatio]] pays ≤ 3 counting scans
    * and [[exact]]'s windows need value-cardinality partitions: every
    * non-negative long lands in the bucket keyed by (bit-length e,
    * top `j` mantissa bits) — pure integer shifts, so the sketch is
    * IDENTICAL on both engines and under any row order (a histogram is
    * trivially mergeable: the 100 TB story is one map-side-combined
    * groupBy over ≤ 64·2^j + 1 buckets, state bounded by construction,
    * no second scan). The rank-r quantile is answered by the covering
    * bucket's EXACT value bounds [m·2^(e−j), (m+1)·2^(e−j) − 1]:
    * relative error ≤ 2^−j by construction, and the bounds are honest —
    * both are reported, nothing is interpolated.
    *
    * Rank convention = [[exactRatio]]'s ceil(num·n/den) in pure integer
    * arithmetic. Values must be ≥ 0 (sign-split before calling for
    * signed metrics — documented contract; 0 keeps its own bucket).
    *
    * @return one row per requested quantile: (q_num, q_den, rank,
    *         est_lo, est_hi) */
  def logBucketQuantiles(df: DataFrame, v: Column, ps: Seq[(Int, Int)],
      j: Int = 6): DataFrame =
    logBucketAnswer(logBucketHist(df, v, j), ps, j)

  /** The sketch STATE of [[logBucketQuantiles]]: the (bucket, count)
    * histogram — bounded (≤ 64·2^j + 2 rows), exactly mergeable by
    * summing counts per bucket, which is what the streaming face
    * ([[graft.streaming.Streams]]) persists between epochs. */
  def logBucketHist(df: DataFrame, v: Column, j: Int): DataFrame = {
    require(j >= 1 && j <= 16)
    val twoJ = 1L << j
    // e = bit-length − 1; m = the top j+1 bits (leading 1 included);
    // small values (v < 2^(j+1)) are their own exact buckets — the
    // formula branch starts at 2^(j+1), so the ranges never collide
    val bucket = expr(
      s"""CASE WHEN __v = 0 THEN CAST(-1 AS LONG)
         |WHEN length(bin(__v)) - 1 <= $j THEN __v
         |ELSE shiftright(__v, CAST(length(bin(__v)) - 1 - $j AS INT))
         |     + CAST(length(bin(__v)) - 1 - $j AS LONG) * $twoJ
         |END""".stripMargin)
    df.select(v.cast("long").as("__v"))
      .select(bucket.as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__n"))
  }

  /** Merge two [[logBucketHist]] states — exact (counts add). */
  def mergeLogBucketHists(a: DataFrame, b: DataFrame): DataFrame =
    a.unionAll(b).groupBy(col("__b")).agg(sum(col("__n")).as("__n"))

  /** Rank answers from a [[logBucketHist]] state frame. */
  def logBucketAnswer(hist: DataFrame, ps: Seq[(Int, Int)], j: Int)
      : DataFrame = {
    require(j >= 1 && j <= 16)
    require(ps.nonEmpty && ps.forall { case (n, d) => n >= 1 && n <= d })
    val W = org.apache.spark.sql.expressions.Window
    val twoJ = 1L << j
    val cum = hist.withColumn("__c",
      sum(col("__n")).over(W.orderBy(col("__b"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
    val tot = hist.agg(sum(col("__n")).as("__tot"))
    val spark = hist.sparkSession
    import spark.implicits._
    val qs = ps.toDF("q_num", "q_den")
    val ranked = qs.crossJoin(broadcast(tot))
      .withColumn("rank",
        expr("CAST((q_num * __tot + q_den - 1) div q_den AS LONG)"))
    // covering bucket: smallest __b with cumulative ≥ rank
    ranked.join(cum,
        col("__c") >= col("rank") &&
          col("__c") - col("__n") < col("rank"))
      .select(col("q_num").cast("long").as("q_num"),
        col("q_den").cast("long").as("q_den"), col("rank"),
        expr(
          s"""CASE WHEN __b = -1 THEN CAST(0 AS LONG)
             |WHEN __b < ${2 * twoJ} THEN __b
             |ELSE shiftleft(__b % $twoJ + $twoJ,
             |       CAST(__b div $twoJ - 1 AS INT))
             |END""".stripMargin).as("est_lo"),
        expr(
          s"""CASE WHEN __b = -1 THEN CAST(0 AS LONG)
             |WHEN __b < ${2 * twoJ} THEN __b
             |ELSE shiftleft(__b % $twoJ + $twoJ + 1,
             |       CAST(__b div $twoJ - 1 AS INT)) - 1
             |END""".stripMargin).as("est_hi"))
  }

  /** PER-GROUP [[logBucketQuantiles]] — the shape a 100 TB pipeline
    * actually runs ("p99 latency per service", "token-count p90 per
    * source"): the same (bit-length, mantissa-bits) integer sketch,
    * keyed. State stays ≤ groups × (64·2^j + 2) rows; every step is one
    * keyed aggregation or a bounded per-group window — the per-group
    * rank answer never sorts rows, only the bounded bucket histogram.
    *
    * @return (grpCols..., q_num, q_den, rank, est_lo, est_hi) — groups
    *         with no rows simply absent */
  def logBucketQuantilesBy(df: DataFrame, grpCols: Seq[String], v: Column,
      ps: Seq[(Int, Int)], j: Int = 6): DataFrame = {
    require(j >= 1 && j <= 16)
    require(ps.nonEmpty && ps.forall { case (n, d) => n >= 1 && n <= d })
    val W = org.apache.spark.sql.expressions.Window
    val twoJ = 1L << j
    val keys = grpCols.map(col)
    val bucket = expr(
      s"""CASE WHEN __v = 0 THEN CAST(-1 AS LONG)
         |WHEN length(bin(__v)) - 1 <= $j THEN __v
         |ELSE shiftright(__v, CAST(length(bin(__v)) - 1 - $j AS INT))
         |     + CAST(length(bin(__v)) - 1 - $j AS LONG) * $twoJ
         |END""".stripMargin)
    val hist = df.select(keys :+ v.cast("long").as("__v"): _*)
      .select(keys :+ bucket.as("__b"): _*)
      .groupBy(keys :+ col("__b"): _*).agg(count(lit(1)).as("__n"))
    val cum = hist.withColumn("__c",
      sum(col("__n")).over(W.partitionBy(keys: _*).orderBy(col("__b"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
    val tot = hist.groupBy(keys: _*).agg(sum(col("__n")).as("__tot"))
    val spark = df.sparkSession
    import spark.implicits._
    val qs = ps.toDF("q_num", "q_den")
    val ranked = tot.crossJoin(broadcast(qs))
      .withColumn("rank",
        expr("CAST((q_num * __tot + q_den - 1) div q_den AS LONG)"))
    ranked.join(cum,
        grpCols.map(g => ranked(g) === cum(g)).reduce(_ && _) &&
          col("__c") >= col("rank") &&
          col("__c") - col("__n") < col("rank"))
      .select(grpCols.map(ranked(_)) ++ Seq(
        col("q_num").cast("long").as("q_num"),
        col("q_den").cast("long").as("q_den"), col("rank"),
        expr(
          s"""CASE WHEN __b = -1 THEN CAST(0 AS LONG)
             |WHEN __b < ${2 * twoJ} THEN __b
             |ELSE shiftleft(__b % $twoJ + $twoJ,
             |       CAST(__b div $twoJ - 1 AS INT))
             |END""".stripMargin).as("est_lo"),
        expr(
          s"""CASE WHEN __b = -1 THEN CAST(0 AS LONG)
             |WHEN __b < ${2 * twoJ} THEN __b
             |ELSE shiftleft(__b % $twoJ + $twoJ + 1,
             |       CAST(__b div $twoJ - 1 AS INT)) - 1
             |END""".stripMargin).as("est_hi")): _*)
  }

  /** DuckDB oracle for [[logBucketQuantilesBy]]: `innerSql` yields
    * (grpCols..., v BIGINT ≥ 0). */
  def logBucketByOracleSql(innerSql: String, grpCols: Seq[String],
      ps: Seq[(Int, Int)], j: Int = 6): String = {
    val twoJ = 1L << j
    val keys = grpCols.mkString(", ")
    val qsVals = ps.map { case (n, d) => s"($n, $d)" }.mkString(", ")
    s"""WITH src AS ($innerSql), bk AS (
       |  SELECT $keys,
       |         CASE WHEN v = 0 THEN -1
       |              WHEN length(bin(v)) - 1 <= $j THEN v
       |              ELSE (v >> CAST(length(bin(v)) - 1 - $j AS INTEGER))
       |                   + CAST(length(bin(v)) - 1 - $j AS BIGINT)
       |                     * $twoJ
       |         END AS b
       |  FROM src
       |), h AS (
       |  SELECT $keys, b, CAST(count(*) AS BIGINT) AS n
       |  FROM bk GROUP BY ALL
       |), c AS (
       |  SELECT $keys, b, n, CAST(sum(n) OVER (PARTITION BY $keys
       |           ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM h
       |), tot AS (
       |  SELECT $keys, CAST(sum(n) AS BIGINT) AS t FROM h GROUP BY ALL
       |), q AS (
       |  SELECT $keys,
       |         CAST(q_num AS BIGINT) AS q_num,
       |         CAST(q_den AS BIGINT) AS q_den,
       |         CAST((q_num * t + q_den - 1) // q_den AS BIGINT) AS rank
       |  FROM tot CROSS JOIN (VALUES $qsVals) v(q_num, q_den)
       |), hit AS (
       |  SELECT ${grpCols.map(g => s"q.$g").mkString(", ")},
       |         q.q_num, q.q_den, q.rank, c.b
       |  FROM q JOIN c
       |    ON ${grpCols.map(g => s"c.$g = q.$g").mkString(" AND ")}
       |   AND c.cum >= q.rank AND c.cum - c.n < q.rank
       |)
       |SELECT $keys, q_num, q_den, rank,
       |       CAST(CASE WHEN b = -1 THEN 0
       |            WHEN b < ${2 * twoJ} THEN b
       |            ELSE (b % $twoJ + $twoJ)
       |                 << CAST(b // $twoJ - 1 AS INTEGER) END AS BIGINT)
       |         AS est_lo,
       |       CAST(CASE WHEN b = -1 THEN 0
       |            WHEN b < ${2 * twoJ} THEN b
       |            ELSE ((b % $twoJ + $twoJ + 1)
       |                  << CAST(b // $twoJ - 1 AS INTEGER)) - 1
       |            END AS BIGINT) AS est_hi
       |FROM hit""".stripMargin
  }

  /** DuckDB oracle for [[logBucketQuantiles]] — identical bucket ids,
    * cumulative, rank arithmetic, and bound reconstruction. `innerSql`
    * yields a single column v (BIGINT ≥ 0). */
  def logBucketOracleSql(innerSql: String, ps: Seq[(Int, Int)],
      j: Int = 6): String = {
    val twoJ = 1L << j
    val qsVals = ps.map { case (n, d) => s"($n, $d)" }.mkString(", ")
    s"""WITH src AS ($innerSql), bk AS (
       |  SELECT CASE WHEN v = 0 THEN -1
       |              WHEN length(bin(v)) - 1 <= $j THEN v
       |              ELSE (v >> CAST(length(bin(v)) - 1 - $j AS INTEGER))
       |                   + CAST(length(bin(v)) - 1 - $j AS BIGINT)
       |                     * $twoJ
       |         END AS b
       |  FROM src
       |), h AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS n FROM bk GROUP BY 1
       |), c AS (
       |  SELECT b, n, CAST(sum(n) OVER (ORDER BY b
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM h
       |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM h),
       |q AS (
       |  SELECT CAST(q_num AS BIGINT) AS q_num,
       |         CAST(q_den AS BIGINT) AS q_den,
       |         CAST((q_num * t + q_den - 1) // q_den AS BIGINT) AS rank
       |  FROM (VALUES $qsVals) v(q_num, q_den) CROSS JOIN tot
       |), hit AS (
       |  SELECT q_num, q_den, rank, b
       |  FROM q JOIN c ON c.cum >= q.rank AND c.cum - c.n < q.rank
       |)
       |SELECT q_num, q_den, rank,
       |       CAST(CASE WHEN b = -1 THEN 0
       |            WHEN b < ${2 * twoJ} THEN b
       |            ELSE (b % $twoJ + $twoJ)
       |                 << CAST(b // $twoJ - 1 AS INTEGER) END AS BIGINT)
       |         AS est_lo,
       |       CAST(CASE WHEN b = -1 THEN 0
       |            WHEN b < ${2 * twoJ} THEN b
       |            ELSE ((b % $twoJ + $twoJ + 1)
       |                  << CAST(b // $twoJ - 1 AS INTEGER)) - 1
       |            END AS BIGINT) AS est_hi
       |FROM hit""".stripMargin
  }

  def trimmedStats(df: DataFrame, grp: Seq[Column], v: Column,
      num: Int, den: Int): DataFrame = {
    require(num >= 0 && den > 0 && 2 * num < den,
      s"trim fraction $num/$den must be in [0, 1/2)")
    val ranked = df
      .withColumn("__rn",
        row_number().over(Window.partitionBy(grp: _*).orderBy(v)))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(grp: _*)))
      .withColumn("__k", expr(s"($num * __n) div $den"))
    val keep = col("__rn") > col("__k") && col("__rn") <= col("__n") - col("__k")
    ranked.groupBy(grp: _*)
      .agg(
        max(col("__n")).as("n"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(when(keep, v)).as("__tsum"),
        min(when(keep, v)).as("__vlo"),
        max(when(keep, v)).as("__vhi"),
        max(col("__k")).as("__kk"))
      .select(grp ++ Seq(
        col("n"), col("n_kept"),
        (col("__tsum").cast("double") / col("n_kept").cast("double"))
          .as("trimmed_mean"),
        ((col("__tsum") + col("__kk") * (col("__vlo") + col("__vhi")))
          .cast("double") / col("n").cast("double"))
          .as("winsorized_mean")): _*)
  }

  private def cutName(num: Int, den: Int): String =
    "c" + (num * 100 / den).toString

  /** Quantile mapping (quantile normalization): re-express each current
    * value as the REFERENCE distribution's value at the same quantile
    * position — the batch-effect / source-bias correction that makes
    * per-source metrics comparable when sources measure on different
    * scales. Each row bins by the CURRENT batch's own cuts, then takes
    * the reference cut bounding the same bin (monotone by
    * construction; the mapped distribution's quantiles are the
    * reference's).
    *
    * Both cut derivations are the value-cardinality-bounded
    * [[histogramCuts]] machinery; the mapping itself is a broadcast +
    * per-row CASE. `qs` are the INTERIOR positions (e.g. deciles
    * (1,10)..(9,10)); the top bin maps to the reference maximum (the
    * (1,1) cut).
    *
    * @return cur plus (bin, mapped)
    */
  def quantileMap(ref: DataFrame, cur: DataFrame, v: Column,
      qs: Seq[(Int, Int)]): DataFrame = {
    require(qs.nonEmpty)
    val refCuts = histogramCuts(ref, v, qs :+ ((1, 1)))
    val refNames = (qs :+ ((1, 1))).map { case (n, d) => cutName(n, d) }
    val renamed = refCuts.select(
      refNames.map(c => col(c).as(s"__r_$c")): _*)
    val curCuts = histogramCuts(cur, v, qs)
    val binned = binByCuts(cur, v, curCuts, "bin")
      .crossJoin(broadcast(renamed))
    val mapped = refNames.zipWithIndex.tail.foldLeft(
      when(col("bin") === 0, col(s"__r_${refNames.head}"))) {
        case (acc, (c, i)) => acc.when(col("bin") === i, col(s"__r_$c"))
      }
    binned.withColumn("mapped", mapped)
      .drop(refNames.map(c => s"__r_$c"): _*)
  }

  /** DuckDB oracle for [[quantileMap]]: `refSql`/`curSql` yield rows
    * with an integer `v` (plus any id columns in `curSql`, echoed). */
  def quantileMapOracleSql(refSql: String, curSql: String,
      curCols: Seq[String], qs: Seq[(Int, Int)]): String = {
    def cutsSel(qq: Seq[(Int, Int)]) = qq.map { case (num, den) =>
      s"min(CASE WHEN cum * $den >= n * $num THEN val END) AS c${num * 100 / den}"
    }.mkString(", ")
    def cutsCte(src: String, qq: Seq[(Int, Int)]) =
      s"""SELECT ${cutsSel(qq)} FROM (
         |  SELECT val, CAST(sum(k) OVER (ORDER BY val) AS BIGINT) AS cum
         |  FROM (SELECT v AS val, count(*) AS k FROM $src
         |        WHERE v IS NOT NULL GROUP BY 1)
         |), (SELECT CAST(count(*) AS BIGINT) AS n FROM $src
         |    WHERE v IS NOT NULL)""".stripMargin
    val binSum = qs.map { case (num, den) =>
      s"(CASE WHEN v > cc.c${num * 100 / den} THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    val names = (qs :+ ((1, 1))).map { case (n, d) => s"c${n * 100 / d}" }
    val arms = names.zipWithIndex.map { case (c, i) =>
      s"WHEN $binSum = $i THEN rc.$c" }.mkString(" ")
    val cols = curCols.mkString(", ")
    s"""WITH refv AS ($refSql), curv AS ($curSql),
       |rc AS (${cutsCte("refv", qs :+ ((1, 1)))}),
       |cc AS (${cutsCte("curv", qs)})
       |SELECT $cols, CAST($binSum AS BIGINT) AS bin,
       |       CAST(CASE $arms END AS BIGINT) AS mapped
       |FROM curv, rc, cc""".stripMargin
  }

  /** Per-group Gini concentration of an integer metric — the
    * inequality scalar (0 = everyone equal, → 1 = one key holds all the
    * mass) behind "do whales dominate this event type" and "is one
    * source supplying the whole corpus" dashboards.
    *
    * Exact histogram formulation: with distinct values v ascending,
    * per-value counts k, cumulative count/sum BELOW each value (cb,
    * sb), the total pairwise |difference| is `T = 2·Σ k·(cb·v − sb)` —
    * all integers — and Gini = T / (2·n·S) in one fixed IEEE division.
    * The windows run over the per-group VALUE HISTOGRAM
    * (value-cardinality-bounded, the q84 argument), never per-row.
    *
    * @param values (groupCols..., vCol) rows, vCol a non-negative
    *               integer metric
    * @return (groupCols..., n, total, gini) — NULL gini when the group
    *         total is 0 (no mass to concentrate)
    */
  def giniByGroup(values: DataFrame, groupCols: Seq[String],
      vCol: String): DataFrame = {
    val hist = values.groupBy(groupCols.map(col) :+ col(vCol).as("__v"): _*)
      .agg(count(lit(1)).as("__k"), sum(col(vCol)).as("__kv"))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCum = hist
      .withColumn("__cb", coalesce(sum(col("__k")).over(w), lit(0L)))
      .withColumn("__sb", coalesce(sum(col("__kv")).over(w), lit(0L)))
      .withColumn("__t",
        lit(2L) * col("__k") * (col("__cb") * col("__v") - col("__sb")))
    withCum.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__k")).as("n"), sum(col("__kv")).as("total"),
        sum(col("__t")).as("__T"))
      .withColumn("gini",
        when(col("total") > 0,
          col("__T").cast("double") /
            (lit(2.0) * col("n") * col("total"))))
      .drop("__T")
  }

  /** DuckDB oracle for [[giniByGroup]]: `innerSql` yields
    * (groupCols..., v). */
  def giniOracleSql(innerSql: String, groupCols: Seq[String]): String = {
    val keys = groupCols.mkString(", ")
    s"""WITH h AS (
       |  SELECT $keys, v, CAST(count(*) AS BIGINT) AS k,
       |         CAST(sum(v) AS BIGINT) AS kv
       |  FROM ($innerSql) GROUP BY $keys, v
       |), c AS (
       |  SELECT *,
       |    CAST(coalesce(sum(k) OVER (PARTITION BY $keys ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cb,
       |    CAST(coalesce(sum(kv) OVER (PARTITION BY $keys ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS sb
       |  FROM h
       |)
       |SELECT $keys, CAST(sum(k) AS BIGINT) AS n,
       |       CAST(sum(kv) AS BIGINT) AS total,
       |       CASE WHEN sum(kv) > 0 THEN
       |         CAST(sum(2 * k * (cb * v - sb)) AS DOUBLE)
       |           / (2.0 * sum(k) * sum(kv))
       |       END AS gini
       |FROM c GROUP BY $keys""".stripMargin
  }

  /** GLOBAL exact quantile cut points from the value HISTOGRAM (the
    * skew-report quantile trick generalized): aggregate to distinct
    * values with counts, cumulative-sum over the sorted distinct values,
    * then pick the first value whose cumulative count reaches rank
    * ⌈num·n/den⌉. The window sorts DISTINCT VALUES, not rows — bounded
    * by value cardinality (cents of a price: ~10⁶), which is what makes
    * an exact global quantile tolerable at 100 TB where [[exact]]'s
    * per-row global window is not.
    *
    * Quantile positions are rational (num, den) pairs compared in pure
    * integer arithmetic — `cum·den ≥ num·n` avoids both the divide and
    * the `ceil(p·n)`-in-doubles cross-engine trap (§8.2).
    *
    * Building the frame runs no Spark job when Spark's size estimate puts
    * the histogram at ≤ 2²⁰ rows: it stays lazy under one single-partition
    * window. Above that, the histogram is checkpointed (one job) and the
    * running sum takes the two-phase [[bucketedCum]] route — same cuts.
    *
    * @return one row of `c<PCT>` cut columns, for `broadcast` */
  def histogramCuts(df: DataFrame, v: Column,
      qs: Seq[(Int, Int)]): DataFrame = {
    val names = qs.map { case (num, den) => cutName(num, den) }
    require(names.distinct.size == names.size,
      s"quantile positions collide on percent-truncated cut names: " +
        names.mkString(", "))
    // NULLs are excluded up front (SQL percentile semantics, and what
    // approx_percentile does) — counting them would drag every cut to
    // the minimum, and Spark's NULLS FIRST vs DuckDB's NULLS LAST window
    // order would diverge cross-engine. n derives from the histogram
    // (sum of counts) — NOT a second scan of the input: the corpus is
    // read once, everything after is value-cardinality-sized.
    // The running sum routes on the histogram's estimated size (see
    // histCum): single window below DISTRIBUTED_CUM_THRESHOLD, bucketed
    // two-phase above it (the 100 TB high-cardinality-doubles path).
    val hist = df.where(v.isNotNull)
      .groupBy(v.as("__val")).agg(count(lit(1)).as("__k"))
    val cum = histCum(hist, "__val", col("__k"), desc = false, "__cum",
      "__n")
    val aggs = qs.map { case (num, den) =>
      min(when(col("__cum") * den >= col("__n") * num, col("__val")))
        .as(cutName(num, den))
    }
    cum.agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group ADAPTIVE quality gate (the CCNet pattern, Wenzek et al.
    * 2020: per-language perplexity percentiles): keep rows whose metric
    * sits at or above their OWN group's p-quantile, instead of one
    * global threshold that over-filters some groups and under-filters
    * others. `>=` semantics: rows tied with the cut survive, so a
    * constant-valued group keeps everything (a global-threshold gate
    * would flip between all and nothing).
    *
    * Cost: [[exact]]'s per-group window (group-bounded sort) producing
    * a groups-sized cut frame, broadcast back — one shuffle over the
    * corpus plus a scan-side filter.
    *
    * @return surviving input rows plus their group's `cut` */
  def percentileGate(df: DataFrame, grpName: String, v: Column,
      p: Double): DataFrame = {
    val cuts = exact(df, Seq(col(grpName)), v, Seq(p))
      .withColumnRenamed(colName(p), "cut")
    df.join(broadcast(cuts), Seq(grpName)).filter(v >= col("cut"))
  }

  /** Equal-frequency binning against precomputed cut points: bin =
    * number of cuts strictly below the value (ties share a bin,
    * deterministically). `cuts` is a one-row frame (e.g.
    * [[histogramCuts]] for the exact gate, [[approx]] single-group for
    * the sketched 100 TB path — binning is indifferent to where the cuts
    * came from). Broadcast + per-row expression: no extra shuffle.
    * NULL values get a NULL bin (guarded explicitly — `(v > cut)`
    * alone would null-propagate through the sum, but only because the
    * current cuts are non-null; the guard makes the contract explicit
    * and engine-portable).
    *
    * @return df plus `binCol` (0 .. #cuts, or NULL for NULL values) */
  /** WEIGHTED discrete quantiles: the value at which the cumulative
    * WEIGHT (not row count) crosses p·W per group — "the price under
    * which half the *volume* trades", which the unweighted q40 form
    * gets wrong whenever weight correlates with value. Same
    * value-histogram machinery (per-value weight sums, one cumulative
    * window over distinct values, integer cross-multiplied rank test
    * `cum·den ≥ W·num`), so ties share a value and nothing sorts rows.
    *
    * @param ps quantiles as (num, den) rationals; columns named
    *           `wp<100·num/den>`
    * @return one row per group: (grpCols..., w_total, wp50, ...)
    */
  def weightedQuantiles(df: DataFrame, grpCols: Seq[String], v: Column,
      w: Column, ps: Seq[(Int, Int)]): DataFrame = {
    require(ps.nonEmpty)
    val hist = df.select(grpCols.map(col) :+ v.as("__v") :+ w.as("__w"): _*)
      .filter(col("__v").isNotNull && col("__w").isNotNull)
      .groupBy(grpCols.map(col) :+ col("__v"): _*)
      .agg(sum(col("__w")).as("__wat"))
    val wCum = Window.partitionBy(grpCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(grpCols.map(col): _*)
    val cum = hist
      .withColumn("__cum", sum(col("__wat")).over(wCum))
      .withColumn("__W", sum(col("__wat")).over(wAll))
    val qs = ps.map { case (num, den) =>
      min(when(col("__cum") * den >= col("__W") * num, col("__v")))
        .as(s"wp${num * 100 / den}")
    }
    val aggs = max(col("__W")).as("w_total") +: qs
    cum.groupBy(grpCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** DuckDB oracle for [[weightedQuantiles]]: `innerSql` yields
    * (grpCols..., v, w) as integers. */
  def weightedQuantilesOracleSql(innerSql: String, grpCols: Seq[String],
      ps: Seq[(Int, Int)]): String = {
    val keys = grpCols.mkString(", ")
    val qs = ps.map { case (num, den) =>
      s"""min(CASE WHEN cum * $den >= ww * $num THEN v END)
         |  AS wp${num * 100 / den}""".stripMargin
    }.mkString(",\n|       ")
    s"""WITH b AS (
       |  SELECT $keys, v, w FROM ($innerSql)
       |  WHERE v IS NOT NULL AND w IS NOT NULL
       |), h AS (
       |  SELECT $keys, v, CAST(sum(w) AS BIGINT) AS wat
       |  FROM b GROUP BY ${(1 to grpCols.length + 1).mkString(", ")}
       |), c AS (
       |  SELECT $keys, v,
       |    CAST(sum(wat) OVER (PARTITION BY $keys ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum,
       |    CAST(sum(wat) OVER (PARTITION BY $keys) AS BIGINT) AS ww
       |  FROM h
       |)
       |SELECT $keys, max(ww) AS w_total,
       |       $qs
       |FROM c GROUP BY $keys""".stripMargin
  }

  /** ABC (Pareto 80/95) classification: items ranked by contribution,
    * class A = the head that carries the first 80 % of total value, B =
    * the next 15 %, C = the tail — the inventory/revenue-concentration
    * classifier that turns q201's one-number Gini into an actionable
    * per-item label ("manage A closely, automate C").
    *
    * Rank-free form (the q84/q205 histogram argument): cumulative value
    * share is a descending running sum over the DISTINCT-value histogram
    * — all items with the same value share one cumulative position and
    * therefore one class (documented tie convention; per-item sort
    * orders within a tie are arbitrary anyway). Class tests are
    * integer cross-multiplications (`cum·5 ≤ total·4` for 80 %,
    * `cum·20 ≤ total·19` for 95 %) — no division, no floats, no global
    * row sort: the one window runs over distinct values
    * (histogram-sized), then items join back by value.
    *
    * Overflow bound: cum·20 < 2⁶³ needs total value < 4.6·10¹⁷ units.
    *
    * Routing as in [[histogramCuts]]: a histogram Spark estimates at
    * ≤ 2²⁰ rows stays lazy and building the frame runs no job; a larger
    * one is checkpointed (one job) for the two-phase [[bucketedCum]].
    *
    * @param value exact integer contribution ≥ 0 per item
    * @return (idCol, `value` under its input name, cum, abc_class)
    */
  def abcClassify(df: DataFrame, idCol: String, valueCol: String)
      : DataFrame = {
    val items = df.select(col(idCol), col(valueCol))
      .filter(col(valueCol).isNotNull)
    // Running sum routed on the histogram's estimated size (single
    // window when small, bucketed two-phase when large — see histCum);
    // the unconditional single-partition desc window + empty-partition
    // total window this replaces were the §2 scale-killer class on
    // high-cardinality values.
    val hist = items.groupBy(col(valueCol))
      .agg(count(lit(1)).as("__n"))
    val classed = histCum(hist, valueCol, col(valueCol) * col("__n"),
        desc = true, "cum", "__total")
      .withColumn("abc_class",
        when(col("cum") * 5 <= col("__total") * 4, "A")
          .when(col("cum") * 20 <= col("__total") * 19, "B")
          .otherwise("C"))
      .select(col(valueCol), col("cum"), col("abc_class"))
    items.join(classed, valueCol)
  }

  /** DuckDB oracle for [[abcClassify]]: `innerSql` yields
    * (`idName`, `valueName`). */
  def abcClassifyOracleSql(innerSql: String, idName: String,
      valueName: String): String =
    s"""WITH b AS (
       |  SELECT $idName, $valueName FROM ($innerSql)
       |  WHERE $valueName IS NOT NULL
       |), h AS (
       |  SELECT $valueName, CAST(count(*) AS BIGINT) AS n
       |  FROM b GROUP BY 1
       |), c AS (
       |  SELECT $valueName,
       |    CAST(sum($valueName * n) OVER (ORDER BY $valueName DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum,
       |    CAST(sum($valueName * n) OVER () AS BIGINT) AS total
       |  FROM h
       |)
       |SELECT $idName, b.$valueName, cum,
       |       CASE WHEN cum * 5 <= total * 4 THEN 'A'
       |            WHEN cum * 20 <= total * 19 THEN 'B'
       |            ELSE 'C' END AS abc_class
       |FROM b JOIN c ON b.$valueName = c.$valueName""".stripMargin

  def binByCuts(df: DataFrame, v: Column, cuts: DataFrame,
      binCol: String = "bin"): DataFrame = {
    val cutCols = cuts.columns.toSeq
    df.crossJoin(broadcast(cuts))
      .withColumn(binCol,
        when(v.isNotNull,
          cutCols.map(c => (v > col(c)).cast("long")).reduce(_ + _)))
      .drop(cutCols: _*)
  }
}
