package graft.text

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed suffix-array construction by prefix doubling (the
  * Manber–Myers recurrence in its data-parallel form, the algorithm
  * behind large-scale exact-substring dedup à la Lee et al. 2022 —
  * [[Spans]] approximates that pipeline with w-grams; the suffix array
  * is the exact structure): after round r, suffixes are ranked by their
  * first 2^r characters; each round re-ranks by the pair
  * (rank[i], rank[i + 2^r]) using ONE window lead and ONE dense_rank —
  * no string comparison ever exceeds the initial single-character
  * round, which is what makes the construction scale to texts far
  * longer than any comparison-sort-of-suffixes could.
  *
  * Per-document form: every window is keyed by the document, so
  * construction is embarrassingly parallel across docs and the round
  * count is ⌈log2(max doc length)⌉ — bounded by the length CAP, not
  * the corpus. The corpus-global array (one virtual text with document
  * sentinels — what cross-document substring dedup needs) is the same
  * recurrence with the per-doc windows replaced by the
  * [[graft.ops.Ranking]] globalOrdinals device (per-shard offsets, no
  * single-partition sort); per-doc is the committed oracle surface.
  * A corpus of at most [[SuffixArray.MaxDriverChars]] characters takes a
  * driver route instead: the same recurrence over primitive arrays of
  * the concatenated code points, about 40 bytes of driver memory a
  * character. Both routes compare suffixes by their first
  * max(32, 2^maxLenLog2) characters.
  *
  * `localCheckpoint` per round truncates the doubling lineage (the
  * CC/k-core discipline). Rank invariant: rank values are dense in
  * [1, len] per document; when every rank is unique the array is final
  * (rounds after convergence are identity re-ranks — a fixed round
  * count keeps the plan deterministic, matching the house oracle
  * doctrine).
  *
  * The committed readout orders by BINARY string comparison on both
  * engines (ASCII harness corpus; the [[Scrub]] normalization ops are
  * the upstream for anything else — documented seam shared with the
  * tokenizer family's ASCII contract).
  */
object SuffixArray {

  /** Suffix ranks per document: one row per suffix position.
    *
    * @param maxLenLog2 doubling rounds; correct for docs up to
    *                   2^maxLenLog2 chars (docs longer are truncated
    *                   to that prefix for ranking purposes — callers
    *                   pick the cap, the harness query uses 12/4096)
    * @return (idCol, pos, sa_rank) — sa_rank ∈ [1, len]: the position's
    *         suffix is the sa_rank-th smallest suffix of its document */
  def perDocRanks(docs: DataFrame, idCol: String, textCol: String,
      maxLenLog2: Int = 12): DataFrame = {
    require(maxLenLog2 >= 1 && maxLenLog2 <= 20)
    val W = org.apache.spark.sql.expressions.Window
    val byPos = W.partitionBy(col(idCol)).orderBy(col("pos"))
    // 1-row corpus statistic (the BPE argmax idiom: contract-bounded
    // driver round-trip) — rounds adapt to the actual longest document,
    // so a short-doc corpus never pays the cap's worth of windows.
    val maxLen = docs.agg(max(length(col(textCol)))).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.toString.toLong))
      .getOrElse(1L)
    val rounds = math.min(maxLenLog2,
      math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, maxLen - 1))))
    // Seed round: rank by the first 4 characters (one per-doc window —
    // skips the two widest doubling rounds, where every position of
    // ordinary text is still tied).
    // seed explode + 4-char slice fuses into the input's scan stage —
    // lift a single-row-group corpus to the core floor (identity at
    // scale — Tables.scanFloor); the doubling rounds that follow are
    // per-doc windows whose exchange re-keys anyway
    var fr = graft.Tables.scanFloor(docs)
      .select(col(idCol), col(textCol).as("__t"))
      .filter(length(col("__t")) >= 1)
      .select(col(idCol),
        explode(sequence(lit(1L), length(col("__t")).cast("long")))
          .as("pos"),
        col("__t"))
      .select(col(idCol), col("pos"),
        col("__t").substr(col("pos").cast("int"), lit(4)).as("__g"))
      .withColumn("rank",
        dense_rank().over(W.partitionBy(col(idCol)).orderBy(col("__g")))
          .cast("long"))
      .drop("__g")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Generations persist EXPLICITLY (MEMORY_AND_DISK) and the previous
    // one is unpersisted as soon as its successor materializes — a
    // two-generation memory bound by construction, where chained
    // localCheckpoints pin every generation until the async cleaner
    // gets to them (measured OOM at 32× corpus). Lineage grows one
    // window per round — linear, shuffle-bounded, not the 4^rounds
    // CC blowup that forced checkpoints there.
    //
    // Early exit once every rank is unique (the array is final and
    // further rounds are identity re-ranks): one small aggregation per
    // round — the same action that materializes the new generation.
    var done = false
    (2 until math.max(rounds, 2)).foreach { r =>
      if (!done) {
        val k = 1L << r
        val prev = fr
        fr = fr
          .withColumn("__r2",
            coalesce(lead(col("rank"), k.toInt).over(byPos), lit(0L)))
          .withColumn("rank",
            dense_rank().over(W.partitionBy(col(idCol))
              .orderBy(col("rank"), col("__r2"))).cast("long"))
          .drop("__r2")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        done = fr.groupBy(col(idCol), col("rank"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).isEmpty
        prev.unpersist()
      }
    }
    fr.select(col(idCol), col("pos"), col("rank").as("sa_rank"))
  }

  /** Most characters [[globalRanks]] ranks in the driver; a larger corpus
    * runs the distributed loop. */
  val MaxDriverChars: Long = 4000000L

  /** CORPUS-GLOBAL generalized suffix array: every suffix of every
    * document ranked against ALL suffixes of ALL documents — the exact
    * structure cross-document substring dedup (Lee et al. 2022) is
    * built on, where [[perDocRanks]] ranks only within a doc.
    *
    * Ranks are STRICT ("count of strictly-smaller suffixes + 1"), so
    * two byte-identical suffixes from different docs share a rank — the
    * honest verdict. Suffixes are compared by their first
    * max(32, 2^maxLenLog2) characters in code-point order (Spark's
    * binary string order), a suffix that ends sorting before every
    * longer suffix it is a prefix of.
    *
    * Route: one 1-row aggregate sums the characters of the non-empty
    * texts. Up to [[MaxDriverChars]], with a binary-collated string text,
    * the (id, text) rows are collected and the driver runs the doubling
    * recurrence over primitive arrays of the concatenated code points
    * ([[driverRanks]]). The driver holds about 40 bytes a character:
    * four working arrays (20 bytes), then the rank array while it is
    * copied into the returned local frame, which keeps about 29 (boxed
    * `bigint` elements). Measured at the bound (sf0.1's documents
    * repeated to 4.0M characters, `local[2]`): the frame kept 115 MB,
    * the sampled heap peak, garbage included, stayed under 300 MB above
    * the idle session, and the route ran in a 512 MB driver heap.
    * Otherwise the distributed loop ([[loopArrays]]) runs. Both routes
    * give the same rows. Ids name the documents and must be non-null
    * and distinct: the loop groups and joins by id.
    *
    * @return (idCol, pos, sa_rank) — strict global rank; equal
    *         suffixes share sa_rank */
  def globalRanks(docs: DataFrame, idCol: String, textCol: String,
      maxLenLog2: Int = 12): DataFrame =
    globalRanksWithin(docs, idCol, textCol, maxLenLog2, MaxDriverChars)

  /** [[globalRanks]] with the driver bound as a parameter: 0 forces the
    * distributed loop on any non-empty corpus. */
  private[graft] def globalRanksWithin(docs: DataFrame, idCol: String,
      textCol: String, maxLenLog2: Int, maxDriverChars: Long): DataFrame = {
    require(maxLenLog2 >= 1 && maxLenLog2 <= 20)
    val texts = docs.select(col(idCol), col(textCol).as("__t"))
      .filter(length(col("__t")) >= 1)
    val onDriver = texts.schema("__t").dataType == StringType &&
      texts.agg(coalesce(sum(length(col("__t"))), lit(0L))).head()
        .getLong(0) <= maxDriverChars
    val arrays =
      if (onDriver) driverArrays(docs.sparkSession, texts.schema.head,
        texts.collect(), maxLenLog2)
      else loopArrays(texts, idCol, maxLenLog2)
    arrays
      .select(col(idCol), posexplode(col("__ra")).as(Seq("__p0", "rank")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"),
        col("rank").as("sa_rank"))
  }

  /** The driver route of [[globalRanksWithin]] over the collected
    * (id, text) rows.
    *
    * @return (id, __ra) as a local frame: one row per doc, the strict
    *         rank of each position in order */
  private def driverArrays(spark: SparkSession, idField: StructField,
      rows: Array[Row], maxLenLog2: Int): DataFrame = {
    val texts = rows.map(_.getString(1))
    val start = texts.scanLeft(0)((o, t) => o + t.codePointCount(0, t.length))
    val rank = driverRanks(texts, start, maxLenLog2)
    val out = new java.util.ArrayList[Row](rows.length)
    for (d <- rows.indices)
      out.add(Row(rows(d).get(0),
        Array.tabulate(start(d + 1) - start(d))(p => rank(start(d) + p).toLong)))
    spark.createDataFrame(out, StructType(Seq(idField,
      StructField("__ra", ArrayType(LongType, containsNull = false),
        nullable = false))))
  }

  /** Strict global ranks of every position of `texts` concatenated
    * (doc d's code points at `start(d)` until `start(d + 1)`): the
    * recurrence of [[loopArrays]] on primitive arrays. The first round
    * sorts every position by its code point; round k then re-sorts each
    * unresolved tie range by the rank at position + k (0 past the doc's
    * end), k = 1, 2, 4, … while k < max(32, 2^maxLenLog2), and stops
    * early when such a round splits no range (the loop's fixpoint:
    * equal k-prefixes then imply equal suffixes). Each range is sorted
    * as packed longs `rank@pos+k << 32 | position`. */
  private def driverRanks(texts: Array[String], start: Array[Int],
      maxLenLog2: Int): Array[Int] = {
    val n = start.last
    val end = new Array[Int](n) // one past the last position of the doc
    val keys = new Array[Long](n)
    for (d <- texts.indices) {
      val t = texts(d)
      var (j, i) = (0, start(d))
      while (j < t.length) {
        val c = t.codePointAt(j)
        keys(i) = c.toLong << 32 | i
        end(i) = start(d + 1)
        j += Character.charCount(c)
        i += 1
      }
    }
    val sa = new Array[Int](n)
    val rank = new Array[Int](n)
    // Sorts keys within each tie range [from, to) of `ties`, writes sa
    // and the strict ranks, and returns the ranges still tied and
    // whether any range split.
    def refine(ties: Array[Int]): (Array[Int], Boolean) = {
      val next = Array.newBuilder[Int]
      var split = false
      for (g <- ties.indices by 2) {
        val (from, to) = (ties(g), ties(g + 1))
        java.util.Arrays.sort(keys, from, to)
        var s = from
        for (j <- from until to) {
          if (j > from && (keys(j) >>> 32) != (keys(j - 1) >>> 32)) {
            if (j - s > 1) next.addOne(s).addOne(j)
            s = j
          }
          sa(j) = keys(j).toInt
          rank(sa(j)) = s + 1
        }
        if (to - s > 1) next.addOne(s).addOne(to)
        split ||= s != from
      }
      (next.result(), split)
    }
    var ties = refine(if (n > 0) Array(0, n) else Array.empty[Int])._1
    // the code-point sort is not a doubling step: a corpus of one code
    // point splits nothing there, yet "a" < "aa", so round k = 1 always runs
    var split = true
    var k = 1
    while (split && ties.nonEmpty && k < math.max(32, 1 << maxLenLog2)) {
      // every key from the ranks before this round
      for (g <- ties.indices by 2; j <- ties(g) until ties(g + 1)) {
        val i = sa(j)
        keys(j) = (if (i + k < end(i)) rank(i + k) else 0).toLong << 32 | i
      }
      val (t, s) = refine(ties)
      ties = t
      split = s
      k *= 2
    }
    rank
  }

  /** The distributed route of [[globalRanksWithin]] over the non-empty
    * (idCol, __t) rows `texts`.
    *
    * With strict ranks, a tie group's members occupy ordinal positions
    * `rank .. rank+|group|−1`, so re-ranking by the doubled key
    * `(rank, rank@pos+2^r)` is `new_rank = rank + (count of group
    * members whose successor-rank is strictly smaller)` — a prefix sum
    * over the (rank, r2) HISTOGRAM. After round 0's alphabet histogram
    * there is NO global sort anywhere: each round is one per-doc lead
    * window, one map-side-combinable histogram aggregation, one
    * bounded-partition window over the histogram (partition = tie
    * group's distinct successor ranks), and one keyed join back.
    * Early exit when a round changes nothing (byte-identical suffix
    * groups are permanent ties — the fixpoint, reached in
    * ≤ ⌈log2(max doc len)⌉ rounds). Each checkpointed generation is
    * released once the frames that read it have materialized; the
    * result reads only the last rank arrays.
    *
    * @return (idCol, __ra) — one row per doc, the strict rank of each
    *         position in order */
  private def loopArrays(texts: DataFrame, idCol: String,
      maxLenLog2: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // Seed: strict rank of the first 32 characters (2^5 — the doubling
    // loop then starts at k=32), computed by ONE scalable global sort
    // of the distinct-prefix histogram: range-repartition by prefix,
    // rank within each range partition, add broadcast partition
    // offsets (the globalOrdinals device — never a single-partition
    // sort). One sort up front replaces the five widest doubling
    // rounds, where on ordinary text nearly every position is still
    // tied.
    val SEEDLOG = 5
    // the per-position explode + 32-char prefix slice fuses into the
    // input's scan stage — a single-row-group corpus would build every
    // seed gram in ONE task; the floor lifts it to the cores (identity
    // at scale — Tables.scanFloor)
    val grams = graft.Tables.scanFloor(texts)
      .select(col(idCol),
        explode(sequence(lit(1L), length(col("__t")).cast("long")))
          .as("pos"),
        col("__t"))
      .select(col(idCol), col("pos"),
        col("__t").substr(col("pos").cast("int"), lit(1 << SEEDLOG))
          .as("__g"))
    // One range shuffle of the gram rows (equal prefixes co-partition
    // under range partitioning), pid pinned by the checkpoint; then
    // strict rank = broadcast partition offset + within-partition
    // rank(), and a position is tied iff a sorted neighbor carries the
    // same prefix — all from the same single sort.
    val ranged = grams.repartitionByRange(col("__g"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val offs = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__pn"))
      .withColumn("__off",
        coalesce(sum(col("__pn")).over(W.orderBy(col("__pid"))
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    val wPid = W.partitionBy(col("__pid")).orderBy(col("__g"))
    // A row whose rank is unique is FROZEN forever: refinement only
    // splits ties, never reorders, so a unique strict rank's
    // smaller-count can never change. Rank state rides as ONE array
    // per document (the successor-rank lookup is then an element_at
    // against a doc-count-sized broadcast frame — the corpus is never
    // re-sorted, re-shuffled, or even re-scanned after seeding), and
    // every per-round cost — histogram, prefix sum, join back, array
    // patch — is priced by the ACTIVE set (the unresolved duplicate
    // mass), which shrinks as ties resolve. No global sort exists
    // anywhere after the seed histogram. At 100 TB the array frame is
    // corpus-bytes/doc-length rows and joins keyed by doc instead of
    // broadcasting — the documented fallback; the per-round recurrence
    // is unchanged.
    val seeded = ranged.join(broadcast(offs), "__pid")
      .withColumn("rank",
        col("__off") + rank().over(wPid).cast("long"))
      .withColumn("act",
        (lag(col("__g"), 1).over(wPid) <=> col("__g")) ||
          (lead(col("__g"), 1).over(wPid) <=> col("__g")))
      .select(col(idCol), col("pos"), col("rank"), col("act"))
      .localCheckpoint()
    graft.ops.Cuts.release(ranged)
    // position-dense per-doc array: sort the (pos, rank) entries once
    // (struct order = pos order) and strip to ranks — O(n log n) per
    // doc; a map-based build would pay Spark's linear-scan map lookup
    // per position (measured 9.5 s vs 1.5 s at sf0.1).
    var arrays = seeded.groupBy(col(idCol))
      .agg(array_sort(collect_list(
        struct(col("pos").cast("int").as("p"), col("rank").as("r"))))
        .as("__e"))
      .select(col(idCol),
        transform(col("__e"), e => e.getField("r")).as("__ra"))
      .localCheckpoint()
    // the cut `active` reads: seeded, then each round's upd
    var activeCut = seeded
    var active = seeded.filter(col("act"))
      .select(col(idCol), col("pos"), col("rank"))
    var activeCount = active.count()
    (SEEDLOG until maxLenLog2).foreach { r =>
      if (activeCount > 0) {
        val k = 1L << r
        val withR2 = active
          .join(broadcast(arrays), idCol)
          .select(col(idCol), col("pos"), col("rank"),
            coalesce(try_element_at(col("__ra"),
              (col("pos") + k).cast("int")), lit(0L)).as("__r2"))
        val hist = withR2.groupBy(col("rank"), col("__r2"))
          .agg(count(lit(1)).as("__n"))
          .withColumn("__nr",
            col("rank") + coalesce(sum(col("__n"))
              .over(W.partitionBy(col("rank")).orderBy(col("__r2"))
                .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
          .select(col("rank").as("__or"), col("__r2").as("__h2"),
            col("__nr"), (col("__n") > 1).as("__na"))
        val upd = withR2
          .join(hist, col("rank") === col("__or") &&
            col("__r2") === col("__h2"))
          .select(col(idCol), col("pos"), col("__nr").as("rank"),
            col("__na").as("act"), (col("__nr") =!= col("rank")).as("__ch"))
          .localCheckpoint()
        graft.ops.Cuts.release(activeCut)
        activeCut = upd
        val patches = upd.filter(col("__ch"))
          .groupBy(col(idCol))
          .agg(map_from_entries(collect_list(
            struct(col("pos").cast("int"), col("rank")))).as("__um"))
        val prevArrays = arrays
        arrays = arrays.join(patches, Seq(idCol), "left")
          .select(col(idCol),
            when(col("__um").isNull, col("__ra"))
              .otherwise(transform(
                sequence(lit(1), size(col("__ra"))),
                p => coalesce(element_at(col("__um"), p),
                  element_at(col("__ra"), p)))).as("__ra"))
          .localCheckpoint()
        graft.ops.Cuts.release(prevArrays)
        active = upd.filter(col("act"))
          .select(col(idCol), col("pos"), col("rank"))
        // Fixpoint: no active row re-ranked this round (byte-identical
        // suffix groups are permanent ties and never re-rank) — one
        // aggregation over the checkpointed active-sized generation.
        val st = upd.agg(
          sum(when(col("act"), 1L).otherwise(0L)).as("a"),
          sum(when(col("__ch"), 1L).otherwise(0L)).as("c")).collect()(0)
        activeCount = if (st.getLong(1) == 0L) 0L else st.getLong(0)
      }
    }
    graft.ops.Cuts.release(activeCut)
    arrays
  }

  /** DuckDB oracle for [[globalRanks]]: definitional — strict rank of
    * the suffix STRING across the whole corpus (`rank()` ties exactly
    * where suffixes are byte-identical). */
  def globalOracleSql(innerSql: String, idName: String): String =
    s"""WITH d AS (
       |  SELECT $idName, text FROM ($innerSql) WHERE length(text) >= 1
       |), p AS (
       |  SELECT $idName, text,
       |         unnest(generate_series(1, length(text))) AS pos
       |  FROM d
       |)
       |SELECT $idName, CAST(pos AS BIGINT) AS pos,
       |       CAST(rank() OVER (
       |         ORDER BY substr(text, CAST(pos AS INTEGER))) AS BIGINT)
       |         AS sa_rank
       |FROM p""".stripMargin

  /** LCP of the suffixes `t1[p1..]` and `t2[p2..]` (capped at
    * `maxCheck`) by binary search on prefix equality — prefix equality
    * is monotone in length, so `steps` halvings pin the exact length
    * for any cap ≤ 2^steps; each probe is one codegen-friendly
    * substr-equality instead of a character walk. */
  private def lcpExpr(t1: org.apache.spark.sql.Column,
      p1: org.apache.spark.sql.Column, t2: org.apache.spark.sql.Column,
      p2: org.apache.spark.sql.Column,
      maxCheck: org.apache.spark.sql.Column, steps: Int):
      org.apache.spark.sql.Column =
    aggregate(
      sequence(lit(1), lit(steps)),
      struct(lit(0L).as("lo"), maxCheck.cast("long").as("hi")),
      (acc, _) => {
        val (lo, hi) = (acc.getField("lo"), acc.getField("hi"))
        val mid = ((lo + hi + 1) / 2).cast("long")
        when(lo < hi,
          when(t1.substr(p1, mid.cast("int")) ===
            t2.substr(p2, mid.cast("int")),
            struct(mid.as("lo"), hi.as("hi")))
            .otherwise(struct(lo.as("lo"), (mid - 1).as("hi"))))
          .otherwise(acc)
      }).getField("lo")

  /** Top-k longest CROSS-DOCUMENT repeated substrings — the
    * [[globalRanks]] readout exact-substring dedup acts on: the longest
    * substring shared by two distinct documents is always realized by
    * two suffixes of different docs ADJACENT in global SA order (any
    * cross-doc pair sharing a prefix of length L encloses an adjacent
    * cross-doc pair sharing ≥ L — every LCP inside the enclosed range
    * is ≥ L and the doc id changes somewhere), so adjacent pairs are a
    * complete candidate set, never all pairs.
    *
    * Ordinals come free from the strict ranks (`sa_rank − 1 +
    * row_number within the tie group`), adjacency is one self-equi-join
    * on the ordinal, and the LCP is the [[longestRepeat]] binary
    * search over the two documents' texts.
    *
    * @return top `k` by (lcp desc, d1, p1): (lcp, d1, p1, d2, p2,
    *         shared) — shared the common substring */
  def crossDocRepeats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 10, maxLenLog2: Int = 12): DataFrame = {
    require(k >= 1)
    val W = org.apache.spark.sql.expressions.Window
    val PRE = 64
    val gr = globalRanks(docs, idCol, textCol, maxLenLog2)
    // Carry only a PRE-char prefix through the adjacency self-join —
    // shipping whole documents beside every suffix multiplies the
    // shuffle bytes ~tenfold and the prefix already decides the
    // candidate set. Checkpointed: both sides of the self-join read it.
    val ord = gr
      .join(docs.select(col(idCol), col(textCol).as("__t")), idCol)
      .withColumn("__ord",
        (col("sa_rank") - 1 + row_number().over(
          W.partitionBy(col("sa_rank")).orderBy(col(idCol), col("pos"))))
          .cast("long"))
      .select(col(idCol), col("pos"), col("__ord"),
        col("__t").substr(col("pos").cast("int"), lit(PRE)).as("__pre"))
      .localCheckpoint()
    val left = ord.select(col(idCol).as("d1"), col("pos").as("p1"),
      col("__ord"), col("__pre").as("__pre1"))
    val right = ord.select(col(idCol).as("d2"), col("pos").as("p2"),
      (col("__ord") - 1).as("__ord"), col("__pre").as("__pre2"))
    val pairs = left.join(right, "__ord")
      .filter(col("d1") =!= col("d2"))
    // A pair agreeing on a FULL-width prefix has lcp ≥ PRE and beats
    // every pair that doesn't; when at least k such candidates exist
    // (any corpus with real cross-doc duplication), only they pay the
    // text join and the exact LCP. The candidate count is a contract-
    // bounded driver branch (the BPE idiom); small or repeat-free
    // corpora fall back to the exact full scan.
    val cands = pairs.filter(col("__pre1") === col("__pre2") &&
        length(col("__pre1")) === PRE)
      .localCheckpoint()
    val chosen = if (cands.count() >= k) cands else pairs
    chosen
      .join(docs.select(col(idCol).as("d1"), col(textCol).as("__t1")),
        "d1")
      .join(docs.select(col(idCol).as("d2"), col(textCol).as("__t2")),
        "d2")
      .withColumn("__max",
        least(length(col("__t1")) - col("p1") + 1,
          length(col("__t2")) - col("p2") + 1))
      .withColumn("lcp", lcpExpr(col("__t1"), col("p1"),
        col("__t2"), col("p2"), col("__max"), maxLenLog2))
      .orderBy(col("lcp").desc, col("d1"), col("p1"))
      .limit(k)
      .select(col("lcp"), col("d1"), col("p1"), col("d2"), col("p2"),
        when(col("lcp") > 0, col("__t1").substr(col("p1").cast("int"),
          col("lcp").cast("int"))).otherwise(lit("")).as("shared"))
  }

  /** THRESHOLD generalization of [[crossDocRepeats]] — ALL adjacent
    * cross-doc SA pairs whose LCP is ≥ `minLen` chars (not just the
    * top-k): the complete per-pair evidence set behind exact-substring
    * dedup at threshold `minLen` (every maximal cross-doc repeat ≥
    * minLen is witnessed by at least one of these pairs — the
    * enclosing-range argument of [[crossDocRepeats]]; the removal
    * transform itself is [[ExactSubstr.removeCrossDocRepeats]], which
    * exploits the fixed threshold to skip the SA rounds entirely —
    * ExactSubstr's equivalence lemma).
    *
    * Membership is decided ENTIRELY by `minLen`-char prefix equality
    * (lcp ≥ minLen ⟺ the two minLen-prefixes agree at full width), so
    * the self-join ships minLen-char prefixes, never documents; only
    * the qualifying pairs — bounded by the corpus's true repeat mass —
    * pay the text join for the exact LCP readout.
    *
    * @return (lcp, d1, p1, d2, p2) — every adjacent cross-doc pair with
    *         lcp ≥ minLen, lcp exact (capped at 2^maxLenLog2) */
  def crossDocRepeatsAtLeast(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int, maxLenLog2: Int = 12): DataFrame = {
    require(minLen >= 1 && minLen <= (1 << maxLenLog2))
    val W = org.apache.spark.sql.expressions.Window
    val gr = globalRanks(docs, idCol, textCol, maxLenLog2)
    val ord = gr
      .join(docs.select(col(idCol), col(textCol).as("__t")), idCol)
      .withColumn("__ord",
        (col("sa_rank") - 1 + row_number().over(
          W.partitionBy(col("sa_rank")).orderBy(col(idCol), col("pos"))))
          .cast("long"))
      .select(col(idCol), col("pos"), col("__ord"),
        col("__t").substr(col("pos").cast("int"), lit(minLen))
          .as("__pre"))
      .localCheckpoint()
    val left = ord.select(col(idCol).as("d1"), col("pos").as("p1"),
      col("__ord"), col("__pre").as("__pre1"))
    val right = ord.select(col(idCol).as("d2"), col("pos").as("p2"),
      (col("__ord") - 1).as("__ord"), col("__pre").as("__pre2"))
    left.join(right, "__ord")
      .filter(col("d1") =!= col("d2") &&
        col("__pre1") === col("__pre2") &&
        length(col("__pre1")) === minLen)
      .join(docs.select(col(idCol).as("d1"), col(textCol).as("__t1")),
        "d1")
      .join(docs.select(col(idCol).as("d2"), col(textCol).as("__t2")),
        "d2")
      .withColumn("__max",
        least(length(col("__t1")) - col("p1") + 1,
          length(col("__t2")) - col("p2") + 1))
      .select(lcpExpr(col("__t1"), col("p1"), col("__t2"), col("p2"),
        col("__max"), maxLenLog2).as("lcp"),
        col("d1"), col("p1"), col("d2"), col("p2"))
  }

  /** DuckDB oracle for [[crossDocRepeatsAtLeast]]: the
    * [[crossDocOracleSql]] chain with the top-k LIMIT swapped for the
    * lcp threshold. */
  def crossDocAtLeastOracleSql(innerSql: String, idName: String,
      minLen: Int): String =
    s"""WITH d AS (
       |  SELECT $idName, text FROM ($innerSql) WHERE length(text) >= 1
       |), p AS (
       |  SELECT $idName, text,
       |         unnest(generate_series(1, length(text))) AS pos
       |  FROM d
       |), o AS (
       |  SELECT $idName, text, pos,
       |         row_number() OVER (ORDER BY
       |           substr(text, CAST(pos AS INTEGER)), $idName, pos)
       |           AS ord
       |  FROM p
       |), pr AS (
       |  SELECT a.$idName AS d1, a.pos AS p1, a.text AS t1,
       |         b.$idName AS d2, b.pos AS p2, b.text AS t2
       |  FROM o a JOIN o b ON b.ord = a.ord + 1
       |  WHERE a.$idName <> b.$idName
       |    AND substr(a.text, CAST(a.pos AS INTEGER), $minLen)
       |      = substr(b.text, CAST(b.pos AS INTEGER), $minLen)
       |    AND length(a.text) - a.pos + 1 >= $minLen
       |)
       |SELECT CAST(coalesce(list_max(list_filter(
       |         generate_series(1, least(
       |           length(t1) - p1 + 1, length(t2) - p2 + 1)),
       |         l -> substr(t1, CAST(p1 AS INTEGER), CAST(l AS INTEGER))
       |            = substr(t2, CAST(p2 AS INTEGER),
       |                CAST(l AS INTEGER)))), 0) AS BIGINT) AS lcp,
       |       d1, CAST(p1 AS BIGINT) AS p1,
       |       d2, CAST(p2 AS BIGINT) AS p2
       |FROM pr""".stripMargin

  /** DuckDB oracle for [[crossDocRepeats]]. */
  def crossDocOracleSql(innerSql: String, idName: String,
      k: Int = 10): String =
    s"""WITH d AS (
       |  SELECT $idName, text FROM ($innerSql) WHERE length(text) >= 1
       |), p AS (
       |  SELECT $idName, text,
       |         unnest(generate_series(1, length(text))) AS pos
       |  FROM d
       |), o AS (
       |  SELECT $idName, text, pos,
       |         row_number() OVER (ORDER BY
       |           substr(text, CAST(pos AS INTEGER)), $idName, pos)
       |           AS ord
       |  FROM p
       |), pr AS (
       |  SELECT a.$idName AS d1, a.pos AS p1, a.text AS t1,
       |         b.$idName AS d2, b.pos AS p2, b.text AS t2
       |  FROM o a JOIN o b ON b.ord = a.ord + 1
       |  WHERE a.$idName <> b.$idName
       |), lc AS (
       |  SELECT d1, p1, d2, p2, t1,
       |         coalesce(list_max(list_filter(
       |           generate_series(1, least(
       |             length(t1) - p1 + 1, length(t2) - p2 + 1)),
       |           l -> substr(t1, CAST(p1 AS INTEGER),
       |                  CAST(l AS INTEGER))
       |              = substr(t2, CAST(p2 AS INTEGER),
       |                  CAST(l AS INTEGER)))), 0) AS lcp
       |  FROM pr
       |)
       |SELECT CAST(lcp AS BIGINT) AS lcp, d1, CAST(p1 AS BIGINT) AS p1,
       |       d2, CAST(p2 AS BIGINT) AS p2,
       |       CASE WHEN lcp > 0
       |            THEN substr(t1, CAST(p1 AS INTEGER),
       |                   CAST(lcp AS INTEGER)) ELSE '' END AS shared
       |FROM lc
       |ORDER BY lcp DESC, d1, p1 LIMIT $k""".stripMargin

  /** Longest repeated substring per document — the suffix array's
    * classic readout (the exact within-doc boilerplate/template
    * detector; [[Spans]] sees repeats only at w-gram granularity, this
    * sees EVERY repeat): the longest substring occurring ≥ 2 times in
    * a doc is always the longest common prefix of two suffixes ADJACENT
    * in suffix-array order, so one keyed lag over the ranks plus an LCP
    * per adjacent pair answers it exactly.
    *
    * The LCP is a 12-step binary search on prefix equality (prefix
    * equality is monotone in length, and 2^12 covers the
    * [[perDocRanks]] length cap) — O(log len) substring comparisons
    * per pair instead of the O(len) character walk, each a
    * codegen-friendly substr-equality. The oracle states the
    * definitional max-equal-prefix instead (result-equal, the house
    * oracle doctrine).
    *
    * @return (idCol, lrs_len, lrs_pos, lrs) — the longest repeat, a
    *         canonical occurrence position (the smaller position of the
    *         winning adjacent pair; ties break longest-first then
    *         smallest-position), and the substring itself. Docs with ≥ 2
    *         chars but no repeated substring read (0, 0, ""); docs with
    *         < 2 suffixes have no adjacent pair and are absent. */
  def longestRepeat(docs: DataFrame, idCol: String, textCol: String,
      maxLenLog2: Int = 12): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ranks = perDocRanks(docs, idCol, textCol, maxLenLog2)
    val byRank = W.partitionBy(col(idCol)).orderBy(col("sa_rank"))
    val t = col("__t")
    val pairs = ranks
      .withColumn("pos2", lag(col("pos"), 1).over(byRank))
      .filter(col("pos2").isNotNull)
      .join(docs.select(col(idCol), col(textCol).as("__t")), idCol)
      .withColumn("__max",
        least(length(t) - col("pos") + 1, length(t) - col("pos2") + 1))
    pairs
      .withColumn("__lcp", lcpExpr(t, col("pos"), t, col("pos2"),
        col("__max"), maxLenLog2))
      .withColumn("__p", least(col("pos"), col("pos2")))
      .groupBy(col(idCol))
      .agg(max(struct(col("__lcp").as("l"), (-col("__p")).as("np"),
        col("__t").as("t"))).as("__b"))
      .select(col(idCol),
        col("__b.l").as("lrs_len"),
        when(col("__b.l") > 0, -col("__b.np")).otherwise(lit(0L))
          .as("lrs_pos"),
        when(col("__b.l") > 0,
          col("__b.t").substr((-col("__b.np")).cast("int"),
            col("__b.l").cast("int"))).otherwise(lit(""))
          .as("lrs"))
  }

  /** DuckDB oracle for [[longestRepeat]]: definitional — SA by suffix
    * sort, adjacent-pair LCP as the max equal-prefix length. */
  def longestRepeatOracleSql(innerSql: String, idName: String): String =
    s"""WITH d AS (
       |  SELECT $idName, text FROM ($innerSql) WHERE length(text) >= 1
       |), p AS (
       |  SELECT $idName, text,
       |         unnest(generate_series(1, length(text))) AS pos
       |  FROM d
       |), sa AS (
       |  SELECT $idName, text, pos,
       |         lag(pos) OVER (PARTITION BY $idName
       |           ORDER BY substr(text, CAST(pos AS INTEGER))) AS pos2
       |  FROM p
       |), pr AS (
       |  SELECT $idName, text, pos, pos2,
       |         coalesce(list_max(list_filter(
       |           generate_series(1, least(
       |             length(text) - pos + 1,
       |             length(text) - pos2 + 1)),
       |           l -> substr(text, CAST(pos AS INTEGER),
       |                  CAST(l AS INTEGER))
       |              = substr(text, CAST(pos2 AS INTEGER),
       |                  CAST(l AS INTEGER)))), 0) AS lcp,
       |         least(pos, pos2) AS pstart
       |  FROM sa WHERE pos2 IS NOT NULL
       |), best AS (
       |  SELECT *, row_number() OVER (PARTITION BY $idName
       |    ORDER BY lcp DESC, pstart) AS rn
       |  FROM pr
       |)
       |SELECT $idName, CAST(lcp AS BIGINT) AS lrs_len,
       |       CAST(CASE WHEN lcp > 0 THEN pstart ELSE 0 END
       |         AS BIGINT) AS lrs_pos,
       |       CASE WHEN lcp > 0
       |            THEN substr(text, CAST(pstart AS INTEGER),
       |                   CAST(lcp AS INTEGER))
       |            ELSE '' END AS lrs
       |FROM best WHERE rn = 1""".stripMargin

  /** Per-document Burrows–Wheeler transform — the [[perDocRanks]]
    * readout that turns the suffix array into a COMPRESSIBILITY
    * instrument: BWT[r] = the character PRECEDING the r-th-smallest
    * suffix (`$` for the full-text suffix, the sentinel convention;
    * `$` ∉ any corpus alphabet since tokens never contain it).
    * Repetitive text groups equal contexts together, so its BWT
    * collapses into few runs — `n_runs / n_chars` is the classic
    * run-length compressibility proxy (the r/n measure of BWT-indexing
    * literature), an exact, codec-free sibling of q118's deflate ratio
    * and a per-doc template/boilerplate detector.
    *
    * One keyed join + one per-doc lag window for runs + one sorted
    * collect for the transform string; run counting happens
    * RELATIONALLY (lag over sa_rank) because a backreference regex
    * collapse would not port to the oracle's RE2 engine.
    *
    * @return (idCol, n_chars, bwt, n_runs); empty docs absent (no
    *         suffixes — the [[perDocRanks]] convention) */
  def bwt(docs: DataFrame, idCol: String, textCol: String,
      maxLenLog2: Int = 12): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byRank = W.partitionBy(col(idCol)).orderBy(col("sa_rank"))
    val withCh = perDocRanks(docs, idCol, textCol, maxLenLog2)
      .join(docs.select(col(idCol), col(textCol).as("__t")), idCol)
      .select(col(idCol), col("sa_rank"),
        when(col("pos") === 1, lit("$"))
          .otherwise(col("__t").substr((col("pos") - 1).cast("int"),
            lit(1))).as("__ch"))
      .withColumn("__new",
        when(lag(col("__ch"), 1).over(byRank).isNull
          .or(lag(col("__ch"), 1).over(byRank) =!= col("__ch")), 1L)
          .otherwise(0L))
    withCh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chars"),
        array_join(transform(
          array_sort(collect_list(struct(col("sa_rank"), col("__ch")))),
          e => e.getField("__ch")), "").as("bwt"),
        sum(col("__new")).as("n_runs"))
  }

  /** DuckDB oracle for [[bwt]]: definitional — suffix sort, preceding
    * char (sentinel for pos 1), ordered string_agg, lag-counted runs. */
  def bwtOracleSql(innerSql: String, idName: String): String =
    s"""WITH d AS (
       |  SELECT $idName, text FROM ($innerSql) WHERE length(text) >= 1
       |), p AS (
       |  SELECT $idName, text,
       |         unnest(generate_series(1, length(text))) AS pos
       |  FROM d
       |), sa AS (
       |  SELECT $idName,
       |         row_number() OVER (PARTITION BY $idName
       |           ORDER BY substr(text, CAST(pos AS INTEGER))) AS r,
       |         CASE WHEN pos = 1 THEN '$$'
       |              ELSE substr(text, CAST(pos AS INTEGER) - 1, 1)
       |         END AS ch
       |  FROM p
       |), rn AS (
       |  SELECT $idName, r, ch,
       |         CASE WHEN lag(ch) OVER w IS NULL
       |                OR lag(ch) OVER w <> ch THEN 1 ELSE 0 END AS nw
       |  FROM sa WINDOW w AS (PARTITION BY $idName ORDER BY r)
       |)
       |SELECT $idName, CAST(count(*) AS BIGINT) AS n_chars,
       |       string_agg(ch, '' ORDER BY r) AS bwt,
       |       CAST(sum(nw) AS BIGINT) AS n_runs
       |FROM rn GROUP BY $idName""".stripMargin

  /** DuckDB oracle for [[perDocRanks]]: the definitional form — rank
    * suffixes by direct binary comparison of the suffix strings
    * (exactly what prefix doubling converges to; document suffixes are
    * pairwise distinct, so the order is total and `row_number` = the
    * dense rank). `innerSql` yields (`idName`, text). */
  def perDocOracleSql(innerSql: String, idName: String): String =
    s"""WITH d AS (
       |  SELECT $idName, text FROM ($innerSql) WHERE length(text) >= 1
       |), p AS (
       |  SELECT $idName, text,
       |         unnest(generate_series(1, length(text))) AS pos
       |  FROM d
       |)
       |SELECT $idName, CAST(pos AS BIGINT) AS pos,
       |       CAST(row_number() OVER (PARTITION BY $idName
       |         ORDER BY substr(text, CAST(pos AS INTEGER))) AS BIGINT)
       |         AS sa_rank
       |FROM p""".stripMargin
}
