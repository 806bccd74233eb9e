package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StructField, StructType}

import graft.functions.Hash64
import graft.ops.Cuts
import graft.text.TextAnalysis

/** Near-duplicate detection: MinHash+LSH, SimHash, token-set Jaccard.
  *
  * Scale design (the whole point at 100 TB):
  *  - Candidate generation is always a KEYED SHUFFLE (band bucket / simhash
  *    band / blocking key), never an O(n²) cross join, and never a
  *    broadcast of anything that grows with the corpus.
  *  - Verification (exact Jaccard / hamming) runs only on bucket-cograms,
  *    whose cardinality is controlled by band width.
  *  - Signatures are computed via explode + partial-aggregated min/sum —
  *    shingling and hashing run ONCE per document, map-side combine keeps
  *    the shuffle at one row per (doc, agg) — and hashing is the portable
  *    codegen'd md5 path of [[Hash64]] so every operator has a DuckDB
  *    oracle (round 1's `xxhash64`+HOF formulation was Spark-only and
  *    recomputed the signature per seeded hash).
  *  - Ultra-common tokens are document-frequency-cut before the token
  *    self-join in [[tokenJaccardPairs]] (`maxDfFrac`), bounding the
  *    worst-case O(df²) join fan-out per token.
  */
object NearDup {

  /** w-word shingles of the token array, as space-joined strings.
    *
    * Formulated as a zip_with fold over w−1 shifted slices, NOT as
    * `transform(sequence(…), i => slice(toks, i, w))`: Spark's
    * higher-order functions are interpreted, and a lambda body that
    * references the input array expression re-evaluates that whole
    * subtree per element — with `toks` itself a regex split, the
    * transform form cost O(tokens²) per document (measured 6.5x slower
    * at sf0.1). Here every lambda touches only its own variables; the
    * shifted copies each evaluate `toks` once. zip_with pads the shorter
    * (shifted) side with nulls and `concat` propagates them, so entries
    * past position n−w+1 become null and are filtered off. */
  def shingles(toks: Column, w: Int = 3): Column = {
    val joined = (2 to w).foldLeft(toks) { (acc, i) =>
      zip_with(acc, slice(toks, lit(i), size(toks)), (a, b) =>
        concat(a, lit(" "), b))
    }
    when(size(toks) < w, array(concat_ws(" ", toks)))
      .otherwise(filter(joined, x => x.isNotNull))
  }

  /** DuckDB fragment mirroring [[shingles]] over a `toks` list column —
    * the single source for every oracle's shingle SQL (the short-doc
    * whole-text branch included), so a semantics change here cannot leave
    * a hand-inlined oracle copy behind. */
  def duckShinglesSql(w: Int, toksExpr: String = "toks"): String =
    s"""CASE WHEN len($toksExpr) < $w THEN [array_to_string($toksExpr, ' ')]
       |     ELSE list_transform(range(1, len($toksExpr) - ${w - 2}),
       |                         i -> array_to_string($toksExpr[i:i+${w - 1}], ' ')) END""".stripMargin

  /** MinHash signatures for a document frame: explode distinct shingles
    * once, hash each shingle ONCE with the strong base hash, then k
    * xor-rotate mixer min-aggregates ([[Hash64.mixed]]: xor an md5-derived
    * key, rotate within 60 bits) in a single partial+final hash aggregation (one
    * shuffle keyed by doc). Shingling and strong hashing cost is paid once
    * per shingle — not once per hash function — which is both the textbook
    * MinHash construction and 16x less md5 work.
    *
    * Documents whose text yields no tokens (empty/whitespace-only) all
    * collapse to the single empty shingle ([[shingles]]' short-doc
    * branch), so they carry the SAME signature and near-dup each other —
    * by design for whole-corpus dedup (empty docs ARE duplicates), but
    * filter them out before incremental flows where pass-through is
    * wanted (see [[nearDupIncrement]]'s caller contract).
    *
    * @param hash 60-bit string hash: [[Hash64.hash60]] (md5, DuckDB-
    *             oracle-able, the default) or [[Hash64.fast60]] (xxhash64,
    *             ~3x cheaper, Spark-only) — both feed the same xor-rotate
    *             mixer family.
    * @return (idCol, sig: array<long> of length k)
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 16,
      hash: Column => Column = Hash64.hash60): DataFrame = {
    // the shingle+strong-hash projection is the operator's dominant
    // cost and fuses into the input's scan stage — lift a
    // single-row-group input to the core floor (identity at scale)
    val sh = graft.Tables.scanFloor(docs)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(array_distinct(shingles(col("__toks"), w))).as("sh"))
      .select(col(idCol), hash(col("sh")).as("h"))
    minhashFromHashes(sh, idCol, k)
  }

  /** Character w-grams over lowercased, whitespace-folded text — the
    * shingle unit for SPACE-FREE scripts (CJK, Thai) where
    * [[TextAnalysis.tokens]]' `[a-z0-9]+` word splitting sees nothing.
    * Sub-w texts fall back to one whole-text gram (the [[shingles]]
    * short-doc contract). Caveat shared with every `lower()` in this
    * codebase: ASCII case-folds identically everywhere; locale-special
    * casings (Turkish İ) may differ between JVM and ICU. */
  def charShingles(text: Column, w: Int): Column = {
    require(w >= 1, s"w must be >= 1, got $w")
    val t = regexp_replace(lower(text), "\\s+", " ")
    when(length(t) >= w,
      transform(sequence(lit(1), length(t) - lit(w - 1)),
        i => t.substr(i, lit(w))))
      .otherwise(array(t))
  }

  /** DuckDB mirror of [[charShingles]]; `inner` must already be the
    * folded text expression. */
  def duckCharShinglesSql(inner: String, w: Int): String =
    s"""CASE WHEN length($inner) >= $w
       |  THEN list_transform(generate_series(1, length($inner) - ${w - 1}),
       |                      i -> substr($inner, i, $w))
       |  ELSE [$inner] END""".stripMargin

  /** [[minhashSignatures]] with character shingles — same signature
    * contract (k longs), same downstream banding/agreement machinery;
    * only the unit generator differs. Exclude empty/whitespace-only
    * docs (same caller contract as [[nearDupIncrement]]: they all share
    * the single-gram signature of " ").
    *
    * NOT [[charShingles]]+explode: `min` is duplicate-insensitive, so
    * the distinct is skipped, and grams come from a codegen'd
    * `substring(text, pos, w)` over an exploded POSITION sequence —
    * no per-document array of ~|text| string objects ever materializes
    * (the interpreted-HOF allocation was measured at ~20 s of q134's
    * 21 s at sf0.1; this form runs the same query in 2.5 s). The
    * position range `1 .. greatest(len−w+1, 1)` reproduces
    * [[charShingles]]' short-text whole-gram fallback via substring's
    * end-clamp, so signatures are identical. */
  def minhashSignaturesChar(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 5, k: Int = 16,
      hash: Column => Column = Hash64.hash60,
      unicodeNormalize: Boolean = false): DataFrame = {
    // unicodeNormalize composes graft.functions.NormalizeText (NFC +
    // width fold + simple lower — q307's canonicalization stage) in
    // front of the shingler, so NFD/fullwidth renderings of one text
    // produce IDENTICAL signatures. Default off to preserve the
    // oracle-pinned q134 semantics; real non-ASCII corpora want it on
    // (space-free scripts are exactly where mixed normal forms and
    // fullwidth punctuation are common).
    val base =
      if (unicodeNormalize)
        graft.functions.NormalizeText.normalizeText(col(textCol))
      else lower(col(textCol))
    val t = regexp_replace(base, "\\s+", " ")
    // char-gram hashing is ~7× denser than the word form — same
    // scan-stage floor rationale as [[minhashSignatures]]
    val sh = graft.Tables.scanFloor(docs)
      .select(col(idCol), t.as("__t"))
      .select(col(idCol), col("__t"),
        explode(sequence(lit(1),
          greatest(length(col("__t")) - lit(w - 1), lit(1)))).as("__i"))
      .select(col(idCol), hash(expr(s"substring(__t, __i, $w)")).as("h"))
    minhashFromHashes(sh, idCol, k)
  }

  /** Shared k-seed min-aggregation tail of the signature builders. */
  private def minhashFromHashes(sh: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val mins = (0 until k).map(i => min(Hash64.mixed(i, col("h"))).as(s"m$i"))
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding: docs sharing any (band, band-slice-of-signature) bucket
    * become candidate pairs; exact/estimated Jaccard is then verified on
    * the candidates only. The bucket key is the sliced signature array
    * itself (array equality joins are supported by both engines — no extra
    * hash of the band needed).
    *
    * @param df        (idCol, sigCol: array<long>) frame
    * @param bands     number of bands (rows per band = k / bands)
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, sigCol: String,
      bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val banded = bandedKeys(df, idCol, sigCol, bands, rowsPerBand)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .distinct()
  }

  /** LSH PARAMETER PLANNER — the design table behind
    * [[lshCandidatePairs]]'s (bands, rowsPerBand) choice: for every
    * (b, r) factorization of the signature size and every probed
    * Jaccard level, the candidate-collision probability
    * P = 1 − (1 − J^r)^b. A planning operator — it reads NO data; it
    * exists so the banding choice is an inspectable artifact instead
    * of folklore (the (1/b)^(1/r) threshold rule of thumb is readable
    * off the table as the J where P crosses 0.5 — NOT emitted as a
    * column: exp/ln round differently across libms, measured 1 ulp
    * apart on exp(ln(0.25)/4), exactly the trap the house float rules
    * exist for).
    *
    * Determinism: both power terms are INTEGER exponents evaluated as
    * explicit multiplication folds (never `pow`, whose rounding is not
    * specified identically across engines).
    *
    * @return (sig_k, bands, rows_per_band, j_pct, p_collide) — one row
    *         per (factorization, probed J%) */
  def lshPlanner(spark: org.apache.spark.sql.SparkSession,
      sigK: Int = 16,
      jPcts: Seq[Int] = Seq(50, 60, 70, 80, 90, 95)): DataFrame = {
    require(sigK >= 2)
    import spark.implicits._
    val facts = (1 to sigK).filter(sigK % _ == 0)
      .map(b => (sigK, b, sigK / b))
    val grid = for ((k, b, r) <- facts; j <- jPcts) yield (k, b, r, j)
    val df = grid.toDF("sig_k", "bands", "rows_per_band", "j_pct")
    val j = col("j_pct").cast("double") / 100.0
    // J^r and (1-J^r)^b as explicit folds over integer exponents
    val jr = aggregate(sequence(lit(1), col("rows_per_band")),
      lit(1.0), (acc, _) => acc * j)
    val p = lit(1.0) - aggregate(sequence(lit(1), col("bands")),
      lit(1.0), (acc, _) => acc * (lit(1.0) - col("__jr")))
    df.withColumn("__jr", jr)
      .withColumn("p_collide", p)
      .drop("__jr")
  }

  /** DuckDB oracle for [[lshPlanner]] — the identical grid and folds
    * (row-CONSTANT list_reduce: safe; the row-varying form is the
    * documented corruption bug). */
  def lshPlannerOracleSql(sigK: Int = 16,
      jPcts: Seq[Int] = Seq(50, 60, 70, 80, 90, 95)): String = {
    val facts = (1 to sigK).filter(sigK % _ == 0)
      .map(b => s"($sigK, $b, ${sigK / b})").mkString(", ")
    val js = jPcts.mkString(", ")
    s"""WITH f AS (
       |  SELECT CAST(sig_k AS INTEGER) AS sig_k,
       |         CAST(bands AS INTEGER) AS bands,
       |         CAST(rows_per_band AS INTEGER) AS rows_per_band
       |  FROM (VALUES $facts) v(sig_k, bands, rows_per_band)
       |), g AS (
       |  SELECT f.*, CAST(j AS INTEGER) AS j_pct,
       |         CAST(j AS DOUBLE) / 100.0 AS jj
       |  FROM f CROSS JOIN (SELECT unnest([$js]) AS j)
       |), jr AS (
       |  SELECT *, list_reduce(
       |           list_prepend(CAST(1.0 AS DOUBLE), list_transform(
       |             generate_series(1, rows_per_band), i -> jj)),
       |           (a, x) -> a * x) AS jrv
       |  FROM g
       |)
       |SELECT sig_k, bands, rows_per_band, j_pct,
       |       1.0 - list_reduce(
       |         list_prepend(CAST(1.0 AS DOUBLE), list_transform(
       |           generate_series(1, bands), i -> 1.0 - jrv)),
       |         (a, x) -> a * x) AS p_collide
       |FROM jr""".stripMargin
  }

  /** (idCol, band, band_key) rows — one per LSH band per doc; the shared
    * banding step of [[lshCandidatePairs]] and [[nearDupIncrement]]. */
  private[graft] def bandedKeys(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    df.select(
      col(idCol),
      posexplode(array((0 until bands).map(b =>
        slice(col(sigCol), b * rowsPerBand + 1, rowsPerBand)): _*)))
      .toDF(idCol, "band", "band_key")

  /** Fraction of MinHash positions where two signatures agree — the
    * unbiased Jaccard estimator the verify stage uses when the exact
    * token sets are no longer at hand (e.g. a streaming history that
    * keeps k longs per doc, not the text). */
  def sigAgreement(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v).cast("double") / size(a)

  /** One ingestion step of incremental near-dup: which of `newSigs`' docs
    * are MinHash near-dups — of the persisted corpus (`histSigs`) or of a
    * LOWER-id doc in the same increment. LSH banding generates candidates
    * (cross-frame for history, self-join within the increment), then
    * [[sigAgreement]] ≥ `minAgree` verifies each candidate from the
    * signatures alone — no text re-read, so history stays k longs per doc.
    *
    * Within-increment resolution is GREEDY: the higher id of every
    * verified pair drops, so a chain a~b~c loses both b and c even though
    * only adjacent pairs verified — the standard streaming-dedup
    * trade-off (batch pipelines re-cluster exactly: q37 + q90).
    *
    * CALLER CONTRACT: exclude token-free docs from `newSigs`
    * ([[minhashSignatures]] gives every empty/whitespace doc the SAME
    * empty-shingle signature, so unfiltered they all near-dup each
    * other and every one after the first is dropped). The streaming
    * sink filters them before signing; do the same.
    *
    * Plan: every join is keyed by (band, band_key) or id — no broadcast
    * of anything corpus-sized, history never self-joins (history-internal
    * dups were resolved when those docs were ingested).
    *
    * @return the DROPPED ids, one column named `idCol` */
  def nearDupIncrement(newSigs: DataFrame, histSigs: DataFrame,
      idCol: String, bands: Int = 4, rowsPerBand: Int = 4,
      minAgree: Double = 0.7): DataFrame = {
    val sigOf = (df: DataFrame, side: String) =>
      df.select(col(idCol).as(s"${side}_id"), col("sig").as(s"${side}_sig"))
    val nb = bandedKeys(newSigs, idCol, "sig", bands, rowsPerBand)
    val hb = bandedKeys(histSigs, idCol, "sig", bands, rowsPerBand)
    val histHits = nb.as("a")
      .join(hb.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key"))
      .select(col(s"a.$idCol").as("n_id"), col(s"b.$idCol").as("h_id"))
      .distinct()
      .join(sigOf(newSigs, "n"), "n_id").join(sigOf(histSigs, "h"), "h_id")
      .filter(sigAgreement(col("n_sig"), col("h_sig")) >= minAgree)
      .select(col("n_id").as(idCol))
    val intraDrops = lshCandidatePairs(newSigs, idCol, "sig", bands, rowsPerBand)
      .withColumnRenamed("d1", "n_id").withColumnRenamed("d2", "h_id")
      .join(sigOf(newSigs, "n"), "n_id")
      .join(sigOf(newSigs, "h"), "h_id")
      .filter(sigAgreement(col("n_sig"), col("h_sig")) >= minAgree)
      .select(col("h_id").as(idCol)) // d1 < d2: the higher id drops
    histHits.union(intraDrops).distinct()
  }

  /** Exact token-set Jaccard for all pairs sharing a blocking key — the
    * verify stage of LSH, or standalone blocked near-dup. Keyed shuffles
    * only: the df-cut is a token-keyed aggregate + join, the pair join is
    * keyed by (token, block), and the per-document size frames join by doc
    * id (NOT broadcast — one row per document grows with the corpus).
    *
    * CACHING CONTRACT: the token frame is `persist()`ed internally (it
    * feeds four plan arms that static exchange reuse cannot unify) and
    * stays pinned after the result materializes. Call
    * `spark.catalog.clearCache()` — or unpersist selectively — between
    * invocations in a long-lived session, as Bench/Verify do; otherwise
    * executor storage memory accumulates per call.
    *
    * @param maxDfFrac tokens present in more than this fraction of
    *                  documents are cut before the self-join (stopword-grade
    *                  tokens otherwise produce O(df²) join output). 1.0
    *                  disables the cut.
    */
  def tokenJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, minJaccard: Double, maxDfFrac: Double = 1.0): DataFrame =
    jaccardPairs(docs,
      array_distinct(TextAnalysis.tokens(col(textCol))),
      idCol, blockCol, minJaccard, maxDfFrac)

  /** Record linkage (entity resolution): token-set Jaccard match of a
    * DIRTY frame against a CANONICAL frame — the cross-table sibling of
    * [[tokenJaccardPairs]]'s self-join, for "which master record is this
    * noisy row?" workloads. Same scale shape: the candidate join is keyed
    * by (token, block), per-record sizes join by id, nothing broadcast.
    * Blocking is load-bearing here exactly as in dedup: it bounds the
    * per-token fan-out to in-block frequencies.
    *
    * @param w matching unit: 1 = token sets (loose — small vocabularies
    *          make unrelated records share most tokens), ≥2 = w-gram
    *          shingle sets (word-order-sensitive, discriminative)
    * @return (left_id, right_id, inter, jaccard) — all pairs ≥ minJaccard;
    *         resolve to best-match with a per-left top-1 if needed
    */
  def tokenLinkPairs(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, blockCol: String, minJaccard: Double,
      w: Int = 1): DataFrame = {
    def tok(df: DataFrame) = df
      .select(col(idCol), col(blockCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col(blockCol),
        explode(array_distinct(
          if (w <= 1) col("__toks") else shingles(col("__toks"), w))).as("token"))
    val (ta, tb) = (tok(left), tok(right))
    def sizes(t: DataFrame) = t.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val pairs = ta.as("a").join(tb.as("b"),
        col("a.token") === col("b.token") &&
          col(s"a.$blockCol") === col(s"b.$blockCol"))
      .groupBy(col(s"a.$idCol").as("left_id"), col(s"b.$idCol").as("right_id"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes(ta).as("s1"), col("left_id") === col(s"s1.$idCol"))
      .join(sizes(tb).as("s2"), col("right_id") === col(s"s2.$idCol"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("s1.n") + col("s2.n") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("left_id"), col("right_id"), col("inter"), col("jaccard"))
  }

  /** Exact n-gram (shingle) Jaccard: the stricter word-order-sensitive
    * variant of [[tokenJaccardPairs]] — two documents with the same word
    * multiset but different order share tokens yet few shingles. Same
    * keyed-shuffle plan, unit = w-gram instead of token, and the SAME
    * caching contract: the shingle frame stays `persist()`ed after the
    * result materializes (see [[tokenJaccardPairs]]). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, minJaccard: Double, maxDfFrac: Double = 1.0,
      w: Int = 3): DataFrame =
    // Tokens materialize in their own projection first: shingles()
    // references its input w+2 times, and each reference of an inline
    // tokens() subtree would re-run the regex split per row.
    jaccardPairs(
      docs.select(col(idCol), col(blockCol),
        TextAnalysis.tokens(col(textCol)).as("__toks")),
      array_distinct(shingles(col("__toks"), w)),
      idCol, blockCol, minJaccard, maxDfFrac)

  /** Asymmetric token-set CONTAINMENT for all pairs sharing a blocking
    * key: c1 = |A∩B|/|A|, c2 = |A∩B|/|B|. The doc-in-doc detector Jaccard
    * structurally misses — a 40-token snippet quoted inside a 4000-token
    * page has jaccard ≈ 0.01 but containment ≈ 1.0 from the snippet's
    * side. Same keyed-shuffle plan and caching contract as
    * [[tokenJaccardPairs]] (the df-cut is equally load-bearing here: a
    * stopword-grade token still fans out O(df²) pair rows).
    *
    * Sizes are measured AFTER the df-cut, consistently with the
    * intersection — so containment stays a true fraction in [0, 1].
    *
    * @return (d1, d2, inter, c1, c2) — pairs where EITHER side's
    *         containment ≥ `minContainment`; d1 < d2 */
  def tokenContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, minContainment: Double,
      maxDfFrac: Double = 1.0): DataFrame = {
    val (pairs, sizes) = pairCounts(docs,
      array_distinct(TextAnalysis.tokens(col(textCol))), idCol, blockCol,
      maxDfFrac)
    pairs
      .join(sizes.as("s1"), col("d1") === col(s"s1.$idCol"))
      .join(sizes.as("s2"), col("d2") === col(s"s2.$idCol"))
      .withColumn("c1", col("inter").cast("double") / col("s1.n"))
      .withColumn("c2", col("inter").cast("double") / col("s2.n"))
      .filter(greatest(col("c1"), col("c2")) >= minContainment)
      .select(col("d1"), col("d2"), col("inter"), col("c1"), col("c2"))
  }

  /** Prefix-filter similarity join (AllPairs / PPJoin family, Bayardo et
    * al. 2007): ALL pairs with token-set Jaccard ≥ num/den, with a
    * COMPLETENESS GUARANTEE — unlike MinHash LSH (probabilistic recall)
    * and the [[tokenJaccardPairs]] df-cut (drops pairs living in common
    * tokens), every qualifying pair is produced.
    *
    * Why it's not O(n²): tokens are globally ordered by ascending
    * document frequency (rarest first, ties by token), and a document
    * with n distinct tokens exposes only its first n − ceil(t·n) + 1
    * tokens in that order as join keys. Pigeonhole: J(A,B) ≥ t implies
    * the overlap ≥ ceil(t·max(|A|,|B|)), too large to hide entirely in
    * either doc's skipped suffix, so a qualifying pair ALWAYS collides
    * on a prefix token. Fan-out is bounded by the df of the rarest
    * ~(1−t) fraction of each doc's tokens — the cheap end of the df
    * distribution; the stopword-grade tokens that make the naive token
    * self-join quadratic sort to the suffix and never join.
    *
    * The threshold is a rational num/den and the accept test is pure
    * integer cross-multiplication (`den·inter ≥ num·(n1+n2−inter)`), so
    * the cut is exact on both engines; `jaccard` emits as one final
    * double division.
    *
    * Plan: units persist (prefix arm + two verify arms + sizes); one
    * per-doc window (partition = one document's units — bounded);
    * candidate join keyed by prefix unit; verify join keyed by id.
    *
    * The join unit is the `w`-gram shingle set (w = 1 degrades to token
    * sets). Unit choice is a FAN-OUT lever, not just semantics: prefix
    * filtering assumes an open Zipfian vocabulary whose rare tail is
    * big; on a corpus whose token vocabulary is tiny (measured here: 31
    * types → every "rare" token still has df in the thousands, 178M
    * candidate rows at sf0.1) token units are degenerate, while 3-gram
    * shingles multiply the key space (27k types, max df 25, 732k
    * candidate rows — 240× less) and additionally make the match
    * word-order-sensitive (q34's semantics, exact and complete).
    *
    * @return (d1, d2, inter, jaccard), d1 < d2, shingle-Jaccard ≥
    *         num/den */
  def prefixFilterJaccardPairs(docs: DataFrame, idCol: String,
      textCol: String, num: Int, den: Int, w: Int = 3): DataFrame = {
    require(num > 0 && num <= den, s"threshold $num/$den outside (0,1]")
    val win = org.apache.spark.sql.expressions.Window
    val toksDf = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    val units =
      if (w <= 1) array_distinct(col("__toks"))
      else array_distinct(shingles(col("__toks"), w))
    val tok = toksDf.select(col("id"), explode(units).as("tok")).persist()
    val dfs = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfs, "tok")
      .withColumn("r", row_number().over(
        win.partitionBy(col("id")).orderBy(col("df"), col("tok"))))
      .withColumn("n", count(lit(1)).over(win.partitionBy(col("id"))))
    // prefix length n − ceil(num·n/den) + 1; ceil via integer-exact floor
    val pref = ranked.filter(col("r") <=
      col("n") - floor((lit(num) * col("n") + lit(den - 1)) / lit(den)) + 1)
      .select(col("id"), col("tok"), col("r"), col("n"))
    // Candidate pruning (PPJoin refinements — safe: both are UPPER-bound
    // tests a qualifying pair always passes, so completeness holds and
    // the final exact verify makes the output identical either way):
    //  - length filter: J ≥ t forces t·n2 ≤ o ≤ n1 (and symmetrically),
    //    so size-mismatched pairs can never qualify;
    //  - positional filter: overlap ≤ min(n1−r1, n2−r2) + min(r1, r2)
    //    at a shared token with ranks (r1, r2) — tokens after it number
    //    at most min(n1−r1, n2−r2), tokens at-or-before it at most
    //    min(r1, r2); prune when that bound < minOverlap =
    //    ceil(num·(n1+n2)/(num+den)). Together with the shingle-unit
    //    default these cut the prefix join from O(df²) blowup to near
    //    the qualifying set (measured 110.9 s → 3.3 s at sf0.1).
    val minOverlap = floor(
      (lit(num) * (col("a.n") + col("b.n")) + lit(num + den - 1)) /
        lit(num + den))
    val cands = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          lit(den) * col("a.n") >= lit(num) * col("b.n") &&
          lit(den) * col("b.n") >= lit(num) * col("a.n") &&
          (least(col("a.n") - col("a.r"), col("b.n") - col("b.r")) +
            least(col("a.r"), col("b.r"))) >= minOverlap)
      .select(col("a.id").as("d1"), col("b.id").as("d2")).distinct()
    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("n"))
    cands
      .join(tok.as("t1"), col("d1") === col("t1.id"))
      .join(tok.as("t2"),
        col("d2") === col("t2.id") && col("t1.tok") === col("t2.tok"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      .join(sizes.as("s1"), col("d1") === col("s1.id"))
      .join(sizes.as("s2"), col("d2") === col("s2.id"))
      .filter(lit(den) * col("inter") >=
        lit(num) * (col("s1.n") + col("s2.n") - col("inter")))
      .select(col("d1"), col("d2"), col("inter"),
        (col("inter").cast("double") /
          (col("s1.n") + col("s2.n") - col("inter"))).as("jaccard"))
  }

  private def jaccardPairs(docs: DataFrame, units: Column, idCol: String,
      blockCol: String, minJaccard: Double, maxDfFrac: Double): DataFrame = {
    val (pairs, sizes) = pairCounts(docs, units, idCol, blockCol, maxDfFrac)
    pairs
      .join(sizes.as("s1"), col("d1") === col(s"s1.$idCol"))
      .join(sizes.as("s2"), col("d2") === col(s"s2.$idCol"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("s1.n") + col("s2.n") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("d1"), col("d2"), col("inter"), col("jaccard"))
  }

  /** Shared core of [[jaccardPairs]] / [[tokenContainmentPairs]]: the
    * df-cut token frame, self-joined within blocks into per-pair
    * intersection counts, plus the per-doc (post-cut) set sizes. */
  private def pairCounts(docs: DataFrame, units: Column, idCol: String,
      blockCol: String, maxDfFrac: Double): (DataFrame, DataFrame) = {
    val tokAll = docs.select(
      col(idCol), col(blockCol), explode(units).as("token"))
    val tok0 =
      if (maxDfFrac >= 1.0) tokAll
      else {
        val nDocs = docs.select(count(lit(1)).as("n_docs")) // 1 row — broadcast is fine
        val kept = tokAll.groupBy(col("token")).agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nDocs))
          .filter(col("df") <= col("n_docs") * maxDfFrac)
          .select(col("token"))
        tokAll.join(kept, Seq("token"))
      }
    // The token frame feeds four plan arms (both self-join sides + the two
    // size lookups) and the static plan gets no exchange reuse across them
    // — persist so the explode + df-cut runs once, not four times.
    val tok = tok0.persist()
    val sizes = tok.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val pairs = tok.as("a").join(tok.as("b"),
        col("a.token") === col("b.token") &&
          col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .agg(count(lit(1)).as("inter"))
    (pairs, sizes)
  }

  /** 60-bit SimHash over tokens: per bit, the sign of Σ(±1) across token
    * hashes, weighted by token multiplicity. Repeated tokens are collapsed
    * to (doc, hash, count) first — one row per distinct token per doc —
    * then the 60 per-bit sign sums run as conditional aggregates over that
    * compact frame (no 60x row fan-out; each expression is a codegen'd
    * shift/compare). */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 60,
      hash: Column => Column = Hash64.hash60): DataFrame = {
    val tok = docs.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .select(col(idCol), hash(col("token")).as("h"))
    val cnt = tok.groupBy(col(idCol), col("h")).agg(count(lit(1)).as("c"))
    val sums = (0 until bits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, col("c"))
        .otherwise(-col("c"))).as(s"b$i"))
    cnt.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until bits).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Most edges [[connectedComponents]] resolves in the driver; a graph
    * with more runs the distributed loop. */
  val MaxDriverEdges: Int = 1000000

  /** Resolve near-dup PAIRS into duplicate CLUSTERS — the step between
    * candidate pairs and "keep one copy" that a training-data dedup
    * actually executes. Connected components: every node's label is the
    * smallest node id reachable from it, giving (node, cluster_id,
    * keep = node is the cluster's representative) for every node that
    * appears in an edge.
    *
    * Route: the (src, dst) projection of `edges` is persisted — the one
    * read of the caller's edge lineage on either route — and collected
    * under [[MaxDriverEdges]] (`limit(bound + 1)`, one eager query).
    * Within the bound, with `Int` or `Long` ids on both ends and no null
    * endpoint, the driver runs union-find over primitive arrays (ids
    * sorted and deduplicated into dense indices; the root of each set is
    * its minimum id) and returns the labels as a local frame of the
    * input's id type. At the bound the driver holds the collected rows
    * while it copies them to arrays, and the returned plan ~40 bytes a
    * node. Otherwise the distributed loop below runs over the persisted
    * projection. Both routes give the same rows, the min-reachable-id
    * fixpoint (`maxIter` bounds only the loop, which reaches it in
    * O(log diameter) rounds). It collects the projection, not the
    * symmetric frame: the symmetric union reads its input twice, and
    * over an unpersisted lineage that re-ran the caller's shuffles (q72:
    * 18 Spark jobs to collect the symmetric frame, 11 the projection).
    *
    * Distributed loop (Kiveris et al., SoCC 2014): each round propagates
    * neighbor labels (keyed edge⋈label join + map-side-combinable min
    * aggregation) and then POINTER-DOUBLES (label-of-label shortcut
    * join), so reachable-path lengths square per round: convergence is
    * O(log diameter) rounds, not O(diameter) — a 10,000-link chain
    * resolves in ~14 rounds.
    *
    * Iteration hygiene (the part naive loops get wrong): every generation
    * is `localCheckpoint`ed, truncating lineage to a leaf. Without that,
    * generation k's LOGICAL plan embeds generation k−1 three times (union
    * + both shortcut-join arms) — 3^k plan nodes — and driver-side
    * Catalyst analysis goes exponential even when every parent is cached
    * (measured: 187 s in round 2 on a 477-node graph). The driver loop
    * runs one tiny convergence count per round, and each superseded
    * generation is released once its successor has materialized; the
    * result reads only the last one.
    *
    * Deterministic fixpoint (min reachable id) regardless of iteration
    * order — the DuckDB oracle recomputes it with a recursive CTE (q37). */
  def connectedComponents(edges: DataFrame, srcCol: String = "d1",
      dstCol: String = "d2", maxIter: Int = 50): DataFrame =
    connectedComponentsWithin(edges, srcCol, dstCol, maxIter, MaxDriverEdges)

  /** [[connectedComponents]] with the driver bound as a parameter: 0
    * forces the distributed loop on any non-empty graph. */
  private[graft] def connectedComponentsWithin(edges: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int,
      maxDriverEdges: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist()
    val (s, d) = (e.schema("src"), e.schema("dst"))
    val integral = s.dataType == d.dataType &&
      (s.dataType == IntegerType || s.dataType == LongType)
    val rows =
      if (integral) e.limit(maxDriverEdges + 1).collect() else Array.empty[Row]
    val labels =
      if (integral && rows.length <= maxDriverEdges &&
          !rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))
        unionFindLabels(e.sparkSession, rows, s.dataType,
          nodeNullable = s.nullable || d.nullable)
      else labelLoop(e, maxIter)
    e.unpersist()
    labels
  }

  /** The driver route of [[connectedComponentsWithin]] over the collected
    * (src, dst) rows, none null. */
  private def unionFindLabels(spark: SparkSession, rows: Array[Row],
      idType: DataType, nodeNullable: Boolean): DataFrame = {
    val isInt = idType == IntegerType
    def id(r: Row, i: Int): Long = if (isInt) r.getInt(i).toLong else r.getLong(i)
    val src = rows.map(id(_, 0))
    val dst = rows.map(id(_, 1))
    val ids = src ++ dst
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices if i == 0 || ids(i) != ids(i - 1)) {
      ids(n) = ids(i); n += 1
    }
    def index(v: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, v)
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (k <- src.indices) {
      val a = find(index(src(k)))
      val b = find(index(dst(k)))
      // dense indices follow id order, so the smaller root is the min id
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val out = new java.util.ArrayList[Row](n)
    for (i <- 0 until n) {
      val r = find(i)
      out.add(if (isInt) Row(ids(i).toInt, ids(r).toInt, r == i)
        else Row(ids(i), ids(r), r == i))
    }
    // the loop's schema: min() and the keep comparison are nullable
    spark.createDataFrame(out, StructType(Seq(
      StructField("node", idType, nodeNullable),
      StructField("cluster_id", idType, nullable = true),
      StructField("keep", BooleanType, nullable = true))))
  }

  /** The distributed route of [[connectedComponentsWithin]]: min-label
    * propagation with pointer doubling over the symmetric closure of the
    * (src, dst) edges `e`. */
  private def labelLoop(e: DataFrame, maxIter: Int): DataFrame = {
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    // The previous label rides along as `old` (non-null exactly on the
    // labels arm; max() ignores the nulls) so convergence is a plain
    // filter-count over the checkpointed generation — no per-round
    // labels⋈next join job, which halves the loop's contention-sensitive
    // job count.
    val settled = (g: DataFrame, r: Int) =>
      r > 0 && g.filter(col("lab") < col("old")).count() == 0
    val last = Cuts.generations(sym.select(col("src").as("node")).distinct()
        .withColumn("lab", col("node")), maxIter, settled) { (g, _) =>
      val labels = g.select(col("node"), col("lab"))
      val nullLab = when(lit(false), col("lab"))
      val viaNbr = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), labels("lab").as("lab"))
      val prop = labels.withColumn("old", col("lab"))
        .unionAll(viaNbr.withColumn("old", nullLab))
        .groupBy(col("node")).agg(min(col("lab")).as("lab"),
          max(col("old")).as("old"))
      // pointer doubling: node → lab(lab(node)). Labels only ever shrink
      // toward the component minimum, so unioning the shortcut in and
      // re-minimizing preserves the fixpoint while squaring path reach.
      val shortcut = prop.as("a").join(prop.as("b"),
          col("a.lab") === col("b.node"))
        .select(col("a.node").as("node"), col("b.lab").as("lab"),
          col("a.old").as("old"))
      prop.unionAll(shortcut)
        .groupBy(col("node")).agg(min(col("lab")).as("lab"),
          max(col("old")).as("old"))
    }
    sym.unpersist()
    last.select(col("node"), col("lab").as("cluster_id"),
      (col("node") === col("lab")).as("keep"))
  }

  /** Representative selection after cluster resolution: one winner per
    * cluster by (`scoreCol` desc, id asc) — the pick [[connectedComponents]]'s
    * min-id `keep` column does NOT make. Public pipeline recipes keep the
    * BEST duplicate (Dolma: the longest; quality-scored corpora: the
    * highest-scoring), and which doc survives dedup materially changes
    * the training set. The tie-break on id keeps the choice total, so
    * the same winner emerges on every engine/run.
    *
    * One equi-join (clusters are a vertex list — tiny next to the
    * corpus, AQE broadcasts it) + one window whose partition is a
    * cluster (bounded by duplicate multiplicity, the
    * [[graft.text.Segments.lineDedupDocs]] bound — never corpus size).
    *
    * @param clusters [[connectedComponents]] output (node, cluster_id, …)
    * @param docs     frame carrying `idCol` and `scoreCol`
    * @return (cluster_id, idCol, scoreCol, rep: winner flag) */
  def clusterRepresentatives(clusters: DataFrame, docs: DataFrame,
      idCol: String, scoreCol: String): DataFrame =
    clusters.join(docs, clusters("node") === docs(idCol))
      .select(col("cluster_id"), col(idCol), col(scoreCol))
      .withColumn("rep",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))
          .orderBy(col(scoreCol).desc, col(idCol))) === 1)

  /** q72's aggregation as a composable op over a cluster frame
    * ([[connectedComponents]] output or [[readClusters]]): docs in dup
    * clusters, cluster count, removal count, biggest cluster. */
  def dedupReport(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .agg(sum(col("sz")).as("n_docs_clustered"),
        count(lit(1)).as("n_clusters"),
        (sum(col("sz")) - count(lit(1))).as("n_removed"),
        max(col("sz")).as("max_cluster_size"))

  /** q107's aggregation as a composable op over a pair frame: near-dup
    * pairs rolled up by (source, source), orientation canonicalized so
    * the matrix is triangular. `docSources` carries (idCol, srcCol). */
  def dupFlowMatrix(pairs: DataFrame, docSources: DataFrame,
      idCol: String, srcCol: String): DataFrame = {
    val src = docSources.select(col(idCol), col(srcCol))
    pairs
      .join(src.select(col(idCol).as("d1"), col(srcCol).as("s1")), "d1")
      .join(src.select(col(idCol).as("d2"), col(srcCol).as("s2")), "d2")
      .groupBy(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Cluster-aware train/val/test split: the deterministic hash split
    * ([[graft.ops.Sampling.assignSplit]]) keyed by near-dup CLUSTER id
    * instead of document id, so every member of a cluster lands in the
    * SAME split. A per-doc split silently violates the leakage guarantee
    * the split exists for — two near-identical documents straddling
    * train/test leak the test set into training (Lee et al. 2022 measure
    * exactly this in C4). Docs in no cluster key by their own id, which
    * preserves the per-doc split's uniformity for the non-dup mass.
    *
    * Scale shape: the cluster frame is |clustered docs| ≪ corpus and
    * joins back keyed by id (broadcast when small); the split itself is
    * a pure scan-side expression — no extra shuffle beyond the join.
    *
    * @param pairs near-dup pairs (d1, d2) — [[lshCandidatePairs]]
    *              verified output or [[readClusterPairs]]
    * @return (idCol, cluster_key, split) one row per input doc */
  def clusterSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
      salt: String, fracs: Seq[(String, Double)]): DataFrame = {
    val clusters = connectedComponents(pairs)
      .select(col("node").as(idCol), col("cluster_id"))
    val keyed = docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left_outer")
      .withColumn("cluster_key", coalesce(col("cluster_id"), col(idCol)))
      .select(col(idCol), col("cluster_key"))
    graft.ops.Sampling.assignSplit(keyed, col("cluster_key"), salt, fracs)
  }

  /** Materialized dedup-chain contract: run the expensive
    * minhash→LSH→verify chain ONCE, write its two products — the
    * verified pair list and the resolved clusters — and let every
    * consumer ([[dedupReport]], [[clusterRepresentatives]],
    * [[dupFlowMatrix]], removal anti-joins) READ them instead of
    * re-deriving the chain per query. The oracle gate keeps each query
    * self-contained (q37/q72/q90/q107 recompute by design, priced in
    * the bench's x37 chain-once entry); a production corpus pipeline
    * runs THIS once per corpus version. The clusters are computed from
    * the just-written pairs parquet, so the CC iterations also re-read
    * a materialized leaf, never the minhash lineage.
    *
    * Layout: `dir/pairs` (d1, d2, + whatever rode in, e.g.
    * est_jaccard), `dir/clusters` (node, cluster_id, keep). */
  def writeClusterTable(pairs: DataFrame, dir: String): Unit = {
    val spark = pairs.sparkSession
    pairs.write.mode("overwrite").parquet(s"$dir/pairs")
    connectedComponents(readClusterPairs(spark, dir))
      .write.mode("overwrite").parquet(s"$dir/clusters")
  }

  /** Read back [[writeClusterTable]]'s pair list. */
  def readClusterPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = spark.read.parquet(s"$dir/pairs")

  /** Read back [[writeClusterTable]]'s resolved clusters. */
  def readClusters(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = spark.read.parquet(s"$dir/clusters")

  /** Contiguous partition of `totalBits` signature bits into `bands`
    * near-equal spans, as (offset, width) per band. Pigeonhole contract:
    * a pair within hamming ≤ bands − 1 has too few differing bits to touch
    * every band, so it shares at least one band exactly and is ALWAYS a
    * candidate. The same layout generates the DuckDB oracle fragments
    * (graft.queries.Vectors) so the two engines cannot drift. */
  def bandLayout(bands: Int, totalBits: Int = 60): Seq[(Int, Int)] = {
    require(bands >= 1 && bands <= totalBits, s"bands=$bands out of range")
    val base = totalBits / bands
    val rem = totalBits % bands
    val widths = Seq.tabulate(bands)(b => base + (if (b < rem) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** SimHash near-dup candidates: band-blocked self-join, verified with
    * `bit_count(xor)`. Bands default to `maxHamming + 1`, which by the
    * [[bandLayout]] pigeonhole argument makes recall within the advertised
    * radius EXACTLY 1 — round 2 ran 4 fixed bands with `maxHamming = 16`
    * and silently under-reported pairs at hamming 4–16.
    *
    * Cost scales with the radius: bands−1 = maxHamming means band width
    * ~60/(maxHamming+1) bits, so buckets coarsen (≈ n²/2^width candidate
    * pairs per band) as the radius widens. A wide radius over a short
    * signature is inherently expensive — prefer raising signature bits
    * (`simhash(bits = …)`) over radius if candidate volume bites. Passing
    * an explicit smaller `bands` trades that guarantee for fewer, finer
    * bands (recall < 1 beyond bands−1). */
  def simhashPairs(sigs: DataFrame, idCol: String, maxHamming: Int,
      bands: Int = -1): DataFrame = {
    val layout = bandLayout(if (bands > 0) bands else maxHamming + 1)
    val banded = sigs.select(col(idCol), col("simhash"),
      posexplode(array(layout.map { case (off, w) =>
        shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1)) }: _*)))
      .toDF(idCol, "simhash", "band", "band_bits")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_bits") === col("b.band_bits") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1997) — the
    * entity-resolution candidate generator for DIRTY keys, where
    * [[tokenLinkPairs]]' set-overlap blocking is the wrong lens: records
    * sort by a fabricated key (here the caller's `sortKey`; classically
    * last-name+zip), and only records within `window` positions of each
    * other in that order become candidates — O(n·window) pairs
    * regardless of how skewed any blocking value is. Misses (true
    * matches farther than `window` apart, or split across bucket
    * boundaries) are the method's documented trade, answered by
    * multi-pass: union passes with independent keys (the fixture query
    * runs one; production runs 2–3).
    *
    * Scale shape: the sort is NEVER global — records partition by the
    * leading `bucketLen` chars of the key (lexicographically ALIGNED
    * with the sort, so in-bucket neighborhoods are exactly the global
    * neighborhoods not crossing a bucket edge), then one windowed
    * row_number per bucket and ONE self-join on (bucket, rn-range).
    * Candidates verify by exact distinct-token Jaccard with an
    * integer cross-multiplied accept.
    *
    * @param minJaccardNum/@param minJaccardDen accept threshold as a
    *        rational: keep pairs with den·|∩| ≥ num·|∪|
    * @return (left_id, right_id, inter, jaccard) — left_id is the
    *         neighborhood-earlier record */
  /** Shared SN candidate generator: (left_id, right_id, __pa, __pb) —
    * the ≤`window−1` in-order neighbors per record, with `payload`
    * carried through for the caller's verifier. See
    * [[sortedNeighborhoodPairs]] for the banding rationale. */
  private def snCandidates(records: DataFrame, idCol: String,
      payload: Column, sortKey: Column, window: Int,
      bucketLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window.partitionBy
    val base = records
      .select(col(idCol), sortKey.as("__key"), payload.as("__p"))
      .withColumn("__bkt", substring(col("__key"), 1, bucketLen))
      .withColumn("__rn", row_number().over(
        partitionBy(col("__bkt")).orderBy(col("__key"), col(idCol))))
      // rn-bands of `window` rows: a within-window pair sits in the same
      // band or adjacent bands, so the self-join can be EQUI on
      // (bucket, band) — without the band key, a skewed bucket (low-
      // entropy keys) degenerates to an O(|bucket|²) nested-loop with
      // the rn-range as a mere post-filter (measured 245 s at sf0.1 on
      // this corpus' 31-type vocabulary; banded: ~1 s)
      .withColumn("__blk", expr(s"(__rn - 1) div $window"))
      .persist() // feeds both self-join arms
    val sameBlk = base.as("a").join(base.as("b"),
      col("a.__bkt") === col("b.__bkt") &&
        col("a.__blk") === col("b.__blk") &&
        col("b.__rn") > col("a.__rn"))
    val nextBlk = base.as("a").join(base.as("b"),
      col("a.__bkt") === col("b.__bkt") &&
        col("b.__blk") === col("a.__blk") + 1L &&
        col("b.__rn") <= col("a.__rn") + lit(window - 1))
    sameBlk.unionAll(nextBlk)
      .select(col(s"a.$idCol").as("left_id"),
        col(s"b.$idCol").as("right_id"),
        col("a.__p").as("__pa"), col("b.__p").as("__pb"))
  }

  def sortedNeighborhoodPairs(records: DataFrame, idCol: String,
      textCol: String, sortKey: Column, window: Int,
      minJaccardNum: Long, minJaccardDen: Long,
      bucketLen: Int = 2): DataFrame = {
    require(window >= 2 && bucketLen >= 1 && minJaccardDen > 0)
    val pairs = snCandidates(records, idCol,
        array_distinct(TextAnalysis.tokens(col(textCol))), sortKey,
        window, bucketLen)
      .select(col("left_id"), col("right_id"),
        size(array_intersect(col("__pa"), col("__pb")))
          .cast("long").as("inter"),
        (size(col("__pa")) + size(col("__pb"))).cast("long").as("__sz"))
      // the union-size guard also rejects empty-vs-empty pairs (0/0 has
      // no similarity verdict, and the double would be NaN)
      .filter(col("__sz") - col("inter") > 0 &&
        lit(minJaccardDen) * col("inter") >=
          lit(minJaccardNum) * (col("__sz") - col("inter")))
    pairs.withColumn("jaccard",
        col("inter").cast("double") / (col("__sz") - col("inter")))
      .select(col("left_id"), col("right_id"), col("inter"), col("jaccard"))
  }

  /** [[sortedNeighborhoodPairs]] with EDIT-DISTANCE verification — the
    * character-level linkage rule for dirt token sets can't see
    * (transposed letters, OCR confusions, truncation): candidates from
    * the same banded SN pass, accepted when `levenshtein ≤ maxDist`.
    * Spark evaluates the THRESHOLDED form (O(len·maxDist) with early
    * abandon instead of O(len²)); the accepted distances are identical
    * to the full computation, which is what the oracle runs. Verify on
    * a bounded payload (e.g. a prefix) when corpus strings are long —
    * the verifier cost is per-candidate, not per-corpus.
    *
    * @return (left_id, right_id, dist) */
  def sortedNeighborhoodEditPairs(records: DataFrame, idCol: String,
      payload: Column, sortKey: Column, window: Int, maxDist: Int,
      bucketLen: Int = 2): DataFrame = {
    require(window >= 2 && bucketLen >= 1 && maxDist >= 0)
    snCandidates(records, idCol, payload, sortKey, window, bucketLen)
      .select(col("left_id"), col("right_id"),
        levenshtein(col("__pa"), col("__pb"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0L) // -1 = threshold exceeded
  }

  /** 1-BIT MINWISE estimation (Li & König 2010) alongside the full
    * estimate: keep only each minhash's PARITY — signatures shrink 60×
    * (one bit vs a 60-bit value per hash) — and recover Jaccard from
    * bit agreement via `Ĵ = 2·(agree/k − ½)` (for near-uniform parities,
    * the b=1 correction). The SLA: at equal storage you afford 60× more
    * hashes, so the compressed estimator usually WINS at scale; this
    * op reports both estimates per candidate pair so the trade is
    * measured, not assumed.
    *
    * Same LSH candidate generation as [[minhashSignatures]] +
    * [[lshCandidatePairs]]; everything integer/exact until the two
    * ratio readouts.
    *
    * @return (d1, d2, est_jaccard, bit_agree, est_jaccard_1bit)
    */
  def bbitMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 16,
      hash: Column => Column = Hash64.hash60): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, w, k, hash)
      .persist()
    val bits = (a: Column) => transform(a, x => x % 2)
    val bitAgree = (a: Column, b: Column) =>
      aggregate(zip_with(bits(a), bits(b),
        (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v)
    lshCandidatePairs(sig, idCol, "sig")
      .join(sig.as("s1"), col("d1") === col(s"s1.$idCol"))
      .join(sig.as("s2"), col("d2") === col(s"s2.$idCol"))
      .select(col("d1"), col("d2"),
        sigAgreement(col("s1.sig"), col("s2.sig")).as("est_jaccard"),
        bitAgree(col("s1.sig"), col("s2.sig")).as("bit_agree"))
      .withColumn("est_jaccard_1bit",
        lit(2.0) * (col("bit_agree").cast("double") / k - lit(0.5)))
  }

  /** [[sortedNeighborhoodPairs]] with JARO–WINKLER verification via the
    * native [[graft.functions.JaroWinkler]] expression (codegen
    * expression #7) — the name/identifier linkage rule: transpositions
    * near-free, shared prefixes boosted, where [[
    * sortedNeighborhoodEditPairs]]' Levenshtein charges every slot
    * equally. Similarities replicate DuckDB's builtin bit-for-bit, so
    * the double threshold agrees cross-engine.
    *
    * @return (left_id, right_id, jw) — pairs with jw ≥ minJw */
  def sortedNeighborhoodJwPairs(records: DataFrame, idCol: String,
      payload: Column, sortKey: Column, window: Int, minJw: Double,
      bucketLen: Int = 2): DataFrame = {
    require(window >= 2 && bucketLen >= 1)
    snCandidates(records, idCol, payload, sortKey, window, bucketLen)
      .select(col("left_id"), col("right_id"),
        graft.functions.JaroWinkler.jaroWinkler(col("__pa"), col("__pb"))
          .as("jw"))
      .filter(col("jw") >= minJw)
  }

  /** Cross-source EXACT-duplicate matrix — the provenance readout over
    * q12/q22's fingerprint identity: for every source pair (a ≤ b), how
    * many fingerprint groups have copies in both and how many duplicate
    * PAIRS they contribute (c_a·c_b across sources, C(c,2) within).
    * This is the "which sources copy which" number that licensing and
    * mixture decisions consume, and the exact-dup face of q370's
    * cluster-based lift.
    *
    * Plan: one fingerprint aggregation to (fp, source, c) — duplicate-
    * mass-sized, NOT corpus-sized — then a per-fp cell self-join on
    * source order. The join is quadratic only in DISTINCT SOURCES PER
    * FINGERPRINT (the source catalog is a stated, bounded set — the
    * markov-channel contract); pair masses c_a·c_b are duplicate-group
    * products, documented long-range (a single 3e9-copy group would
    * need the DECIMAL ladder first).
    *
    * @return (src_a, src_b, n_groups, n_pairs), rows with n_pairs > 0 */
  def crossSourceExactMatrix(docs: DataFrame, idCol: String,
      srcCol: String, textCol: String): DataFrame = {
    val cells = docs
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"),
        col(srcCol).as("__src"))
      .groupBy(col("__fp"), col("__src"))
      .agg(count(lit(1)).as("__c"))
    val a = cells.select(col("__fp"), col("__src").as("src_a"),
      col("__c").as("__ca"))
    val b = cells.select(col("__fp"), col("__src").as("src_b"),
      col("__c").as("__cb"))
    a.join(b, Seq("__fp")).where(col("src_a") <= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("src_a") === col("src_b"),
          expr("__ca * (__ca - 1) div 2"))
          .otherwise(col("__ca") * col("__cb"))).as("n_pairs"))
      .where(col("n_pairs") > 0L)
  }

  /** DuckDB oracle for [[crossSourceExactMatrix]]: `innerSql` yields
    * (id, src, text). */
  def crossSourceExactMatrixOracleSql(innerSql: String): String =
    s"""WITH d AS ($innerSql), cells AS (
       |  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
       |           AS fp,
       |         src, CAST(count(*) AS BIGINT) AS c
       |  FROM d GROUP BY 1, 2
       |)
       |SELECT a.src AS src_a, b.src AS src_b,
       |       CAST(count(*) AS BIGINT) AS n_groups,
       |       CAST(sum(CASE WHEN a.src = b.src
       |                     THEN a.c * (a.c - 1) // 2
       |                     ELSE a.c * b.c END) AS BIGINT) AS n_pairs
       |FROM cells a JOIN cells b ON a.fp = b.fp AND a.src <= b.src
       |GROUP BY 1, 2
       |HAVING sum(CASE WHEN a.src = b.src THEN a.c * (a.c - 1) // 2
       |                ELSE a.c * b.c END) > 0""".stripMargin
}
