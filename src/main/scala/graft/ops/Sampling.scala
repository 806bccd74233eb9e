package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hash64

/** Deterministic sampling and dataset splitting on the portable hash —
  * the reproducibility layer a training-data pipeline needs that
  * `df.sample()` cannot give it: `sample()` draws from a per-partition RNG
  * stream, so results change with partitioning, retries and engine — a
  * rerun ships different training data. Hash-mod sampling is a pure
  * function of (salt, key): stable across runs, partitionings, engines
  * (DuckDB oracles it — q43), and additive (raising a rate keeps every
  * previously sampled row — crucial for incremental corpus growth).
  *
  * All decisions are per-row expressions: no shuffle, no RNG state, and
  * the sample survives predicate pushdown (the filter sits on the scan).
  */
object Sampling {

  /** Uniform bucket in [0, mod) from the salted key — the shared
    * primitive. Distinct salts give independent decisions (the md5 base
    * hash decorrelates them), so a sampling pass and a split pass on the
    * same key don't interact.
    *
    * NULL keys bucket to NULL (`concat`, like SQL `||`, propagates null —
    * `concat_ws` would silently hash the bare salt), so a null-keyed row
    * is dropped by [[stratifiedSample]]'s comparison and falls to the
    * last label in [[assignSplit]] — matching the generated oracle SQL
    * exactly instead of by luck. */
  def hashBucket(key: Column, salt: String, mod: Int = 10000): Column =
    Hash64.hash60(concat(lit(salt), lit("_"), key.cast("string"))) % mod

  /** DuckDB fragment computing the same bucket. */
  def hashBucketSql(keyExpr: String, salt: String, mod: Int = 10000): String =
    s"${Hash64.duckSql(s"'$salt' || '_' || CAST($keyExpr AS VARCHAR)")} % $mod"

  /** DuckDB threshold CASE mirroring [[stratifiedSample]]'s rate map —
    * generated from the SAME Scala values so engines cannot drift. */
  def rateThresholdSql(strataExpr: String, rates: Map[String, Double],
      defaultRate: Double, mod: Int = 10000): String =
    rates.toSeq.sortBy(_._1)
      .map { case (s, r) => s"WHEN '$s' THEN ${(r * mod).round}" }
      .mkString(s"CASE $strataExpr ", " ", s" ELSE ${(defaultRate * mod).round} END")

  /** DuckDB split CASE mirroring [[assignSplit]]'s fractions. */
  def splitCaseSql(keyExpr: String, salt: String,
      fracs: Seq[(String, Double)], mod: Int = 10000): String = {
    val b = hashBucketSql(keyExpr, salt, mod)
    val cuts = fracs.scanLeft(0.0)(_ + _._2).tail
    fracs.zip(cuts).init
      .map { case ((label, _), cut) => s"WHEN $b < ${(cut * mod).round} THEN '$label'" }
      .mkString("CASE ", " ", s" ELSE '${fracs.last._1}' END")
  }

  /** Keep rows where the salted key falls under the stratum's rate:
    * per-stratum rates in [0,1] resolve to per-mille-of-mod thresholds.
    * Strata absent from `rates` get `defaultRate`. Thresholds are rounded
    * to INTEGERS at plan-build time — comparing against `rate * mod` as a
    * double would disagree with the (rounded) oracle SQL on keys hashing
    * exactly to the boundary bucket (0.1 * 10000 = 1000.0000000000001). */
  def stratifiedSample(df: DataFrame, key: Column, strata: Column,
      rates: Map[String, Double], defaultRate: Double, salt: String,
      mod: Int = 10000): DataFrame = {
    val threshold = rates.foldLeft(lit((defaultRate * mod).round)) {
      case (acc, (s, r)) => when(strata === s, lit((r * mod).round)).otherwise(acc)
    }
    df.filter(hashBucket(key, salt, mod) < threshold)
  }

  /** Append a `split` column assigning train/validation/test (or any
    * labeled fractions) by hash range. Fractions must sum to ≤ 1; the
    * remainder gets the last label. A row's split NEVER changes across
    * runs or engines — the leakage guarantee train/test separation needs. */
  def assignSplit(df: DataFrame, key: Column, salt: String,
      fracs: Seq[(String, Double)], mod: Int = 10000): DataFrame = {
    val b = hashBucket(key, salt, mod)
    val cuts = fracs.scanLeft(0.0)(_ + _._2).tail
    // rounded-integer cuts, same values the SQL generator emits — double
    // cut accumulation (0.8 + 0.1 = 0.9000000000000001) would misassign
    // the exact boundary bucket relative to the oracle
    val expr = fracs.zip(cuts).init.foldRight(lit(fracs.last._1): Column) {
      case (((label, _), cut), acc) =>
        when(b < (cut * mod).round, lit(label)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Domain mixing: deterministically downsample each domain toward a
    * TARGET corpus composition — the "20% code, 30% web, …" reweighting
    * step of a pretraining data recipe. Targets are rationals
    * (`domain → num/den` of the output budget, which is itself
    * `totalNum/totalDen` of the corpus), and the acceptance test is pure
    * integer arithmetic: row accepted iff
    * `bucket(key) · n_domain < target_domain · mod`, which realizes rate
    * `min(1, target/n_domain)` — the cap is automatic, since
    * `target ≥ n_domain` accepts every bucket. No floats anywhere, so
    * the mix is reproducible across runs/partitionings/engines (q66).
    *
    * Scale shape: domain counts are one map-side-combinable aggregation;
    * the (tiny) count frame joins back keyed by domain and the one-row
    * total broadcasts; the accept test is a per-row expression on the
    * scan. Domains needing UPsampling (target > n_domain) are capped at
    * rate 1 — replication is a separate, explicit step.
    */
  def mixSample(docs: DataFrame, key: Column, domainCol: String,
      targets: Map[String, (Long, Long)], default: (Long, Long),
      totalNum: Long, totalDen: Long, salt: String,
      mod: Int = 10000): DataFrame = {
    val counts = docs.groupBy(col(domainCol)).agg(count(lit(1)).as("__n_s"))
    val total = docs.agg(count(lit(1)).as("__n"))
    val budget = s"(($totalNum * __n) div $totalDen)"
    val (dn, dd) = default
    val targetS = targets.toSeq.sortBy(_._1)
      .foldLeft(expr(s"($dn * $budget) div $dd")) {
        case (acc, (s, (num, den))) =>
          when(col(domainCol) === s, expr(s"($num * $budget) div $den"))
            .otherwise(acc)
      }
    docs.join(counts, domainCol).crossJoin(broadcast(total))
      .filter(hashBucket(key, salt, mod).cast("long") * col("__n_s") <
        targetS * lit(mod.toLong))
      .drop("__n_s", "__n")
  }

  /** DuckDB acceptance predicate mirroring [[mixSample]] (the caller
    * wraps it in the same counts/total join). */
  def mixPredicateSql(keyExpr: String, domainExpr: String,
      targets: Map[String, (Long, Long)], default: (Long, Long),
      totalNum: Long, totalDen: Long, salt: String,
      mod: Int = 10000): String = {
    val budget = s"(($totalNum * __n) // $totalDen)"
    val (dn, dd) = default
    val cases = targets.toSeq.sortBy(_._1)
      .map { case (s, (num, den)) =>
        s"WHEN '$s' THEN ($num * $budget) // $den" }
      .mkString(" ")
    val targetS =
      s"CASE $domainExpr $cases ELSE ($dn * $budget) // $dd END"
    s"${hashBucketSql(keyExpr, salt, mod)} * __n_s < ($targetS) * $mod"
  }

  /** Weight-proportional deterministic sampling: row accepted iff
    * `bucket(key) · maxW < w · mod` — realizes per-row rate
    * `min(1, w/maxW)` (rows with `w ≥ maxW` always survive) with the
    * same pure-integer, pure-expression machinery as [[mixSample]]'s
    * acceptance test: no floats, no RNG, reproducible across
    * runs/partitionings/engines, survives predicate pushdown. The
    * quality-weighted corpus-sampling primitive ("keep better documents
    * with higher probability") public pipelines apply between hard
    * filtering and uniform sampling. Raising a row's weight can only
    * keep it (additive, like every sampler here).
    *
    * `w` must be a non-negative integer column; `maxW` is the weight
    * scale (caller-owned — a runtime max would make acceptance depend
    * on unrelated rows). */
  def weightedSample(df: DataFrame, key: Column, w: Column, maxW: Long,
      salt: String, mod: Int = 10000): DataFrame = {
    require(maxW >= 1, s"maxW must be >= 1, got $maxW")
    df.filter(hashBucket(key, salt, mod).cast("long") * maxW < w * mod)
  }

  /** DuckDB predicate mirroring [[weightedSample]]. */
  def weightedSampleSql(keyExpr: String, wExpr: String, maxW: Long,
      salt: String, mod: Int = 10000): String =
    s"${hashBucketSql(keyExpr, salt, mod)} * $maxW < ($wExpr) * $mod"

  /** The salted 60-bit priority shared by [[capPerKey]], [[capPerKeyIds]],
    * [[capPrioritySql]]'s oracle mirror and
    * [[graft.sources.Partitioned.writeShuffled]] — ONE definition, so the
    * equal-winners and oracle contracts cannot drift apart. */
  def saltedPriority(id: Column, salt: String): Column =
    Hash64.hash60(concat(lit(salt), lit("_"), id.cast("string")))

  /** Per-key row cap: keep at most `k` rows per `keyCol`, selected by
    * the salted-hash order of `id` — a deterministic reservoir (the same
    * `k` rows win on every run, partitioning, and engine; the hash order
    * makes the pick unbiased rather than prefix-biased). The per-source
    * document cap every corpus-mixing recipe applies before rate
    * balancing: [[mixSample]] shapes proportions, this bounds absolute
    * volume.
    *
    * One shuffle, keyed by `keyCol`; the `row_number` sort is per-key.
    * A pathological mega-key sorts its whole partition — for that shape,
    * pre-thin with [[stratifiedSample]] at a rate that leaves ~k·fudge
    * rows, then cap exactly (documented contract, same as the skew-salt
    * preconditions in [[graft.ops.Skew]]). Ties on the 60-bit hash
    * break by `id` so the cut is total even under collisions.
    *
    * @return input rows minus those over the cap (original columns) */
  def capPerKey(df: DataFrame, keyCol: Column, id: Column, k: Int,
      salt: String): DataFrame = {
    require(k >= 1, s"cap must be >= 1, got $k")
    df.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(keyCol).orderBy(saltedPriority(id, salt), id)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** DuckDB fragment computing [[capPerKey]]'s priority for the oracle's
    * matching `row_number` window. */
  def capPrioritySql(idExpr: String, salt: String): String =
    Hash64.duckSql(s"'$salt' || '_' || CAST($idExpr AS VARCHAR)")

  /** Mega-key-safe form of [[capPerKey]]: the SAME winners — k smallest
    * (salted hash, id) per key — selected by a two-phase bounded-buffer
    * aggregation ([[graft.similarity.TopK.bottomKLongPerGroup]]) instead
    * of a window. The window form sorts each key's whole partition, so
    * one 10⁹-row key sorts 10⁹ rows in one task; here every map task
    * emits ≤ k rows per key and the shuffle carries |keys|·|tasks|·k
    * rows — scan-bound regardless of skew (the round-2 top-k lesson
    * applied to sampling). Emits (keyCol, id) only; callers needing full
    * rows semi-join the winners back (broadcastable whenever |keys|·k
    * is, which is the normal cap regime — thousands of sources × a
    * per-source cap).
    *
    * Long scores on purpose: a double-scored buffer would corrupt the
    * order of 60-bit hash priorities beyond 2⁵³. Contract narrower than
    * [[capPerKey]]'s: `idCol` must be integral (the typed aggregator
    * buffers (Long, Long)) and non-null — a null id fails the tuple
    * encoder at runtime. The window form has neither restriction; use it
    * for exotic id types and pre-filter nulls here. */
  def capPerKeyIds(df: DataFrame, keyCol: String, idCol: String, k: Int,
      salt: String): DataFrame = {
    require(k >= 1, s"cap must be >= 1, got $k")
    graft.similarity.TopK.bottomKLongPerGroup(
        df.select(col(keyCol), col(idCol),
          saltedPriority(col(idCol), salt).as("__pri")),
        Seq(keyCol), idCol, "__pri", k)
      .select(col(keyCol), col(idCol))
  }

  /** Materialize a per-key TOKEN-budget sample — the sampling pass that
    * EXECUTES [[waterFillAllocation]]'s plan (round-10 item 3): docs in
    * the deterministic salted-hash order per key, kept while the
    * running token total (inclusive) stays within the key's allocation.
    * Winners form a PREFIX of the salted order (the [[capPerKeyIds]]
    * property lifted from row counts to token mass): raising a key's
    * allocation only ADDS winners, never changes existing ones, and a
    * re-run picks identical winners — the reproducibility contract a
    * training-corpus build publishes.
    *
    * Never overshoots: the inclusive running sum must fit, so the
    * budget miss is bounded by one document per key.
    *
    * MEGA-KEY-SAFE two-phase plan (the [[capPerKeyIds]] treatment
    * lifted to prefix sums): a per-key window would sort an ENTIRE
    * key's docs in one task — at 100 TB a dominant source (a web crawl
    * is routinely >80% of docs) is a single-task sort of billions of
    * rows. Instead the 60-bit salted priority is split into `bands`
    * DETERMINISTIC hash-bands (`__pri >> shift` — monotone in priority,
    * so (band, pri, id) order ≡ (pri, id) order), and the global
    * running sum decomposes exactly:
    *   1. per-(key, band) token PARTIALS — one map-side-combined
    *      aggregation to a |keys|·bands-row frame;
    *   2. per-key prefix sum of the partials in band order — a window
    *      over the DIMENSION frame (≤ `bands` rows per key);
    *   3. a per-(key, band) LOCAL inclusive running sum + the band's
    *      offset — the biggest single-task sort is one band of one key,
    *      ~|key|/bands rows, regardless of skew.
    * The offsets join and the local window share (key, band)
    * partitioning, so the corpus shuffles ONCE for both; `cum_tokens`
    * is a pure function of the data (no partition ids, no sampling),
    * so winners are engine- and partitioning-independent — the oracle
    * replays the plain global window and must hash-match. The rate
    * form — [[weightedSample]] at rate alloc/avail — remains the
    * zero-sort scan-side alternative trading exact budget adherence
    * for expectation-level adherence; this operator is the exact form.
    *
    * @param bands power-of-two priority-band count (default 4096: a
    *              10⁹-doc source caps the per-task sort at ~250k rows)
    * @return docs' columns + `cum_tokens` (the inclusive running total
    *         in salted order — the audit column) */
  def tokenBudgetSample(docs: DataFrame, keyCol: String, idCol: String,
      nTokensCol: String, alloc: DataFrame, allocCol: String,
      salt: String, bands: Int = 4096): DataFrame =
    bandedPrefix(
      docs.join(broadcast(alloc.select(col(keyCol),
        col(allocCol).cast("long").as("__alloc"))), Seq(keyCol)),
      keyCol, idCol, col(nTokensCol), salt, bands, "cum_tokens")
      .filter(col("cum_tokens") <= col("__alloc"))
      .drop("__alloc")

  /** The MEGA-KEY-SAFE per-key inclusive running sum in salted-
    * priority order — [[tokenBudgetSample]]'s banded two-phase
    * decomposition factored out for every operator that needs a
    * per-key rank or prefix sum over a corpus whose keys can be a
    * dominant source (the [[interleaveAudit]] / [[interleaveTokensAudit]]
    * family): priority bands are `__pri >> shift` (monotone in
    * priority), per-(key, band) partials aggregate map-side, the
    * offsets prefix-sum on the |keys|·bands dimension frame, and the
    * corpus window partitions by (key, band). With `value = lit(1L)`
    * the running sum IS the (pri, id)-order rank. The result is a pure
    * function of the data — identical to the single-window form at
    * every band count.
    *
    * @return df's columns + `outCol` (the inclusive running sum) */
  private[graft] def bandedPrefix(df: DataFrame, keyCol: String,
      idCol: String, value: Column, salt: String, bands: Int,
      outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bands >= 1 && (bands & (bands - 1)) == 0,
      s"bands must be a power of two, got $bands")
    val shift = 60 - java.lang.Long.numberOfTrailingZeros(bands.toLong).toInt
    val banded = df
      .withColumn("__bp_v", value.cast("long"))
      .withColumn("__pri", saltedPriority(col(idCol), salt))
      .withColumn("__band", shiftrightunsigned(col("__pri"), shift))
    val partials = banded
      .groupBy(col(keyCol), col("__band"))
      .agg(sum(col("__bp_v")).as("__bsum"))
    val wOff = Window.partitionBy(col(keyCol)).orderBy(col("__band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("__off",
        coalesce(sum(col("__bsum")).over(wOff), lit(0L)))
      .select(col(keyCol), col("__band"), col("__off"))
    val wLoc = Window.partitionBy(col(keyCol), col("__band"))
      .orderBy(col("__pri"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded
      .join(offsets, Seq(keyCol, "__band"))
      .withColumn(outCol, col("__off") + sum(col("__bp_v")).over(wLoc))
      .drop("__bp_v", "__pri", "__band", "__off")
  }

  /** DuckDB fragment: the [[tokenBudgetSample]] window + filter over a
    * derived table `dsSql` (must yield keyCol, idCol, nTokensCol and
    * any carried columns) joined to `allocSql` (keyCol, allocCol). */
  def tokenBudgetSampleOracleSql(dsSql: String, allocSql: String,
      keyCol: String, idCol: String, nTokensCol: String,
      allocCol: String, salt: String, carryCols: Seq[String]): String = {
    val cols = Seq(idCol, keyCol, nTokensCol) ++ carryCols
    val carry = cols.map("ds." + _).mkString(", ")
    s"""SELECT ${cols.mkString(", ")},
       |       CAST(cum_tokens AS BIGINT) AS cum_tokens FROM (
       |  SELECT $carry, a.$allocCol AS __alloc,
       |         sum(ds.$nTokensCol) OVER (PARTITION BY ds.$keyCol
       |           ORDER BY ${capPrioritySql(s"ds.$idCol", salt)}, ds.$idCol
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS cum_tokens
       |  FROM ($dsSql) ds JOIN ($allocSql) a ON ds.$keyCol = a.$keyCol
       |) WHERE cum_tokens <= __alloc""".stripMargin
  }

  /** Water-filling token-budget allocation — the mixture PLANNER whose
    * output [[mixSample]] executes: given per-source available tokens,
    * target weights, and a total budget of `(budgetNum/budgetDen) ·
    * Σavail`, allocate the budget proportionally to weight; a source
    * whose proportional demand exceeds its supply is CAPPED (takes all
    * it has) and its unused share re-floods the uncapped sources next
    * round. Fixed synchronous `rounds` (capping cascades at most
    * #sources times; 3 covers practical mixes) with an unrolled-replay
    * oracle — the k-core recipe applied to budget arithmetic. PURE
    * INTEGER throughout: demands are `wn·rem div remw` floor divisions,
    * so allocations are engine-exact longs.
    *
    * Scale shape: the state frame is SOURCE-cardinality (≪ corpus);
    * each round is one two-cell aggregate broadcast back — the corpus
    * itself is only touched by whatever produced `availCol` (e.g.
    * [[graft.text.Corpus.tokenAccounting]]'s one pass).
    *
    * @param weights  per-source weight numerators (any positive scale)
    * @return (srcCol, avail, wn, capped: 0/1, alloc) — Σalloc ≤ budget,
    *         alloc_i ≤ avail_i, uncapped allocs proportional to weight */
  def waterFillAllocation(perSource: DataFrame, srcCol: String,
      availCol: String, weights: Map[String, Long], defaultWeight: Long,
      budgetNum: Long, budgetDen: Long, rounds: Int = 3): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0 && budgetNum <= budgetDen,
      "budget must be a fraction of total supply in [0, 1]")
    require(rounds >= 1 && defaultWeight >= 0 &&
      weights.values.forall(_ >= 0))
    val wn = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (k, v)) => when(col(srcCol) === k, lit(v)).otherwise(acc) }
    val total = perSource.agg(sum(col(availCol)).as("__total"))
    // Each round references the previous state TWICE (the rem aggregate
    // + the next-generation projection), so left lazy the lineage fans
    // out 2^rounds — whatever produced `perSource` (a corpus aggregation
    // in q129's shape) re-executes 8× at rounds = 3 (q414's 172-Exchange
    // before-plan, plans/r14). The state is source-cardinality, so the
    // per-round eager cut is ~free (guide §7.2 duplicated subtrees;
    // unreplicated blocks — the documented checkpoint tradeoff).
    val st0 = perSource
      .select(col(srcCol), col(availCol).cast("long").as("avail"))
      .crossJoin(broadcast(total))
      .withColumn("__b", expr(s"(__total * $budgetNum) div $budgetDen"))
      .select(col(srcCol), col("avail"), wn.as("wn"), col("__b"),
        lit(false).as("capped"), lit(0L).as("demand"))
    val st = Cuts.generations(st0, rounds) { (st, _) =>
      val rem = st.agg(
        sum(when(col("capped"), col("avail")).otherwise(0L)).as("__used"),
        sum(when(!col("capped"), col("wn")).otherwise(0L)).as("__remw"))
      st.drop("demand").crossJoin(broadcast(rem))
        .withColumn("demand",
          when(col("capped"), col("avail"))
            .when(col("__remw") > 0,
              greatest(lit(0L), expr("wn * (__b - __used) div __remw")))
            .otherwise(lit(0L)))
        .withColumn("capped", col("capped") || col("demand") >= col("avail"))
        .select(col(srcCol), col("avail"), col("wn"), col("__b"),
          col("capped"), col("demand"))
    }
    st.select(col(srcCol), col("avail"), col("wn"),
      col("capped").cast("long").as("capped"),
      least(col("demand"), col("avail")).as("alloc"))
  }

  /** Temperature-scaled (α-sampling) mixture allocation — the
    * multilingual-pretraining standard (mBERT/XLM-R style): per-source
    * sampling mass ∝ n^α with α = 1/2, which flattens the mixture so
    * small sources (low-resource languages, niche domains) are not
    * drowned by the crawl's head. [[waterFillAllocation]] takes
    * CALLER-CHOSEN weights; this derives them FROM the supply itself.
    *
    * α = 1/2 realizes as integer sqrt: `floor(sqrt(n))` — IEEE sqrt is
    * correctly rounded and n < 2⁵² is exactly representable, so the
    * floor is bit-identical on both engines (the one non-rational α
    * that stays engine-exact; other α would need float pow). Pass
    * `weightOf` to swap the weight map (identity = proportional
    * sampling — the degenerate check in the spec).
    *
    * All integer: budget = (Σn · num) div den; alloc = (budget · w) div
    * Σw; `alloc_capped` additionally bounds by supply (α-flattening
    * UPsamples small sources — replication beyond supply is a separate,
    * explicit step, the [[mixSample]] convention).
    *
    * Scale shape: source-cardinality frame + two one-row broadcasts.
    *
    * @return (srcCol, n, w, alloc, alloc_capped) */
  def temperatureAllocation(perSource: DataFrame, srcCol: String,
      nCol: String, budgetNum: Long, budgetDen: Long,
      weightOf: Column => Column = c => floor(sqrt(c)).cast("long"))
      : DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0 && budgetNum <= budgetDen,
      "budget must be a fraction of total supply in [0, 1]")
    val base = perSource
      .select(col(srcCol), col(nCol).cast("long").as("n"))
      .withColumn("w", weightOf(col("n")))
    val tot = base.agg(sum(col("n")).as("__tn"), sum(col("w")).as("__tw"))
    base.crossJoin(broadcast(tot)) // one row — the stat-broadcast idiom
      .withColumn("alloc",
        expr(s"((__tn * $budgetNum) div $budgetDen) * w div __tw"))
      .select(col(srcCol), col("n"), col("w"), col("alloc"),
        least(col("alloc"), col("n")).as("alloc_capped"))
  }

  /** EXACT-count replication/downsampling to per-group targets: emit
    * exactly `alloc` rows per group — `alloc > n` replicates (the
    * upsampling [[temperatureAllocation]] and [[mixSample]] explicitly
    * leave to a separate step), `alloc < n` keeps exactly `alloc`
    * deterministically-chosen docs, `alloc = n` is identity. Every doc
    * gets `alloc div n` copies; the first `alloc mod n` docs in
    * salted-hash order get one more — so group totals hit the target
    * EXACTLY (rate-based samplers only hit it in expectation) and the
    * copy spread is maximally even (no doc is ever two copies ahead of
    * another).
    *
    * Deterministic: the extra-copy winners are the [[saltedPriority]]
    * order (ties by id), the same reservoir order [[capPerKey]] uses —
    * reruns, repartitions and engines agree. One per-group window
    * (bounded by group size — the [[capPerKey]] mega-key contract
    * applies) + two broadcast-scale joins; the explode emits target
    * rows, which is the job's output size.
    *
    * @param targets (srcCol, alloc) — group-cardinality frame
    * @return (idCol, srcCol, copy_idx) with copy_idx 1..k per doc */
  def replicateExact(df: DataFrame, srcCol: String, idCol: String,
      targets: DataFrame, salt: String): DataFrame = {
    val counts = df.groupBy(col(srcCol)).agg(count(lit(1)).as("__n"))
    val rn = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol))
      .orderBy(saltedPriority(col(idCol), salt), col(idCol)))
    df.select(col(idCol), col(srcCol))
      .join(broadcast(targets), srcCol)
      .join(broadcast(counts), srcCol)
      .withColumn("__rn", rn)
      .withColumn("__k",
        expr("alloc div __n") +
          when(col("__rn") <= col("alloc") % col("__n"), 1L).otherwise(0L))
      .filter(col("__k") >= 1L)
      .select(col(idCol), col(srcCol),
        explode(sequence(lit(1L), col("__k"))).as("copy_idx"))
  }

  /** DuckDB oracle for [[temperatureAllocation]]'s default α = 1/2.
    * `perSourceSql` must yield (source, n). */
  def temperatureOracleSql(perSourceSql: String, budgetNum: Long,
      budgetDen: Long): String =
    s"""WITH ps AS ($perSourceSql),
      |b AS (
      |  SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM ps
      |), tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(w) AS BIGINT) AS tw
      |  FROM b
      |)
      |SELECT source, n, w,
      |       ((tn * $budgetNum) // $budgetDen) * w // tw AS alloc,
      |       least(((tn * $budgetNum) // $budgetDen) * w // tw, n) AS alloc_capped
      |FROM b, tot""".stripMargin

  /** DuckDB oracle for [[waterFillAllocation]], unrolled from the same
    * recurrence. `perSourceSql` must yield (source, avail); the weight
    * CASE is generated from the same map. */
  def waterFillOracleSql(perSourceSql: String, weights: Map[String, Long],
      defaultWeight: Long, budgetNum: Long, budgetDen: Long,
      rounds: Int = 3): String = {
    val wCase =
      if (weights.isEmpty) defaultWeight.toString
      else weights.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN source = '$k' THEN $v" }
        .mkString("CASE ", " ", s" ELSE $defaultWeight END")
    val steps = (1 to rounds).map { r =>
      s"""rem$r AS (
         |  SELECT sum(CASE WHEN capped THEN avail ELSE 0 END) AS used,
         |         sum(CASE WHEN NOT capped THEN wn ELSE 0 END) AS remw
         |  FROM s${r - 1}
         |), s$r AS (
         |  SELECT source, avail, wn, b,
         |         capped OR demand >= avail AS capped, demand
         |  FROM (
         |    SELECT s.*, CASE WHEN capped THEN avail
         |                     WHEN remw > 0
         |                       THEN greatest(0, wn * (b - used) // remw)
         |                     ELSE 0 END AS demand
         |    FROM (SELECT source, avail, wn, b, capped FROM s${r - 1}) s, rem$r)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ps AS (
      |  SELECT source, avail, $wCase AS wn FROM ($perSourceSql)
      |), s0 AS (
      |  SELECT source, avail, wn,
      |         (SELECT (sum(avail) * $budgetNum) // $budgetDen FROM ps) AS b,
      |         FALSE AS capped, CAST(0 AS BIGINT) AS demand
      |  FROM ps
      |), $steps
      |SELECT source, CAST(avail AS BIGINT) AS avail, CAST(wn AS BIGINT) AS wn,
      |       CAST(capped AS BIGINT) AS capped,
      |       CAST(least(demand, avail) AS BIGINT) AS alloc
      |FROM s$rounds""".stripMargin
  }

  /** Poisson(1) CDF as literal 60-bit hash cutoffs — decimal constants
    * baked here ONCE, so the identical longs land in the Spark plan and
    * the oracle (no cross-engine `exp()` ever runs). Draws > 6 collapse
    * to 7 (P ≈ 8·10⁻⁵ — bias far below bootstrap noise). */
  private val poissonCum = Seq(0.36787944117144233, 0.7357588823428846,
    0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
    0.9994058151824183, 0.9999167588507119)
  private[ops] val poissonCuts: Seq[Long] =
    poissonCum.map(c => (c * 1152921504606846976.0).toLong)

  /** Deterministic POISSON BOOTSTRAP (the map-reduce bootstrap of
    * Chamandy et al. 2012): resample `b` times by giving each row a
    * Poisson(1) weight drawn from the portable hash of (id, replicate)
    * — no RNG state, no shuffling rows into resamples, identical
    * replicates on every engine/run/partitioning, which is what makes a
    * CI auditable. One pass regardless of `b` (the replicate fan-out is
    * a generator), exact integer (Σw, Σw·y) per replicate, one IEEE
    * division per mean. Feed the `b` means to the q40 quantile
    * machinery for the interval.
    *
    * @param y exact integer metric ([[Exact.cents]])
    * @return per replicate: (rep, n_eff, sum_wy, mean)
    */
  def bootstrapMeans(df: DataFrame, idCol: String, y: Column,
      b: Int = 32): DataFrame = {
    require(b >= 2)
    val cuts = poissonCuts
    val h = graft.functions.Hash64.hash60(
      concat(col(idCol).cast("string"), lit(":"),
        col("rep").cast("string")))
    val draw = cuts.zipWithIndex.foldRight(lit(cuts.length.toLong)) {
      case ((cut, k), elseCol) => when(h < cut, k.toLong).otherwise(elseCol)
    }
    df.select(col(idCol), y.as("__y"))
      .filter(col("__y").isNotNull)
      .withColumn("rep", explode(sequence(lit(0L), lit(b.toLong - 1))))
      .withColumn("__w", draw)
      .groupBy(col("rep"))
      .agg(sum(col("__w")).as("n_eff"),
        sum(col("__w") * col("__y")).as("sum_wy"))
      .withColumn("mean",
        when(col("n_eff") > 0,
          col("sum_wy").cast("double") / col("n_eff")))
  }

  /** DuckDB oracle for [[bootstrapMeans]]: `innerSql` yields
    * (`idName`, y). */
  def bootstrapOracleSql(innerSql: String, idName: String,
      b: Int = 32): String = {
    val h = graft.functions.Hash64.duckSql(
      s"CAST($idName AS VARCHAR) || ':' || CAST(rep AS VARCHAR)")
    val draw = poissonCuts.zipWithIndex.reverse
      .foldLeft(s"${poissonCuts.length}") {
        case (elseExpr, (cut, k)) =>
          s"CASE WHEN $h < $cut THEN $k ELSE $elseExpr END"
      }
    s"""WITH base AS (
       |  SELECT $idName, y FROM ($innerSql) WHERE y IS NOT NULL
       |), r AS (
       |  SELECT $idName, y, rep, CAST($draw AS BIGINT) AS w
       |  FROM base
       |  CROSS JOIN (SELECT unnest(range(0, $b)) AS rep)
       |), g AS (
       |  SELECT rep, CAST(sum(w) AS BIGINT) AS n_eff,
       |         CAST(sum(w * y) AS BIGINT) AS sum_wy
       |  FROM r GROUP BY 1
       |)
       |SELECT rep, n_eff, sum_wy,
       |       CASE WHEN n_eff > 0
       |         THEN CAST(sum_wy AS DOUBLE) / n_eff END AS mean
       |FROM g""".stripMargin
  }

  /** EFFECTIVE SAMPLE SIZE under weights (Kish): `n_eff = (Σw)²/Σw²` —
    * what n weighted rows are actually worth; the design effect
    * `n/n_eff` is the variance-inflation price of the weighting. The
    * number every weighted estimate (importance sampling, q139 DSIR,
    * q93 weighted draws) should report next to its mean.
    *
    * @param w exact integer weights ≥ 0
    * @return one row: (n, sum_w, sum_w2, n_eff, design_effect)
    */
  def effectiveSampleSize(df: DataFrame, w: Column): DataFrame =
    df.select(w.as("__w")).filter(col("__w").isNotNull)
      .agg(count(lit(1)).as("n"), sum(col("__w")).as("sum_w"),
        sum(col("__w") * col("__w")).as("sum_w2"))
      .withColumn("n_eff",
        when(col("sum_w2") > 0,
          col("sum_w").cast("double") * col("sum_w") / col("sum_w2")))
      .withColumn("design_effect",
        when(col("n_eff") > 0, col("n").cast("double") / col("n_eff")))

  /** DuckDB oracle for [[effectiveSampleSize]]: `innerSql` yields `w`. */
  def effectiveSampleSizeOracleSql(innerSql: String): String =
    s"""WITH g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(w) AS BIGINT) AS sum_w,
       |         CAST(sum(w * w) AS BIGINT) AS sum_w2
       |  FROM ($innerSql) WHERE w IS NOT NULL
       |)
       |SELECT n, sum_w, sum_w2,
       |       CASE WHEN sum_w2 > 0 THEN
       |         CAST(sum_w AS DOUBLE) * sum_w / sum_w2 END AS n_eff,
       |       CASE WHEN sum_w2 > 0
       |            AND CAST(sum_w AS DOUBLE) * sum_w / sum_w2 > 0 THEN
       |         CAST(n AS DOUBLE)
       |           / (CAST(sum_w AS DOUBLE) * sum_w / sum_w2) END
       |         AS design_effect
       |FROM g""".stripMargin

  /** Largest-remainder (Hamilton) apportionment: split an integer
    * budget of `seats` across groups proportionally to `weightCol`,
    * with Σ seats EXACT — floors first, then one extra seat to the
    * largest remainders. The integer-exact answer to "how many
    * sampled docs / training tokens / shard slots does each source
    * get" that per-group `round(share·S)` gets wrong (its sum drifts
    * off S by up to |groups|/2).
    *
    * Total order on the remainder ranking: (remainder desc, weight
    * desc, group asc) — deterministic under every partitioning, and the
    * oracle replays it exactly. Overflow bound: seats·weight < 2⁶³.
    *
    * Input contract: ONE row per group (aggregate upstream). All
    * windows run over the |groups|-sized frame, never a corpus.
    *
    * @return (groupCol, weight, base_seats, remainder, seats)
    */
  def apportion(df: DataFrame, groupCol: String, weightCol: String,
      seats: Long): DataFrame = {
    require(seats >= 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("remainder").desc, col("weight").desc, col(groupCol))
    df.select(col(groupCol), col(weightCol).as("weight"))
      .withColumn("__W", sum(col("weight")).over(wAll))
      .withColumn("base_seats", expr(s"($seats * weight) div __W"))
      .withColumn("remainder", expr(s"($seats * weight) % __W"))
      .withColumn("__extra", lit(seats) - sum(col("base_seats")).over(wAll))
      .withColumn("__r", row_number().over(wRank).cast("long"))
      .withColumn("seats",
        col("base_seats") + when(col("__r") <= col("__extra"), 1L)
          .otherwise(0L))
      .select(col(groupCol), col("weight"), col("base_seats"),
        col("remainder"), col("seats"))
  }

  /** DuckDB oracle for [[apportion]]: `innerSql` yields
    * (`groupName`, w) one row per group. */
  def apportionOracleSql(innerSql: String, groupName: String,
      seats: Long): String =
    s"""WITH b AS (
       |  SELECT $groupName, w AS weight FROM ($innerSql)
       |), f0 AS (
       |  SELECT *,
       |    CAST(($seats * weight) // sum(weight) OVER () AS BIGINT)
       |      AS base_seats,
       |    CAST(($seats * weight) % (sum(weight) OVER ()) AS BIGINT)
       |      AS remainder
       |  FROM b
       |), f AS (
       |  SELECT *, CAST($seats - sum(base_seats) OVER () AS BIGINT) AS extra
       |  FROM f0
       |), r AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY remainder DESC,
       |    weight DESC, $groupName) AS BIGINT) AS rk
       |  FROM f
       |)
       |SELECT $groupName, weight, base_seats, remainder,
       |       base_seats + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS seats
       |FROM r""".stripMargin

  /** DoReMi-flavored EXCESS-LOSS MIXTURE TILT — reweight domains toward
    * the ones a reference LM finds hard: per source, mean model
    * bits-per-unit (micro-quantized integers, e.g. q362's Kneser–Ney
    * bits) minus the easiest source's mean = the excess loss; each
    * source's base mass is multiplied by `1 + η·excess` (η = etaNum/
    * etaDen, pure integer arithmetic) and renormalized to micros. One
    * source-keyed aggregation + two 1-row broadcasts — domains are a
    * bounded catalog, corpus scale only grows the masses. (Full DoReMi
    * alternates with proxy-model training; this is the one-step tilt
    * its reweighting rule applies per round, stated honestly.)
    *
    * Overflow: Σbits·10⁶ and mass·tilt run in DECIMAL(38,0)/HUGEINT
    * (the q360 device); the final micro weights divide back to longs.
    *
    * @param perDoc one row per doc: (srcCol, bitsCol, massCol)
    * @return per source: (srcCol, n_docs, mass, sum_bits,
    *         mean_bits_micro, excess_micro, tilt_micro, weight_micro)
    */
  def excessLossTilt(perDoc: DataFrame, srcCol: String, bitsCol: String,
      massCol: String, etaNum: Int = 1, etaDen: Int = 5): DataFrame = {
    require(etaNum >= 0 && etaDen > 0)
    val src = perDoc.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(massCol)).as("mass"),
        sum(col(bitsCol)).as("sum_bits"))
      .where(col("mass") > 0L)
      .withColumn("mean_bits_micro",
        expr("CAST(sum_bits AS DECIMAL(38,0)) * 1000000 div mass")
          .cast("long"))
    val minRef = src.agg(min(col("mean_bits_micro")).as("__mn"))
    val tilted = src.crossJoin(broadcast(minRef))
      .withColumn("excess_micro", col("mean_bits_micro") - col("__mn"))
      .withColumn("tilt_micro",
        lit(1000000L) + expr(s"excess_micro * $etaNum div $etaDen"))
      .withColumn("__w",
        expr("CAST(mass AS DECIMAL(38,0)) * tilt_micro"))
    val total = tilted.agg(sum(col("__w")).as("__tot"))
    tilted.crossJoin(broadcast(total))
      .withColumn("weight_micro",
        expr("__w * 1000000 div __tot").cast("long"))
      .select(col(srcCol), col("n_docs"), col("mass"), col("sum_bits"),
        col("mean_bits_micro"), col("excess_micro"), col("tilt_micro"),
        col("weight_micro"))
  }

  /** DuckDB oracle for [[excessLossTilt]]: `innerSql` yields
    * (src, bits, mass) per doc. */
  def excessLossTiltOracleSql(innerSql: String, etaNum: Int = 1,
      etaDen: Int = 5, srcName: String = "src"): String =
    s"""WITH d AS ($innerSql), s AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(mass) AS BIGINT) AS mass,
       |         CAST(sum(bits) AS BIGINT) AS sum_bits
       |  FROM d GROUP BY 1
       |), m AS (
       |  SELECT s.*, CAST(CAST(sum_bits AS HUGEINT) * 1000000 // mass
       |           AS BIGINT) AS mean_bits_micro
       |  FROM s WHERE mass > 0
       |), r AS (SELECT min(mean_bits_micro) AS mn FROM m),
       |t AS (
       |  SELECT m.*, mean_bits_micro - mn AS excess_micro,
       |         1000000 + (mean_bits_micro - mn) * $etaNum // $etaDen
       |           AS tilt_micro
       |  FROM m, r
       |), w AS (
       |  SELECT t.*, CAST(mass AS HUGEINT) * tilt_micro AS w FROM t
       |), tot AS (SELECT sum(w) AS tw FROM w)
       |SELECT src AS $srcName, n_docs, mass, sum_bits, mean_bits_micro,
       |       CAST(excess_micro AS BIGINT) AS excess_micro,
       |       CAST(tilt_micro AS BIGINT) AS tilt_micro,
       |       CAST(w * 1000000 // tw AS BIGINT) AS weight_micro
       |FROM w, tot""".stripMargin
}
