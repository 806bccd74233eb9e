package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer scoring (the SentencePiece objective, Kudo
  * 2018): score a vocabulary of substring PIECES by corpus frequency,
  * then segment each word into the piece sequence minimizing total cost
  * via Viterbi DP — the second of the two real tokenizer families next
  * to [[Bpe]] (BPE composes greedily by merge rank; unigram picks the
  * GLOBALLY best segmentation per word under per-piece scores, which is
  * why it can undo a locally-frequent-but-globally-poor split).
  * Reference analogue: none — LLM-pipeline surface.
  *
  * Integer contract (the [[LangModel]] bit-length quantization): piece
  * cost = blog(T) − blog(freq) + 1 with blog(x) = |bin(x)| =
  * ⌊log2 x⌋+1 and T the selected vocabulary's total frequency mass —
  * order-preserving in the true −log p, integer-exact on both engines,
  * so Viterbi costs hash-match the DuckDB replay. Every single-char
  * substring seen in the corpus is force-included in the vocabulary
  * (the [[Bpe.charSymbols]] closed-alphabet role: no OOV path exists),
  * so the DP always completes; multi-char pieces enter by top-N
  * frequency with (freq desc, piece asc) tie-break.
  *
  * Scale contract: training = one explode-substrings aggregation over
  * the DISTINCT-word frequency table (substring fan-out ≤ W·L per
  * distinct word, priced by vocabulary size, not corpus size) + a
  * two-phase top-N. Scoring/segmentation = pure per-row array DP over
  * distinct words with the piece table as a LITERAL map (the trained
  * vocabulary is contract-bounded, the [[Bpe]] merge-table idiom) —
  * zero shuffles beyond the word-frequency aggregation; at 100 TB one
  * trains on a sample and scores the full corpus the same way.
  *
  * Words longer than `maxWordLen` are excluded (documented cap — the
  * oracle's DP unrolls one CTE per character position; harness-corpus
  * words are all far shorter). Costs saturate at [[INF]] per piece, so
  * a word using only forced single-char pieces stays below 2⁶³.
  */
object Unigram {

  /** Per-piece cost ceiling for pieces missing from the vocabulary —
    * never selectable against any in-vocabulary alternative, yet
    * W·INF stays far under Long.MaxValue. */
  val INF: Long = 1L << 40

  /** Distinct-word frequency table: (word, n), words ≤ `maxWordLen`
    * chars. One keyed aggregation — everything downstream is priced by
    * |vocabulary|, not corpus rows. */
  def wordFreq(docs: DataFrame, idCol: String, textCol: String,
      maxWordLen: Int): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** All substrings of `w` up to length `maxPieceLen`, one entry per
    * occurrence position (so "aaa" yields "a" three times — occurrence
    * counting, the unigram seed statistic). */
  private def allSubstrings(w: Column, maxPieceLen: Int): Column =
    flatten(transform(sequence(lit(1), length(w)), i =>
      transform(sequence(lit(1), least(lit(maxPieceLen), length(w) - i + 1)),
        l => w.substr(i, l))))

  /** Train the piece vocabulary: every single-char substring seen in
    * the corpus (the closed alphabet) plus the `topN` most frequent
    * multi-char substrings, scored by the bit-length cost.
    *
    * @return (piece, freq, cost) */
  def trainPieces(docs: DataFrame, idCol: String, textCol: String,
      topN: Int, maxPieceLen: Int = 6, maxWordLen: Int = 16): DataFrame = {
    require(topN >= 1 && maxPieceLen >= 2 && maxWordLen >= maxPieceLen)
    val freqs = wordFreq(docs, idCol, textCol, maxWordLen)
      .select(explode(allSubstrings(col("word"), maxPieceLen)).as("piece"),
        col("n"))
      .groupBy(col("piece")).agg(sum(col("n")).as("freq"))
    val singles = freqs.filter(length(col("piece")) === 1)
    val multis = freqs.filter(length(col("piece")) >= 2)
      .orderBy(col("freq").desc, col("piece")).limit(topN)
    val sel = singles.unionAll(multis)
    // one-row total mass broadcast (stat-broadcast idiom, not a collect)
    val tot = sel.agg(sum(col("freq")).as("__t"))
    sel.crossJoin(broadcast(tot))
      .select(col("piece"), col("freq"),
        (length(bin(col("__t"))) - length(bin(col("freq"))) + 1)
          .cast("long").as("cost"))
  }

  /** [[trainPieces]] collected to the literal vocabulary the scoring
    * stage embeds — contract-bounded (≤ topN + |alphabet| rows: a
    * driver collect whose size the contract fixes, as
    * [[Bpe.trainMerges]] collects at most [[Bpe.MaxTrainStates]]
    * states). @return (piece, cost) */
  def collectPieces(pieces: DataFrame): Seq[(String, Long)] =
    pieces.select(col("piece"), col("cost")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** Forward Viterbi DP over one word: position k's entry is the best
    * (cost, backpointer-length) over last-piece lengths j = 1..L, ties
    * to the SMALLEST j — a total order, so the chosen segmentation is
    * deterministic and engine-portable. acc(0) is the empty prefix. */
  private def dpExpr(w: Column, costMap: Column, maxPieceLen: Int): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(0L).as("c"), lit(0).as("j"))),
      (acc, k) => concat(acc, array(array_min(filter(
        array((1 to maxPieceLen).map { j =>
          when(k >= j, struct(
            (element_at(acc, (k - j + 1).cast("int")).getField("c") +
              coalesce(element_at(costMap, w.substr(k - j + 1, lit(j))),
                lit(INF))).as("c"),
            lit(j).as("j")))
        }: _*), x => x.isNotNull)))))

  /** Per-word Viterbi cost against a literal piece vocabulary:
    * (word, n, cost) over the corpus's distinct words. Pure per-row
    * array DP — the one shuffle is [[wordFreq]]'s. */
  def viterbiCost(docs: DataFrame, idCol: String, textCol: String,
      pieces: Seq[(String, Long)], maxPieceLen: Int = 6,
      maxWordLen: Int = 16): DataFrame = {
    val costMap = map(pieces.flatMap { case (p, c) =>
      Seq(lit(p), lit(c)) }: _*)
    wordFreq(docs, idCol, textCol, maxWordLen)
      .select(col("word"), col("n"),
        element_at(dpExpr(col("word"), costMap, maxPieceLen),
          length(col("word")) + 1).getField("c").as("cost"))
  }

  /** Viterbi SEGMENTATION: backtrack the DP's backpointers to the
    * chosen pieces. @return (word, n, cost, pieces) with `pieces` the
    * space-joined segmentation (concat of pieces = word by
    * construction — SegmentsSpec invariant). */
  def segment(docs: DataFrame, idCol: String, textCol: String,
      pieces: Seq[(String, Long)], maxPieceLen: Int = 6,
      maxWordLen: Int = 16): DataFrame = {
    val costMap = map(pieces.flatMap { case (p, c) =>
      Seq(lit(p), lit(c)) }: _*)
    val withDp = wordFreq(docs, idCol, textCol, maxWordLen)
      .select(col("word"), col("n"),
        dpExpr(col("word"), costMap, maxPieceLen).as("__dp"))
    // Backtrack: fold word-length steps carrying (pos, pieces-reversed);
    // once pos reaches 0 the remaining steps no-op. j at position pos is
    // the chosen last-piece length for the prefix of length pos.
    val bt = aggregate(
      sequence(lit(1), length(col("word"))),
      struct(length(col("word")).as("pos"),
        array().cast("array<string>").as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val j = element_at(col("__dp"), pos + 1).getField("j")
        when(pos > 0, struct(
          (pos - j).as("pos"),
          concat(array(col("word").substr(pos - j + 1, j)),
            acc.getField("ps")).as("ps")))
          .otherwise(acc)
      })
    withDp.select(col("word"), col("n"),
      element_at(col("__dp"), length(col("word")) + 1)
        .getField("c").as("cost"),
      array_join(bt.getField("ps"), " ").as("pieces"))
  }

  /** Corpus piece counts under the Viterbi segmentation — the unigram
    * EM E-step count table (and the readout that shows which pieces the
    * tokenizer actually USES, as opposed to trained): n_words = distinct
    * words whose segmentation uses the piece, n_uses = occurrences
    * weighted by corpus word frequency. @return (piece, n_words, n_uses) */
  def pieceCounts(docs: DataFrame, idCol: String, textCol: String,
      pieces: Seq[(String, Long)], maxPieceLen: Int = 6,
      maxWordLen: Int = 16): DataFrame =
    segment(docs, idCol, textCol, pieces, maxPieceLen, maxWordLen)
      .select(col("word"), col("n"),
        explode(split(col("pieces"), " ")).as("piece"))
      .groupBy(col("piece"))
      .agg(countDistinct(col("word")).as("n_words"),
        sum(col("n")).as("n_uses"))

  /** Corpus ENCODE — the [[Bpe.encode]] counterpart completing the
    * tokenizer surface: every token occurrence expands to its word's
    * Viterbi piece sequence, in long form (idCol, pos, piece_idx,
    * piece). Segmentation runs ONCE per distinct word ([[segment]]);
    * the corpus pays one position-explode and a join against that
    * vocabulary-sized frame (broadcast-scale by construction — the
    * distinct-word table is the tokenizer's working set, the same
    * contract as the literal piece map). Words over `maxWordLen` drop
    * out (the documented cap). */
  def encodeDocs(docs: DataFrame, idCol: String, textCol: String,
      pieces: Seq[(String, Long)], maxPieceLen: Int = 6,
      maxWordLen: Int = 16): DataFrame = {
    // Persisted BEFORE the join: without the materialization barrier,
    // CollapseProject folds the Viterbi DP expression into the join's
    // output projection and the fold re-evaluates once per TOKEN
    // OCCURRENCE instead of once per distinct word (measured 45 s vs
    // 1.5 s at sf0.1). The frame is vocabulary-sized (repo caching
    // contract — callers clearCache) and broadcast as the build side.
    val segs = segment(docs, idCol, textCol, pieces, maxPieceLen,
        maxWordLen)
      .select(col("word"), split(col("pieces"), " ").as("__ps"))
      .persist()
    val toks = docs.select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "word")))
      .filter(length(col("word")) <= maxWordLen)
    toks
      .join(broadcast(segs), Seq("word"))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        posexplode(col("__ps")).as(Seq("piece_idx", "piece")))
      .select(col(idCol), col("pos"),
        col("piece_idx").cast("long").as("piece_idx"), col("piece"))
  }

  /** One unigram EM refit: re-weight the vocabulary by what the Viterbi
    * segmentation actually USED ([[pieceCounts]]' n_uses — the E-step
    * counts), dropping multi-char pieces the DP never picked (dead
    * vocabulary, the SentencePiece pruning move) while force-keeping
    * the single-char alphabet (closure — an unused single re-enters at
    * weight 1). Costs re-derive with the same bit-length formula over
    * the refit mass.
    *
    * @param pieces [[trainPieces]] output  @param counts [[pieceCounts]]
    * @return (piece, freq, cost) — same shape as [[trainPieces]] */
  def refitPieces(pieces: DataFrame, counts: DataFrame): DataFrame = {
    val joined = pieces
      .join(counts.select(col("piece"), col("n_uses")), Seq("piece"), "left")
      .filter(length(col("piece")) === 1 || col("n_uses").isNotNull)
      .select(col("piece"),
        when(length(col("piece")) === 1,
          greatest(coalesce(col("n_uses"), lit(0L)), lit(1L)))
          .otherwise(col("n_uses")).as("__w"))
    val tot = joined.agg(sum(col("__w")).as("__t"))
    joined.crossJoin(broadcast(tot))
      .select(col("piece"), col("__w").as("freq"),
        (length(bin(col("__t"))) - length(bin(col("__w"))) + 1)
          .cast("long").as("cost"))
  }

  // ---------------------------------------------------------------- SQL

  /** Shared DuckDB CTE chain ending in `pieces(piece, freq, cost)` and
    * `wds(word, n)`; `toksSql` is the tokenizer fragment over
    * `documents.text`. */
  def piecesCtes(table: String, toksSql: String, topN: Int,
      maxPieceLen: Int, maxWordLen: Int): String =
    s"""wds AS MATERIALIZED (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest($toksSql) AS tok FROM $table)
       |  WHERE len(tok) <= $maxWordLen GROUP BY 1
       |), si AS (
       |  SELECT word, n, unnest(generate_series(1, len(word))) AS i FROM wds
       |), sl AS (
       |  SELECT word, n, i,
       |         unnest(generate_series(1,
       |           least($maxPieceLen, len(word) - i + 1))) AS l
       |  FROM si
       |), pf AS (
       |  SELECT substr(word, i, l) AS piece, CAST(sum(n) AS BIGINT) AS freq
       |  FROM sl GROUP BY 1
       |), sel AS (
       |  SELECT piece, freq FROM pf WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, freq FROM (
       |    SELECT piece, freq FROM pf WHERE len(piece) >= 2
       |    ORDER BY freq DESC, piece LIMIT $topN)
       |), tot AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM sel),
       |pieces AS MATERIALIZED (
       |  SELECT piece, freq,
       |         CAST(length(bin(t)) - length(bin(freq)) + 1 AS BIGINT) AS cost
       |  FROM sel, tot)""".stripMargin

  /** DuckDB oracle for [[trainPieces]]. */
  def trainOracleSql(table: String, toksSql: String, topN: Int,
      maxPieceLen: Int = 6, maxWordLen: Int = 16): String =
    s"""WITH ${piecesCtes(table, toksSql, topN, maxPieceLen, maxWordLen)}
       |SELECT piece, freq, cost FROM pieces""".stripMargin

  /** The forward DP unrolled one CTE pair per character position: `ek`
    * materializes the ≤ L last-piece candidate costs `tk_j` (each a
    * correlated lookup into `pieces` saturating at [[INF]]), `dk` takes
    * their least as `ck` and — when `withBp` — the smallest j attaining
    * it as `bpk` (the same (cost, j) lexicographic argmin the Spark
    * [[dpExpr]] array_min applies). */
  private def dpCtes(maxPieceLen: Int, maxWordLen: Int,
      withBp: Boolean, piecesRel: String = "pieces",
      pfx: String = ""): String =
    (1 to maxWordLen).map { k =>
      val js = 1 to math.min(maxPieceLen, k)
      val termDefs = js.map { j =>
        s"""${pfx}c${k - j} + coalesce((SELECT cost FROM $piecesRel p
           |             WHERE p.piece = substr(word, ${k - j + 1}, $j)), $INF) AS ${pfx}t${k}_$j"""
          .stripMargin
      }.mkString(",\n         ")
      val tCols = js.map(j => s"${pfx}t${k}_$j").mkString(", ")
      val bpCol = if (!withBp) "" else {
        val branches = js.map(j => s"WHEN ${pfx}t${k}_$j = ${pfx}c$k THEN $j")
          .mkString(" ")
        s""",
           |         CASE WHEN len(word) >= $k THEN
           |           CASE $branches END END AS ${pfx}bp$k""".stripMargin
      }
      s"""${pfx}e$k AS (
         |  SELECT *,
         |         $termDefs
         |  FROM ${pfx}d${k - 1}
         |), ${pfx}l$k AS (
         |  SELECT *, CASE WHEN len(word) >= $k THEN least($tCols) END AS ${pfx}c$k
         |  FROM ${pfx}e$k
         |), ${pfx}d$k AS (
         |  SELECT * EXCLUDE ($tCols)$bpCol
         |  FROM ${pfx}l$k
         |)""".stripMargin
    }.mkString(", ")

  /** The backtrack unrolled one CTE per step — step s reads the
    * backpointer AT the current (data-dependent) position via a CASE
    * over the bp columns, emits that last piece, and retreats;
    * exhausted words no-op. Shared by counts/refit/encode oracles. */
  private def btCtes(maxWordLen: Int): String =
    (1 to maxWordLen).map { s =>
      val bpAt = (1 to maxWordLen)
        .map(k => s"WHEN $k THEN bp$k").mkString(" ")
      s"""b$s AS (
         |  SELECT * EXCLUDE (pos, jsel),
         |         CASE WHEN pos > 0
         |              THEN substr(word, pos - jsel + 1, jsel) END AS piece$s,
         |         CASE WHEN pos > 0 THEN pos - jsel ELSE 0 END AS pos
         |  FROM (SELECT *, CASE pos $bpAt END AS jsel FROM b${s - 1}) r$s
         |)""".stripMargin
    }.mkString(", ")

  /** DuckDB oracle for [[viterbiCost]] with the vocabulary replayed
    * from the same corpus. */
  def viterbiOracleSql(table: String, toksSql: String, topN: Int,
      maxPieceLen: Int = 6, maxWordLen: Int = 16): String = {
    val costCase = (1 to maxWordLen)
      .map(k => s"WHEN $k THEN c$k").mkString(" ")
    s"""WITH ${piecesCtes(table, toksSql, topN, maxPieceLen, maxWordLen)},
       |d0 AS (SELECT word, n, CAST(0 AS BIGINT) AS c0 FROM wds),
       |${dpCtes(maxPieceLen, maxWordLen, withBp = false)}
       |SELECT word, n,
       |       CAST(CASE len(word) $costCase END AS BIGINT) AS cost
       |FROM d$maxWordLen""".stripMargin
  }

  /** DuckDB oracle for [[pieceCounts]]: forward DP with backpointers,
    * then the backtrack unrolled one CTE per step — step s reads the
    * backpointer AT the current position (a CASE over the bp columns,
    * position is data-dependent), emits that last piece, and retreats;
    * exhausted words no-op. The collected pieces unnest into the same
    * (distinct-word, frequency-weighted) counts the Spark side
    * aggregates. */
  def countsOracleSql(table: String, toksSql: String, topN: Int,
      maxPieceLen: Int = 6, maxWordLen: Int = 16): String = {
    val btSteps = btCtes(maxWordLen)
    val pieceList = (1 to maxWordLen).map(j => s"piece$j").mkString(", ")
    s"""WITH ${piecesCtes(table, toksSql, topN, maxPieceLen, maxWordLen)},
       |d0 AS (SELECT word, n, CAST(0 AS BIGINT) AS c0 FROM wds),
       |${dpCtes(maxPieceLen, maxWordLen, withBp = true)},
       |b0 AS (SELECT *, len(word) AS pos FROM d$maxWordLen),
       |$btSteps,
       |uses AS (
       |  SELECT word, n,
       |         unnest(list_filter([$pieceList], x -> x IS NOT NULL)) AS piece
       |  FROM b$maxWordLen
       |)
       |SELECT piece, CAST(count(DISTINCT word) AS BIGINT) AS n_words,
       |       CAST(sum(n) AS BIGINT) AS n_uses
       |FROM uses GROUP BY 1""".stripMargin
  }

  /** DuckDB oracle for [[encodeDocs]]: the backtrack chain's per-word
    * piece columns reassemble into the document-order list
    * (`[pieceW..piece1]` — the backtrack emits last piece first, so the
    * REVERSED column list filtered of nulls is forward order), then
    * join to the position-exploded corpus and unnest with ordinals (the
    * [[Bpe.encodeOracleSql]] position idiom). */
  def encodeOracleSql(table: String, toksSql: String, topN: Int,
      maxPieceLen: Int = 6, maxWordLen: Int = 16): String = {
    val btSteps = btCtes(maxWordLen)
    val revList = (maxWordLen to 1 by -1).map(j => s"piece$j").mkString(", ")
    s"""WITH ${piecesCtes(table, toksSql, topN, maxPieceLen, maxWordLen)},
       |d0 AS (SELECT word, n, CAST(0 AS BIGINT) AS c0 FROM wds),
       |${dpCtes(maxPieceLen, maxWordLen, withBp = true)},
       |b0 AS (SELECT *, len(word) AS pos FROM d$maxWordLen),
       |$btSteps,
       |wp AS MATERIALIZED (
       |  SELECT word, list_filter([$revList], x -> x IS NOT NULL) AS ps
       |  FROM b$maxWordLen
       |), tk AS (
       |  SELECT doc_id, CAST(pr[2] AS BIGINT) AS pos, pr[1] AS word
       |  FROM (SELECT doc_id, unnest(list_zip(toks, range(0, len(toks)))) AS pr
       |        FROM (SELECT doc_id, $toksSql AS toks FROM $table))
       |  WHERE len(pr[1]) <= $maxWordLen
       |)
       |SELECT doc_id, pos, CAST(j - 1 AS BIGINT) AS piece_idx,
       |       ps[j] AS piece
       |FROM (SELECT t.doc_id, t.pos, wp.ps,
       |        unnest(generate_series(1, len(wp.ps))) AS j
       |      FROM tk t JOIN wp USING (word))""".stripMargin
  }

  /** DuckDB oracle for the EM refit round-trip: [[countsOracleSql]]'s
    * chain down to the usage counts, the [[refitPieces]] re-weighting as
    * `pieces2`, then a SECOND unrolled DP (the `g`-prefixed chain)
    * against the refit costs. @return (word, n, cost0, cost1) */
  def refitOracleSql(table: String, toksSql: String, topN: Int,
      maxPieceLen: Int = 6, maxWordLen: Int = 16): String = {
    val btSteps = btCtes(maxWordLen)
    val pieceList = (1 to maxWordLen).map(j => s"piece$j").mkString(", ")
    val cost0Case = (1 to maxWordLen)
      .map(k => s"WHEN $k THEN c$k").mkString(" ")
    val cost1Case = (1 to maxWordLen)
      .map(k => s"WHEN $k THEN gc$k").mkString(" ")
    s"""WITH ${piecesCtes(table, toksSql, topN, maxPieceLen, maxWordLen)},
       |d0 AS (SELECT word, n, CAST(0 AS BIGINT) AS c0 FROM wds),
       |${dpCtes(maxPieceLen, maxWordLen, withBp = true)},
       |b0 AS (SELECT *, len(word) AS pos FROM d$maxWordLen),
       |$btSteps,
       |cnt AS (
       |  SELECT piece, CAST(sum(n) AS BIGINT) AS n_uses
       |  FROM (SELECT word, n,
       |          unnest(list_filter([$pieceList], x -> x IS NOT NULL)) AS piece
       |        FROM b$maxWordLen)
       |  GROUP BY 1
       |), p2 AS (
       |  SELECT s.piece,
       |         CASE WHEN len(s.piece) = 1
       |              THEN greatest(coalesce(c.n_uses, 0), 1)
       |              ELSE c.n_uses END AS w2
       |  FROM pieces s LEFT JOIN cnt c USING (piece)
       |  WHERE len(s.piece) = 1 OR c.n_uses IS NOT NULL
       |), t2 AS (SELECT CAST(sum(w2) AS BIGINT) AS t FROM p2),
       |pieces2 AS MATERIALIZED (
       |  SELECT piece,
       |         CAST(length(bin(t)) - length(bin(w2)) + 1 AS BIGINT) AS cost
       |  FROM p2, t2
       |),
       |gd0 AS (SELECT word, n, CAST(0 AS BIGINT) AS gc0 FROM wds),
       |${dpCtes(maxPieceLen, maxWordLen, withBp = false,
                 piecesRel = "pieces2", pfx = "g")}
       |SELECT a.word, a.n,
       |       CAST(CASE len(a.word) $cost0Case END AS BIGINT) AS cost0,
       |       CAST(CASE len(a.word) $cost1Case END AS BIGINT) AS cost1
       |FROM d$maxWordLen a JOIN gd$maxWordLen g ON a.word = g.word""".stripMargin
  }
}
