package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.TextAnalysis
import Text.toksSql

/** The TOKENIZER-TRAINING family over the `documents` table: exact
  * vocabulary/bigram tables, word- and char-level BPE, the Unigram-LM
  * (SentencePiece-objective) family, WordPiece, token-id encoding,
  * OOV/fertility accounting. Split from [[Text]] (round 10) purely
  * mechanically -- query names, semantics, and oracles unchanged;
  * shared DuckDB fragments stay in [[Text]].
  */
object Tokenizers extends QueryModule {

  /** q147: a DELIBERATELY small vocabulary -- the corpus has ~31 token
    * types, so top-16 leaves a real OOV tail to measure. */
  private val oovVocabN = 16

  private val bpeNMerges = 16

  private val unigramTopN = 48

  private val wordPieceTopN = 48

  /** q78/q100: top-50 vocabulary. */
  private val vocabTopN = 50

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-source tokenizer fertility: aggregate pre-tokens per
    // whitespace token BY SOURCE — q131 measures the inflation per doc;
    // mixture-level token budgeting (q129/q141) needs it per source.
    // Integer sums, one final division.
    "q146_fertility" -> ((s, dir) =>
      Tables(s, dir).documents
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__ws"),
          TextAnalysis.preTokenCount(col("text")).as("__pre"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__ws")).as("ws_tokens"),
          sum(col("__pre")).as("pre_tokens"))
        .withColumn("fertility",
          when(col("ws_tokens") > 0,
            col("pre_tokens").cast("double") /
              col("ws_tokens").cast("double")))),

    // Per-source OOV rate against the q78-style frequency vocabulary
    // (top-16 here, small enough that the tail is genuinely OOV): which
    // sources will inflate a fixed tokenizer's unknown-token mass. One
    // corpus scan + a broadcast vocab join.
    "q147_oov_rate" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val vocab = graft.text.Spans.vocabulary(docs, "doc_id", "text",
          oovVocabN)
        .select(col("token"), lit(1L).as("__in"))
      docs.select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_micro",
          floor(col("n_oov").cast("double") * 1000000.0 /
            col("n_tokens").cast("double")).cast("long"))
    }),

    // Exact vocabulary: top-50 tokens by corpus frequency with document
    // frequency (deterministic tie-break) via TakeOrderedAndProject —
    // distributed top-k, no single-partition global sort.
    "q78_vocab" -> ((s, dir) =>
      graft.text.Spans.vocabulary(Tables(s, dir).documents,
        "doc_id", "text", vocabTopN)),

    // Corpus bigram counts, top-20 (the BPE-training inner loop: rank 1
    // is the next merge). Zero-shuffle pair construction, one counted
    // aggregation, TakeOrdered top-N.
    "q92_bigrams" -> ((s, dir) =>
      graft.text.Spans.topBigrams(Tables(s, dir).documents,
        "doc_id", "text", topN = 20)),

    // BPE training: 16 merges from one Spark query (the distinct seed
    // states with their multiplicities, collected under a bound) and an
    // in-driver merge loop; deterministic (freq desc, pair asc)
    // tie-breaks. q92 is one step of this loop, run in Spark.
    "q110_bpe_train" -> ((s, dir) =>
      graft.text.Bpe.train(Tables(s, dir).documents,
        "doc_id", "text", nMerges = bpeNMerges)),

    // BPE encode: replay the trained merges in rank order over the
    // corpus (Sennrich semantics) — the trained-tokenizer symbol stream
    // that replaces q78's whole-token vocab for downstream packing.
    "q111_bpe_encode" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val merges = graft.text.Bpe
        .trainMerges(docs, "doc_id", "text", bpeNMerges)
        .map(m => (m._2, m._3))
      graft.text.Bpe.encode(docs, "doc_id", "text", merges)
    }),

    // Unigram-LM (SentencePiece-objective) piece vocabulary: the
    // closed single-char alphabet (no OOV path, the charSymbols role)
    // + top-48 multi-char substrings by occurrence frequency over the
    // DISTINCT-word table, scored with the bit-length cost
    // blog(T)−blog(freq)+1 — the second real tokenizer family next to
    // BPE (q110/q308): BPE composes greedily by merge rank, unigram
    // picks the globally best segmentation per word.
    "q316_unigram_pieces" -> ((s, dir) =>
      graft.text.Unigram.trainPieces(Tables(s, dir).documents,
        "doc_id", "text", topN = unigramTopN)),

    // Unigram Viterbi scoring: per distinct corpus word, the minimal
    // total piece cost over ALL segmentations (DP over ≤6-char last
    // pieces, ties to shortest), with the trained vocabulary embedded
    // as a literal map (collected, contract-bounded — the Bpe
    // merge-table idiom). Pure per-row array DP after the one
    // word-frequency shuffle; the oracle unrolls the DP one CTE per
    // character position.
    "q317_unigram_cost" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val pieces = graft.text.Unigram.collectPieces(
        graft.text.Unigram.trainPieces(docs, "doc_id", "text",
          unigramTopN))
      graft.text.Unigram.viterbiCost(docs, "doc_id", "text", pieces)
    }),

    // Unigram piece USAGE: corpus piece counts under the Viterbi
    // segmentation (backpointer backtrack) — the EM E-step count table,
    // and the trained-vs-used readout (a piece the DP never picks is
    // dead vocabulary). The oracle replays the backtrack with one CTE
    // per step, reading the backpointer at the data-dependent position.
    "q318_unigram_counts" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val pieces = graft.text.Unigram.collectPieces(
        graft.text.Unigram.trainPieces(docs, "doc_id", "text",
          unigramTopN))
      graft.text.Unigram.pieceCounts(docs, "doc_id", "text", pieces)
    }),

    // One unigram EM refit: re-weight the vocabulary by what the
    // Viterbi pass actually used (dead multi-char pieces pruned, the
    // alphabet force-kept), re-derive costs, re-score every word —
    // (word, n, cost0, cost1). The full E-step → M-step → re-score
    // loop, each stage hash-matched by the oracle's doubled DP replay.
    "q319_unigram_refit" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val u = graft.text.Unigram
      val p0df = u.trainPieces(docs, "doc_id", "text", unigramTopN)
      val p0 = u.collectPieces(p0df)
      val p1 = u.collectPieces(u.refitPieces(p0df,
        u.pieceCounts(docs, "doc_id", "text", p0)))
      u.viterbiCost(docs, "doc_id", "text", p0)
        .withColumnRenamed("cost", "cost0")
        .join(u.viterbiCost(docs, "doc_id", "text", p1)
          .select(col("word"), col("cost").as("cost1")), "word")
    }),

    // WordPiece greedy segmentation — the THIRD real tokenizer family
    // (BERT semantics): longest-match-first against a position-aware
    // vocabulary (`##` continuation namespace), committing at each
    // position, never reconsidering — per distinct corpus word,
    // weighted by corpus frequency. The oracle unrolls the greedy fold
    // one CTE per character position with length-descending correlated
    // vocabulary lookups.
    "q328_wordpiece" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val vocab = graft.text.WordPiece.collectVocab(
        graft.text.WordPiece.trainVocab(docs, "doc_id", "text",
          wordPieceTopN))
      graft.text.WordPiece.segment(docs, "doc_id", "text", vocab)
    }),

    // Unigram corpus ENCODE — the q111 counterpart completing the
    // tokenizer surface: every token occurrence expands to its word's
    // Viterbi piece sequence in long form (doc, pos, piece_idx,
    // piece). Segmentation runs once per DISTINCT word; the corpus
    // pays one position-explode and a vocabulary-sized join.
    "q322_unigram_encode" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val pieces = graft.text.Unigram.collectPieces(
        graft.text.Unigram.trainPieces(docs, "doc_id", "text",
          unigramTopN))
      graft.text.Unigram.encodeDocs(docs, "doc_id", "text", pieces)
    }),

    // CHAR-LEVEL BPE train: the same merge recurrence seeded with
    // single-character symbols + '_' end-of-word markers (Sennrich's
    // actual setup — real tokenizers are char/byte-level; q110's
    // word-granularity run produces no subword merges). Trains on the
    // deterministic 1-in-5 sample — the documented 100 TB contract
    // (pair statistics converge long before corpus scale). new_sym
    // makes the learned subword visible (space-join stripped).
    "q308_bpe_char_train" -> ((s, dir) =>
      graft.text.Bpe.train(
          Tables(s, dir).documents.filter(col("doc_id") % 5 === 0),
          "doc_id", "text",
          nMerges = bpeNMerges, seed = graft.text.Bpe.charSymbols)
        .withColumn("new_sym",
          replace(concat(col("left_sym"), lit(" "), col("right_sym")),
            lit(" "), lit("")))),

    // Char-level BPE encode, contract-shaped: train on the 1-in-5
    // sample, encode the FULL corpus (a zero-shuffle replace chain) —
    // the "train on a sample, encode everything" run the Bpe scaladoc
    // promises; subword strips the representation's space joins.
    "q309_bpe_char_encode" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val merges = graft.text.Bpe
        .trainMerges(docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", bpeNMerges, graft.text.Bpe.charSymbols)
        .map(m => (m._2, m._3))
      graft.text.Bpe.encode(docs, "doc_id", "text", merges,
          graft.text.Bpe.charSymbols)
        .withColumn("subword", replace(col("symbol"), lit(" "), lit("")))
    }),

    // Pre-tokenizer accounting: GPT-2-style unit counts next to the
    // whitespace-word counts q97 budgets with — the ratio is the
    // words-to-BPE-units inflation factor real token budgets need.
    "q131_pretoken_count" -> ((s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.preTokenCount(col("text")).as("pre_tokens"))
        .withColumn("inflation",
          when(col("ws_tokens") > 0,
            col("pre_tokens").cast("double") / col("ws_tokens").cast("double")))),

    // Tokenizer application: every token to its q78-vocabulary rank
    // (OOV -> 0), long form (doc, pos, id). Corpus side never shuffles;
    // the vocab join broadcasts.
    "q100_token_ids" -> ((s, dir) =>
      graft.text.Spans.encodeTokens(Tables(s, dir).documents,
        "doc_id", "text", vocabTopN)),
  )

  def oracleSql: Map[String, String] = Map(
    "q146_fertility" ->
      s"""SELECT source,
        |       count(*) AS n_docs,
        |       CAST(sum(len($toksSql)) AS BIGINT) AS ws_tokens,
        |       CAST(sum(${TextAnalysis.preTokenCountSql("text")}) AS BIGINT) AS pre_tokens,
        |       CASE WHEN sum(len($toksSql)) > 0
        |            THEN CAST(sum(${TextAnalysis.preTokenCountSql("text")}) AS DOUBLE)
        |                 / CAST(sum(len($toksSql)) AS DOUBLE)
        |            END AS fertility
        |FROM documents GROUP BY 1""".stripMargin,

    // q100's vocabulary chain, truncated to the OOV-test size, LEFT
    // JOINed per token occurrence.
    "q147_oov_rate" ->
      s"""WITH pd AS (
        |  SELECT token, doc_id, count(*) AS k
        |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
        |  GROUP BY 1, 2
        |), v0 AS (
        |  SELECT token, CAST(sum(k) AS BIGINT) AS freq FROM pd GROUP BY 1
        |), top AS (SELECT token FROM v0 ORDER BY freq DESC, token LIMIT $oovVocabN),
        |tok AS (
        |  SELECT source, unnest($toksSql) AS token FROM documents
        |)
        |SELECT t.source,
        |       count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(floor(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         * 1000000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS oov_micro
        |FROM tok t LEFT JOIN top v USING (token) GROUP BY 1""".stripMargin,

    "q78_vocab" ->
      s"""WITH pd AS (
        |  SELECT token, doc_id, count(*) AS k
        |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
        |  GROUP BY 1, 2
        |), v AS (
        |  SELECT token, CAST(sum(k) AS BIGINT) AS freq, count(*) AS df
        |  FROM pd GROUP BY 1
        |), top AS (SELECT * FROM v ORDER BY freq DESC, token LIMIT $vocabTopN)
        |SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank,
        |       token, freq, df
        |FROM top""".stripMargin,

    "q92_bigrams" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i + 1])) AS pair
        |  FROM t WHERE len(toks) >= 2),
        |v AS (SELECT pair, count(*) AS freq FROM p GROUP BY 1),
        |top AS (SELECT * FROM v ORDER BY freq DESC, pair LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY freq DESC, pair) AS BIGINT) AS rank,
        |       pair, freq
        |FROM top""".stripMargin,

    // Unrolled replay of the identical merge recurrence (the q63/q104
    // oracle recipe), shared by train and encode.
    "q110_bpe_train" -> graft.text.Bpe.trainOracleSql(
      s"SELECT doc_id, $toksSql AS toks FROM documents", bpeNMerges),

    "q111_bpe_encode" -> graft.text.Bpe.encodeOracleSql(
      s"SELECT doc_id, $toksSql AS toks FROM documents", bpeNMerges),

    "q316_unigram_pieces" -> graft.text.Unigram.trainOracleSql(
      "documents", toksSql, unigramTopN),

    "q317_unigram_cost" -> graft.text.Unigram.viterbiOracleSql(
      "documents", toksSql, unigramTopN),

    "q318_unigram_counts" -> graft.text.Unigram.countsOracleSql(
      "documents", toksSql, unigramTopN),

    "q319_unigram_refit" -> graft.text.Unigram.refitOracleSql(
      "documents", toksSql, unigramTopN),

    "q322_unigram_encode" -> graft.text.Unigram.encodeOracleSql(
      "documents", toksSql, unigramTopN),

    "q328_wordpiece" -> graft.text.WordPiece.segmentOracleSql(
      "documents", toksSql, wordPieceTopN),

    "q308_bpe_char_train" -> {
      val inner = graft.text.Bpe.trainOracleSql(
        graft.text.Bpe.charTokSql(
          s"SELECT doc_id, $toksSql AS toks FROM documents " +
            "WHERE doc_id % 5 = 0"), bpeNMerges)
      s"""SELECT rank, left_sym, right_sym, freq,
         |       replace(left_sym || ' ' || right_sym, ' ', '') AS new_sym
         |FROM ($inner)""".stripMargin
    },

    "q309_bpe_char_encode" -> {
      val inner = graft.text.Bpe.encodeSampledOracleSql(
        graft.text.Bpe.charTokSql(
          s"SELECT doc_id, $toksSql AS toks FROM documents " +
            "WHERE doc_id % 5 = 0"),
        graft.text.Bpe.charTokSql(
          s"SELECT doc_id, $toksSql AS toks FROM documents"), bpeNMerges)
      s"""SELECT doc_id, pos, symbol, replace(symbol, ' ', '') AS subword
         |FROM ($inner)""".stripMargin
    },

    "q131_pretoken_count" ->
      s"""SELECT doc_id,
        |       CAST(len($toksSql) AS BIGINT) AS ws_tokens,
        |       ${TextAnalysis.preTokenCountSql("text")} AS pre_tokens,
        |       CASE WHEN len($toksSql) > 0
        |            THEN CAST(${TextAnalysis.preTokenCountSql("text")} AS DOUBLE)
        |                 / CAST(len($toksSql) AS BIGINT)
        |            END AS inflation
        |FROM documents""".stripMargin,

    // q78's vocabulary chain feeding a positional token join;
    // list_zip(toks, range) is the q58 position idiom.
    "q100_token_ids" ->
      s"""WITH pd AS (
        |  SELECT token, doc_id, count(*) AS k
        |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
        |  GROUP BY 1, 2
        |), v0 AS (
        |  SELECT token, CAST(sum(k) AS BIGINT) AS freq FROM pd GROUP BY 1
        |), top AS (SELECT * FROM v0 ORDER BY freq DESC, token LIMIT $vocabTopN),
        |v AS (
        |  SELECT token,
        |         CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
        |  FROM top
        |), tok AS (
        |  SELECT doc_id, pr[1] AS token, CAST(pr[2] AS BIGINT) AS pos
        |  FROM (SELECT doc_id, unnest(list_zip(toks, range(0, len(toks)))) AS pr
        |        FROM (SELECT doc_id, $toksSql AS toks FROM documents))
        |)
        |SELECT t.doc_id, t.pos,
        |       CAST(coalesce(v.rank, 0) AS BIGINT) AS token_id
        |FROM tok t LEFT JOIN v USING (token)""".stripMargin,
  )
}
