package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Exact-substring dedup family over the `documents` table: per-doc and
  * corpus-global suffix arrays (prefix doubling), cross-doc verbatim
  * repeats and their threshold/removal/recall forms, BWT, and the
  * byte-fallback / pre-tokenized BPE encode+round-trip gates. Split
  * from [[TextDedup]] (round 11) purely mechanically — query names,
  * semantics, and oracles unchanged; the multilingual planted fixtures
  * stay in [[TextDedup]] (one source of truth, shared with q354-family).
  */
object TextExact extends QueryModule {

  import TextDedup.{multilingualPlanted, multilingualPlantedValuesSql, spanRemovalMinRun, spanW}

  /** q351/q352/q353: cross-doc exact-substring threshold, in chars —
    * the Lee-et-al "verbatim span ≥ L" bar (~the q109 11-token bar at
    * this corpus's ~4.5-char tokens). At both SFs ~45 docs carry such
    * runs (~12k of ~150k positions), so both arms fire. */
  private val exactSubstrLen = 40

  /** q356/q357: byte-fallback BPE merge budget — enough rounds that
    * real multi-byte merges form (the `<0xD1> <0x82>` Cyrillic pairs
    * compete with ASCII bigrams), small enough that the DuckDB replay
    * oracle stays tractable. */
  private val byteMerges = 12

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-document suffix-array ranks by prefix doubling — the exact
    // structure behind exact-substring dedup (the w-gram ops q73/q109
    // approximate it): ⌈log2(max doc len)⌉ rounds of one keyed lead +
    // one keyed dense_rank, never a suffix-string sort. The oracle is
    // the definitional form (sort the suffixes), which is exactly what
    // the recurrence must converge to.
    "q331_suffix_array" -> ((s, dir) =>
      graft.text.SuffixArray.perDocRanks(
        Tables(s, dir).documents, "doc_id", "text")),

    // CORPUS-GLOBAL generalized suffix array: every suffix ranked
    // against all suffixes of all docs (strict ranks — identical
    // suffixes tie) — the exact cross-doc dedup structure. Up to
    // SuffixArray.MaxDriverChars characters the doubling runs in the
    // driver over the collected texts (a sum aggregate, one collect,
    // then a local frame); above it each distributed round is a per-doc
    // lead + a (rank, successor) histogram prefix sum + a keyed join
    // back, with no global sort after the 32-char seed.
    "q334_global_sa" -> ((s, dir) =>
      graft.text.SuffixArray.globalRanks(
        Tables(s, dir).documents, "doc_id", "text")),

    // q334's readout: top-10 longest substrings shared by two DISTINCT
    // docs — adjacent cross-doc SA pairs are a complete candidate set
    // (the enclosing-range argument), so the candidate count is corpus
    // positions, never pairs.
    "q335_cross_repeats" -> ((s, dir) =>
      graft.text.SuffixArray.crossDocRepeats(
        Tables(s, dir).documents, "doc_id", "text")),

    // q331's classic readout: the longest substring occurring twice in
    // each doc — always an LCP of SA-adjacent suffixes, so one keyed
    // lag + a 12-step binary search on prefix equality per adjacent
    // pair. The EXACT within-doc boilerplate detector (q73's w-gram
    // profile sees repeats only at gram granularity).
    "q333_longest_repeat" -> ((s, dir) =>
      graft.text.SuffixArray.longestRepeat(
        Tables(s, dir).documents, "doc_id", "text")),

    // q335 generalized from top-k to THRESHOLD: every adjacent cross-doc
    // SA pair with lcp >= 40 chars — the complete evidence set exact-
    // substring dedup at that threshold acts on. Membership decided by
    // 40-char prefix equality (never document payloads on the wire);
    // only qualifying pairs pay the text join for the exact LCP.
    "q351_cross_repeats_threshold" -> ((s, dir) =>
      graft.text.SuffixArray.crossDocRepeatsAtLeast(
        Tables(s, dir).documents, "doc_id", "text", exactSubstrLen)),

    // EXACT cross-doc substring removal (Lee et al. ExactSubstr): excise
    // every char inside a >= 40-char verbatim run shared with another
    // doc. The fixed threshold collapses the SA to one L-gram df pass —
    // the ExactSubstr equivalence lemma (spec-gated against brute-force
    // matchLen) — so the w-gram q109 approximation now has an exact,
    // gated reference transform.
    "q352_exact_substr_removal" -> ((s, dir) =>
      graft.text.ExactSubstr.removeCrossDocRepeats(
        Tables(s, dir).documents, "doc_id", "text", exactSubstrLen)),

    // The verdict's recall readout: how much of the EXACT covered set
    // (char space, normalized token text) q109's w-gram approximation
    // actually removes — corpus-level micro recall/precision, one row.
    "q353_wgram_recall" -> ((s, dir) =>
      graft.text.ExactSubstr.wgramRecall(
        Tables(s, dir).documents, "doc_id", "text", exactSubstrLen,
        w = spanW, minDf = 2, minRunGrams = spanRemovalMinRun)),

    // FIRST-OCCURRENCE-KEPT exact-substring dedup — the curation form:
    // a >= 40-char span shared with an EARLIER doc (doc_id = ingestion
    // order) is excised; the earliest copy survives as the canonical
    // occurrence. q352 is the symmetric (contamination) form that
    // drops all copies; the min-doc window replaces the distinct-count.
    "q358_keep_first_removal" -> ((s, dir) =>
      graft.text.ExactSubstr.removeLaterCopies(
        Tables(s, dir).documents, "doc_id", "text", exactSubstrLen)),

    // Per-doc Burrows-Wheeler transform + run count off the q331
    // suffix array: repetitive docs collapse to few runs — the exact,
    // codec-free compressibility proxy beside q118's deflate ratio,
    // and the structure exact-substring indexes (FM) are built on.
    "q359_bwt" -> ((s, dir) =>
      graft.text.SuffixArray.bwt(
        Tables(s, dir).documents, "doc_id", "text")),

    // BYTE-FALLBACK BPE over corpus + the multilingual slice: the
    // closed-alphabet seam converted into a gate — every script
    // (Cyrillic, Greek, CJK, accents) decomposes into `[a-z0-9_]` +
    // `<0xNN>` byte symbols, trains real merges, and encodes with NO
    // unrepresentable input. Same train+replay oracle as q309.
    "q356_byte_fallback_encode" -> ((s, dir) => {
      import s.implicits._
      val all = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .unionByName(multilingualPlanted.toDF("doc_id", "text"))
      // the documented 100 TB contract run for real (the q111 pattern):
      // merges train on the doc_id%10 sample + the multilingual slice,
      // the full corpus only pays the per-row encode replay
      val merges = graft.text.Bpe
        .trainMerges(
          all.filter(col("doc_id") % 10 === 0 ||
            col("doc_id") >= 9100000L), // slice always trains
          "doc_id", "text", byteMerges,
          graft.text.Bpe.byteFallbackSymbols)
        .map(t => (t._2, t._3))
      graft.text.Bpe.encode(all, "doc_id", "text", merges,
        graft.text.Bpe.byteFallbackSymbols)
    }),

    // The OOV-FREE gate: the byte-fallback escape is invertible, so
    // reassembling q356's encoded stream (merge spaces stripped) must
    // reproduce the seed stream for EVERY doc — the oracle states the
    // zero-mismatch truth from the input alone and Spark must reproduce
    // it through the full train → encode → reassemble chain. BpeSpec
    // additionally decodes back to the normalized TEXT (emoji incl.).
    "q357_byte_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val all = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .unionByName(multilingualPlanted.toDF("doc_id", "text"))
      val merges = graft.text.Bpe
        .trainMerges(
          all.filter(col("doc_id") % 10 === 0 ||
            col("doc_id") >= 9100000L), // slice always trains
          "doc_id", "text", byteMerges,
          graft.text.Bpe.byteFallbackSymbols)
        .map(t => (t._2, t._3))
      val enc = graft.text.Bpe.encode(all, "doc_id", "text", merges,
        graft.text.Bpe.byteFallbackSymbols)
      val rebuilt = enc.groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("symbol")))),
          e => e.getField("symbol")), "").as("__enc"))
      all
        .select(col("doc_id"), array_join(
          graft.text.Bpe.byteFallbackSymbols(col("text")), "").as("__seed"))
        .join(rebuilt, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(length(col("__seed")) > 0, 1L).otherwise(0L))
            .as("n_encoded"),
          sum(when(regexp_replace(coalesce(col("__enc"), lit("")),
            " ", "") =!= col("__seed"), 1L).otherwise(0L)).as("n_mismatch"))
    }),
    // PRE-TOKEN-AWARE byte-fallback BPE (round-10 item 4): q356's
    // train+encode with seed units from the portable GPT-2
    // pre-tokenizer instead of whitespace words — contractions split,
    // punctuation runs separate, units carry their leading space as
    // <0x20>. Same sample-train/full-encode contract and oracle shape.
    "q412_bpe_pretoken_encode" -> ((s, dir) => {
      import s.implicits._
      val all = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .unionByName(multilingualPlanted.toDF("doc_id", "text"))
      val merges = graft.text.Bpe
        .trainMerges(
          all.filter(col("doc_id") % 10 === 0 ||
            col("doc_id") >= 9100000L),
          "doc_id", "text", byteMerges,
          graft.text.Bpe.byteFallbackPreTokenSymbols)
        .map(t => (t._2, t._3))
      graft.text.Bpe.encode(all, "doc_id", "text", merges,
        graft.text.Bpe.byteFallbackPreTokenSymbols)
    }),

    // q357's OOV-free reassembly gate on PRE-TOKEN units: the regex
    // TILES the string, so the decoded units concatenate back to the
    // normalized text exactly (whitespace runs included) — zero
    // mismatches through the full train -> encode -> reassemble chain.
    "q413_pretoken_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val all = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .unionByName(multilingualPlanted.toDF("doc_id", "text"))
      val merges = graft.text.Bpe
        .trainMerges(
          all.filter(col("doc_id") % 10 === 0 ||
            col("doc_id") >= 9100000L),
          "doc_id", "text", byteMerges,
          graft.text.Bpe.byteFallbackPreTokenSymbols)
        .map(t => (t._2, t._3))
      val enc = graft.text.Bpe.encode(all, "doc_id", "text", merges,
        graft.text.Bpe.byteFallbackPreTokenSymbols)
      val rebuilt = enc.groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("symbol")))),
          e => e.getField("symbol")), "").as("__enc"))
      all
        .select(col("doc_id"), array_join(
          graft.text.Bpe.byteFallbackPreTokenSymbols(col("text")), "")
          .as("__seed"))
        .join(rebuilt, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(length(col("__seed")) > 0, 1L).otherwise(0L))
            .as("n_encoded"),
          sum(when(regexp_replace(coalesce(col("__enc"), lit("")),
            " ", "") =!= col("__seed"), 1L).otherwise(0L)).as("n_mismatch"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q331_suffix_array" -> graft.text.SuffixArray.perDocOracleSql(
      "SELECT doc_id, text FROM documents", "doc_id"),

    "q333_longest_repeat" -> graft.text.SuffixArray.longestRepeatOracleSql(
      "SELECT doc_id, text FROM documents", "doc_id"),

    "q334_global_sa" -> graft.text.SuffixArray.globalOracleSql(
      "SELECT doc_id, text FROM documents", "doc_id"),

    "q335_cross_repeats" -> graft.text.SuffixArray.crossDocOracleSql(
      "SELECT doc_id, text FROM documents", "doc_id"),

    "q351_cross_repeats_threshold" ->
      graft.text.SuffixArray.crossDocAtLeastOracleSql(
        "SELECT doc_id, text FROM documents", "doc_id", exactSubstrLen),

    "q352_exact_substr_removal" -> graft.text.ExactSubstr.removalOracleSql(
      "documents", "doc_id", exactSubstrLen),

    "q353_wgram_recall" -> graft.text.ExactSubstr.wgramRecallOracleSql(
      "documents", "doc_id", Text.toksSql, exactSubstrLen,
      w = spanW, minDf = 2, minRunGrams = spanRemovalMinRun),

    "q358_keep_first_removal" -> graft.text.ExactSubstr.laterCopiesOracleSql(
      "documents", "doc_id", exactSubstrLen),

    "q359_bwt" -> graft.text.SuffixArray.bwtOracleSql(
      "SELECT doc_id, text FROM documents", "doc_id"),

    "q356_byte_fallback_encode" -> graft.text.Bpe.encodeSampledOracleSql(
      graft.text.Bpe.byteFallbackTokSql(
        s"""(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
           | UNION ALL
           | SELECT * FROM (VALUES $multilingualPlantedValuesSql)
           |   v(doc_id, text))""".stripMargin, "doc_id"),
      graft.text.Bpe.byteFallbackTokSql(
        s"""(SELECT doc_id, text FROM documents
           | UNION ALL
           | SELECT * FROM (VALUES $multilingualPlantedValuesSql)
           |   v(doc_id, text))""".stripMargin, "doc_id"),
      byteMerges),

    "q357_byte_roundtrip" -> {
      val bf = graft.text.Bpe.byteFallbackTokSql(
        s"""(SELECT doc_id, text FROM documents
           | UNION ALL
           | SELECT * FROM (VALUES $multilingualPlantedValuesSql)
           |   v(doc_id, text))""".stripMargin, "doc_id")
      s"""WITH bf AS ($bf)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_encoded,
         |       CAST(0 AS BIGINT) AS n_mismatch
         |FROM bf""".stripMargin
    },
    "q412_bpe_pretoken_encode" -> graft.text.Bpe.encodeSampledOracleSql(
      graft.text.Bpe.byteFallbackPreTokenTokSql(
        s"""(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
           | UNION ALL
           | SELECT * FROM (VALUES $multilingualPlantedValuesSql)
           |   v(doc_id, text))""".stripMargin, "doc_id"),
      graft.text.Bpe.byteFallbackPreTokenTokSql(
        s"""(SELECT doc_id, text FROM documents
           | UNION ALL
           | SELECT * FROM (VALUES $multilingualPlantedValuesSql)
           |   v(doc_id, text))""".stripMargin, "doc_id"),
      byteMerges),

    "q413_pretoken_roundtrip" -> {
      val bf = graft.text.Bpe.byteFallbackPreTokenTokSql(
        s"""(SELECT doc_id, text FROM documents
           | UNION ALL
           | SELECT * FROM (VALUES $multilingualPlantedValuesSql)
           |   v(doc_id, text))""".stripMargin, "doc_id")
      s"""WITH bf AS ($bf)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_encoded,
         |       CAST(0 AS BIGINT) AS n_mismatch
         |FROM bf""".stripMargin
    }
  )
}
