package graft.text

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Cuts

/** BPE tokenizer training + application (Sennrich et al. 2016
  * semantics, at whole-token granularity): iterate [[Spans.topBigrams]]'s
  * one merge step to N merges — each round counts adjacent symbol pairs
  * over the corpus, merges the argmax pair everywhere, repeats — then
  * encode text by replaying the learned merges in rank order. This is
  * what produces REAL trained-tokenizer sequences for packing (q67) and
  * token accounting (q97), replacing the whole-token vocabulary stand-in
  * (q78). Reference analogue: none — the reference has no tokenizer
  * training; this is LLM-pipeline surface.
  *
  * Symbols are pluggable via the `seed` parameter: the default seed is
  * the harness tokenizer's word tokens (merged symbols are space-joined
  * token runs — q110/q111); [[charSymbols]] seeds the SAME recurrence at
  * character level (each word split to single-character symbols plus a
  * `_` end-of-word marker, the Sennrich setup) — that run produces real
  * subword merges (q308/q309) and is exercised, not just documented.
  * At char level the seed alphabet `[a-z0-9_]` (37 symbols) plays the
  * role byte-fallback plays in production tokenizers: every encodable
  * text decomposes into in-vocabulary single-char symbols by
  * construction, so there is no OOV path to fall back from.
  *
  * REPRESENTATION (the trick the whole operator rests on): a document's
  * symbol sequence travels as ONE string with every symbol enclosed in
  * `\u0001` delimiters — `␁s1␁␁s2␁␁s3␁`. Applying merge (a, b) is then
  * a plain left-to-right string replace of `␁a␁␁b␁` with `␁a b␁`:
  *  - enclosure makes matches symbol-EXACT (no substring false hits —
  *    tokens are [a-z0-9]+ so `\u0001` never occurs inside a symbol);
  *  - adjacent candidate matches OVERLAP only in the zero chars BETWEEN
  *    enclosures, so non-overlapping sequential replace implements
  *    exactly the greedy left-to-right merge BPE specifies (`a a a`
  *    under merge (a,a) → `[a a, a]`), identically in Spark and DuckDB
  *    (the driver-side trainer's greedy scan over symbol arrays is the
  *    same merge);
  *  - no regex, no lookbehind (RE2-safe), codegen-friendly.
  *
  * Scale contract: training is ONE Spark query — the seed per row, then
  * a (distinct symbol array, multiplicity) aggregate collected to the
  * driver under [[Bpe.MaxTrainStates]] — plus an in-driver merge loop
  * over that table, so the job count does not grow with the merge
  * count. The driver holds the distinct states; a corpus with more
  * than the bound fails fast instead of being sampled silently. At
  * 100 TB one trains on a bounded sample
  * ([[graft.ops.Sampling.stratifiedSample]] — pair statistics converge
  * long before corpus scale; SentencePiece's `input_sentence_size`
  * contract) and ENCODES the full corpus: encode is a pure per-row
  * replace chain, zero shuffles.
  */
object Bpe {

  private val SEP = "\u0001"

  /** Character-level seed symbols: the document's word tokens, each
    * split to single characters with a `_` end-of-word marker appended
    * — `"the cat"` → `[t,h,e,_,c,a,t,_]`. Merges may cross the `_`
    * boundary only by first absorbing it (GPT-2-style space-in-token),
    * and `_` ∉ `[a-z0-9]` keeps words unambiguous. Mirrored by
    * [[charTokSql]] on the oracle side. */
  def charSymbols(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) === 0, array_remove(array(lit("")), ""))
      .otherwise(filter(
        split(concat(array_join(toks, "_"), lit("_")), ""),
        c => c =!= ""))
  }

  /** BYTE-FALLBACK char-level seed — the multilingual route that closes
    * the `[a-z0-9_]` alphabet's documented seam: NO input is
    * unrepresentable. Words come from whitespace-splitting the
    * [[graft.functions.NormalizeText]] canonical form (NFC + width-fold
    * + simple lowercase — the q307 parity-proven stage, so É and the
    * fullwidth letters canonicalize before byte-ing); each word is then
    * UTF-8-HEXED AS A WHOLE (never split per Java char — astral pairs
    * would split differently between Spark's UTF-16 units and DuckDB's
    * codepoints; whole-word hex sidesteps the divergence) and emitted
    * byte by byte: ASCII `[a-z0-9]` bytes as themselves, every other
    * byte as a `<0xNN>` symbol (the SentencePiece convention), plus the
    * `_` end-of-word marker.
    *
    * The escape is INVERTIBLE: `<` (0x3C) and `_` (0x5F) are not alnum
    * so literal occurrences escape to `<0x3C>`/`<0x5F>` — no input can
    * fake a byte symbol or a word marker — and spaces cannot occur
    * inside a word. BpeSpec decodes the stream back to the normalized
    * text (emoji included) to gate the claim; q357 gates the
    * reconstruction identity cross-engine. Closed symbol alphabet:
    * 36 alnum chars + `_` + at most 220 `<0xNN>` forms. */
  def byteFallbackSymbols(text: Column): Column = {
    val words = filter(
      split(graft.functions.NormalizeText.normalizeText(text), "\\s+"),
      w => w =!= "")
    when(size(words) === 0, array_remove(array(lit("")), ""))
      .otherwise(flatten(transform(wordsHex(words),
        hx => concat(byteEscFromHex(hx), array(lit("_"))))))
  }

  /** The shared invertible byte escape: the unit UTF-8-hexed AS A WHOLE
    * (never split per Java char), ASCII `[a-z0-9]` bytes as themselves,
    * every other byte as `<0xNN>` (see [[byteFallbackSymbols]]).
    *
    * Expression shape matters here (guide §1.2 per-task work): an
    * expression written on the OUTER lambda's variable re-evaluates
    * inside every inner-lambda element — the original inlined
    * `hex(encode(w))` under the per-byte lambda and sliced the group
    * `g` once per comparison, so each WORD paid O(len·refs) hex
    * re-encodes (measured: the seed projection alone cost 3.2 s at
    * sf0.1). Nested `transform`s bind hex once per word and the 2-char
    * group once per byte; same operations, same order, bit-identical
    * symbols. */
  private def wordsHex(words: Column): Column =
    // uppercase hex, 2 chars per byte (qualified: Bpe.encode shadows)
    transform(words,
      w => hex(org.apache.spark.sql.functions.encode(w, "UTF-8")))

  /** The escape over an already-BOUND per-word hex string: groups
    * first (one substr per byte), then the escape CASE on the bound
    * group. */
  private def byteEscFromHex(hx: Column): Column =
    transform(
      transform(sequence(lit(1), (length(hx) / lit(2)).cast("int")),
        i => hx.substr(i * 2 - 1, lit(2))),
      g => when((g >= lit("30") && g <= lit("39")) ||
          (g >= lit("61") && g <= lit("7A")),
        decode(unhex(g), "UTF-8"))
        .otherwise(concat(lit("<0x"), g, lit(">"))))

  /** PRE-TOKEN-AWARE byte-fallback seed (round-10 item 4): the same
    * invertible byte escape, but units come from [[TextAnalysis
    * .preTokenRe]] — the portable GPT-2 pre-tokenizer subset — over the
    * canonical form instead of whitespace splitting: contraction
    * suffixes split off, punctuation runs stand alone, digit runs
    * separate from letters, and a unit CARRIES its leading space
    * (escaped `<0x20>`), so merges train on real pre-tokenization units
    * and can never cross a pre-token boundary (the published BPE
    * contract this family previously approximated at word level).
    *
    * STRONGER round-trip than the whitespace form: the pattern TILES
    * the string (every char class belongs to some alternation), so the
    * decoded units concatenate back to the normalized text EXACTLY —
    * whitespace runs included, no single-space rejoin convention.
    * TextOpsSpec decodes multilingual fixtures byte-for-byte; q413
    * gates the reconstruction identity cross-engine. */
  def byteFallbackPreTokenSymbols(text: Column): Column = {
    val units = regexp_extract_all(
      graft.functions.NormalizeText.normalizeText(text),
      lit(TextAnalysis.preTokenRe), lit(0))
    when(size(units) === 0, array_remove(array(lit("")), ""))
      .otherwise(flatten(transform(wordsHex(units),
        hx => concat(byteEscFromHex(hx), array(lit("_"))))))
  }

  /** DuckDB byte-fallback seed fragment: yields (doc_id, toks) with the
    * identical symbol stream (DuckDB `hex(encode(w))` is the same
    * uppercase whole-word UTF-8 hex). `table` provides (idName, text). */
  def byteFallbackTokSql(table: String, idName: String): String = {
    val norm = graft.functions.NormalizeText.oracleSql("text")
    byteFallbackTokSqlFrom(table, idName,
      s"list_filter(string_split_regex($norm, '\\s+'), w -> w <> '')")
  }

  /** DuckDB mirror of [[byteFallbackPreTokenSymbols]]: units via RE2's
    * reading of the identical pre-tokenizer pattern. */
  def byteFallbackPreTokenTokSql(table: String, idName: String): String = {
    val norm = graft.functions.NormalizeText.oracleSql("text")
    val re = TextAnalysis.preTokenRe.replace("'", "''")
    byteFallbackTokSqlFrom(table, idName,
      s"regexp_extract_all($norm, '$re')")
  }

  /** Shared byte-escape SQL over a unit-list expression `wsSql`. */
  private def byteFallbackTokSqlFrom(table: String, idName: String,
      wsSql: String): String = {
    val g = "substr(hex(encode(w)), CAST(i * 2 - 1 AS INTEGER), 2)"
    s"""SELECT $idName AS doc_id,
       |       CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
       |       ELSE flatten(list_transform(ws, w -> list_append(
       |         list_transform(
       |           generate_series(1,
       |             CAST(length(hex(encode(w))) / 2 AS INTEGER)),
       |           i -> CASE
       |             WHEN ($g BETWEEN '30' AND '39')
       |               OR ($g BETWEEN '61' AND '7A')
       |             THEN decode(unhex($g))
       |             ELSE '<0x' || $g || '>'
       |           END),
       |         '_'))) END AS toks
       |FROM (SELECT $idName, $wsSql AS ws
       |      FROM $table)""".stripMargin
  }

  /** DuckDB char-seed fragment over a `(doc_id, toks)` relation:
    * yields (doc_id, toks) where toks are the char symbols. */
  def charTokSql(tokSql: String): String =
    s"""SELECT doc_id,
       |       CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
       |            ELSE list_filter(string_split(
       |              array_to_string(toks, '_') || '_', ''), c -> c <> '')
       |       END AS toks
       |FROM ($tokSql)""".stripMargin

  /** Tokens to the delimiter-enclosed state string; empty docs → "". */
  private def stateOf(toks: Column): Column =
    when(size(toks) === 0, lit(""))
      .otherwise(concat(lit(SEP), array_join(toks, SEP + SEP), lit(SEP)))

  /** State string back to the symbol array. */
  private def symbolsOf(state: Column): Column =
    filter(split(trim(state, SEP), SEP + SEP), x => x =!= "")

  /** The merge (a, b) as a per-row state rewrite. */
  private def applyMerge(state: Column, a: String, b: String): Column =
    replace(state, lit(SEP + a + SEP + SEP + b + SEP),
      lit(SEP + a + " " + b + SEP))

  /** Most distinct seed states [[trainMerges]] collects to the driver
    * (SentencePiece's `input_sentence_size` default). A corpus with more
    * fails fast; it is never sampled silently. */
  val MaxTrainStates: Int = 1000000

  /** Train `nMerges` BPE merges: @return (rank, left_sym, right_sym,
    * freq) in learning order, rank 1-based. Ties on pair frequency break
    * (left, right) ascending — UTF-8 binary string compare, the order
    * Spark's `orderBy` and DuckDB's `ORDER BY` both use, so "the merge to
    * apply next" is deterministic. Stops early (fewer rows) if the
    * corpus runs out of adjacent pairs.
    *
    * ONE Spark query, whatever `nMerges` is: the seed runs per row,
    * documents with fewer than 2 symbols drop, and the rest group to a
    * (distinct symbol array, multiplicity) table that is collected under
    * [[MaxTrainStates]]; the merge loop then runs in the driver over that
    * table ([[learnMerges]]). Above the bound the call fails and names
    * [[graft.ops.Sampling.stratifiedSample]]: at scale one trains on a
    * bounded sample and encodes the full corpus. `idCol` is not read. */
  def trainMerges(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int,
      seed: Column => Column = TextAnalysis.tokens): Seq[(Long, String, String, Long)] =
    trainMergesWithin(docs, textCol, nMerges, seed, MaxTrainStates)

  /** [[trainMerges]] with the state bound as a parameter. */
  private[text] def trainMergesWithin(docs: DataFrame, textCol: String,
      nMerges: Int, seed: Column => Column,
      maxStates: Int): Seq[(Long, String, String, Long)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val states = docs
      .select(symbolsOf(stateOf(seed(col(textCol)))).as("syms"))
      .filter(size(col("syms")) >= 2)
      .groupBy(col("syms")).agg(count(lit(1)).as("n"))
      .limit(maxStates + 1).collect()
    require(states.length <= maxStates,
      s"BPE training collects at most $maxStates distinct seed states " +
        "to the driver and this corpus has more: train on a bounded " +
        "sample (graft.ops.Sampling.stratifiedSample) and encode the " +
        "full corpus with Bpe.encode")
    learnMerges(states.toIndexedSeq.map(r => (r.getSeq[String](0), r.getLong(1))),
      nMerges)
  }

  /** The merge recurrence over (symbol sequence, multiplicity) states,
    * in the driver: each round takes the most frequent adjacent pair
    * (counts weighted by multiplicity; ties (left, right) ascending in
    * [[UTF8String]] order) and merges it in every state, greedy left to
    * right without overlap — exactly the `␁a␁␁b␁` → `␁a b␁` replace, so
    * `a a a` under (a,a) becomes `[a a, a]`. Symbols are interned to
    * ints; pair counts update incrementally from the states that held
    * the merged pair, and a lazily invalidated heap yields each round's
    * argmax. Symbols must be non-empty and free of `\u0001` (the
    * [[encode]] representation's own contract). */
  private[text] def learnMerges(states: Seq[(Seq[String], Long)],
      nMerges: Int): Seq[(Long, String, String, Long)] = {
    val ids = mutable.HashMap.empty[String, Int]
    val names = mutable.ArrayBuffer.empty[String]
    val utf8 = mutable.ArrayBuffer.empty[UTF8String]
    def intern(s: String): Int = ids.getOrElseUpdate(s, {
      names += s; utf8 += UTF8String.fromString(s); names.length - 1 })
    val words: Array[Array[Int]] = states.map(_._1.map(intern).toArray).toArray
    val mult: Array[Long] = states.map(_._2).toArray

    def key(a: Int, b: Int): Long = (a.toLong << 32) | b.toLong
    val counts = mutable.LongMap.empty[Long]
    // the states that gained a pair since it was last merged; may repeat
    // a state and may name one that has lost the pair since
    val holders = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    // heap entries go stale when a count moves: a popped entry is live
    // only if its freq is still the pair's count
    final class Cand(val freq: Long, val a: Int, val b: Int)
    val heap = new java.util.PriorityQueue[Cand]((x: Cand, y: Cand) => {
      val f = java.lang.Long.compare(y.freq, x.freq)
      if (f != 0) f
      else {
        val l = utf8(x.a).compareTo(utf8(y.a))
        if (l != 0) l else utf8(x.b).compareTo(utf8(y.b))
      }
    })
    val touched = mutable.LongMap.empty[Unit]
    def addPairs(w: Int, sign: Long): Unit = {
      val s = words(w)
      var j = 0
      while (j + 1 < s.length) {
        val k = key(s(j), s(j + 1))
        val c = counts.getOrElse(k, 0L) + sign * mult(w)
        if (c == 0L) counts.remove(k) else counts.update(k, c)
        if (sign > 0)
          holders.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Int]) += w
        touched.update(k, ())
        j += 1
      }
    }
    def pushTouched(): Unit = {
      touched.foreachKey { k =>
        counts.get(k).foreach(c =>
          heap.add(new Cand(c, (k >>> 32).toInt, k.toInt)))
      }
      touched.clear()
    }
    words.indices.foreach(addPairs(_, 1L))
    pushTouched()

    val merges = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val seen = Array.fill(words.length)(0)
    while (merges.length < nMerges && !heap.isEmpty) {
      val top = heap.poll()
      val k = key(top.a, top.b)
      if (counts.get(k).contains(top.freq)) {
        val rank = merges.length + 1
        merges += ((rank.toLong, names(top.a), names(top.b), top.freq))
        val ab = intern(names(top.a) + " " + names(top.b))
        for (w <- holders.remove(k).getOrElse(Nil) if seen(w) != rank) {
          seen(w) = rank
          val s = words(w)
          val out = mutable.ArrayBuilder.make[Int]
          var j = 0
          while (j < s.length) {
            if (j + 1 < s.length && s(j) == top.a && s(j + 1) == top.b) {
              out += ab; j += 2
            } else { out += s(j); j += 1 }
          }
          val merged = out.result()
          if (merged.length != s.length) {
            addPairs(w, -1L)
            words(w) = merged
            addPairs(w, 1L)
          }
        }
        pushTouched()
      }
    }
    merges.toSeq
  }

  /** [[trainMerges]] as a DataFrame for the oracle gate. */
  def train(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int,
      seed: Column => Column = TextAnalysis.tokens): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(docs, idCol, textCol, nMerges, seed)
      .toDF("rank", "left_sym", "right_sym", "freq")
  }

  /** Encode text with trained merges, replayed in rank order (Sennrich
    * reference semantics — each learned merge applies globally before
    * the next): @return (idCol, pos, symbol), the trained-tokenizer
    * symbol stream in long form (token ids compose downstream via
    * [[Spans.vocabulary]] over the symbols). Token-free docs have no
    * symbols and drop out. Pure per-row replace chain — zero shuffles,
    * scan-bound; by construction, encoding the training corpus
    * reproduces the final training state. Merge tables ≤ 64 stay ONE
    * fused expression (the historical plan shape, codegen'd); larger
    * vocabularies apply in 64-merge chunks with a lineage cut between
    * chunks (CollapseProject would otherwise re-fuse the chain into a
    * single ~512-deep expression, and task serialization
    * stack-overflows near ~250 merges), still scan-bound; each chunk is
    * a [[Cuts.generations]] generation. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)],
      seed: Column => Column = TextAnalysis.tokens): DataFrame = {
    val chunkSize = 64
    val symsDf =
      if (merges.lengthCompare(chunkSize) <= 0) {
        val merged = merges.foldLeft(stateOf(seed(col(textCol)))) {
          case (st, (a, b)) => applyMerge(st, a, b)
        }
        docs.select(col(idCol), symbolsOf(merged).as("__syms"))
      } else {
        val st0 = docs.select(col(idCol),
          stateOf(seed(col(textCol))).as("__st"))
        val chunks = merges.grouped(chunkSize).toIndexedSeq
        def applyChunk(df: DataFrame, i: Int): DataFrame =
          df.withColumn("__st", chunks(i).foldLeft(col("__st")) {
            case (st, (a, b)) => applyMerge(st, a, b)
          })
        val mergedDf = Cuts.generations(applyChunk(st0, 0),
          chunks.length - 1)(applyChunk)
        mergedDf.select(col(idCol), symbolsOf(col("__st")).as("__syms"))
      }
    symsDf
      .select(col(idCol), posexplode(col("__syms")).as(Seq("pos", "symbol")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("symbol"))
  }

  /** DuckDB oracle for [[train]], unrolled replay of the same
    * recurrence (the q63/q104 recipe): `tokSql` must yield
    * (doc_id, toks). */
  def trainOracleSql(tokSql: String, nMerges: Int): String =
    s"""WITH ${replayCtes(tokSql, nMerges)}
      |${(1 to nMerges).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, a AS left_sym, b AS right_sym, " +
        s"CAST(freq AS BIGINT) AS freq FROM m$i").mkString("\nUNION ALL\n")}""".stripMargin

  /** DuckDB oracle for [[encode]] over the training corpus: the final
    * replay state, split back to positioned symbols. */
  def encodeOracleSql(tokSql: String, nMerges: Int): String =
    s"""WITH ${replayCtes(tokSql, nMerges)},
      |fin AS (
      |  SELECT doc_id,
      |         list_filter(string_split(trim(state, chr(1)),
      |           chr(1) || chr(1)), x -> x <> '') AS syms
      |  FROM s$nMerges
      |)
      |SELECT doc_id, CAST(j - 1 AS BIGINT) AS pos, syms[j] AS symbol
      |FROM (SELECT doc_id, syms,
      |        unnest(generate_series(1, len(syms))) AS j
      |      FROM fin WHERE len(syms) >= 1)""".stripMargin

  /** DuckDB oracle for the SAMPLE-TRAINED encode — the documented
    * 100 TB contract run for real: merges replay on `trainTokSql`'s
    * (sub)corpus, the learned tables then apply in rank order to
    * `encodeTokSql`'s (full) corpus. A merge round that found no pair
    * on the sample leaves every state unchanged on both chains (the
    * LEFT-JOIN coalesce), mirroring the trainer's early stop. */
  def encodeSampledOracleSql(trainTokSql: String, encodeTokSql: String,
      nMerges: Int): String = {
    val encSteps = (1 to nMerges).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT doc_id,
         |         coalesce(replace(state,
         |           chr(1) || a || chr(1) || chr(1) || b || chr(1),
         |           chr(1) || a || ' ' || b || chr(1)), state) AS state
         |  FROM f${i - 1} LEFT JOIN m$i ON TRUE
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${replayCtes(trainTokSql, nMerges)},
      |te AS ($encodeTokSql),
      |f0 AS MATERIALIZED (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) = 0 THEN ''
      |              ELSE chr(1) || array_to_string(toks, chr(1) || chr(1)) ||
      |                   chr(1) END AS state
      |  FROM te
      |), $encSteps,
      |fin AS (
      |  SELECT doc_id,
      |         list_filter(string_split(trim(state, chr(1)),
      |           chr(1) || chr(1)), x -> x <> '') AS syms
      |  FROM f$nMerges
      |)
      |SELECT doc_id, CAST(j - 1 AS BIGINT) AS pos, syms[j] AS symbol
      |FROM (SELECT doc_id, syms,
      |        unnest(generate_series(1, len(syms))) AS j
      |      FROM fin WHERE len(syms) >= 1)""".stripMargin
  }

  /** The shared replay: s0 → (pair count → 1-row argmax → replace) × N.
    * The LEFT JOIN ON TRUE keeps state unchanged if a round finds no
    * pairs (coalesce of the NULL-pattern replace), mirroring the trainer's
    * early stop. */
  private def replayCtes(tokSql: String, nMerges: Int): String = {
    val steps = (1 to nMerges).map { i =>
      s"""sy${i - 1} AS (
         |  SELECT doc_id, list_filter(string_split(trim(state, chr(1)),
         |    chr(1) || chr(1)), x -> x <> '') AS syms
         |  FROM s${i - 1}
         |), p$i AS (
         |  SELECT syms[j] AS a, syms[j + 1] AS b, count(*) AS freq
         |  FROM (SELECT syms, unnest(generate_series(1, len(syms) - 1)) AS j
         |        FROM sy${i - 1} WHERE len(syms) >= 2)
         |  GROUP BY 1, 2
         |), m$i AS MATERIALIZED (
         |  SELECT a, b, freq FROM p$i ORDER BY freq DESC, a, b LIMIT 1
         |), s$i AS MATERIALIZED (
         |  SELECT doc_id,
         |         coalesce(replace(state,
         |           chr(1) || a || chr(1) || chr(1) || b || chr(1),
         |           chr(1) || a || ' ' || b || chr(1)), state) AS state
         |  FROM s${i - 1} LEFT JOIN m$i ON TRUE
         |)""".stripMargin
    }.mkString(", ")
    // no line here may BEGIN with "||": the callers embed this
    // already-stripped block inside their own stripMargin templates,
    // and a leading "||" would lose its first pipe to the outer strip
    s"""t AS ($tokSql),
      |s0 AS MATERIALIZED (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) = 0 THEN ''
      |              ELSE chr(1) || array_to_string(toks, chr(1) || chr(1)) ||
      |                   chr(1) END AS state
      |  FROM t
      |), $steps""".stripMargin
  }
}
