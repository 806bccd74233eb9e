package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling probe (dev tool, not part of the library surface): times the
  * heaviest operator families at 1x and Nx corpus multiples to check the
  * growth exponent empirically — near-linear growth is the evidence that
  * the keyed-shuffle plans hold as data scales. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(8)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, "/root/testdata/sf0.1")

    def replicate(df: DataFrame, idCol: String, m: Int): DataFrame =
      (0 until m).map(i => df.withColumn(idCol, col(idCol) + lit(i * 10000000L)))
        .reduce(_ unionAll _)

    // Optional family filter (comma-separated name prefixes) so one slow
    // family can be probed solo — e.g. SPARK_GRAFT_PROBE=connected.
    val only = sys.env.get("SPARK_GRAFT_PROBE")
      .map(_.split(",").map(_.trim).toSet)

    // fixed 1x-trained merge tables for the encode probes (lazy: only
    // paid when the bpe families are selected)
    lazy val wordMerges = text.Bpe
      .trainMerges(t.documents, "doc_id", "text", 16).map(x => (x._2, x._3))
    lazy val charMerges = text.Bpe
      .trainMerges(t.documents, "doc_id", "text", 16, text.Bpe.charSymbols)
      .map(x => (x._2, x._3))
    lazy val byteMerges = text.Bpe
      .trainMerges(t.documents, "doc_id", "text", 12,
        text.Bpe.byteFallbackSymbols)
      .map(x => (x._2, x._3))
    def time(name: String)(f: => Long): Unit =
      if (only.forall(_.exists(name.startsWith))) {
        val t0 = System.nanoTime()
        val n = f
        println(f"PROBE $name rows=$n took ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }

    // force the lazy training OUTSIDE the timed loop when an encode
    // family is selected — otherwise the x1 probe silently includes the
    // 16-round training cost and the scaling ratio reads nonsense
    if (only.forall(_.exists(p =>
        "bpe_encode".startsWith(p) || "bpe_char_encode".startsWith(p) ||
        "bpe_byte_encode".startsWith(p) ||
        "bpe_byte_roundtrip".startsWith(p)))) {
      wordMerges; charMerges; byteMerges; ()
    }

    for (m <- Seq(1, mult)) {
      val docs = replicate(t.documents, "doc_id", m).persist()
      docs.count()
      time(s"minhash_lsh_x$m") {
        val sig = dedup.NearDup.minhashSignatures(docs, "doc_id", "text",
          hash = functions.Hash64.fast60).persist()
        val n = dedup.NearDup.lshCandidatePairs(sig, "doc_id", "sig").count()
        sig.unpersist(); n
      }
      time(s"simhash_x$m") {
        val sigs = dedup.NearDup.simhash(docs, "doc_id", "text",
          hash = functions.Hash64.fast60)
        dedup.NearDup.simhashPairs(sigs, "doc_id", maxHamming = 8).count()
      }
      // round-8 wave-5 families: all doc-keyed (windows / broadcast
      // joins / per-doc regex counts) — expected linear-or-better
      time(s"gopher_rep_x$m") {
        text.Gopher.dupNgramCoverage(docs, "doc_id", "text").count()
      }
      time(s"blocklist_x$m") {
        text.Blocklist.phraseHits(docs, "doc_id", "text",
          Seq("table scan merge", "join order", "batch batch batch",
            "slow query", "data line")).count()
      }
      time(s"script_mix_x$m") {
        text.Scripts.scriptMix(docs, "doc_id", "text").count()
      }
      // native #10 vs the relational oracle form: same integers, one
      // scan-side pass vs explode + two shuffles (full materialization
      // via a count over h_q so column pruning can't skip the work)
      time(s"char_entropy_native_x$m") {
        text.TextAnalysis.charEntropy(docs, "doc_id", "text")
          .agg(sum(col("h_q"))).head.getLong(0)
      }
      time(s"char_entropy_relational_x$m") {
        text.TextAnalysis.charEntropyRelational(docs, "doc_id", "text")
          .agg(sum(col("h_q"))).head.getLong(0)
      }
      // native #11 vs the array form: letter-class token stats as one
      // scan-side pass vs split + per-token allocation + HOF fold —
      // the PROBE asserts value parity (identical corpus sums)
      time(s"unicode_stats_native_x$m") {
        val r = docs.select(functions.UnicodeTokenStats
            .unicodeTokenStats(col("text")).as("st"))
          .agg(sum(element_at(col("st"), 1)),
            sum(element_at(col("st"), 2))).head
        r.getLong(0) * 1000000L + r.getLong(1)
      }
      time(s"unicode_stats_array_x$m") {
        val toks = text.TextAnalysis.unicodeTokens(col("text"))
        val r = docs.select(size(toks).cast("long").as("n"),
            aggregate(transform(toks, t => length(t).cast("long")),
              lit(0L), (a, x) => a + x).as("s"))
          .agg(sum(col("n")), sum(col("s"))).head
        r.getLong(0) * 1000000L + r.getLong(1)
      }
      time(s"quality_fusion_x$m") {
        val qm = text.QualityModel.score(docs, "doc_id", "text",
          text.QualityModel.weightsFrom(64, "qm",
            text.TextAnalysis.stopEn.map(_ -> 3L).toMap, default = -1L),
          64, "qm")
          .select(col("doc_id"), col("n_tokens").cast("long").as("m_len"),
            col("raw").cast("long").as("m_linear"))
        val rep = text.Gopher.dupNgramCoverage(docs, "doc_id", "text",
          ns = Seq(5)).select(col("doc_id"), col("frac_micro").as("m_rep"))
        ops.Features.bordaFusion(qm.join(rep, "doc_id"), "doc_id",
          Seq(("m_len", true), ("m_linear", true), ("m_rep", false)))
          .count()
      }
      docs.unpersist()

      val emb = replicate(
        t.embeddings.select(col("vec_id").as("id"),
          similarity.Similarity.toDouble(col("embedding")).as("ev")), "id", m).persist()
      emb.count()
      val queries = t.embeddings.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), similarity.Similarity.toDouble(col("embedding")).as("qv"))
      time(s"brute_topk_x$m") {
        similarity.Similarity.bruteForceTopK(emb, queries, 5).count()
      }
      // contrastive-batch audit: pair work is N·(B−1)/2 at fixed B —
      // must scale linearly with the corpus (never corpus²)
      time(s"contrastive_batches_x$m") {
        similarity.Similarity.contrastiveBatchAudit(emb, nShards = 4,
          batchSize = 25, minCosine = 0.95, salt = "cb-v1").count()
      }
      val cents = similarity.IVF.collectCentroids(
        emb.filter(col("id") < 16).select(col("id").as("cid"), col("ev").as("cv")),
        "cid", "cv")
      time(s"ivf_topk_x$m") {
        similarity.IVF.topK(emb, queries, cents, nProbe = 4, k = 5).count()
      }
      emb.unpersist()

      // connected components over a synthetic chain edge set that grows
      // with m (tests the O(log diameter) loop, not the pipeline): bound
      // 0 keeps it off the driver route a chain this size would take
      import spark.implicits._
      val nNodes = 20000 * m
      val edges = spark.range(1, nNodes)
        .select((col("id") - 1).as("d1"), col("id").as("d2")) // one long chain
      time(s"connected_components_x$m") {
        dedup.NearDup.connectedComponentsWithin(edges.toDF(), "d1", "d2",
          maxIter = 50, maxDriverEdges = 0).count()
      }

      val docs2 = replicate(t.documents, "doc_id", m).persist()
      docs2.count()
      time(s"decontaminate_x$m") {
        text.Decontaminate.overlap(
          docs2.filter(col("doc_id") % 11 =!= 0),
          docs2.filter(col("doc_id") % 11 === 0), "doc_id", "text").count()
      }
      time(s"bm25_x$m") {
        text.Retrieval.bm25(docs2, "doc_id", "text",
          Seq("hash", "join", "spark", "vector")).count()
      }
      // line dedup: replicas make every line a dup — worst-case window
      // partitions (multiplicity m) while the zero-shuffle chunker is the
      // scan-bound control
      time(s"line_dedup_x$m") {
        text.Segments.lineDedupDocs(docs2, "doc_id", "text", 12).count()
      }
      time(s"chunk_stride_x$m") {
        text.Segments.chunkWithStride(docs2, "doc_id", "text", 32, 16).count()
      }
      // count-only token scan: regex-split HOF vs the native byte-scan
      // expression (TokenCount) — the headroom measurement behind
      // TextAnalysis.tokenCount's switch
      time(s"tokcount_hof_x$m") {
        docs2.agg(sum(org.apache.spark.sql.functions.size(
          text.TextAnalysis.tokens(col("text"))).cast("long")))
          .collect().head.getLong(0)
      }
      time(s"tokcount_native_x$m") {
        docs2.agg(sum(graft.functions.TokenCount.tokenCount(col("text"))
          .cast("long"))).collect().head.getLong(0)
      }
      docs2.unpersist()

      // per-key cap under worst-case skew: ONE key owning every row —
      // the window form sorts it all in a single task; the bounded-buffer
      // form stays scan-bound
      val skewed = spark.range(0, 500000L * m)
        .select(col("id"), lit("k0").as("key")).persist()
      skewed.count()
      time(s"cap_window_x$m") {
        ops.Sampling.capPerKey(skewed, col("key"), col("id"), 100, "s").count()
      }
      time(s"cap_topk_x$m") {
        ops.Sampling.capPerKeyIds(skewed, "key", "id", 100, "s").count()
      }
      skewed.unpersist()

      // round-11 item 1: EXACT token-budget sampling under a DOMINANT
      // source (85% of docs in one key — the web-crawl shape at
      // 100 TB): the banded two-phase prefix sum must scale with the
      // corpus, never with the biggest key (the pre-round-11 window
      // form single-task-sorted the whole dominant source).
      val docsS = replicate(t.documents, "doc_id", m)
        .withColumn("src", when(col("doc_id") % 20 < 17, lit("web"))
          .otherwise(concat(lit("s"), (col("doc_id") % 20).cast("string"))))
        .select(col("doc_id"), col("src"), col("n_chars")).persist()
      docsS.count()
      val allocS = docsS.groupBy(col("src"))
        .agg((sum(col("n_chars")) / 2).cast("long").as("alloc"))
      time(s"budget_sample_x$m") {
        ops.Sampling.tokenBudgetSample(docsS, "src", "doc_id", "n_chars",
          allocS, "alloc", "probe").count()
      }
      docsS.unpersist()

      // span runs: replicas make EVERY gram df >= 2 — worst case (all
      // positions duplicated, maximal run lengths, the (h, doc) join at
      // its largest); persist-internal, so clearCache after
      val docs3 = replicate(t.documents, "doc_id", m).persist()
      docs3.count()
      time(s"span_runs_x$m") {
        val n = text.Spans.duplicatedSpanRuns(docs3, "doc_id", "text", w = 7).count()
        spark.catalog.clearCache(); n
      }
      docs3.unpersist()

      // semantic dedup: replicas are exact copies (cosine 1 in every
      // pair), so every dup group has m members — m² pair growth inside
      // cells is the stress; centroid count scales with the corpus (the
      // documented sizing rule: cells bound the self-join, so C must
      // grow with n — 16 cells at 1x, 16·m at m×)
      val emb2 = replicate(
        t.embeddings.select(col("vec_id").as("id"),
          similarity.Similarity.toDouble(col("embedding")).as("ev")), "id", m).persist()
      emb2.count()
      val cents2 = similarity.IVF.collectCentroids(
        emb2.orderBy(col("id")).limit(16 * m)
          .select(col("id").as("cid"), col("ev").as("cv")), "cid", "cv")
      time(s"semantic_dedup_x$m") {
        val n = similarity.Similarity.semanticDedup(emb2, cents2, 0.999).count()
        spark.catalog.clearCache(); n
      }
      emb2.unpersist()

      // streaming near-dup step: a FIXED 1x batch against a history that
      // grows m× — the per-epoch cost curve a long-running stream sees
      val histSigs = replicate(
        dedup.NearDup.minhashSignatures(t.documents, "doc_id", "text",
          hash = functions.Hash64.fast60), "doc_id", m).persist()
      histSigs.count()
      val batchSigs = dedup.NearDup.minhashSignatures(
        t.documents.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 900000000L),
        "doc_id", "text", hash = functions.Hash64.fast60)
      time(s"neardup_increment_x$m") {
        dedup.NearDup.nearDupIncrement(batchSigs, histSigs, "doc_id").count()
      }
      histSigs.unpersist()

      // streaming k-NN-graph step: a FIXED 1x vector delta folded into a
      // history (banded keys + vectors + graph) grown m× — the per-epoch
      // cost curve of the incremental graph sink. The candidate mass is
      // delta-proportional (epoch keys never self-join history against
      // itself) and the merge re-ranks affected src nodes only, so the
      // probe should grow with the history SCAN, not its pair count.
      val embAll = replicate(
        t.embeddings.select(col("vec_id").as("id"),
          similarity.Similarity.toDouble(col("embedding")).as("ev")),
        "id", m).persist()
      embAll.count()
      val gDelta = t.embeddings
        .select((col("vec_id") + 900000000L).as("id"),
          similarity.Similarity.toDouble(col("embedding")).as("ev"))
        .filter(col("id") % 10 === 0)
      val gHistBands = similarity.GraphANN
        .bandedBuckets(embAll, dim = 64, bits = 6, bands = 3).persist()
      gHistBands.count()
      val gPrev = similarity.GraphANN
        .knnGraph(embAll, dim = 64, k = 8, bits = 6, bands = 3).persist()
      gPrev.count()
      time(s"knngraph_epoch_x$m") {
        streaming.VectorSinks.knnGraphEpoch(gDelta, gHistBands, embAll,
          gPrev, dim = 64, k = 8, bits = 6, bands = 3).count()
      }
      // deletion repair: a FIXED 50-id tombstone set against the m×
      // graph — cost ∝ the tombstones' in-degree × bucket occupancy
      // (replicas densify both, the adversarial case), never the
      // corpus: the affected-src re-rank is the only recompute
      time(s"knngraph_delete_x$m") {
        graft.similarity.GraphANN.deleteFromGraph(embAll, gPrev,
          embAll.select(col("id")).filter(col("id") % 10 === 3)
            .limit(50),
          dim = 64, k = 8, bits = 6, bands = 3).count()
      }
      // CDC upsert epoch (round 13): a FIXED mixed delta (new ids +
      // updates of live ids) + a FIXED 50-id tombstone set against the
      // m×-grown VERSIONED histories — r13's latest-event-wins live
      // view adds two keyed aggs of slim (id, epoch) projections on
      // top of the r12 fold, so this must track knngraph_epoch's
      // curve (history-scan-bound), not the pair count
      val pvV = embAll.withColumn("epoch", col("id") % 3)
      val pbV = gHistBands.withColumn("epoch", col("id") % 3)
      val ptV = embAll.select(col("id")).filter(col("id") % 10 === 7)
        .limit(50).withColumn("epoch", lit(2L))
      val uDelta = t.embeddings
        .select((col("vec_id") + 900000000L).as("id"),
          similarity.Similarity.toDouble(col("embedding")).as("ev"))
        .filter(col("id") % 10 === 0)
        .unionByName(embAll.filter(col("id") % 97 === 0).limit(20))
      // %97 exclusion keeps the tombstones DISJOINT from the delta's
      // update leg — one-epoch add+del of the same id is contract-barred
      val uTomb = embAll.select(col("id"))
        .filter(col("id") % 10 === 1 && col("id") % 97 =!= 0)
        .limit(50)
      time(s"upsert_epoch_x$m") {
        streaming.VectorSinks.upsertGraphEpoch(uDelta, uTomb, pvV, pbV,
          ptV, gPrev, dim = 64, k = 8, bits = 6, bands = 3).count()
      }
      gHistBands.unpersist(); gPrev.unpersist(); embAll.unpersist()

      // round-6 heavy families — graph ops probe over m DISJOINT copies
      // of the q119 co-purchase graph (node ids offset per copy): the
      // plans are keyed, so disjoint copies must scale LINEARLY; any
      // super-linear reading means cross-copy work the plan shouldn't do
      val li = t.lineitem.select(col("l_orderkey"), col("l_partkey"))
      val edges0 = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      val gEdges = (0 until m).map(i => edges0.select(
          (col("src") + lit(i * 10000000L)).as("src"),
          (col("dst") + lit(i * 10000000L)).as("dst")))
        .reduce(_ unionAll _).persist()
      gEdges.count()
      time(s"triangles_x$m") {
        ops.Triangles.triangleCounts(gEdges, "src", "dst").count()
      }
      time(s"kcore_x$m") {
        ops.KCore.kCore(gEdges, "src", "dst", k = 4).count()
      }
      val seeds = gEdges.select(col("src").as("node"))
        .filter(col("node") % 1000 === 0).distinct()
      time(s"bfs_khop_x$m") {
        ops.Bfs.kHopDistances(gEdges, "src", "dst", seeds, hops = 4).count()
      }
      // deterministic walks: frontier is |starts|·walksPerNode rows per
      // step regardless of graph size — disjoint copies must be linear
      time(s"walks_x$m") {
        ops.Walks.deterministicWalks(gEdges, "src", "dst",
          walksPerNode = 2, steps = 4, salt = "probe").count()
      }
      // k-truss: rounds × triangle support via adjacency intersection —
      // Σ out-deg² per copy, so disjoint copies must be linear
      time(s"truss_x$m") {
        ops.Truss.kTruss(gEdges, "src", "dst", k = 8).count()
      }
      // betweenness/eccentricity: seed-count priced — seeds per copy
      // scale with m, frontiers stay per-copy-bounded
      time(s"betweenness_x$m") {
        ops.Betweenness.fromSeeds(gEdges, "src", "dst", seeds,
          hops = 3).count()
      }
      time(s"eccentricity_x$m") {
        ops.Bfs.eccentricity(gEdges, "src", "dst", seeds, hops = 4).count()
      }
      time(s"harmonic_x$m") {
        ops.Bfs.harmonicCentrality(gEdges, "src", "dst", seeds,
          hops = 3).count()
      }
      gEdges.unpersist()

      // prefix-filter join: replicas get a PER-COPY alphabet rotation
      // (letters i%26, digits i%10 — distinct combined mapping for all
      // m < 130) so cross-copy token sets are disjoint: the complete
      // pair set grows linearly with m, not m² from artificial clones
      val alpha = ('a' to 'z').mkString
      val digs = ('0' to '9').mkString
      val docsR = (0 until m).map { i =>
        val a = alpha.drop(i % 26) + alpha.take(i % 26)
        val d = digs.drop(i % 10) + digs.take(i % 10)
        t.documents.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          translate(lower(col("text")), alpha + digs, a + d).as("text"))
      }.reduce(_ unionAll _).persist()
      docsR.count()
      time(s"prefix_join_x$m") {
        dedup.NearDup.prefixFilterJaccardPairs(docsR, "doc_id", "text",
          3, 5, w = 3).count()
      }
      // winnowing match pairs on the same rotated corpus (cross-copy
      // token sets disjoint → true pair volume grows linearly): the
      // selection stage is per-row array work, the pair join runs over
      // the winnowed ~2/(w+1) sample with the df cap bounding fan-out
      time(s"winnow_pairs_x$m") {
        text.Winnow.matchPairs(docsR, "doc_id", "text").count()
      }
      // unigram Viterbi scoring: vocabulary-priced (distinct words),
      // so the DP stage must stay flat while wordFreq scales linearly
      time(s"unigram_cost_x$m") {
        val p = text.Unigram.collectPieces(
          text.Unigram.trainPieces(docsR, "doc_id", "text", 48))
        text.Unigram.viterbiCost(docsR, "doc_id", "text", p).count()
      }
      // corpus encode: the probe that would have caught q322's
      // projection-collapse regression (DP re-evaluated per token
      // occurrence reads super-linear; the persisted-segment form is
      // scan-bound)
      time(s"unigram_encode_x$m") {
        val p = text.Unigram.collectPieces(
          text.Unigram.trainPieces(docsR, "doc_id", "text", 48))
        text.Unigram.encodeDocs(docsR, "doc_id", "text", p).count()
      }
      // suffix arrays over the rotated corpus (cross-copy substrings
      // disjoint): per-doc form is embarrassingly parallel; the global
      // form's active tie mass must grow with the true duplicate mass
      // (linear in disjoint copies), never the pair count; bound 0 keeps
      // the global form off the driver route this corpus would take
      time(s"suffix_perdoc_x$m") {
        text.SuffixArray.perDocRanks(docsR, "doc_id", "text").count()
      }
      time(s"suffix_global_x$m") {
        text.SuffixArray.globalRanksWithin(docsR, "doc_id", "text",
          maxLenLog2 = 12, maxDriverChars = 0L).count()
      }
      // exact-substring threshold family (rotated corpus: cross-copy
      // grams disjoint, so dup mass — and the island/interval work — is
      // linear in copies): removal is one L-gram df + islands; the
      // threshold pair readout adds the SA + adjacency join, priced by
      // the qualifying-pair mass
      time(s"exact_substr_removal_x$m") {
        text.ExactSubstr.removeCrossDocRepeats(docsR, "doc_id", "text",
          minLen = 40).count()
      }
      time(s"exact_substr_pairs_x$m") {
        text.SuffixArray.crossDocRepeatsAtLeast(docsR, "doc_id", "text",
          minLen = 40).count()
      }
      docsR.unpersist()

      // BPE encode: merges trained ONCE on the 1x corpus (the documented
      // train-on-sample contract), replayed over the m× corpus — a pure
      // per-row replace chain that must stay scan-bound. Plain replicas
      // (not rotated) so the learned merges actually fire in every copy.
      val docsB = replicate(t.documents, "doc_id", m).persist()
      docsB.count()
      time(s"bpe_encode_x$m") {
        text.Bpe.encode(docsB, "doc_id", "text", wordMerges).count()
      }
      time(s"bpe_char_encode_x$m") {
        text.Bpe.encode(docsB, "doc_id", "text", charMerges,
          text.Bpe.charSymbols).count()
      }
      // round-9 item 4: the byte-fallback family's claimed corpus-size-
      // independence of the merge REPLAY (per-round cost = merge count,
      // not corpus size) — encode must scale linearly in rows. The
      // round-trip probe adds q357's per-doc reassembly; its length sum
      // is forced so column pruning can't skip the string rebuild (the
      // q112 lesson).
      time(s"bpe_byte_encode_x$m") {
        text.Bpe.encode(docsB, "doc_id", "text", byteMerges,
          text.Bpe.byteFallbackSymbols).count()
      }
      // round-11 item 6: the MERGES axis — training cost across two
      // orders of magnitude of merge count at FIXED 1x corpus. The
      // Spark side (seed + distinct-state collect) does not depend on
      // the merge count; only the in-driver merge loop grows with it,
      // so the curve should stay near flat.
      // Runs only at m=1: the corpus axis is the families above.
      if (m == 1) {
        val mergeDocs = t.documents
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text"))
        for (nm <- Seq(8, 32, 128, 512)) {
          time(s"bpe_merge_curve_${nm}_x1") {
            text.Bpe.trainMerges(mergeDocs, "doc_id", "text", nm,
              text.Bpe.byteFallbackPreTokenSymbols).length.toLong
          }
        }
      }
      time(s"bpe_byte_roundtrip_x$m") {
        val enc = text.Bpe.encode(docsB, "doc_id", "text", byteMerges,
          text.Bpe.byteFallbackSymbols)
        val r = enc.groupBy(col("doc_id"))
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("symbol")))),
            e => e.getField("symbol")), "").as("__enc"))
          .agg(count(lit(1)).as("n"), sum(length(col("__enc"))).as("len"))
          .head()
        r.getLong(0)
      }
      // round-9 item 3: the composed curation pipeline end to end —
      // gates + dedup + attrition; replicas are exact dups by id shift,
      // so the dedup stage does (m−1)/m of the dropping while every
      // gate still scans the full m× corpus.
      time(s"curate_pipeline_x$m") {
        text.Curate.attrition(docsB, "doc_id", "text",
          Seq("table scan merge", "join order", "batch batch batch",
            "slow query", "data line", "purple elephant parade"),
          minTokens = 10L).count()
      }
      // round-10 item 1: the full RELEASE pipeline (stages 6–8 on top).
      // Replicas are exact dups, so stage 5 drops (m−1)/m and the
      // near-dup banding sees a survivor set that stays ~1x-sized —
      // growth must come only from the scan-side gate/PII/decontam
      // passes (linear), never the CC loop.
      time(s"release_pipeline_x$m") {
        text.Curate.attritionRelease(docsB, "doc_id", "text",
          Seq("table scan merge", "join order", "batch batch batch",
            "slow query", "data line", "purple elephant parade"),
          t.documents.filter(col("doc_id") % 17 === 0)
            .select(col("doc_id"), col("text")),
          minTokens = 10L).count()
      }
      // FFD bin-packing at the contract shape: shard count scales with
      // the corpus so per-task fold state stays constant-sized
      time(s"binpack_x$m") {
        ops.BinPack.packBinsFFD(docsB, "doc_id", "text",
          capacity = 512, shards = 4 * m, salt = "probe").count()
      }
      docsB.unpersist()

      val ev = replicate(t.events.select("event_id", "user_id", "event_type", "ts"),
        "event_id", m).persist()
      ev.count()
      time(s"funnel_x$m") {
        ops.Journey.funnel(ev, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase")).count()
      }
      time(s"pagerank_x$m") {
        // purchase graph replicated via the orders side: reuse events as a
        // bipartite user→type graph scaled by m (edge count grows with m)
        val e = ev.select(col("user_id").as("src"),
          (col("event_id") % 1000 + 1000000L).as("dst"))
        ops.PageRank.pageRank(e, "src", "dst").count()
      }
      // densest-subgraph peeling: fully DISJOINT replicas (dst offset
      // per copy, unlike the pagerank probe's shared sinks) peel in
      // lockstep — density and degrees are copy-local — so per-round
      // cost and the whole trace must grow linearly with edges
      time(s"densest_x$m") {
        val e = ev.select(col("user_id").as("src"),
          (expr("event_id div 100000000") * 100000L +
            col("event_id") % 1000 + 1000000L).as("dst"))
        ops.Densest.densestSubgraphTrace(e, "src", "dst",
          epsNum = 1L, epsDen = 10L, rounds = 12).count()
      }
      // Hilbert key: native codegen'd expression vs the interpreted
      // aggregate-HOF fold — same values (spec-asserted), the probe
      // measures the per-row cost gap that motivated expression #9
      time(s"hilbert_native_x$m") {
        ev.select(functions.Hilbert.hilbert(col("user_id"),
          col("event_id")).as("h"))
          .agg(sum(col("h"))).collect()(0).getLong(0)
      }
      time(s"hilbert_fold_x$m") {
        ev.select(functions.Hilbert.hilbertFold(col("user_id"),
          col("event_id")).as("h"))
          .agg(sum(col("h"))).collect()(0).getLong(0)
      }
      // B-cubed: contingency bounded by |clusters|×|golds| (constant
      // under replication) — per-item scoring must stay scan-bound
      time(s"bcubed_x$m") {
        val labeled = ev.select(pmod(col("user_id"), lit(997)).as("cl"),
          col("event_type").as("gold"))
        ops.Eval.bCubed(labeled, "cl", "gold").count()
      }
      // Markov attribution: per-copy user offsets keep journeys intact;
      // the collected transition matrix stays (|channels|+1)·(+2)
      // bounded by the new require — corpus scale grows cell counts only
      time(s"markov_attribution_x$m") {
        val evU = (0 until m).map(i => t.events
            .select((col("event_id") + lit(i * 100000000L)).as("event_id"),
              (col("user_id") + lit(i * 10000000L)).as("user_id"),
              col("event_type"), col("ts")))
          .reduce(_ unionAll _)
        ops.Journey.markovAttribution(evU, "user_id", "event_type", "ts",
          "event_id", conversionType = "purchase",
          channels = Seq("click", "error", "signup", "view")).count()
      }
      ev.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
