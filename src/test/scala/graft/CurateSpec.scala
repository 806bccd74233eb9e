package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.text.Curate

/** Hand-derived fixture for the one-plan curation pipeline: five docs,
  * one engineered to drop at each stage, attrition chain checked cell
  * by cell (the q392/q393 oracles re-prove the same operators against
  * DuckDB over the corpus at both SFs).
  */
class CurateSpec extends SparkSuite {
  import spark.implicits._

  // d1 passes everything; d2 fails gopher (1 token < 3);
  // d3 is d1's sentence doubled (dup 5-grams cover ~all chars -> the
  // repetition ladder fails); d4 carries the banned phrase; d5 is an
  // exact copy of d1 (dedup keeps the lower id).
  private val base = "the quick brown fox jumps over a lazy dog today"
  private def docs = Seq(
    (1L, base),
    (2L, "xx"),
    (3L, s"$base $base"),
    (4L, "the quick brown fox has a bad phrase inside it now"),
    (5L, base)).toDF("doc_id", "text")

  private val phrases = Seq("bad phrase")

  /** The multi-gate entry points read their input through one
    * materialized (doc_id, text) frame; once they return, its blocks
    * are released and no cache entry for the input is left. */
  private def assertInputReleased(in: DataFrame): Unit = {
    assert(in.storageLevel == StorageLevel.NONE)
    assert(in.select(col("doc_id"), col("text")).storageLevel ==
      StorageLevel.NONE)
    assert(!spark.sparkContext.getPersistentRDDs.values
      .exists(_.name == Curate.readOnceInput))
  }

  test("attrition: one doc drops at each stage, chain sums exactly") {
    val in = docs
    val rows = Curate.attrition(in, "doc_id", "text", phrases,
        minTokens = 3L, maxMeanBitsMicro = 21000000L)
      .orderBy(col("stage_ord")).collect()
    assertInputReleased(in)
    // (stage, docs_in, docs_dropped, tokens_in, tokens_dropped)
    // token counts: d1=10, d2=1, d3=20, d4=11, d5=10 -> 52 in
    val expected = Seq(
      ("gopher", 5L, 1L, 52L, 1L), // d2
      ("repetition", 4L, 1L, 51L, 20L), // d3
      ("blocklist", 3L, 1L, 31L, 11L), // d4
      ("kn_perplexity", 2L, 0L, 20L, 0L), // ceiling 21e6 = max bits
      ("exact_dedup", 2L, 1L, 20L, 10L), // d5 (d1 kept: lower id)
      ("released", 1L, 0L, 10L, 0L))
    assert(rows.length == 6)
    rows.zip(expected).foreach { case (r, (st, di, dd, ti, td)) =>
      assert(r.getString(1) == st)
      assert(r.getLong(2) == di, s"$st docs_in")
      assert(r.getLong(3) == dd, s"$st docs_dropped")
      assert(r.getLong(4) == ti, s"$st tokens_in")
      assert(r.getLong(5) == td, s"$st tokens_dropped")
    }
  }

  test("kn ceiling 0 drops every gate-passer at stage 4, before dedup") {
    val rows = Curate.attrition(docs, "doc_id", "text", phrases,
        minTokens = 3L, maxMeanBitsMicro = 0L)
      .orderBy(col("stage_ord")).collect()
    val byStage = rows.map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(byStage("kn_perplexity") == 2L) // d1 and d5
    assert(byStage("exact_dedup") == 0L) // nothing left to dedup
    val released = rows.find(_.getString(1) == "released").get
    assert(released.getLong(2) == 0L)
  }

  test("survivors: the kept doc with a deterministic split label") {
    val s = Curate.survivors(docs, "doc_id", "text", phrases,
      minTokens = 3L, maxMeanBitsMicro = 21000000L).collect()
    assert(s.map(_.getLong(0)).toSeq == Seq(1L))
    assert(s.head.getLong(1) == 10L)
    assert(Set("train", "val", "test").contains(s.head.getString(2)))
  }

  test("attritionBySource: per-source rows sum to the global datasheet") {
    val srcs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "a"))
      .toDF("doc_id", "source")
    val bySrc = Curate.attritionBySource(docs, "doc_id", "text", srcs,
        "source", phrases, minTokens = 3L, maxMeanBitsMicro = 21000000L)
      .collect()
    assert(bySrc.length == 12) // 2 sources x 6 stages
    val summed = bySrc.groupBy(_.getLong(1)).view.mapValues(rs =>
      (rs.map(_.getLong(4)).sum, rs.map(_.getLong(6)).sum)).toMap
    val global = Curate.attrition(docs, "doc_id", "text", phrases,
        minTokens = 3L, maxMeanBitsMicro = 21000000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(5))).toMap
    assert(summed == global)
    // source "a" holds the dup pair (1, 5): its dedup line drops 1
    val aDedup = bySrc.find(r =>
      r.getString(0) == "a" && r.getLong(1) == 5L).get
    assert(aDedup.getLong(4) == 1L && aDedup.getLong(6) == 10L)
  }

  // ── release pipeline (stages 6–8) ──────────────────────────────────
  // d6 passes the 1–5 gates but carries an email (pii); d7 is a
  // 13-token doc whose text sits verbatim in the benchmark (decontam);
  // d8 is d1 plus one trailing token — NOT an exact copy, so it passes
  // stage 5 and lands in d1's MinHash cluster (near_dup; d1 keeps as
  // the min id). Token counts: d6 = 17, d7 = 13, d8 = 11.
  private def releaseDocs = docs.unionAll(Seq(
    (6L, s"$base contact me at bob@example.com now"),
    (7L, "the cat and the dog walked along a very quiet forest path today"),
    (8L, s"$base extra")).toDF("doc_id", "text"))

  private def bench = Seq(
    (100L, "the cat and the dog walked along a very quiet forest path today"))
    .toDF("doc_id", "text")

  test("releaseVerdicts: stages 6-8 attribute first-failing in order") {
    val v = Curate.releaseVerdicts(releaseDocs, "doc_id", "text",
        phrases, bench, minTokens = 3L, maxMeanBitsMicro = 30000000L)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(v(1L).isEmpty) // released
    assert(v(2L).contains(1)) // gopher
    assert(v(3L).contains(2)) // repetition
    assert(v(4L).contains(3)) // blocklist
    assert(v(5L).contains(5)) // exact dedup (keep-first: d1)
    assert(v(6L).contains(6)) // pii
    assert(v(7L).contains(7)) // decontam (self-leak vs the benchmark)
    assert(v(8L).contains(8)) // near-dup cluster, d1 is the min-id rep
  }

  test("attritionRelease: 9-row datasheet, chain sums exactly") {
    val in = releaseDocs
    val rows = Curate.attritionRelease(in, "doc_id", "text",
        phrases, bench, minTokens = 3L, maxMeanBitsMicro = 30000000L)
      .orderBy(col("stage_ord")).collect()
    assertInputReleased(in)
    // tokens: d1=10 d2=1 d3=20 d4=11 d5=10 d6=17 d7=13 d8=11 -> 93
    val expected = Seq(
      ("gopher", 8L, 1L, 93L, 1L), // d2
      ("repetition", 7L, 1L, 92L, 20L), // d3
      ("blocklist", 6L, 1L, 72L, 11L), // d4
      ("kn_perplexity", 5L, 0L, 61L, 0L), // generous ceiling
      ("exact_dedup", 5L, 1L, 61L, 10L), // d5
      ("pii", 4L, 1L, 51L, 17L), // d6
      ("decontam", 3L, 1L, 34L, 13L), // d7
      ("near_dup", 2L, 1L, 21L, 11L), // d8
      ("released", 1L, 0L, 10L, 0L))
    assert(rows.length == 9)
    rows.zip(expected).foreach { case (r, (st, di, dd, ti, td)) =>
      assert(r.getString(1) == st)
      assert(r.getLong(2) == di, s"$st docs_in")
      assert(r.getLong(3) == dd, s"$st docs_dropped")
      assert(r.getLong(4) == ti, s"$st tokens_in")
      assert(r.getLong(5) == td, s"$st tokens_dropped")
    }
  }

  test("survivorsRelease: the kept doc with a deterministic split") {
    val s = Curate.survivorsRelease(releaseDocs, "doc_id", "text",
      phrases, bench, minTokens = 3L, maxMeanBitsMicro = 30000000L)
      .collect()
    assert(s.map(_.getLong(0)).toSeq == Seq(1L))
    assert(s.head.getLong(1) == 10L)
    assert(Set("train", "val", "test").contains(s.head.getString(2)))
  }

  test("attritionBySourceRelease: per-source rows sum to the global " +
      "release datasheet") {
    val srcs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "a"),
      (6L, "b"), (7L, "a"), (8L, "b")).toDF("doc_id", "source")
    val bySrc = Curate.attritionBySourceRelease(releaseDocs, "doc_id",
        "text", srcs, "source", phrases, bench, minTokens = 3L,
        maxMeanBitsMicro = 30000000L)
      .collect()
    assert(bySrc.length == 18) // 2 sources x 9 stages
    val summed = bySrc.groupBy(_.getLong(1)).view.mapValues(rs =>
      (rs.map(_.getLong(4)).sum, rs.map(_.getLong(6)).sum)).toMap
    val global = Curate.attritionRelease(releaseDocs, "doc_id", "text",
        phrases, bench, minTokens = 3L, maxMeanBitsMicro = 30000000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(5))).toMap
    assert(summed == global)
    // near-dup copy d8 sits in source "b": its near_dup line drops 1
    val bNd = bySrc.find(r =>
      r.getString(0) == "b" && r.getLong(1) == 8L).get
    assert(bNd.getLong(4) == 1L && bNd.getLong(6) == 11L)
  }

  /** (stage_ord, docs_dropped) of a datasheet. */
  private def drops(sheet: DataFrame): Seq[(Long, Long)] =
    sheet.orderBy(col("stage_ord")).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toSeq

  test("read-once input: a cache the caller owns stays cached") {
    val want = drops(Curate.attritionRelease(releaseDocs, "doc_id", "text",
      phrases, bench, minTokens = 3L, maxMeanBitsMicro = 30000000L))
    val wantGates = drops(Curate.attrition(docs, "doc_id", "text", phrases,
      minTokens = 3L, maxMeanBitsMicro = 21000000L))
    // the caller's cache on the input itself, and on the exact
    // (doc_id, text) projection the entry points read
    val whole = releaseDocs.persist()
    val proj = releaseDocs.select(col("doc_id"), col("text")).persist()
    val gates = docs.persist()
    try {
      for (in <- Seq(whole, proj)) {
        assert(drops(Curate.attritionRelease(in, "doc_id", "text", phrases,
          bench, minTokens = 3L, maxMeanBitsMicro = 30000000L)) == want)
        assert(in.storageLevel != StorageLevel.NONE)
      }
      assert(drops(Curate.attrition(gates, "doc_id", "text", phrases,
        minTokens = 3L, maxMeanBitsMicro = 21000000L)) == wantGates)
      assert(gates.storageLevel != StorageLevel.NONE)
    } finally Seq(whole, proj, gates).foreach(_.unpersist())
  }

  test("read-once input: attritionRelease scans a parquet input in no " +
      "more stages than reading it once") {
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set("fs.stagefs.impl",
      classOf[StageRecordingFs].getName)
    val dir = Files.createTempDirectory("curate-read-once").toString
    releaseDocs.coalesce(1).write.mode("overwrite").parquet(s"$dir/docs")
    val in = spark.read.parquet(s"stagefs://$dir/docs") // infers here
    def scanStages(body: => Any): Set[Int] = {
      StageRecordingFs.stages.clear()
      body
      StageRecordingFs.stages.asScala.map(_.intValue).toSet
    }
    val once = scanStages(in.write.format("noop").mode("overwrite").save())
    assert(once.nonEmpty, "the recording file system saw no read")
    val release = scanStages(Curate.attritionRelease(in, "doc_id", "text",
        phrases, bench, minTokens = 3L, maxMeanBitsMicro = 30000000L)
      .collect())
    assert(release.size <= once.size,
      s"input scanned in ${release.size} stages, reading it once takes " +
        s"${once.size}")
    assertInputReleased(in)
  }

  test("verdicts: first-failing-stage attribution is the documented order") {
    val v = Curate.verdicts(docs, "doc_id", "text", phrases,
        minTokens = 3L, maxMeanBitsMicro = 21000000L)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(v(1L).isEmpty)
    assert(v(2L).contains(1)) // gopher, even though it also has no bigrams
    assert(v(3L).contains(2))
    assert(v(4L).contains(3))
    assert(v(5L).isEmpty) // dedup is not a verdicts-stage: stage 5 comes later
  }
}

/** The local file system under the `stagefs` scheme, recording the stage
  * of every task that opens a file — which stages scanned an input,
  * where task input metrics cannot tell (a cached-block read counts as
  * input bytes too). */
class StageRecordingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("stagefs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Option(TaskContext.get()).foreach(t => StageRecordingFs.stages.add(t.stageId()))
    super.open(f, bufferSize)
  }
}

object StageRecordingFs {
  val stages: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()
}
