package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** `Tables`' cached-schema reads: the same frames as a plain
  * `spark.read.parquet`, fresh attribute IDs per call, and a cache that
  * forgets a rewritten file or a changed parquet conf. */
class TablesSpec extends SparkSuite {

  // the checkout's copies of the sf0.01 / sf0.001 testdata (TESTDATA.md)
  private val dir = "perfbench/data/sf0.01"
  private val small = "perfbench/data/sf0.001"
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (rows, order-insensitive sum of per-row xxhash64). */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def plainRead(path: String): DataFrame = spark.read.parquet(path)

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Writes `df` as ONE parquet file at `path`, replacing what was there. */
  private def writeSingleFile(df: DataFrame, path: String): Unit = {
    val out = tmpDir("tables-w")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  test("cached-schema read equals the plain read on every fixture table") {
    val t = Tables(spark, dir)
    for (n <- names) {
      val cached = t(n)
      val plain = plainRead(s"$dir/$n.parquet")
      assert(cached.schema == plain.schema, n)
      assert(digest(cached) == digest(plain), n)
    }
    assert(Set[DataType](TimestampType, TimestampNTZType)
      .contains(t.events.schema("ts").dataType))
  }

  test("cached-schema read pushes the same filters and prunes the same columns") {
    def scan(df: DataFrame): FileSourceScanExec =
      df.filter(col("l_quantity") > 30).select("l_orderkey")
        .queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: FileSourceScanExec => f
        }.get
    val cached = scan(Tables(spark, dir).lineitem)
    val plain = scan(plainRead(s"$dir/lineitem.parquet"))
    for (k <- Seq("PushedFilters", "ReadSchema", "Format"))
      assert(cached.metadata(k) == plain.metadata(k), k)
  }

  test("self-join: each read has fresh attribute IDs and the join matches") {
    val t = Tables(spark, small)
    val (a, b) = (t.lineitem, t.lineitem)
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    def selfJoin(x: DataFrame, y: DataFrame): DataFrame =
      x.join(y, x("l_orderkey") === y("l_orderkey") &&
          x("l_linenumber") < y("l_linenumber"))
        .select(x("l_orderkey"), x("l_linenumber").as("l1"),
          y("l_linenumber").as("l2"))
    val want = digest(selfJoin(plainRead(s"$small/lineitem.parquet"),
      plainRead(s"$small/lineitem.parquet")))
    assert(want._1 > 0)
    assert(digest(selfJoin(a, b)) == want)
  }

  test("a file rewritten with a new schema is read with the new schema") {
    import spark.implicits._
    val path = s"${tmpDir("tables-rw")}/t.parquet"
    writeSingleFile(Seq((1L, "a")).toDF("id", "s"), path)
    assert(Tables.read(spark, path).columns.toSeq == Seq("id", "s"))
    writeSingleFile(Seq((1L, 2.5, 3)).toDF("id", "x", "y"), path)
    val df = Tables.read(spark, path)
    assert(df.columns.toSeq == Seq("id", "x", "y"))
    assert(df.as[(Long, Double, Int)].collect().toSeq == Seq((1L, 2.5, 3)))
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong re-infers the schema") {
    // a TIMESTAMP(NANOS) column: epoch-nanos long under nanosAsLong,
    // rejected by Spark's schema converter without it
    val d = tmpDir("tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$d/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables(spark, d)("events").schema("ts").dataType == LongType)
      // Tables.events turns the epoch-nanos long into a timestamp
      val ev = Tables(spark, d).events
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(unix_micros(col("ts"))).head().getLong(0) ==
        1700000000123456L)
      spark.conf.set(key, "false")
      intercept[AnalysisException](Tables(spark, d)("events"))
      spark.conf.set(key, "true")
      assert(Tables(spark, d)("events").schema("ts").dataType == LongType)
    } finally spark.conf.set(key, prev)
  }

  test("directories and missing paths keep the plain read") {
    import spark.implicits._
    val d = tmpDir("tables-dir")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.mode("overwrite")
      .parquet(s"$d/t.parquet")
    assert(Tables(spark, d)("t").count() == 2)
    intercept[AnalysisException](Tables(spark, d)("missing"))
  }

  test("scanFloor leaves a join output unchanged and runs no job") {
    val docs = Tables(spark, small).documents
    val joined = docs.select(col("doc_id"), col("text"))
      .join(docs.groupBy(col("doc_id")).agg(count(lit(1)).as("n")), "doc_id")
    var floored: DataFrame = null
    val ran = JobGroups.started(spark)(
      Seq("floor" -> (() => floored = Tables.scanFloor(joined))))
    assert(ran.isEmpty, s"scanFloor ran jobs: $ran")
    assert(floored eq joined)
  }

  test("scanFloor leaves a read of an unbuilt cached aggregate unchanged " +
      "and runs no job") {
    val docs = Tables(spark, small).documents
    // not yet built: planning a read of it under AQE would build it
    val agg = docs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .persist()
    try {
      val narrow = agg.filter(col("n") > 0).select(col("doc_id"))
      var floored: DataFrame = null
      val ran = JobGroups.started(spark)(
        Seq("floor" -> (() => floored = Tables.scanFloor(narrow))))
      assert(ran.isEmpty, s"scanFloor ran jobs: $ran")
      assert(floored eq narrow)
    } finally { agg.unpersist(); () }
  }

  test("scanFloor lifts the sf0.001 documents scan to defaultParallelism") {
    val docs = Tables(spark, small).documents
    val cores = spark.sparkContext.defaultParallelism
    assert(docs.rdd.getNumPartitions < cores) // one row group
    var floored: DataFrame = null
    val ran = JobGroups.started(spark)(Seq("floor" -> (() =>
      floored = Tables.scanFloor(docs.filter(col("doc_id") > 0)
        .select(col("doc_id"), col("text"))))))
    assert(ran.isEmpty, s"scanFloor ran jobs: $ran")
    assert(floored.rdd.getNumPartitions == cores)
  }
}
