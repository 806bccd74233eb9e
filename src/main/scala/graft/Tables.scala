package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table accessors for the harness testdata (TESTDATA.md).
  *
  * Scans stay declarative (`spark.read.parquet`) so Catalyst pushes filters
  * and prunes columns into the parquet reader — at 100 TB the scan is the
  * dominant cost and `PushedFilters`/`ReadSchema` must reach the source.
  *
  * Building a read runs no Spark job. A bare `spark.read.parquet` infers
  * the schema with a one-task job that reads the file's footer, on every
  * call — a builder touching six tables ran six jobs before its action.
  * [[Tables.read]] instead resolves a single file's schema once per
  * process and reads with it declared (`spark.read.schema(s).parquet`),
  * which skips inference. The cache key is
  *  - the file's qualified path, length and modification time (one
  *    driver-side Hadoop `getFileStatus`), and
  *  - the session's parquet-reading confs: `spark.sql.parquet.*`,
  *    `spark.sql.legacy.parquet.*` (e.g. `nanosAsLong`) and
  *    `spark.sql.caseSensitive`,
  * so a rewritten file or a changed conf infers again. Directories
  * (write-then-read outputs, streaming sinks) keep the plain read.
  *
  * The schema is cached, never the `DataFrame`: one shared relation would
  * give both sides of a self-join the same attribute IDs. Rebuilding the
  * relation from the cached schema gives each call fresh IDs and the same
  * plan, pushed filters and pruned columns as the inferred read.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def apply(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")
  def region: DataFrame     = apply("region")
  def nation: DataFrame     = apply("nation")
  def customer: DataFrame   = apply("customer")
  def supplier: DataFrame   = apply("supplier")
  def part: DataFrame       = apply("part")
  def orders: DataFrame     = apply("orders")
  def lineitem: DataFrame   = apply("lineitem")
  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects. Sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` (see Verify/Bench) so the
    * column arrives as epoch-nanos long; convert to a microsecond timestamp
    * here (integer `div` — a double division would lose precision above
    * 2^53 ns). DuckDB's reader truncates ns→µs the same way. */
  def events: DataFrame = {
    val raw = apply("events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw
    }
  }
  def documents: DataFrame  = apply("documents")
  def embeddings: DataFrame = apply("embeddings")
}

object Tables {

  /** What a schema inferred from one parquet file depends on. */
  private final case class SchemaKey(path: String, length: Long,
      modified: Long, confs: Map[String, String])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  private def readsParquet(conf: String): Boolean =
    conf.startsWith("spark.sql.parquet.") ||
      conf.startsWith("spark.sql.legacy.parquet.") ||
      conf == "spark.sql.caseSensitive"

  /** `spark.read.parquet(path)`, with a single file's schema taken from
    * the per-process cache (see [[Tables]]) instead of inferred by a job;
    * directories and missing paths keep the plain read. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val confs = spark.conf.getAll.filter { case (k, _) => readsParquet(k) }
        val key = SchemaKey(st.getPath.toString, st.getLen,
          st.getModificationTime, confs)
        val schema = Option(schemas.get(key)).getOrElse {
          val inferred = spark.read.parquet(path).schema
          schemas.putIfAbsent(key, inferred)
          inferred
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  /** SCAN-PARALLELISM FLOOR for hash/compare-heavy per-row stages
    * (guide §2.5 "one huge unsplittable file → repartition immediately
    * after the read"): a small single-file parquet table is ONE row
    * group, so a scan — and every projection fused into it — runs as
    * ONE task regardless of byte-range splits (a row group executes in
    * the split holding its midpoint; the rest are empty). When the
    * input plans fewer partitions than the session's cores, one cheap
    * shuffle lifts the heavy projection to the core floor.
    *
    * Size-derived, not a tuned constant: at production scale the scan
    * already has ≥ `defaultParallelism` splits (and any post-shuffle
    * input is at `spark.sql.shuffle.partitions`), so this is the
    * identity there — local mode and the cluster keep the same plan
    * shape, each at full width. Applied ONLY inside operators whose
    * scan-side stage measures as the bottleneck (minhash signatures,
    * the global suffix-array seed): a blanket floor on every table
    * measured 2.4–3.0× SLOWER on short relational queries (the shuffle
    * tax) and on the BPE train loop (per-generation persists multiply
    * the partition count into every round's task overhead). Results are
    * row-content-based everywhere (oracle-gated), so placement is free
    * to change.
    *
    * Decided from the plan and never runs a job: only a NARROW plan over
    * scans — Project, Filter and Union nodes over leaves, no subquery —
    * is floored, and its partition count is the scans' split count,
    * read off the planned RDD. Any other plan (a join, an aggregate, a
    * shuffle of any kind) returns unchanged: its width is
    * `spark.sql.shuffle.partitions` as AQE coalesces it, and asking an
    * adaptive plan for its partitions would run its upstream stages at
    * build time, only for the action to run them again. */
  def scanFloor(df: DataFrame): DataFrame = {
    // streaming frames have no batch plan (and their micro-batch
    // partitioning is the source's business) — identity there, so the
    // floored operators stay usable as pure streaming projections
    if (df.isStreaming || !narrowOverScans(df.queryExecution.optimizedPlan))
      return df
    val floor = df.sparkSession.sparkContext.defaultParallelism
    val width = df.queryExecution.executedPlan.execute().getNumPartitions
    if (width < floor) df.repartition(floor) else df
  }

  /** Project/Filter/Union over leaves, with no subquery — the plans AQE
    * leaves unwrapped, so their width is known without running a job. A
    * cached leaf counts only if its own plan is not adaptive: Spark
    * wraps a scan of an adaptive cached plan in AQE too. */
  private def narrowOverScans(p: LogicalPlan): Boolean = p match {
    case _ if p.expressions.exists(SubqueryExpression.hasSubquery) => false
    case _: Project | _: Filter | _: Union => p.children.forall(narrowOverScans)
    case r: InMemoryRelation => !r.cachedPlan.isInstanceOf[AdaptiveSparkPlanExec]
    case _ => p.children.isEmpty
  }
}
