package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output checksum, computed during the op's own
  * materialization through `Dataset.observe` — no second pass over the
  * output and no extra stage: row count plus the sum of a per-row hash
  * (`xxhash64` of every column, reduced mod 2^31-1 so the sum never
  * overflows).
  *
  * Doubles are hashed at float precision, so last-bit differences from a
  * different summation order do not flip the hash; maps are hashed as
  * key-sorted entry arrays. A query whose checksum still moves between runs
  * is marked unstable in `expected.json` and checked on rows and schema
  * only. */
object Checks {

  final case class Result(rows: Long, checksum: Long, schema: String)

  /** Wrap `df` so that materializing it also fills the returned
    * observation. */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val h = xxhash64(df.schema.fields.toIndexedSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType)): _*)
    val wrapped = df.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)).as("checksum"))
    (wrapped, obs)
  }

  def result(obs: Observation, df: DataFrame): Result = {
    val m = obs.get
    Result(m("rows").asInstanceOf[Long], m("checksum").asInstanceOf[Long],
      df.schema.catalogString)
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case m: MapType =>
      array_sort(map_entries(c.cast(MapType(floatDoubles(m.keyType), floatDoubles(m.valueType)))))
    case _ if hasMap(t) => to_json(c)
    case _ if floatDoubles(t) != t => c.cast(floatDoubles(t))
    case _ => c
  }

  private def floatDoubles(t: DataType): DataType = t match {
    case DoubleType          => FloatType
    case ArrayType(e, n)     => ArrayType(floatDoubles(e), n)
    case MapType(k, v, n)    => MapType(floatDoubles(k), floatDoubles(v), n)
    case StructType(fs)      => StructType(fs.map(f => f.copy(dataType = floatDoubles(f.dataType))))
    case other               => other
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType        => true
    case ArrayType(e, _)   => hasMap(e)
    case StructType(fs)    => fs.exists(f => hasMap(f.dataType))
    case _                 => false
  }
}
