package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table access + oracle-parity helpers shared by every query.
  *
  * Oracle parity rule: the driver hash-compares our parquet output against a
  * DuckDB run of `SparkEntry.oracleSql`. Double-precision SUMs are
  * order-dependent, so any aggregated money column is cast to an exact
  * DECIMAL first (`dec`), aggregated exactly, and only the final result is
  * cast back to DOUBLE (`asDouble`). A double → DECIMAL(18,6) cast is
  * engine-agnostic: no IEEE double lies exactly on a 1e-6 rounding boundary
  * (denominators aren't powers of two), so Spark and DuckDB round
  * identically regardless of tie-break mode.
  */
object Tables {
  final val Names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's `ts` physical type varies by test-data generation:
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read
    * nanos as long, truncate to micros: DuckDB's truncation, so oracle
    * comparisons line up), TIMESTAMP(MICROS) naive (read as NTZ — cast to
    * the session type; every consumer session here pins UTC, where the
    * cast is value-identity), or already session-adjusted. All three
    * normalize to one TimestampType column so downstream code sees a
    * single shape.
    *
    * NOTE the nanosAsLong conf is SESSION-GLOBAL: after the first events()
    * call, any int64-timestamp-annotated parquet in this session reads as
    * LONG nanos instead of TIMESTAMP. Verify/Bench also set it at session
    * build; it is re-set here defensively because the driver calls queries
    * with a session it constructed itself. None of this repo's other
    * tables carry int64 timestamp annotations, so the reach is confined
    * to events. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Exact-arithmetic staging for a double measure column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Final cast back to double so Spark and DuckDB agree on output type. */
  def asDouble(c: Column): Column = c.cast("double")
}
