package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated testdata layout
  * (`<sfDir>/<table>.parquet`). Column pruning + filter pushdown are
  * left to Catalyst: callers `select` only what they need and the
  * scan shows it in `PushedFilters`/`ReadSchema`.
  */
object Tables {
  /** The table's lazy relation, through the one relation memo
    * ([[DeltaStore.readRelation]]): resolved to its file index + schema
    * once per session, not once per query. No rows are cached — every
    * consuming query still plans, prunes and scans the parquet bytes
    * itself. Sound because these dirs are generator outputs, written
    * before any engine JVM starts and never mutated by one. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    DeltaStore.readRelation(spark, Seq(s"$dir/$name.parquet"))

  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Events with `ts` normalized to epoch NANOS (long) regardless of
    * the parquet layout the generator produced: TIMESTAMP(NANOS) files
    * arrive as raw long nanos via the `nanosAsLong` legacy conf and
    * pass through; `timestamp[us]` files (Spark: TIMESTAMP or, for
    * tz-naive pandas output, TIMESTAMP_NTZ — treated as UTC, the
    * sessions here pin `spark.sql.session.timeZone=UTC`) convert via
    * `unix_micros * 1000`. Every downstream consumer keeps doing
    * integer event-time arithmetic (`ts div N`) on one stable type,
    * and the DuckDB oracles' `epoch_ns(ts)` agrees on both layouts. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(spark, dir, "events"))

  /** ts → epoch-nanos long (see [[events]]); works on batch and
    * streaming frames alike (pure projection, preserves column order). */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case t @ (TimestampType | TimestampNTZType) =>
        // NTZ wall-clock → instant goes through the SESSION timezone:
        // correct only under the UTC pin every entry point sets (the
        // DuckDB oracle reads the same naive value as UTC). A caller
        // without the pin must fail loudly, not shift silently.
        if (t == TimestampNTZType) {
          val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
          require(tz == "UTC",
            s"events.ts is TIMESTAMP_NTZ and session timezone is '$tz' — " +
              "pin spark.sql.session.timeZone=UTC or the epoch conversion shifts")
        }
        val asTs: Column = if (t == TimestampType) col("ts") else col("ts").cast(TimestampType)
        df.withColumn("ts", unix_micros(asTs) * lit(1000L))
      case other =>
        throw new IllegalStateException(s"events.ts: unsupported parquet type $other")
    }
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
}
