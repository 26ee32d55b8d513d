package graft
import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Every entry point
  * (Bench, Verify, PlanDump, the test session) starts from this
  * builder and chains only what is its own (app name, warehouse dir)
  * before `getOrCreate()`. */
object Session {
  /** `cores` defaults to `SPARK_GRAFT_CPUS` (32 when unset), the
    * contract of the driver-run mains; the test session passes 4. */
  def builder(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // Tables.normalizeEventTs converts TIMESTAMP_NTZ events.ts through
      // the session time zone; the DuckDB oracle reads it as UTC
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // legacy events.ts layouts (TIMESTAMP(NANOS)) read as raw nanos;
      // newer timestamp[us] layouts normalize in Tables.events (UTC pin)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
