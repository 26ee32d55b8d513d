package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal for the driver-read files (`oracle_sql.json`,
    * `_errors.json`, `bench_out.json`): escapes backslash, quote and
    * ALL control chars (<0x20) — a tab or CR in builder-authored SQL
    * would otherwise make the driver's json.load fail and silently
    * zero the round's correctness. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional third arg: comma-separated key subset (local iteration
    // only — the driver always runs the full surface)
    val keyFilter = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val errors = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => keyFilter.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)
        Some(name -> s"${e.getClass.getSimpleName}: $msg")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // loud failure record: a query missing from outDir must be
    // distinguishable from "never implemented" — _errors.json names
    // every key that failed to execute and why
    val errJson = errors.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.map(_._1).mkString(", "))
    spark.stop()
  }
}
