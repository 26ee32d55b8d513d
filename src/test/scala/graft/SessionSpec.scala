package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every graft session comes from [[Session.builder]]: the settings
  * Tables and the oracles rely on are pinned there and nowhere else. */
class SessionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("a factory-built session pins UTC, nanosAsLong and the graft functions") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    val dot = spark.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d))").head.getDouble(0)
    assert(dot === 11.0)
  }

  test("no source file but the factory builds a SparkSession") {
    val builderCall = "SparkSession" + ".builder"
    val factory = java.nio.file.Paths.get("src/main/scala/graft/Session.scala")
    def scalaFiles(root: String): Seq[java.nio.file.Path] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      } finally walk.close()
    }
    val files = scalaFiles("src/main") ++ scalaFiles("src/test")
    assert(files.contains(factory))
    val offenders = files.filterNot(_ == factory).filter(f =>
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8").contains(builderCall))
    assert(offenders.isEmpty, s"SparkSession builders outside graft.Session: $offenders")
  }
}
