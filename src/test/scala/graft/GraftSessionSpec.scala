package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session definition: every entry point and the specs build
  * through [[GraftSession]], so the configuration under test is the
  * one the bench measures and the oracle checks. */
class GraftSessionSpec extends SparkSpecBase {

  test("src/main builds a SparkSession only in GraftSession.scala") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val files = {
      val s = Files.walk(Paths.get("src/main"))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = files.filter { f: Path =>
      f.getFileName.toString != "GraftSession.scala" &&
        builder.findFirstIn(Files.readString(f)).isDefined
    }
    assert(offenders.isEmpty,
      s"SparkSession.builder outside GraftSession: ${offenders.mkString(", ")}")
  }

  test("the test session runs the shipped configuration") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
