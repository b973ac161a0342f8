package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the settings of the one session factory, [[Sessions]], and
  * guards that it stays the only one: every entry point and the test
  * session build through it, so their settings cannot drift apart. */
class SessionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("factory settings: cores, partitions, UTC, periodic GC, UI off") {
    assert(spark.sparkContext.master === "local[8]")
    assert(spark.sparkContext.defaultParallelism === 8)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "8")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.cleaner.periodicGC.interval") === "60s")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }

  test("factory registers GraftExtensions: vec_dot resolves in SQL") {
    val r = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head
    assert(r.getDouble(0) === 11.0)
  }

  test("default cores: SPARK_GRAFT_CPUS when set, else every available processor") {
    assert(Sessions.defaultCores(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    assert(Sessions.defaultCores(Map.empty) === Runtime.getRuntime.availableProcessors())
  }

  private def mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private def filesContaining(needle: String): Seq[String] =
    mainSources.collect { case (p, src) if src.contains(needle) => p.getFileName.toString }
      .sorted

  test("src/main builds sessions in one place and has four entry points") {
    assert(mainSources.map(_._2.split("SparkSession.builder", -1).length - 1).sum === 1)
    assert(filesContaining("SparkSession.builder") === Seq("Sessions.scala"))
    assert(filesContaining("SPARK_GRAFT_CPUS") === Seq("Sessions.scala"))
    assert(filesContaining("def main(") ===
      Seq("Bench.scala", "Plans.scala", "StreamBench.scala", "Verify.scala"))
  }
}
