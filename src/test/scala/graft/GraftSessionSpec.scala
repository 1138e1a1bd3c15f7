package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one session shape, pinned without starting a session. */
class GraftSessionSpec extends AnyFunSuite {
  test("the Bench shape is the Verify shape plus exactly the 4m/1m scan splits") {
    for (cpus <- Seq(2, 4, 8)) {
      val verify = GraftSession.conf(cpus, benchSplits = false)
      val bench = GraftSession.conf(cpus, benchSplits = true)
      assert(bench == verify ++ Map(
        "spark.sql.files.maxPartitionBytes" -> "4m",
        "spark.sql.files.openCostInBytes" -> "1m"))
      assert(bench.size == verify.size + 2)
      for (shape <- Seq(verify, bench)) {
        assert(shape("spark.sql.session.timeZone") == "UTC")
        assert(shape("spark.sql.shuffle.partitions") == cpus.toString)
        assert(shape("spark.master") == s"local[$cpus]")
      }
    }
  }

  test("src/main builds a SparkSession only in GraftSession") {
    val main = Paths.get("src/main/scala").toAbsolutePath
    val files = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"source scan found only ${files.size} files under $main")
    val builders = files.filter(f => Files.readString(f).contains("SparkSession.builder"))
      .map(p => main.relativize(p).toString)
    assert(builders == Seq("graft/GraftSession.scala"))
  }
}
