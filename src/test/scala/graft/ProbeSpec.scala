package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCounter
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Probe]], the one measurement main, on the sf0.001 corpus — and the
  * guard that keeps it the only one beside the driver-contract and
  * product entry points.
  */
class ProbeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("Probe refuses an unknown query name before starting any job") {
    val (err, jobs) = JobCounter.count(spark.sparkContext) {
      intercept[IllegalArgumentException](
        Probe.run(spark, Seq("q05_topk", "no_such_query"), dir, 2, None))
    }
    assert(err.getMessage.contains("no_such_query"))
    assert(jobs == 0)
  }

  test("Probe times every counted pass; first is pass 1 and min <= first") {
    val Seq(r) = Probe.run(spark, Seq("q05_topk"), dir, 2, None)
    assert(r.query == "q05_topk")
    assert(r.passes.size == 2 && r.failed == 0)
    assert(r.passes.forall(_ > 0))
    assert(r.first == r.passes.head)
    assert(r.min <= r.first)
  }

  test("Probe with passes = 0 and a planDir writes the formatted plan and runs no query") {
    val planDir = Files.createTempDirectory("graft-probe-plans")
    // building the frame reads `orders` through Tables.parquet, which takes
    // the schema from the footer on the driver; neither it nor the plan
    // dump may start a job
    val (_, buildJobs) = JobCounter.count(spark.sparkContext) {
      SparkEntry.queries("q05_topk")(spark, dir)
    }
    val (results, jobs) = JobCounter.count(spark.sparkContext) {
      Probe.run(spark, Seq("q05_topk"), dir, 0, Some(planDir))
    }
    assert(results.isEmpty)
    val plan = Files.readString(planDir.resolve("q05_topk.txt"))
    assert(plan.contains("== Physical Plan =="))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(buildJobs == 0)
    assert(jobs == 0)
  }

  test("src/main defines def main only in Bench, Verify, Probe, Replicate, IncrementalDrive, engine.Etl and engine.ApiServer") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val mains =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val name = root.relativize(p).toString.stripSuffix(".scala")
          .replace(java.io.File.separatorChar, '.').stripPrefix("graft.")
        Seq.fill("def main\\(".r.findAllIn(Files.readString(p)).size)(name)
      } finally files.close()
    assert(mains.sorted == Seq("Bench", "IncrementalDrive", "Probe", "Replicate",
      "Verify", "engine.ApiServer", "engine.Etl"))
  }
}
