package graft.engine

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property-style tests (seeded random inputs) for the engine's core
  * primitives: surrogate-id density/ordering (the `serial` contract,
  * SURVEY.md §7.4) and overlay last-write-wins semantics (§7.5).
  */
class DenseIdSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  test("dense ids: 1..N, dense, ordered by key — random inputs incl. duplicates") {
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val n = 1 + rnd.nextInt(500)
      val xs = List.fill(n)(rnd.nextLong() % 50)
      val df = xs.toDF("k").repartition(7) // scatter input across partitions
      val out = DenseId.withDenseId(df, "id", Seq(col("k")))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.map(_._2).toSeq == (1L to n), s"trial $trial: ids not dense 1..$n")
      assert(out.sortBy(_._2).map(_._1).toSeq == xs.sorted, s"trial $trial: order broken")
    }
  }

  test("overlay: later rules win on matches, unmatched rows keep values, NULL overwrites") {
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val rule1 = Seq((1L, "x"), (2L, "y")).toDF("__id", "__val")
    val rule2 = Seq((2L, null.asInstanceOf[String])).toDF("__id", "__val")
    val out = Overlay(target, "id", Seq(Overlay.Column("v", None, Seq(rule1, rule2))))
    val got = out.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    // rule1 set 1->x, 2->y; rule2 matched id 2 with NULL (UPDATE semantics:
    // a match overwrites, even with NULL); id 3 untouched throughout
    assert(got.toSeq == Seq((1L, "x"), (2L, null), (3L, "c")))
  }

  test("overlay: multi-match collapses to a single row per id (row count stable)") {
    val target = Seq((1L, 10), (2L, 20)).toDF("id", "v")
    val rule = Seq((1L, 100), (1L, 101), (1L, 102)).toDF("__id", "__val")
    val out = Overlay(target, "id", Seq(Overlay.Column("v", None, Seq(rule))))
    assert(out.count() == 2)
    val v1 = out.filter(col("id") === 1).collect().head.getInt(1)
    assert(Set(100, 101, 102).contains(v1))
  }
}
