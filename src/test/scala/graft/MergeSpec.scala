package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Merge

/** Snapshot merge / SCD semantics: CDC delta classification, Type-2
  * history evolution across successive applies.
  */
class MergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dim(rows: (Long, String, String)*) =
    rows.toDF("k", "name", "city")

  test("snapshotDelta classifies all four change types; null ≠ empty string") {
    val cur = dim((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"))
      .unionByName(Seq((4L, "d")).toDF("k", "name").withColumn("city", lit(null).cast("string")))
    val next = dim((1L, "a", "x"), (2L, "b", "CHANGED"), (5L, "e", "v"))
      .unionByName(Seq((4L, "d")).toDF("k", "name").withColumn("city", lit("")))
    val got = Merge.snapshotDelta(cur, next, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "updated", 3L -> "deleted",
      4L -> "updated", 5L -> "inserted"))
  }

  test("scd2 chains versions across two applies") {
    val d0 = dim((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"))
    val seed = d0.withColumn("valid_from", lit("2020-01-01").cast("date"))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(1))
    // apply 1: update key 2, delete key 3, insert key 4
    val s1 = dim((1L, "a", "x"), (2L, "b", "y2"), (4L, "d", "w"))
    val h1 = Merge.scd2Apply(seed, s1, Seq("k"), lit("2021-01-01"))
    // apply 2: update key 2 again, re-insert key 3
    val s2 = dim((1L, "a", "x"), (2L, "b", "y3"), (3L, "c", "z"), (4L, "d", "w"))
    val h2 = Merge.scd2Apply(h1, s2, Seq("k"), lit("2022-01-01"))
    val got = h2.orderBy($"k", $"valid_from")
      .select($"k", $"city", $"valid_from".cast("string"),
        coalesce($"valid_to".cast("string"), lit("open")), $"is_current")
      .as[(Long, String, String, String, Int)].collect().toSeq
    assert(got == Seq(
      (1L, "x", "2020-01-01", "open", 1),           // never touched
      (2L, "y", "2020-01-01", "2021-01-01", 0),     // v1 closed
      (2L, "y2", "2021-01-01", "2022-01-01", 0),    // v2 closed
      (2L, "y3", "2022-01-01", "open", 1),          // v3 current
      (3L, "z", "2020-01-01", "2021-01-01", 0),     // deleted at t1
      (3L, "z", "2022-01-01", "open", 1),           // re-inserted at t2
      (4L, "w", "2021-01-01", "open", 1)))          // inserted at t1
  }
}
