package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Selection

/** Two-scan exact selection vs a straight sort: value identity on messy
  * distributions (duplicates, skew, negatives), edge fractions, and the
  * degenerate single-value / single-row inputs.
  */
class SelectionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sortSelect(xs: Seq[Double], f: Double): Double = {
    val s = xs.sorted
    s((math.floor(f * (s.length - 1).toDouble)).toInt)
  }

  test("exact quantiles equal the sorted-array order statistics") {
    // deterministic messy data: heavy duplicates, negatives, a far outlier
    val xs = (1 to 997).map(i => ((i * 2654435761L) % 101).toDouble - 50.0) ++
      Seq(1e9, 1e9, -1e9)
    val fr = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    for (buckets <- Seq(2, 7, 4096)) {
      val got = Selection
        .exactQuantiles(xs.toDF("x").repartition(5), "x", fr, buckets)
        .select($"frac", $"value").as[(Double, Double)].collect().toMap
      fr.foreach { f =>
        assert(got(f) == sortSelect(xs, f), s"f=$f buckets=$buckets")
      }
    }
  }

  test("greedy coverage selection follows the exact greedy trajectory") {
    // shingle(3) sets: d1={abc,bcd,cde,def} d2={abc,bcd} d3={xyz,yzw,zwv}
    // d4={cde,def,efg,fgh} d5={pqr}
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d"), (3L, "x y z w v"),
      (4L, "c d e f g h"), (5L, "p q r")).toDF("doc_id", "text")
    val got = graft.operators.Coverage
      .greedySelect(docs, "doc_id", "text", k = 5)
      .as[(Int, Long, Long, Long)].collect().toSeq
    // r1: d1/d4 tie at 4 -> min id d1; r2: d3=3 beats d4's remaining 2;
    // r3: d4=2; r4: d5=1; r5: nothing uncovered remains -> early exit
    assert(got == Seq((1, 1L, 4L, 4L), (2, 3L, 3L, 7L),
      (3, 4L, 2L, 9L), (4, 5L, 1L, 10L)))
    // k smaller than exhaustion: trajectory prefix is identical (greedy
    // is prefix-stable — the selection order never depends on k)
    val k2 = graft.operators.Coverage
      .greedySelect(docs, "doc_id", "text", k = 2)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(k2 == got.take(2))
  }

  test("all-equal column, single row, and null/NaN exclusion") {
    val same = Selection.exactQuantiles(
      Seq.fill(40)(3.25).toDF("x"), "x", Seq(0.0, 0.5, 1.0))
      .select($"value").as[Double].collect()
    assert(same.toSeq == Seq(3.25, 3.25, 3.25))
    val one = Selection.exactQuantiles(
      Seq(7.5).toDF("x"), "x", Seq(0.0, 1.0))
      .select($"rank", $"value").as[(Long, Double)].collect().toSet
    assert(one == Set((1L, 7.5)))
    // nulls and NaNs are not part of the population
    val mixed = Seq(Some(1.0), None, Some(Double.NaN), Some(2.0), Some(3.0))
      .toDF("x")
    val med = Selection.exactQuantiles(mixed, "x", Seq(0.5))
      .select($"value").as[Double].head()
    assert(med == 2.0)
  }
}
