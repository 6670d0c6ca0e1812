package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot merge / slowly-changing-dimension maintenance: classify a new
  * dimension snapshot against the stored one (delta), or evolve a Type-2
  * history table.
  *
  * Scale posture: every operation is one or two equi-shuffles on the
  * dimension key — no windows, no driver-side row handling.
  * Dimensions are small next to facts, but "small" at 100 TB can still be
  * billions of rows, so nothing here assumes a broadcastable side; AQE
  * downgrades the joins to broadcast when a side does fit.
  */
object Merge {

  /** Stable row-content hash over every non-key column, in a fixed column
    * order, null-tagged so (null, "x") and ("x", null) differ. Casting
    * through string keeps the hash engine-reproducible for the oracle.
    */
  private def contentHash(df: DataFrame, keys: Seq[String]): Column = {
    val rest = df.columns.filterNot(keys.contains).sorted
    md5(concat_ws("",
      rest.map(c => coalesce(col(c).cast("string"), lit(""))): _*))
  }

  /** Classify each key of cur ⊔ next: `unchanged` / `updated` (content hash
    * differs) / `inserted` (new key) / `deleted` (key gone). Returns the key
    * columns + `change_type`. One full-outer equi-join on the key.
    */
  def snapshotDelta(cur: DataFrame, next: DataFrame, keys: Seq[String]): DataFrame = {
    val curH = cur.select(keys.map(col) :+ contentHash(cur, keys).as("__hc"): _*)
    val nextH = next.select(keys.map(col) :+ contentHash(next, keys).as("__hn"): _*)
    curH.join(nextH, keys, "full_outer")
      .select(keys.map(col) :+
        when(col("__hc").isNull, lit("inserted"))
          .when(col("__hn").isNull, lit("deleted"))
          .when(col("__hc") =!= col("__hn"), lit("updated"))
          .otherwise(lit("unchanged")).as("change_type"): _*)
  }

  /** Type-2 history evolution. `history` carries the dimension columns plus
    * `valid_from: date`, `valid_to: date` (null = open) and
    * `is_current: int`; `snapshot` carries the bare dimension columns.
    * Updated and deleted keys close their open version at `asOf`; updated
    * and inserted keys open a new version at `asOf`; closed history rows
    * and unchanged current rows pass through byte-identical.
    */
  def scd2Apply(history: DataFrame, snapshot: DataFrame, keys: Seq[String],
      asOf: Column): DataFrame = {
    val metaCols = Seq("valid_from", "valid_to", "is_current")
    val dimCols = history.columns.toSeq.filterNot(metaCols.contains)
    val cur = history.filter(col("is_current") === 1)
    val delta = snapshotDelta(cur.select(dimCols.map(col): _*), snapshot, keys)
    val closing = delta.filter(col("change_type").isin("updated", "deleted"))
      .select(keys.map(col): _*)
    val opening = delta.filter(col("change_type").isin("updated", "inserted"))
      .select(keys.map(col): _*)
    val closed = cur.join(closing, keys, "left_semi")
      .withColumn("valid_to", asOf.cast("date"))
      .withColumn("is_current", lit(0))
    val untouched = cur.join(closing, keys, "left_anti")
    val opened = snapshot.join(opening, keys, "left_semi")
      .withColumn("valid_from", asOf.cast("date"))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(1))
    history.filter(col("is_current") =!= 1)
      .unionByName(closed)
      .unionByName(untouched)
      .unionByName(opened)
  }
}
