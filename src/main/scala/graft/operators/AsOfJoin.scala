package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Distributed as-of join (point-in-time enrichment): for every left row,
  * attach the most recent right row with the same key whose time is <= the
  * left row's time.
  *
  * The reference has no as-of join, but its change-feed consumers do
  * point-in-time lookups by cursor (monitor-postgres.rs:44-91); this is
  * the general operator, added for the analytics surface.
  *
  * Implementation is the union+window formulation rather than a per-key
  * subquery: tag both sides, sort within key by (time, tag, right-row
  * tiebreak) and carry the last right payload forward with
  * `last(_, ignoreNulls)` over an unbounded-preceding frame. One shuffle
  * on the key (both inputs co-partitioned by the same exchange), no
  * broadcast of either side, no skew beyond the key's natural skew —
  * scales to arbitrarily large fact tables. Right rows at exactly the
  * left timestamp match (tag orders right first).
  */
object AsOfJoin {

  /** @param left      fact side (kept in full)
    * @param right     event side providing the payload
    * @param leftKey   join key column on `left`
    * @param rightKey  join key column on `right`
    * @param leftTime  event-time column on `left`
    * @param rightTime event-time column on `right`
    * @param payload   columns of `right` to attach (alias each!)
    * @param tiebreak  numeric column of `right` ordering equal-time rows
    *                  (largest wins)
    */
  def apply(left: DataFrame, right: DataFrame,
            leftKey: Column, rightKey: Column,
            leftTime: Column, rightTime: Column,
            payload: Seq[Column], tiebreak: Column): DataFrame = {
    val rTagged = right.select(
      rightKey.as("__k"), rightTime.as("__t"), lit(0).as("__tag"),
      tiebreak.cast("long").as("__tb"), struct(payload: _*).as("__p"))
    val pType = rTagged.schema("__p").dataType.asInstanceOf[StructType]

    val lTagged = left.select(
      leftKey.as("__k"), leftTime.as("__t"), lit(1).as("__tag"),
      lit(Long.MaxValue).as("__tb"), lit(null).cast(pType).as("__p"),
      struct(left.columns.toSeq.map(col): _*).as("__l"))
    val lType = lTagged.schema("__l").dataType

    val unioned = lTagged.unionByName(
      rTagged.withColumn("__l", lit(null).cast(lType)))

    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__tag").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    unioned
      .withColumn("__last", last(col("__p"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
      .select(col("__l.*") +: pType.fieldNames.toSeq.map(n =>
        col(s"__last.$n").as(n)): _*)
  }
}
