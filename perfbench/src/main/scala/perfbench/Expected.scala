package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Expected results computed with plain Spark, never through the
  * engine's table formats: the final table is a last-writer-wins fold
  * of the seed rows and every applied change, by change sequence. */
object Expected {

  /** The row with the highest `order` per key. */
  def lastPerKey(df: DataFrame, key: String, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order.map(_.desc): _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Seed rows count as inserts at sequence 0; per key the highest
    * sequence wins and a winning delete removes the key. */
  def fold(seed: DataFrame, changes: DataFrame): DataFrame = {
    val cols = seed.columns.toSeq
    val all = seed.withColumn("op", lit("I"))
      .unionByName(changes.select((cols :+ "op").map(col): _*))
    lastPerKey(all, "booking_id", Seq(col("seq")))
      .filter(col("op") =!= "D").select(cols.map(col): _*)
  }

  /** Row count and two independent order-free hash sums: equal digests
    * mean equal multisets of rows up to a hash collision. */
  def digest(df: DataFrame): (Long, BigDecimal, BigDecimal) = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0))),
      sum(hash(cols: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)),
      BigDecimal(Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  /** Plain-Spark twin of the gold rollup over bookings: per country the
    * booking count, the exact 2-dp amount sum and the latest booking. */
  def gold(fact: DataFrame, cust: DataFrame, nation: DataFrame): DataFrame =
    fact.join(cust, fact("user_id") === cust("c_custkey"))
      .join(nation, cust("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name").as("country"))
      .agg(count(lit(1)).as("total_bookings"),
        sum(coalesce(col("amount"), lit(0.0)).cast(DecimalType(18, 2)))
          .cast(DoubleType).as("total_amount"),
        date_format(max(col("booking_ts")), "yyyy-MM-dd HH:mm:ss")
          .as("last_booking_date"))

  /** Key-level diff of two snapshots: (key, change, new row). */
  def diff(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    val rest = a.columns.filterNot(_ == key).toSeq
    val l = a.select(col(key) +: Seq(struct(rest.map(col): _*).as("_old")): _*)
    val r = b.select(col(key) +: Seq(struct(rest.map(col): _*).as("_new")): _*)
    l.join(r, Seq(key), "full_outer")
      .withColumn("change",
        when(col("_old").isNull, "insert").when(col("_new").isNull, "delete")
          .when(!(col("_old") <=> col("_new")), "update"))
      .filter(col("change").isNotNull)
      .select(col(key), col("change"),
        when(col("change") =!= "delete", col("_new")).as("_new"))
  }

  def rowStrings(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
}
