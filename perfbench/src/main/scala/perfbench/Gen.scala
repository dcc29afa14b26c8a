package perfbench

import java.io.{BufferedWriter, File, FileWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic inputs. Everything derives from the seed: Spark-side
  * columns from `xxhash64(id, seed, tag)`, driver-side rows from a
  * seeded `Random`, so the same seed gives the same bytes on any
  * partitioning. */
object Gen {

  /** 2026-01-01T00:00:00Z; bookings fall within the following year. */
  val BaseTs = 1767225600L
  val YearSec = 365L * 86400L

  val factSchema: StructType = StructType(Seq(
    StructField("booking_id", LongType),
    StructField("user_id", LongType),
    StructField("amount", DoubleType),
    StructField("booking_ts", TimestampType),
    StructField("seq", LongType)))

  /** The change-row shape: the fact's columns plus the op tag
    * (`I` insert, `U` update, `D` delete). */
  val changeSchema: StructType = factSchema.add(StructField("op", StringType))

  private def h(seed: Long, tag: Int, c: org.apache.spark.sql.Column) =
    xxhash64(c, lit(seed), lit(tag))

  val Nations: Seq[String] = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
    "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN",
    "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
    "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")

  def nation(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Nations.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("n_nationkey", "n_name")
  }

  /** Customer dim for the bookings fact, keys 1..nCust. */
  def customers(spark: SparkSession, seed: Long, nCust: Long): DataFrame =
    spark.range(1, nCust + 1, 1, 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      pmod(h(seed, 7, col("id")), lit(25L)).cast(IntegerType).as("c_nationkey"))

  /** `n` seed bookings, keys 0..n-1 in key order over `files` files (so
    * each file covers one contiguous key range). */
  def seedFacts(spark: SparkSession, seed: Long, n: Long, files: Int,
                nCust: Long): DataFrame =
    spark.range(0, n, 1, files).select(
      col("id").as("booking_id"),
      (pmod(h(seed, 1, col("id")), lit(nCust)) + 1).as("user_id"),
      (pmod(h(seed, 2, col("id")), lit(100000L)) / 100.0).as("amount"),
      timestamp_seconds(lit(BaseTs) + pmod(h(seed, 3, col("id")), lit(YearSec)))
        .as("booking_ts"),
      lit(0L).as("seq"))

  /** A bulk change batch of `rows` rows with unique keys, uniform over
    * the whole key space `[0, n)`: 20 % inserts of fresh keys from
    * `newBase`, 70 % updates, 10 % deletes. Updated and deleted keys
    * come from a permutation of `[0, n)`, so they never repeat within
    * a batch. `seqBase` orders the batch after everything before it. */
  def bulkBatch(spark: SparkSession, seed: Long, batch: Int, rows: Long,
                n: Long, newBase: Long, seqBase: Long, nCust: Long): DataFrame = {
    val r = pmod(h(seed, 100 + batch, col("id")), lit(100L))
    val offset = math.floorMod(seed * 7919L + batch * 104729L, n)
    // 999983 is prime and divides no power of ten, so id -> id*P mod n
    // is a bijection on [0, n) for the decimal table sizes used here
    val permuted = pmod(col("id") * lit(999983L) + lit(offset), lit(n))
    spark.range(0, rows, 1, 4).select(
      when(r < 20, lit(newBase) + col("id")).otherwise(permuted).as("booking_id"),
      (pmod(h(seed, 200 + batch, col("id")), lit(nCust)) + 1).as("user_id"),
      (pmod(h(seed, 300 + batch, col("id")), lit(100000L)) / 100.0).as("amount"),
      timestamp_seconds(lit(BaseTs) +
        pmod(h(seed, 400 + batch, col("id")), lit(YearSec))).as("booking_ts"),
      (lit(seqBase) + col("id")).as("seq"),
      when(r < 20, lit("I")).when(r < 90, lit("U")).otherwise(lit("D")).as("op"))
  }

  final case class ChangeRow(op: String, bookingId: Long, userId: Long,
                             cents: Long, tsSec: Long, seq: Long)

  /** Small change files for the streaming drain: per row 70 % updates
    * and 10 % deletes of keys in the hot, recent range
    * `[n - hot, next new key)`, and 20 % inserts of fresh keys. Random
    * picks repeat a few keys inside one file, so epochs carry
    * duplicate keys that the sink must net by `seq`. */
  def streamChanges(seed: Long, files: Int, rowsPerFile: Int, n: Long,
                    hot: Long, nCust: Long, firstSeq: Long)
      : IndexedSeq[IndexedSeq[ChangeRow]] = {
    val rnd = new scala.util.Random(seed * 1000003L + 17L)
    var nextNew = n
    var seq = firstSeq
    (0 until files).map { _ =>
      (0 until rowsPerFile).map { _ =>
        val u = rnd.nextInt(100)
        val lo = n - hot
        val op = if (u < 20) "I" else if (u < 90) "U" else "D"
        val key =
          if (op == "I") { nextNew += 1; nextNew - 1 }
          else lo + (rnd.nextDouble() * (nextNew - lo)).toLong
        seq += 1
        ChangeRow(op, key, 1 + rnd.nextInt(nCust.toInt),
          rnd.nextInt(100000).toLong, BaseTs + rnd.nextInt(YearSec.toInt), seq)
      }
    }
  }

  /** One JSON-lines change file, timestamps in ISO-8601 UTC. */
  def writeJsonLines(rows: Seq[ChangeRow], f: File): Unit = {
    val w = new BufferedWriter(new FileWriter(f))
    try rows.foreach { r =>
      val ts = java.time.Instant.ofEpochSecond(r.tsSec).toString
      w.write(s"""{"booking_id":${r.bookingId},"user_id":${r.userId},""" +
        s""""amount":${r.cents / 100.0},"booking_ts":"$ts","seq":${r.seq},""" +
        s""""op":"${r.op}"}""")
      w.newLine()
    } finally w.close()
  }

  // ---- pipeline_hourly inputs -----------------------------------------

  /** Customer rows for one landing CSV: `rows` unique keys out of
    * `1..nUsers` (a permutation), attributes varying per cycle. */
  def landingCustomers(spark: SparkSession, seed: Long, cycle: Int,
                       rows: Long, nUsers: Long): DataFrame = {
    val offset = math.floorMod(seed * 31L + cycle * 7907L, nUsers)
    spark.range(0, rows, 1, 1).select(
      (pmod(col("id") * lit(999983L) + lit(offset), lit(nUsers)) + 1)
        .as("c_custkey"),
      concat(lit("Customer#"), col("id"), lit("-c"), lit(cycle)).as("c_name"),
      pmod(h(seed, 500 + cycle, col("id")), lit(25L)).cast(IntegerType)
        .as("c_nationkey"),
      (pmod(h(seed, 600 + cycle, col("id")), lit(1000000L)) / 100.0)
        .cast(DecimalType(10, 2)).as("c_acctbal"),
      element_at(array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"),
        lit("HOUSEHOLD"), lit("MACHINERY")),
        (pmod(h(seed, 700 + cycle, col("id")), lit(5L)) + 1).cast(IntegerType))
        .as("c_mktsegment"))
  }

  /** One change-feed slice in `graft.streaming.CdcStream.changeSchema`:
    * events with globally unique ids, 5 % quality rejects (`error`). */
  def feedSlice(spark: SparkSession, seed: Long, cycle: Int, rows: Long,
                nUsers: Long): DataFrame = {
    val t = pmod(h(seed, 800 + cycle, col("id")), lit(100L))
    spark.range(0, rows, 1, 2).select(
      (lit(cycle.toLong * rows) + col("id")).as("event_id"),
      (pmod(h(seed, 900 + cycle, col("id")), lit(nUsers)) + 1).as("user_id"),
      when(t < 5, lit("error")).when(t < 40, lit("view"))
        .when(t < 80, lit("click")).otherwise(lit("purchase")).as("event_type"),
      (pmod(h(seed, 1000 + cycle, col("id")), lit(100000L)) / 100.0).as("value"),
      date_format(timestamp_seconds(lit(BaseTs + cycle * 3600L) +
        pmod(h(seed, 1100 + cycle, col("id")), lit(3600L))),
        "yyyy-MM-dd HH:mm:ss").as("ts_s"))
  }
}
