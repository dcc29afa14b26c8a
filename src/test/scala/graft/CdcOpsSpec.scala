package graft

import graft.ops.CdcOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The specs' session: the shipped config ([[GraftSession.builder]])
  * on 4 worker threads, plus a throwaway warehouse dir. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toString)
    .getOrCreate()
}

class CdcOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def bookings = Seq(
    // (booking_id, ts, amount, check_in, check_out)
    ("b1", "2024-03-01 10:00:00", 100.0, "2024-03-10", "2024-03-12"),
    ("b1", "2024-03-01 11:00:00", 150.0, "2024-03-10", "2024-03-13"), // later version of b1
    ("b2", "2024-03-02 09:00:00", 200.0, "2024-03-15", "2024-03-14"), // bad: out < in
    ("b3", "2024-03-03 09:00:00", 300.0, "2024-03-20", "2024-03-25"),
  ).toDF("booking_id", "ts", "amount", "check_in", "check_out")

  test("T1 qualitySplit is disjoint and exhaustive") {
    val (ok, bad) = CdcOps.qualitySplit(bookings, col("check_out") < col("check_in"))
    assert(ok.count() == 3 && bad.count() == 1)
    assert(bad.select("booking_id").as[String].collect().toSeq == Seq("b2"))
    assert(ok.count() + bad.count() == bookings.count())
  }

  test("T3 latestPerKey keeps exactly the latest version per key") {
    val latest = CdcOps.latestPerKey(bookings, Seq("booking_id"), Seq(col("ts")))
    assert(latest.count() == 3)
    val b1 = latest.filter($"booking_id" === "b1").select("amount").as[Double].head()
    assert(b1 == 150.0)
  }

  test("T4 alterRow routes insert vs update by key existence") {
    val existing = Seq("b1", "b9").toDF("booking_id")
    val routed = CdcOps.alterRow(bookings, existing, "booking_id")
    val ops = routed.select("booking_id", "op").as[(String, String)].collect().toMap
    assert(ops("b1") == "update" && ops("b2") == "insert" && ops("b3") == "insert")
  }

  test("K1 mergeUpsert: incoming wins per key, untouched rows survive") {
    val existing = Seq(("b1", 1.0), ("b2", 2.0)).toDF("k", "v")
    val incoming = Seq(("b2", 20.0), ("b3", 30.0)).toDF("k", "v")
    val merged = CdcOps.mergeUpsert(existing, incoming, Seq("k"))
    val m = merged.as[(String, Double)].collect().toMap
    assert(m == Map("b1" -> 1.0, "b2" -> 20.0, "b3" -> 30.0))
  }

  test("K1 mergeUpsert is idempotent (checkpoint-replay exactly-once)") {
    val existing = Seq(("b1", 1.0), ("b2", 2.0)).toDF("k", "v")
    val batch = Seq(("b2", 20.0), ("b3", 30.0)).toDF("k", "v")
    val once = CdcOps.mergeUpsert(existing, batch, Seq("k"))
    val twice = CdcOps.mergeUpsert(once, batch, Seq("k"))
    assert(once.as[(String, Double)].collect().toSet ==
      twice.as[(String, Double)].collect().toSet)
  }

  test("K1 mergeUpsert: N-batch fold == 1-batch fold (stream/batch parity)") {
    val existing = Seq(("a", 0.0)).toDF("k", "v")
    val b1 = Seq(("a", 1.0), ("b", 1.0)).toDF("k", "v")
    val b2 = Seq(("b", 2.0), ("c", 2.0)).toDF("k", "v")
    // applying b1 then b2 must equal applying (latest-per-key of b1∪b2)
    val folded = CdcOps.mergeUpsert(CdcOps.mergeUpsert(existing, b1, Seq("k")), b2, Seq("k"))
    val combined = CdcOps.latestPerKey(
      b1.withColumn("seq", lit(1)).unionByName(b2.withColumn("seq", lit(2))),
      Seq("k"), Seq(col("seq"))).drop("seq")
    val oneShot = CdcOps.mergeUpsert(existing, combined, Seq("k"))
    assert(folded.as[(String, Double)].collect().toSet ==
      oneShot.as[(String, Double)].collect().toSet)
  }

  test("O2 scd1Fold: later FILE wins even when its rows are older") {
    val f1 = Seq(("k1", "new", "2024-06-01 00:00:00")).toDF("k", "v", "ts")
    val f2 = Seq(("k1", "old", "2024-01-01 00:00:00")).toDF("k", "v", "ts")
    val folded = CdcOps.scd1Fold(Seq(f1, f2), "k", Seq(col("ts")))
    assert(folded.select("v").as[String].head() == "old") // f2 applied last
  }

  test("K1 evolving merge tolerates schema drift in both directions") {
    val existing = Seq(("k1", "2024-01-01 00:00:00", 1.0),
      ("k2", "2024-01-01 00:00:00", 2.0)).toDF("k", "ts", "amount")
    // feed grew a column: merged schema is the union; untouched old
    // rows read null for it, the updated key carries the new value
    val grown = Seq(("k2", "2024-01-02 00:00:00", 2.5, "EUR"))
      .toDF("k", "ts", "amount", "currency")
    val m1 = CdcOps.mergeUpsertVersionedEvolving(existing, grown,
      Seq("k"), Seq(col("ts")))
    assert(m1.columns.toSet == Set("k", "ts", "amount", "currency"))
    val rows = m1.select("k", "amount", "currency")
      .as[(String, Double, Option[String])].collect()
      .map { case (k, a, c) => k -> ((a, c)) }.toMap
    assert(rows("k1") == ((1.0, None)) && rows("k2") == ((2.5, Some("EUR"))))
    // feed dropped a column: stored values survive, new row reads null
    val shrunk = Seq(("k3", "2024-01-03 00:00:00", 3.0)).toDF("k", "ts", "amount")
    val m2 = CdcOps.mergeUpsertVersionedEvolving(m1, shrunk,
      Seq("k"), Seq(col("ts")))
    val rows2 = m2.select("k", "currency")
      .as[(String, Option[String])].collect().toMap
    assert(rows2("k2").contains("EUR") && rows2("k3").isEmpty)
  }
}
