package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.MorLog

/** `MorLog.changes` routing: a span whose every version keeps keys
  * unique is read from the log's per-version deltas; any other span
  * falls back to the snapshot diff. Both forms are checked against
  * `snapshotChanges`, the independent oracle. */
class ChangeFeedRoutingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The body's result and the Spark jobs it launched, counted by a
    * SparkListener on a private job group, so jobs of other suites
    * sharing the session never count. A sentinel job run after the
    * body flushes the listener bus before the count is read. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"cfr-${java.util.UUID.randomUUID()}"
    val seen = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach { g =>
            if (g == group) seen.incrementAndGet()
            else if (g == s"$group-end") flushed.countDown()
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus stalled")
      (r, seen.get)
    } finally sc.removeSparkListener(listener)
  }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def agrees(dir: String, f: Int, t: Int): Unit =
    assert(same(MorLog.changes(spark, dir, f, t, Seq("id")),
      MorLog.snapshotChanges(spark, dir, f, t, Seq("id"))),
      s"changes ($f, $t] differs from the snapshot diff")

  test("a one-version merge span on a broadcast-tier table reads in at most 3 jobs; the tombstone delta runs none") {
    val dir = s"${tmp("graft-cfr1-")}/t"
    MorLog.create(spark.range(0, 2000)
      .select(col("id"), (col("id") * 10).as("v")).repartition(4), dir)
    def merge(rows: Seq[(Long, Long, String)]): Unit =
      MorLog.mergeInto(spark, dir, rows.toDF("id", "v", "op"), "id", "op")
    merge((0L until 300L).map(k =>
      (k * 5, -k, if (k % 4 == 0) "D" else "U")) :+ ((5000L, 1L, "U")))
    merge((0L until 200L).map(k =>
      (k * 7 + 1, -k - 1, if (k % 5 == 0) "D" else "U")) :+
      ((6000L, 2L, "U")))
    val (st1, st2) = (MorLog.state(spark, dir, 1), MorLog.state(spark, dir, 2))
    assert(st1.pfCeil < 0 && st1.tombsV >= 0 && st2.pfCeil < 0 &&
      st2.tombsV >= 0, s"expected broadcast-tier sets, got $st1 / $st2")
    // building the frame takes the tombstone delta, on the driver
    val (ch, planJobs) =
      jobsOf(MorLog.changes(spark, dir, 1, 2, Seq("id")))
    assert(planJobs == 0, s"the tombstone delta ran $planJobs job(s)")
    val (rows, readJobs) = jobsOf(ch.collect())
    assert(readJobs <= 3, s"the change read ran $readJobs jobs")
    val oracle = MorLog.snapshotChanges(spark, dir, 1, 2, Seq("id"))
    assert(same(ch, oracle))
    assert(rows.length == oracle.count() && rows.length > 100)
    assert(rows.map(_.getAs[String]("change")).toSet ==
      Set("insert", "update", "delete"))
  }

  test("spans with append, evolve, update, restore, rename or an append-only sink epoch fall back to the snapshot diff") {
    val root = tmp("graft-cfr2-")
    val dir = s"$root/t"
    MorLog.create(spark.range(0, 40)
      .select(col("id"), (col("id") * 10).as("v")).repartition(2), dir)
    MorLog.upsert(spark, dir,
      Seq((1L, -1L), (100L, -2L)).toDF("id", "v"), "id") // v1
    MorLog.append(spark, dir, Seq((200L, 2L)).toDF("id", "v")) // v2
    MorLog.evolveAppend(spark, dir,
      Seq((201L, 3L, "t")).toDF("id", "v", "tag")) // v3
    MorLog.updateWhere(spark, dir, col("id") === 2L,
      Seq("v" -> lit(-20L))) // v4
    MorLog.mergeInto(spark, dir,
      Seq((3L, -30L, "m", "U"), (4L, 0L, null, "D"))
        .toDF("id", "v", "tag", "op"), "id", "op") // v5
    MorLog.restore(spark, dir, 4) // v6
    MorLog.renameColumn(spark, dir, "tag", "label") // v7
    MorLog.renameColumn(spark, dir, "label", "tag") // v8
    val feed = s"$root/feed"
    Seq((300L, 30L, "s"), (301L, 31L, "s")).toDF("id", "v", "tag")
      .repartition(1).write.parquet(feed)
    val q = spark.readStream.schema(spark.read.parquet(feed).schema)
      .parquet(feed)
      .writeStream.format("graft.sources.MorLogSource")
      .option("path", dir)
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(MorLog.currentVersion(spark, dir) == 9)
    assert(MorLog.state(spark, dir, 9).action.startsWith("sink:"))
    // each fallback kind alone, and wider spans that mix in keyed
    // versions; the restore and rename spans would be refused by the
    // incremental form, so agreeing here shows the route taken
    for ((f, t) <- Seq((1, 2), (2, 3), (3, 4), (5, 6), (6, 8), (8, 9),
                       (0, 5), (1, 9), (4, 9), (0, 9)))
      agrees(dir, f, t)
    // keyed spans take the incremental form and still agree
    for ((f, t) <- Seq((0, 1), (4, 5))) agrees(dir, f, t)
    // an empty span is the snapshot diff's (no rows), not an error
    assert(MorLog.changes(spark, dir, 5, 5, Seq("id")).isEmpty)
  }

  test("a key-duplicating append inside the span still gives the snapshot-diff result") {
    val dir = s"${tmp("graft-cfr3-")}/t"
    MorLog.create(spark.range(0, 10)
      .select(col("id"), (col("id") * 10).as("v")).coalesce(1), dir)
    MorLog.append(spark, dir, Seq((3L, 99L)).toDF("id", "v")) // v1
    MorLog.upsert(spark, dir, Seq((5L, -5L)).toDF("id", "v"), "id") // v2
    agrees(dir, 0, 2)
    agrees(dir, 0, 1)
    // the log-delta form nets key 3 as an insert, which the snapshot
    // diff (two rows under one key) does not: the append must route
    // the span away from it
    val inc = MorLog.incrementalChanges(spark, dir, 0, 2, Seq("id"))
    assert(!same(inc, MorLog.snapshotChanges(spark, dir, 0, 2, Seq("id"))))
    val got = MorLog.changes(spark, dir, 0, 2, Seq("id"))
      .select("id", "change").as[(Long, String)].collect().toSet
    assert(got == Set((3L, "update"), (5L, "update")))
  }

  test("a clause merge that can write a new key commits under a rekey tag, and its span falls back to the snapshot diff") {
    val root = tmp("graft-cfr4-")
    val dir = s"$root/t"
    MorLog.create(spark.range(0, 20)
      .select(col("id"), (col("id") * 10).as("v")).coalesce(1), dir)
    val c = "cfr_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$c", "graft.sources.MorLogCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.root", root)
    Seq((3L, 33L), (100L, 1L)).toDF("id", "v")
      .createOrReplaceTempView("cfr_keep")
    spark.sql(s"""MERGE INTO $c.t AS t USING cfr_keep AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""") // v1
    // the matched row 6 is re-keyed onto 5, which is already taken
    Seq((6L, 0L)).toDF("id", "v").createOrReplaceTempView("cfr_rekey")
    spark.sql(s"""MERGE INTO $c.t AS t USING cfr_rekey AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET id = 5""") // v2
    // an insert that computes its key is not provably unique either
    Seq((200L, 2L)).toDF("id", "v").createOrReplaceTempView("cfr_ins")
    spark.sql(s"""MERGE INTO $c.t AS t USING cfr_ins AS s ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id + 1, s.v)""") // v3
    MorLog.mergeIntoWhen(spark, dir, Seq((7L, 77L)).toDF("id", "v"), "id",
      Seq("true" -> "update")) // v4: SET * keeps the key
    assert((1 to 4).map(MorLog.state(spark, dir, _).action) ==
      Seq("merge", "rekey:merge", "rekey:merge", "merge"))
    assert(MorLog.read(spark, dir).filter(col("id") === 5L).count() == 2)
    for ((f, t) <- Seq((0, 1), (1, 2), (2, 3), (1, 4), (0, 4)))
      agrees(dir, f, t)
    // the log-delta form nets the re-keyed row as a plain insert of 5,
    // where the snapshot diff pairs it with the row already there
    assert(!same(MorLog.incrementalChanges(spark, dir, 1, 2, Seq("id")),
      MorLog.snapshotChanges(spark, dir, 1, 2, Seq("id"))))
    // a keyed span after the re-key still reads from the log: only key
    // 7 changed (the snapshot diff would also pair the two rows now
    // under key 5 with each other)
    assert(MorLog.changes(spark, dir, 3, 4, Seq("id"))
      .select("id", "change").as[(Long, String)].collect().toSeq ==
      Seq((7L, "update")))
  }
}
