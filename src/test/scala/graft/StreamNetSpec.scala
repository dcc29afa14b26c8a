package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.MorLog
import graft.sources.{MorLogEpochWriter, MorLogStagedFiles}

/** The streaming sink nets each epoch inside its writers: a `netBy`
  * write requires its input clustered and sorted by the merge key, so
  * the rows of one key written by different INPUT tasks meet in one
  * writer. Each trigger here reads three input files (three input
  * tasks) with the same keys spread across them, and the table must
  * equal a plain-Spark last-writer-wins fold of the feed. */
class StreamNetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def chain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" <- ")

  private def tmp(p: String): String =
    Files.createTempDirectory(s"graft-$p-").toString

  /** One drained stream's jobs, read from a listener that keeps only
    * the jobs of the query's own job group (its run id), so jobs of
    * other suites sharing the session never count. */
  case class Drain(labels: Seq[String], maxStageTasks: Int,
                   error: Option[Throwable])

  /** Write `files` (each one parquet file, modification times in
    * order) as the feed, then drain it into `dir` through the sink,
    * three files per trigger. */
  private def drain(root: String, dir: String, files: Seq[DataFrame],
                    mergeKey: String, netBy: String): Drain = {
    val feed = s"$root/feed"
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    files.zipWithIndex.foreach { case (df, i) =>
      val d = s"$root/tmp$i"
      df.repartition(1).write.parquet(d)
      val f = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val to = new java.io.File(feed, f"f$i%03d.parquet")
      to.getParentFile.mkdirs()
      assert(f.renameTo(to))
      to.setLastModified(t0 + i * 1000L)
    }
    val jobs = new ConcurrentLinkedQueue[(String, String, Int)]()
    val flushed = new CountDownLatch(1)
    val sentinel = s"stream-net-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) =
          p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        val g = prop("spark.jobGroup.id")
        if (g == sentinel) flushed.countDown()
        else jobs.add((g, prop("spark.job.description"),
          e.stageInfos.map(_.numTasks).maxOption.getOrElse(0)))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val q = spark.readStream.schema(files.head.schema)
        .option("maxFilesPerTrigger", 3).parquet(feed)
        .writeStream.format("graft.sources.MorLogSource")
        .option("path", dir).option("mergeKey", mergeKey)
        .option("opCol", "op").option("deleteValue", "D")
        .option("netBy", netBy)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      val error = scala.util.Try(q.awaitTermination(120000)).failed
        .toOption
      assert(!q.isActive, "the query must stop, never hang")
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus stalled")
      val mine = jobs.asScala.toSeq.filter(_._1 == q.runId.toString)
      Drain(mine.map(_._2), mine.map(_._3).maxOption.getOrElse(0), error)
    } finally sc.removeSparkListener(listener)
  }

  /** The plain-Spark last-writer-wins fold: per key the row with the
    * highest order tuple wins, data beating delete on an exact tie; a
    * winning delete removes the key. Valid for a whole feed whose
    * order tuples grow from epoch to epoch. */
  private def fold(base: DataFrame, feed: DataFrame, keys: Seq[String],
                   order: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(order.map(col(_).desc) :+ (col("op") === "D").asc: _*)
    val win = feed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    base.join(win.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(win.filter(col("op") =!= "D").drop("op"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString)
      .toSeq.sorted

  /** Random changes for `keys`, several per key and epoch, spread over
    * the epoch's three files. Order values are distinct within a key
    * and epoch and grow from epoch to epoch. */
  private def changes[K](rnd: scala.util.Random, epoch: Int,
                         keys: Seq[K]): Seq[Seq[(K, Long, String)]] = {
    val files = Seq.fill(3)(Seq.newBuilder[(K, Long, String)])
    keys.foreach { k =>
      val n = 1 + rnd.nextInt(4)
      val seqs = rnd.shuffle((1 to 90).toList).take(n)
      seqs.foreach { s =>
        val op = if (rnd.nextInt(5) == 0) "D" else "U"
        files(rnd.nextInt(3)) += ((k, epoch * 1000L + s, op))
      }
    }
    files.map(_.result())
  }

  test("cross-task netting equals a last-writer-wins fold; data wins an exact tie with a delete") {
    val root = tmp("net_x")
    val dir = s"$root/t"
    val base = (0L until 40L).map(k => (k, k * 1.0, 0L)).toDF("k", "v", "seq")
    MorLog.create(base, dir)
    val v0 = MorLog.currentVersion(spark, dir)
    val rnd = new scala.util.Random(11)
    val files = (0 until 2).flatMap { e =>
      val fs = changes(rnd, e, (0L until 60L).filter(_ => rnd.nextBoolean()))
        .map(_.map { case (k, s, op) => (k, s * 0.5, s, op) })
      // key 100 + e: data and delete tie on the top tuple in two
      // different files — data wins; key 200 + e: a delete in one file
      // beats the data row in another by one
      val top = e * 1000L + 500
      Seq(fs(0) :+ ((100L + e, 1.0, top, "U")) :+ ((200L + e, 2.0, top, "U")),
        fs(1) :+ ((200L + e, 0.0, top + 1, "D")),
        fs(2) :+ ((100L + e, 0.0, top, "D")) :+ ((100L + e, 3.0, top - 1, "U")))
    }.map(_.toDF("k", "v", "seq", "op"))
    val d = drain(root, dir, files, "k", "seq")
    assert(d.error.isEmpty, d.error.map(chain))
    assert(d.maxStageTasks >= 3,
      s"each trigger must read its files in several tasks: ${d.maxStageTasks}")
    assert(MorLog.currentVersion(spark, dir) == v0 + 2,
      "one committed version per epoch")
    assert(!d.labels.contains("morlog:net"), d.labels)
    val expected = fold(base, files.reduce(_ unionByName _), Seq("k"), Seq("seq"))
    val got = MorLog.read(spark, dir)
    assert(rows(got) == rows(expected))
    assert(got.filter(col("k") === 100L).select("v").as[Double].collect()
      .toSeq == Seq(1.0), "data must win an exact tie with a delete")
    assert(got.filter(col("k") === 200L).isEmpty,
      "a delete with a greater tuple must win")
  }

  test("cross-task netting on a composite key with a netBy list") {
    val root = tmp("net_ck")
    val dir = s"$root/t"
    val base = (0L until 20L).flatMap(a => Seq("x", "y").map(b =>
      (a, b, a * 10.0, 0L, 0L))).toDF("a", "b", "v", "ts", "seq")
    MorLog.create(base, dir)
    val v0 = MorLog.currentVersion(spark, dir)
    val rnd = new scala.util.Random(23)
    val keys = for (a <- 0L until 30L; b <- Seq("x", "y")) yield (a, b)
    // `ts` is coarse (ties across a key's rows); `seq` breaks the ties
    val files = (0 until 2).flatMap { e =>
      changes(rnd, e, keys.filter(_ => rnd.nextBoolean()))
    }.map(_.map { case ((a, b), s, op) => (a, b, s * 0.25, s / 10, s, op) }
      .toDF("a", "b", "v", "ts", "seq", "op"))
    val d = drain(root, dir, files, "a,b", "ts,seq")
    assert(d.error.isEmpty, d.error.map(chain))
    assert(d.maxStageTasks >= 3, s"${d.maxStageTasks}")
    assert(MorLog.currentVersion(spark, dir) == v0 + 2)
    assert(!d.labels.contains("morlog:net"), d.labels)
    val expected = fold(base, files.reduce(_ unionByName _), Seq("a", "b"),
      Seq("ts", "seq"))
    assert(rows(MorLog.read(spark, dir)) == rows(expected))
  }

  test("a NULL netBy value on a delete row fails the epoch with the NULL-order message") {
    val root = tmp("net_null")
    val dir = s"$root/t"
    MorLog.create(Seq((1L, 1.0, 0L)).toDF("k", "v", "seq"), dir)
    val v0 = MorLog.currentVersion(spark, dir)
    def f(rs: (Long, Double, java.lang.Long, String)*): DataFrame =
      rs.toDF("k", "v", "seq", "op")
    val files = Seq(f((1L, 2.0, 5L, "U")), f((1L, 0.0, null, "D")),
      f((2L, 3.0, 1L, "U")))
    val d = drain(root, dir, files, "k", "seq")
    assert(d.error.nonEmpty, "the epoch must fail")
    assert(chain(d.error.get).contains(
      "stream epoch netBy: NULL seq in delete rows"), chain(d.error.get))
    assert(MorLog.currentVersion(spark, dir) == v0, "nothing may commit")
  }

  test("the epoch writer refuses a key below the previous one (ordering not applied)") {
    val logDir = tmp("net_order")
    val types: Array[DataType] = Array(LongType, LongType, DoubleType)
    def writer = new MorLogEpochWriter(logDir, Array("k", "seq", "v"),
      types, Array("k", "seq", "v"), Array(0, 1, 2), Nil, 3, "D",
      Array("k"), Array(LongType), new Configuration(),
      netPhys = Array("seq"), netOrdinals = Array(1),
      netTypes = Array(LongType))
    def row(k: Long, seq: Long, v: Double, op: String): InternalRow =
      InternalRow(k, seq, v, UTF8String.fromString(op))
    // in order: key 1 nets to its seq-3 data row (the seq-2 delete
    // loses), key 2 to its delete, key 3's exact tie goes to data
    val ok = writer
    Seq(row(1, 2, 0, "D"), row(1, 3, 1.5, "U"), row(1, 1, 9, "U"),
      row(2, 4, 0, "D"), row(2, 1, 2, "U"),
      row(3, 7, 3, "U"), row(3, 7, 0, "D")).foreach(ok.write)
    val m = ok.commit().asInstanceOf[MorLogStagedFiles]
    val data = spark.read.parquet(m.dataFiles: _*).as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(data == Seq((1L, 3L, 1.5), (3L, 7L, 3.0)), data.toString)
    val dels = spark.read.parquet(m.deleteFiles: _*).as[(Long, Long)]
      .collect().toSeq
    assert(dels == Seq((2L, 4L)), dels.toString)
    // out of order: key 1 after key 2 fails loud, nothing is kept
    val bad = writer
    bad.write(row(2, 1, 2, "U"))
    val e = intercept[IllegalStateException] {
      bad.write(row(1, 1, 1, "U"))
    }
    assert(e.getMessage.contains("arrived below the previous one"),
      e.getMessage)
    bad.abort()
    val left = new java.io.File(logDir).listFiles()
      .filter(f => f.getName.startsWith("sstage_") &&
        !m.dataFiles.exists(_.endsWith(f.getName)) &&
        !m.deleteFiles.exists(_.endsWith(f.getName)))
    assert(left.isEmpty, left.map(_.getName).mkString(", "))
  }
}
