package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gold.Gold
import graft.pipeline.CdcPipeline
import graft.sink.{AtomicParquetSink, MorLog}
import graft.sources.CsvIngest

/** One timed operation of the closed-loop client. `kind` is the
  * workload's operation (`commit`, `round`, `cycle`) or a part of one
  * (`gold`, `lookup`, `cdf`, `dim_load`, `fact_load`, `gold_refresh`).
  * Times are wall-clock milliseconds. */
final case class OpRec(kind: String, start: Double, end: Double,
                       rows: Long = 0L) {
  def ms: Double = end - start
}

/** What a pass leaves for the checks and the report. */
final case class PassResult(ops: Seq[OpRec], wallMs: Double,
                            appliedRows: Long, tableDir: String,
                            inputBytes: Long)

/** `opLimit` caps how many operations a pass runs (the warm-up pass). */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Tracer, val injectExtraJob: Boolean,
                val opLimit: Int = Int.MaxValue) {
  private val ops = mutable.ArrayBuffer.empty[OpRec]

  /** Time one operation; with `injectExtraJob` it also runs one extra
    * Spark job inside the operation (the counter self-test). */
  def op[T](kind: String, layer: String)(body: => T): T =
    counted(kind, layer)(body)(_ => 0L)

  /** As [[op]], with the operation's row count taken from its result. */
  def counted[T](kind: String, layer: String)(body: => T)(rows: T => Long): T = {
    val t0 = Clock.nowMs
    val r = tracer.span(kind, layer, Map("op" -> kind)) {
      val v = body
      if (injectExtraJob) spark.sparkContext.parallelize(Seq(1), 1).count()
      v
    }
    ops += OpRec(kind, t0, Clock.nowMs, rows(r))
    r
  }

  def record(o: OpRec): Unit = ops += o
  def takeOps(): Seq[OpRec] = { val r = ops.toList; ops.clear(); r }
}

/** A benchmark workload: a fixture built in set-up, a fixed sequence
  * of timed operations sized by `--seconds`, and a correctness check
  * run after the timed window. */
trait Workload {
  def name: String
  /** The operation whose latency is the workload's headline. */
  def primary: String
  /** How many of them a pass times, for a `--seconds` run. */
  def ops(seconds: Int): Int
  /** Build the inputs and the starting table under `dir`; returns the
    * row counts per input for the environment stamp. */
  def fixture(spark: SparkSession, seed: Long, seconds: Int, dir: String): Map[String, Long]
  def run(ctx: Ctx, dir: String): PassResult
  /** Mismatch descriptions; empty when every output is as expected. */
  def check(spark: SparkSession, seed: Long, dir: String, res: PassResult): Seq[String]
  /** Exact counts of the end state, for the counter snapshot. */
  def tableCounters(spark: SparkSession, dir: String): Map[String, Long]
}

object Workloads {
  val all: Seq[Workload] =
    Seq(CdcStreamSmall, CdcBulkMerge, MorRead, PipelineHourly)

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Regular files under `dir`, recursively. */
  def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }
  }

  def dirBytes(dir: String, pred: Path => Boolean = _ => true): Long =
    files(dir).filter(pred).map(Files.size).sum

  /** Counts every MorLog table can report from its log and directory. */
  def morlogCounters(spark: SparkSession, table: String): Map[String, Long] = {
    val h = MorLog.history(spark, table).orderBy(col("version").desc).head()
    Map(
      "versions" -> MorLog.versions(spark, table).size.toLong,
      "live_files" -> h.getAs[Int]("n_files").toLong,
      "stored_bytes" -> dirBytes(table),
      "tomb_bytes" -> tombBytes(table))
  }

  /** Bytes of tombstone state: broadcast sets under the log and
    * per-file sidecars. */
  def tombBytes(table: String): Long =
    dirBytes(table, p => {
      val s = p.toString
      s.contains("/_log/tombs") || s.contains("/_dvpf/")
    })

  def checkDigest(what: String, actual: DataFrame,
                  expected: DataFrame): Seq[String] = {
    val a = Expected.digest(actual)
    val e = Expected.digest(expected)
    if (a == e) Nil else Seq(s"$what: digest $a, expected $e")
  }
}

/** Shared by the two CDC apply workloads: a MorLog bookings fact of
  * `rows` seed rows in key-ordered files. */
object Bookings {
  val Customers = 20000L

  def create(spark: SparkSession, seed: Long, rows: Long, files: Int,
             table: String): Unit =
    MorLog.create(Gen.seedFacts(spark, seed, rows, files, Customers), table)

  def seedRows(spark: SparkSession, seed: Long, rows: Long): DataFrame =
    Gen.seedFacts(spark, seed, rows, 4, Customers)
}

/** Small op-tagged change files drained by the DSv2 streaming sink, one
  * file per epoch. */
object CdcStreamSmall extends Workload {
  val name = "cdc_stream_small"
  val primary = "commit"
  val RowsPerFile = 2000
  private val rows = 1000000L
  def ops(seconds: Int): Int =
    math.min(90, math.max(3, seconds))

  def fixture(spark: SparkSession, seed: Long, seconds: Int, dir: String): Map[String, Long] = {
    val n = rows
    Bookings.create(spark, seed, n, 16, s"$dir/table")
    val src = new File(s"$dir/changes"); src.mkdirs()
    val nf = ops(seconds)
    val batches = Gen.streamChanges(seed, nf, RowsPerFile, n,
      hot = n / 20, Bookings.Customers, firstSeq = 0L)
    // the file source drains in modification-time order
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    batches.zipWithIndex.foreach { case (b, i) =>
      val f = new File(src, f"chg-$i%05d.json")
      Gen.writeJsonLines(b, f)
      f.setLastModified(t0 + i * 1000L)
    }
    Map("seed_rows" -> n, "change_files" -> nf.toLong,
      "change_rows" -> nf.toLong * RowsPerFile)
  }

  def run(ctx: Ctx, dir: String): PassResult = {
    val spark = ctx.spark
    val table = s"$dir/table"
    // a capped pass drains only the first files of its throwaway fixture
    new File(s"$dir/changes").listFiles().sortBy(_.getName).drop(ctx.opLimit)
      .foreach(_.delete())
    val t0 = Clock.nowMs
    val q = ctx.tracer.span("stream.drain", "stream") {
      val q = spark.readStream.schema(Gen.changeSchema)
        .option("maxFilesPerTrigger", 1)
        .json(s"$dir/changes")
        .writeStream.format("graft.sources.MorLogSource")
        .option("path", table)
        .option("mergeKey", "booking_id")
        .option("opCol", "op").option("deleteValue", "D")
        .option("netBy", "seq")
        .option("checkpointLocation", s"$dir/checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    val wall = Clock.nowMs - t0
    var applied = 0L
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.get("triggerExecution").longValue
      ctx.record(OpRec("commit", s, s + d, p.numInputRows))
      applied += p.numInputRows
    }
    PassResult(ctx.takeOps(), wall, applied, table,
      Workloads.dirBytes(s"$dir/changes"))
  }

  def check(spark: SparkSession, seed: Long, dir: String, res: PassResult): Seq[String] = {
    val changes = spark.read.schema(Gen.changeSchema).json(s"$dir/changes")
    val expected = Expected.fold(Bookings.seedRows(spark, seed, rows),
      changes)
    val epochs = res.ops.count(_.kind == "commit")
    val nf = new File(s"$dir/changes").list().count(_.endsWith(".json"))
    (if (epochs == nf) Nil
     else Seq(s"$name: $epochs epochs committed, expected $nf")) ++
      Workloads.checkDigest(name, MorLog.read(spark, res.tableDir), expected)
  }

  def tableCounters(spark: SparkSession, dir: String): Map[String, Long] =
    Workloads.morlogCounters(spark, s"$dir/table")
}

/** A few large op-tagged batches applied with `MorLog.mergeInto`. */
object CdcBulkMerge extends Workload {
  val name = "cdc_bulk_merge"
  val primary = "commit"
  private val rows = 1000000L
  private val batchRows = 100000L
  def ops(seconds: Int): Int =
    math.max(3, seconds * 4 / 5)

  private def batchDir(dir: String, b: Int) = f"$dir/batches/b$b%03d"

  def fixture(spark: SparkSession, seed: Long, seconds: Int, dir: String): Map[String, Long] = {
    val n = rows
    Bookings.create(spark, seed, n, 16, s"$dir/table")
    val nb = ops(seconds)
    val br = batchRows
    (0 until nb).foreach { b =>
      Gen.bulkBatch(spark, seed, b, br, n, newBase = n + b * br,
        seqBase = 1L + b * br, Bookings.Customers)
        .write.parquet(batchDir(dir, b))
    }
    Map("seed_rows" -> n, "batches" -> nb.toLong,
      "change_rows" -> nb.toLong * br)
  }

  def run(ctx: Ctx, dir: String): PassResult = {
    val spark = ctx.spark
    val table = s"$dir/table"
    val nb = math.min(ctx.opLimit, new File(s"$dir/batches").list().length)
    val br = batchRows
    val t0 = Clock.nowMs
    (0 until nb).foreach { b =>
      ctx.op("commit", "morlog") {
        MorLog.mergeInto(spark, table, spark.read.parquet(batchDir(dir, b)),
          "booking_id", "op")
      }
    }
    PassResult(ctx.takeOps(), Clock.nowMs - t0, nb * br, table,
      Workloads.dirBytes(s"$dir/batches"))
  }

  def check(spark: SparkSession, seed: Long, dir: String, res: PassResult): Seq[String] = {
    val nb = new File(s"$dir/batches").list().length
    val changes = spark.read.parquet((0 until nb).map(batchDir(dir, _)): _*)
    Workloads.checkDigest(name, MorLog.read(spark, res.tableDir),
      Expected.fold(Bookings.seedRows(spark, seed, rows), changes))
  }

  def tableCounters(spark: SparkSession, dir: String): Map[String, Long] =
    Workloads.morlogCounters(spark, s"$dir/table")
}

/** Reads of a MorLog table whose history was built in set-up: the gold
  * rollup, keyed point lookups and a short change-span read. The
  * accumulated tombstones stay below `LocalParquet`'s 200k-row driver
  * cap, so reads take the driver-side tombstone path. */
object MorRead extends Workload {
  val name = "mor_read"
  val primary = "round"
  val LookupsPerRound = 4
  /** History: a 10k-row merge, then a 2k-row merge whose span the
    * change read covers. */
  private val history: Seq[Long] = Seq(10000L, 2000L)
  private val rows = 500000L
  def ops(seconds: Int): Int =
    math.max(3, seconds * 4 / 5)

  private def batchDir(dir: String, b: Int) = f"$dir/batches/b$b%03d"

  /** Lookup keys: mostly seed keys (some updated or deleted by the
    * merges), plus keys from each merge's insert range, which exist only
    * where that merge row was an insert. */
  private def keyPool(seed: Long): IndexedSeq[Long] = {
    val rnd = new scala.util.Random(seed * 92821L + 5L)
    (0 until 64).map { i =>
      if (i % 8 == 7) rows + rnd.nextInt(4)
      else if (i % 8 == 6) rows + history.head + rnd.nextInt(4)
      else (rnd.nextDouble() * rows).toLong
    }
  }

  def fixture(spark: SparkSession, seed: Long, seconds: Int, dir: String): Map[String, Long] = {
    val n = rows
    val table = s"$dir/table"
    Bookings.create(spark, seed, n, 16, table)
    var newBase = n
    var seqBase = 1L
    history.zipWithIndex.foreach { case (br, b) =>
      Gen.bulkBatch(spark, seed, b, br, n, newBase, seqBase,
        Bookings.Customers).write.parquet(batchDir(dir, b))
      MorLog.mergeInto(spark, table, spark.read.parquet(batchDir(dir, b)),
        "booking_id", "op")
      newBase += br; seqBase += br
    }
    Gen.customers(spark, seed, Bookings.Customers).write.parquet(s"$dir/customer")
    Gen.nation(spark).write.parquet(s"$dir/nation")
    Map("seed_rows" -> n, "merges" -> history.size.toLong,
      "change_rows" -> history.sum, "customers" -> Bookings.Customers,
      "read_rounds" -> ops(seconds).toLong)
  }

  /** Results seen by the client, checked after the timed window. */
  private val golds = mutable.LinkedHashSet.empty[Seq[String]]
  private val lookups = mutable.LinkedHashMap.empty[Long, Seq[String]]
  private val lookupMismatch = mutable.ArrayBuffer.empty[String]
  private val cdfs = mutable.LinkedHashSet.empty[Seq[String]]

  def run(ctx: Ctx, dir: String): PassResult = {
    val spark = ctx.spark
    val table = s"$dir/table"
    golds.clear(); lookups.clear(); lookupMismatch.clear(); cdfs.clear()
    val cust = spark.read.parquet(s"$dir/customer")
    val nation = spark.read.parquet(s"$dir/nation")
    val pool = keyPool(ctx.seed)
    val vTo = MorLog.versions(spark, table).last
    val nRounds = math.min(ctx.opLimit, ops(ctx.seconds))
    var returned = 0L
    val t0 = Clock.nowMs
    (0 until nRounds).foreach { r =>
      ctx.op("round", "client") {
        val g = ctx.op("gold", "gold") {
          val fact = ctx.tracer.span("MorLog.read", "scan") {
            MorLog.read(spark, table)
          }
          Gold.bookingAggregation(fact, cust, nation, "user_id", "c_custkey",
            "c_nationkey", "n_nationkey", "n_name", "amount", "booking_ts")
            .collect().toSeq
        }
        golds += Expected.rowStrings(g)
        (0 until LookupsPerRound).foreach { i =>
          val k = pool((r * LookupsPerRound + i) % pool.size)
          val rowsK = ctx.counted("lookup", "scan") {
            MorLog.readWhere(spark, table, col("booking_id") === k)
              .collect().toSeq
          }(_.size.toLong)
          returned += rowsK.size
          val s = Expected.rowStrings(rowsK)
          lookups.get(k) match {
            case Some(prev) if prev != s =>
              lookupMismatch += s"lookup $k changed between rounds"
            case _ => lookups(k) = s
          }
        }
        val c = ctx.op("cdf", "scan") {
          MorLog.changes(spark, table, vTo - 1, vTo, Seq("booking_id"))
            .select("booking_id", "change", "_new").collect().toSeq
        }
        cdfs += Expected.rowStrings(c)
      }
    }
    val wall = Clock.nowMs - t0
    PassResult(ctx.takeOps(), wall, returned, table, 0L)
  }

  def check(spark: SparkSession, seed: Long, dir: String, res: PassResult): Seq[String] = {
    val n = rows
    val seedRows = Bookings.seedRows(spark, seed, n)
    val hs = history
    val all = (0 until hs.size).map(b => spark.read.parquet(batchDir(dir, b)))
    val upToLast = all.reduce(_ unionByName _)
    val upToPrev = all.init.reduce(_ unionByName _)
    val exp = Expected.fold(seedRows, upToLast).cache()
    try {
      val cust = spark.read.parquet(s"$dir/customer")
      val nation = spark.read.parquet(s"$dir/nation")
      val expGold = Expected.rowStrings(
        Expected.gold(exp, cust, nation).collect().toSeq)
      val goldErr =
        if (golds.toSeq == Seq(expGold)) Nil
        else Seq(s"$name: gold rollup differs from the expected rollup " +
          s"(${golds.size} distinct results)")
      val keys = lookups.keys.toSeq
      val expRows = exp.filter(col("booking_id").isin(keys: _*)).collect()
        .groupBy(_.getLong(0)).map { case (k, rs) =>
          k -> Expected.rowStrings(rs.toSeq) }
      val lookErr = keys.filter(k =>
        lookups(k) != expRows.getOrElse(k, Nil)).map(k =>
        s"$name: lookup $k returned ${lookups(k)}, expected " +
          s"${expRows.getOrElse(k, Nil)}")
      val expCdf = Expected.rowStrings(Expected.diff(
        Expected.fold(seedRows, upToPrev), exp, "booking_id").collect().toSeq)
      val cdfErr =
        if (cdfs.toSeq == Seq(expCdf)) Nil
        else Seq(s"$name: change span differs from the expected diff " +
          s"(${cdfs.headOption.map(_.size)} rows vs ${expCdf.size})")
      goldErr ++ lookErr ++ lookupMismatch ++ cdfErr ++
        Workloads.checkDigest(name, MorLog.read(spark, res.tableDir), exp)
    } finally exp.unpersist()
  }

  def tableCounters(spark: SparkSession, dir: String): Map[String, Long] =
    Workloads.morlogCounters(spark, s"$dir/table")
}

/** Hourly cycles of the reference master pipeline against one work dir:
  * customer-dim CSV load, change-feed drain into the copy-on-write fact,
  * gold refresh. Each cycle lands one CSV and one feed slice. */
object PipelineHourly extends Workload {
  val name = "pipeline_hourly"
  val primary = "cycle"
  val Users = 20000L
  private val csvRows = 5000L
  private val sliceRows = 20000L
  def ops(seconds: Int): Int =
    math.max(3, seconds / 3)

  private def csvDir(dir: String, c: Int) = f"$dir/stage/csv_c$c%03d"
  private def sliceDir(dir: String, c: Int) = f"$dir/stage/slice_c$c%03d"

  def fixture(spark: SparkSession, seed: Long, seconds: Int, dir: String): Map[String, Long] = {
    val nc = ops(seconds)
    (0 until nc).foreach { c =>
      CsvIngest.writeRaw(
        Gen.landingCustomers(spark, seed, c, csvRows, Users),
        CsvIngest.customerDimSchema, csvDir(dir, c))
      Gen.feedSlice(spark, seed, c, sliceRows, Users)
        .write.parquet(sliceDir(dir, c))
    }
    Gen.nation(spark).write.parquet(s"$dir/nation")
    Map("cycles" -> nc.toLong, "csv_rows_per_cycle" -> csvRows,
      "feed_rows_per_cycle" -> sliceRows, "users" -> Users)
  }

  def run(ctx: Ctx, dir: String): PassResult = {
    val spark = ctx.spark
    val work = s"$dir/work"
    val landing = new File(s"$work/landing"); landing.mkdirs()
    val nation = spark.read.parquet(s"$dir/nation")
    val nc = math.min(ctx.opLimit,
      new File(s"$dir/stage").list().count(_.startsWith("csv_")))
    var inputBytes = 0L
    val t0 = Clock.nowMs
    (0 until nc).foreach { c =>
      val csv = new File(csvDir(dir, c)).listFiles()
        .filter(_.getName.endsWith(".csv")).head
      inputBytes += csv.length() + Workloads.dirBytes(sliceDir(dir, c))
      Files.move(csv.toPath, new File(landing, f"customers_c$c%03d.csv").toPath)
      ctx.op("cycle", "pipeline") {
        val dim = ctx.op("dim_load", "pipeline") {
          CdcPipeline.loadCustomerDim(spark, landing.getPath, work)
        }
        val fact = ctx.op("fact_load", "pipeline") {
          CdcPipeline.loadBookingFact(spark, spark.read.parquet(sliceDir(dir, c)),
            work)
        }
        ctx.op("gold_refresh", "gold") {
          CdcPipeline.refreshGold(spark, fact, dim, nation, s"$work/gold")
        }
      }
    }
    PassResult(ctx.takeOps(), Clock.nowMs - t0,
      nc * (csvRows + sliceRows), s"$work/fact", inputBytes)
  }

  def check(spark: SparkSession, seed: Long, dir: String, res: PassResult): Seq[String] = {
    val work = s"$dir/work"
    val nc = new File(s"$dir/stage").list().count(_.startsWith("csv_"))
    val ts = CsvIngest.customerDimSchema
    val csvs = (0 until nc).map(c =>
      Gen.landingCustomers(spark, seed, c, csvRows, Users)
        .select(ts.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
        .withColumn("file_seq", lit(c.toLong)))
    val expDim = Expected.lastPerKey(csvs.reduce(_ unionByName _),
      "c_custkey", Seq(col("file_seq")))
    val events = (0 until nc).map(c => spark.read.parquet(sliceDir(dir, c)))
      .reduce(_ unionByName _).filter(col("event_type") =!= "error")
    val expFact = Expected.lastPerKey(events, "user_id",
      Seq(col("ts_s"), col("event_id")))
    val nation = spark.read.parquet(s"$dir/nation")
    val expGold = expFact.join(expDim, expFact("user_id") === expDim("c_custkey"))
      .join(nation, expDim("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name").as("country"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("value").cast("decimal(18,2)"))
          .cast("double").as("total_value"),
        max(col("ts_s")).as("last_seen"))
    def table(t: String) = AtomicParquetSink.read(spark, s"$work/$t")
      .getOrElse(spark.emptyDataFrame)
    Workloads.checkDigest(s"$name dim", table("customer_dim"), expDim) ++
      Workloads.checkDigest(s"$name fact", table("fact"), expFact) ++
      Workloads.checkDigest(s"$name gold", table("gold"), expGold)
  }

  def tableCounters(spark: SparkSession, dir: String): Map[String, Long] = {
    val work = s"$dir/work"
    Map("stored_bytes" -> Workloads.dirBytes(s"$work/fact"),
      "files" -> Workloads.files(s"$work/fact")
        .count(_.toString.endsWith(".parquet")).toLong,
      "versions" -> AtomicParquetSink.versions(spark, s"$work/fact").size.toLong)
  }
}
