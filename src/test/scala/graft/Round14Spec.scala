package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

import graft.sink.{DvPerFile, MorLog, MorLogStats}

/** Round-14 specs: SQL MERGE INTO / UPDATE lowered onto the engine
  * (strict translation, one committed version per statement, pruned
  * locate), commit timestamps (monotone under OCC racers, versionAt,
  * TIMESTAMP AS OF), catalog cache invalidation on DROP/RENAME
  * (advice-caught wrong-reads-after-recreate), the per-file marker
  * retraction on a lost commit (advice-caught committedGen drift),
  * and the crashed-replace temp sweep. */
class Round14Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A log table of `nFiles` single-file appends with DISJOINT key
    * ranges: file i holds keys [i*100, i*100+10). */
  private def rangedTable(dir: String, nFiles: Int): Unit = {
    def slab(i: Int) = spark.range(i * 100L, i * 100L + 10L)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartition(1)
    MorLog.create(slab(0), dir)
    (1 until nFiles).foreach(i => MorLog.append(spark, dir, slab(i)))
  }

  private def cat(root: String): String = {
    val c = "r14_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$c", "graft.sources.MorLogCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.root", root)
    c
  }

  test("SQL MERGE INTO: full clause set, one committed version, pruned locate") {
    val root = tmp("r14_merge")
    val dir = s"$root/t"
    rangedTable(dir, nFiles = 8)
    val c = cat(root)
    // source: update k=301 (matched, arithmetic SET), delete k=302
    // (matched+condition), insert k=-5 (not matched, expression
    // VALUES); a second matched row 303 that NO clause takes (op x)
    Seq((301L, 5L, "U"), (302L, 0L, "D"), (-5L, 9L, "U"),
        (303L, 1L, "X"))
      .toDF("k", "delta", "op").createOrReplaceTempView("r14_src")
    val v0 = MorLog.currentVersion(spark, dir)
    spark.sql(s"""
      MERGE INTO $c.t AS t USING r14_src AS s ON t.k = s.k
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = t.v + s.delta
      WHEN NOT MATCHED AND s.op = 'U' THEN INSERT (k, v)
        VALUES (s.k, s.delta * 10)""")
    assert(MorLog.currentVersion(spark, dir) == v0 + 1,
      "MERGE must land as ONE committed version")
    // keys 301-303 + (-5): only file 3 can hold a current row
    assert(MorLogStats.lastLocateScanned == 1 &&
      MorLogStats.lastLocateSkipped == 7,
      s"locate must stats-prune, scanned ${MorLogStats.lastLocateScanned}")
    val got = MorLog.read(spark, dir).as[(Long, Long)].collect().toMap
    assert(got(301L) == 607L, "matched update must apply t.v + s.delta")
    assert(!got.contains(302L), "matched delete must remove the key")
    assert(got(303L) == 606L, "a matched row no clause takes stays")
    assert(got(-5L) == 90L, "not-matched insert must apply the VALUES")
    assert(got.size == 80, "untouched rows must carry over")
    assert(graft.plans.MorLogDmlStats.lastUpdated == 1 &&
      graft.plans.MorLogDmlStats.lastDeleted == 1 &&
      graft.plans.MorLogDmlStats.lastInserted == 1)
  }

  test("SQL MERGE INTO: NOT MATCHED BY SOURCE clauses, differing key names, SET star") {
    val root = tmp("r14_merge2")
    val dir = s"$root/t"
    MorLog.create(spark.range(0, 10)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartition(1), dir)
    val c = cat(root)
    Seq((3L, 333L), (40L, 400L)).toDF("k", "v")
      .createOrReplaceTempView("r14_src2")
    spark.sql(s"""
      MERGE INTO $c.t AS t USING r14_src2 AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.k >= 8 THEN DELETE
      WHEN NOT MATCHED BY SOURCE AND t.k = 0 THEN UPDATE SET v = -1""")
    val got = MorLog.read(spark, dir).as[(Long, Long)].collect().toMap
    assert(got(3L) == 333L, "SET * must take the source image")
    assert(got(40L) == 400L, "INSERT * must land the source row")
    assert(!got.contains(8L) && !got.contains(9L),
      "by-source delete must remove unmatched target rows")
    assert(got(0L) == -1L, "by-source update must reassign")
    assert(got(5L) == 10L, "rows no clause takes stay")
    // a source key under a DIFFERENT column name
    val dir2 = s"$root/t2"
    MorLog.create(spark.range(0, 5)
      .select(col("id").as("k"), col("id").as("v")).repartition(1), dir2)
    Seq((2L, 22L)).toDF("sk", "sv").createOrReplaceTempView("r14_src3")
    spark.sql(s"""
      MERGE INTO $c.t2 AS t USING r14_src3 AS s ON t.k = s.sk
      WHEN MATCHED THEN UPDATE SET v = s.sv""")
    assert(MorLog.read(spark, dir2).as[(Long, Long)].collect()
      .toMap.apply(2L) == 22L)
  }

  /** Exception text across the whole cause chain (planner errors may
    * arrive wrapped). */
  private def chain(e: Throwable): String = {
    var cur = e; val sb = new StringBuilder
    while (cur != null) { sb.append(cur.toString).append('\n')
      cur = cur.getCause }
    sb.toString
  }

  test("SQL MERGE/UPDATE refuse loud: non-equi ON, subquery, schema evolution") {
    val root = tmp("r14_refuse")
    val dir = s"$root/t"
    MorLog.create(spark.range(0, 5)
      .select(col("id").as("k"), col("id").as("v")).repartition(1), dir)
    val c = cat(root)
    Seq((1L, 10L)).toDF("k", "v").createOrReplaceTempView("r14_src4")
    val nonEqui = intercept[Throwable](spark.sql(s"""
      MERGE INTO $c.t AS t USING r14_src4 AS s ON t.k >= s.k
      WHEN MATCHED THEN UPDATE SET *"""))
    assert(chain(nonEqui).contains("column equalit"),
      s"non-equi ON must refuse loud, got ${chain(nonEqui)}")
    // round 16: NON-correlated subqueries now FOLD (Round16Spec pins
    // them); the refusal surface narrowed to CORRELATED forms
    val sub = intercept[Throwable](spark.sql(s"""
      UPDATE $c.t t SET v = 0
      WHERE EXISTS (SELECT 1 FROM r14_src4 s WHERE s.k = t.k)"""))
    assert(chain(sub).toLowerCase.contains("subquer") ||
      chain(sub).toLowerCase.contains("correlated"),
      s"correlated subquery DML must refuse loud, got ${chain(sub)}")
    val evo = intercept[Throwable](spark.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO $c.t AS t
      USING r14_src4 AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *"""))
    assert(chain(evo).toUpperCase.contains("SCHEMA EVOLUTION"),
      s"schema evolution must refuse loud, got ${chain(evo)}")
    // rows untouched by the refused statements
    assert(MorLog.read(spark, dir).count() == 5)
  }

  test("SQL UPDATE: stats-pruned locate, zero-victim commits nothing") {
    val root = tmp("r14_update")
    val dir = s"$root/t"
    rangedTable(dir, nFiles = 10)
    val c = cat(root)
    val v0 = MorLog.currentVersion(spark, dir)
    spark.sql(s"UPDATE $c.t SET v = v + 1000 WHERE k >= 500 AND k < 510")
    assert(MorLog.currentVersion(spark, dir) == v0 + 1)
    assert(MorLogStats.lastLocateScanned == 1 &&
      MorLogStats.lastLocateSkipped == 9,
      "UPDATE locate must open only the range's file")
    val got = MorLog.read(spark, dir).as[(Long, Long)].collect().toMap
    assert(got(505L) == 2010L && got(400L) == 800L)
    // zero victims: no version commits
    spark.sql(s"UPDATE $c.t SET v = 0 WHERE k = 99999")
    assert(MorLog.currentVersion(spark, dir) == v0 + 1,
      "a zero-victim UPDATE must not commit a version")
  }

  test("commit timestamps: monotone under racing writers; versionAt resolves newest-at-or-before") {
    val dir = s"${tmp("r14_ts")}/t"
    MorLog.create(spark.range(0, 20)
      .select(col("id").as("k"), col("id").as("v")).repartition(2), dir)
    // two racing appends through the pause hook: both resolve base
    // state v0, the loser re-executes — stamps must stay strictly
    // increasing whatever the interleaving
    val other = new Thread(() =>
      MorLog.append(spark, dir, Seq((100L, 1L)).toDF("k", "v")))
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    MorLog.commitPauseHook = (d, _) =>
      if (d == dir && fired.compareAndSet(false, true)) {
        other.start(); other.join()
      }
    try MorLog.append(spark, dir, Seq((200L, 2L)).toDF("k", "v"))
    finally MorLog.commitPauseHook = (_, _) => ()
    val vs = MorLog.versions(spark, dir)
    assert(vs == Seq(0, 1, 2), "both racers must land")
    val stamps = vs.map(v => MorLog.state(spark, dir, v).ts)
    assert(stamps.forall(_ > 0) &&
      stamps.sliding(2).forall(p => p(1) > p.head),
      s"commit stamps must be strictly monotone, got $stamps")
    assert(MorLog.versionAt(spark, dir, stamps(1)) == 1)
    assert(MorLog.versionAt(spark, dir, stamps(2) + 60000L) == 2)
    intercept[IllegalArgumentException](
      MorLog.versionAt(spark, dir, stamps.head - 1))
    // the history surfaces the stamps (appended column, positions
    // 0-6 unchanged for existing consumers)
    val h = MorLog.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getTimestamp(7).getTime).toSeq == stamps)
  }

  test("DROP TABLE purges driver caches: a re-created table at the same path serves fresh state") {
    val root = tmp("r14_drop")
    val c = cat(root)
    spark.sql(s"CREATE TABLE $c.ns.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1, 10), (2, 20)")
    // warm every cache: state (read), stats (metadata count)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ns.t")
      .head().getLong(0) == 2)
    assert(MorLog.countMetaOnly(spark, s"$root/ns/t") == 2)
    spark.sql(s"DROP TABLE $c.ns.t")
    spark.sql(s"CREATE TABLE $c.ns.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (7, 70)")
    // without invalidation the stale v0/v1 states (old files, old
    // stats) would serve here
    assert(spark.sql(s"SELECT sum(v) AS s FROM $c.ns.t")
      .head().getLong(0) == 70)
    assert(MorLog.countMetaOnly(spark, s"$root/ns/t") == 1,
      "metadata-only count must see the NEW table's stats chain")
    // rename invalidates both ends too
    spark.sql(s"ALTER TABLE $c.ns.t RENAME TO ns.t2")
    spark.sql(s"CREATE TABLE $c.ns.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1, 1)")
    assert(MorLog.countMetaOnly(spark, s"$root/ns/t") == 1)
    assert(spark.sql(s"SELECT sum(v) AS s FROM $c.ns.t2")
      .head().getLong(0) == 70)
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only evolve, old files NULL-fill, INSERT lands wide") {
    val root = tmp("r14_alter")
    val dir = s"$root/ns/t"
    val c = cat(root)
    spark.sql(s"CREATE TABLE $c.ns.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1, 10), (2, 20)")
    val filesBefore = MorLog.history(spark, dir)
      .orderBy(col("version").desc).head().getInt(2)
    spark.sql(s"ALTER TABLE $c.ns.t ADD COLUMNS (w STRING, x DOUBLE)")
    // metadata-only: no data file moved
    assert(MorLog.history(spark, dir)
      .orderBy(col("version").desc).head().getInt(2) == filesBefore)
    spark.sql(s"INSERT INTO $c.ns.t VALUES (3, 30, 'three', 1.5)")
    val got = spark.sql(s"SELECT k, v, w, x FROM $c.ns.t ORDER BY k")
      .collect()
    assert(got.length == 3)
    assert(got(0).getLong(1) == 10 && got(0).isNullAt(2) &&
      got(0).isNullAt(3), "old rows must NULL-fill added columns")
    assert(got(2).getString(2) == "three" && got(2).getDouble(3) == 1.5)
    // a previously-dropped name refuses re-add (the resurrection
    // boundary), and non-ADD alterations stay refused loud
    MorLog.dropColumn(spark, dir, "x")
    val res = intercept[Throwable](spark.sql(
      s"ALTER TABLE $c.ns.t ADD COLUMNS (x DOUBLE)"))
    assert(chain(res).contains("DROPPED earlier"), chain(res))
    // RENAME COLUMN maps onto the tier's metadata-only column
    // mapping since round 15 (Round15Spec pins the lifecycle); type
    // changes are what stays refused loud
    spark.sql(s"ALTER TABLE $c.ns.t RENAME COLUMN w TO w2")
    assert(spark.sql(s"SELECT w2 FROM $c.ns.t WHERE k = 3").head()
      .getString(0) == "three")
    val ty = intercept[Throwable](spark.sql(
      s"ALTER TABLE $c.ns.t ALTER COLUMN v TYPE INT"))
    assert(chain(ty).toLowerCase.contains("not supported"), chain(ty))
  }

  test("partition transforms: months aligns files, bucket refuses, path-based create honors partitionBy") {
    val root = tmp("r14_tf")
    // months(day) through the Scala API
    val dir = s"$root/t"
    val df = spark.range(0, 300)
      .select(col("id").as("k"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          (col("id") % 90).cast("int")).as("day"))
    MorLog.create(df.repartition(date_trunc("MONTH", col("day"))), dir,
      partitionBy = Seq("months(day)"))
    assert(MorLog.partitionSpec(spark, dir) == Seq("months(day)"))
    val feb = MorLog.readWhere(spark, dir,
      col("day") >= lit(java.sql.Date.valueOf("2024-02-01")) &&
        col("day") < lit(java.sql.Date.valueOf("2024-03-01")))
    assert(feb.count() > 0 && MorLogStats.lastFilesSkipped == 2 &&
      MorLogStats.lastFilesScanned == 1,
      "a one-month read must scan 1/3 month partitions")
    // bucket transforms refuse loud through the catalog
    val c = cat(root)
    val b = intercept[Throwable](spark.sql(
      s"CREATE TABLE $c.tb (k BIGINT) PARTITIONED BY (bucket(4, k))"))
    assert(chain(b).contains("partition transform"), chain(b))
    // the path-based create-on-first-write route honors partitionBy
    // (advice-caught: it silently dropped the user's declaration)
    val dir2 = s"$root/t2"
    spark.range(0, 20)
      .select(col("id").as("k"), (col("id") % 2).as("g"))
      .write.format("graft.sources.MorLogSource").mode("append")
      .option("path", dir2).partitionBy("g").save()
    assert(MorLog.partitionColumns(spark, dir2) == Seq("g"),
      "path-based writes must honor the declared partitioning")
  }

  test("an OCC loser retracts its per-file tombstone marker: committedGen never drifts above the meta ceiling") {
    val dir = s"${tmp("r14_retract")}/t"
    spark.conf.set(graft.sink.DeletionVectors.GuardConfKey, "1")
    try {
      MorLog.create(spark.range(0, 40)
        .select(col("id").as("k"), col("id").as("v"))
        .repartition(2), dir)
      // push past the guard → per-file tier
      MorLog.deleteWhere(spark, dir, col("k") < 4)
      val g0 = DvPerFile.committedGen(spark, dir).get
      // the rival lands INSIDE the loser's commit window — after its
      // marker for gen g0+1 is written, before its meta swap (the
      // cross-process interleaving; appends take no dir lock) — so
      // the loser MUST retract that marker before its retry claims
      // the next gen; without retraction committedGen would report
      // the uncommitted g0+1 forever if the retry found no victims
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      val rival = new Thread(() =>
        MorLog.append(spark, dir, Seq((500L, 1L)).toDF("k", "v")))
      MorLog.tombsCommittedHook = (d, _) =>
        if (d == dir && fired.compareAndSet(false, true)) {
          rival.start(); rival.join()
        }
      try MorLog.deleteWhere(spark, dir, col("k") === 10L)
      finally MorLog.tombsCommittedHook = (_, _) => ()
      assert(fired.get && MorLogStats.lastCommitRetries == 1,
        "the race must fire")
      val gNow = DvPerFile.committedGen(spark, dir).get
      val ceil = MorLog.versions(spark, dir)
        .map(v => MorLog.state(spark, dir, v).pfCeil).max
      assert(gNow == ceil,
        s"committedGen ($gNow) must equal the committed meta ceiling " +
          s"($ceil) — a retracted loser may not linger")
      // the loser's orphan gen (g0+1, claimed by the lost attempt)
      // has no marker; its claim file blocks re-use, so the retry
      // committed at a higher gen
      assert(ceil > g0 + 1, "the retry must claim past the lost gen")
      assert((g0 + 1 until ceil).forall(g =>
        !Files.exists(java.nio.file.Paths.get(
          DvPerFile.pfDir(dir), s"_commit.g$g"))),
        "the lost attempt's marker must be gone")
      // and the data is right
      val got = MorLog.read(spark, dir).as[(Long, Long)].collect().toMap
      assert(!got.contains(10L) && got.contains(500L) && got(20L) == 20L)
    } finally spark.conf.unset(graft.sink.DeletionVectors.GuardConfKey)
  }

  test("CTAS and SHOW CREATE TABLE work through the catalog; the transform surfaces") {
    val root = tmp("r14_ctas")
    val c = cat(root)
    spark.sql(s"CREATE TABLE $c.t AS SELECT id AS k, id * 2 AS v " +
      "FROM range(10)")
    assert(spark.sql(s"SELECT sum(v) AS s FROM $c.t")
      .head().getLong(0) == 90)
    assert(MorLog.currentVersion(spark, s"$root/t") == 1,
      "CTAS = create-empty + one insert commit")
    spark.sql(s"CREATE TABLE $c.p (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    val ddl = spark.sql(s"SHOW CREATE TABLE $c.p").head().getString(0)
    assert(ddl.contains("days(ts)"),
      s"SHOW CREATE must surface the hidden-partitioning transform:\n$ddl")
  }

  test("CALL restore and cluster procedures round out the SQL maintenance surface") {
    val root = tmp("r14_proc2")
    val c = cat(root)
    spark.sql(s"CREATE TABLE $c.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $c.t VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $c.t VALUES (3, 30)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.t")
      .head().getLong(0) == 3)
    // rewind to the first insert, by name
    assert(spark.sql(s"CALL $c.system.restore('t', 1)")
      .head().getInt(0) == 1)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.t")
      .head().getLong(0) == 2)
    // restore is a forward commit: history kept moving
    assert(spark.sql(s"CALL $c.system.history('t')").count() == 4)
    // cluster rewrites the snapshot in curve order, value-invisible
    // (the Z-order layout needs >= 2 dims by contract)
    val replaced = spark.sql(s"CALL $c.system.cluster('t', 'k,v')")
      .head().getInt(0)
    assert(replaced >= 1)
    assert(spark.sql(s"SELECT sum(v) AS s FROM $c.t")
      .head().getLong(0) == 30)
    // DESCRIBE DETAIL: the operational one-liner off pure metadata
    val det = spark.sql(s"CALL $c.system.detail('t')").head()
    assert(det.getInt(0) == MorLog.currentVersion(spark, s"$root/t") &&
      det.getInt(2) == 2 && det.getString(4) == "none" &&
      !det.isNullAt(5), s"detail row drifted: $det")
  }

  test("timestamp-anchored change feeds, streaming startingTimestamp, age-based vacuum") {
    val work = tmp("r14_tscdf")
    val dir = s"$work/t"
    MorLog.create(spark.range(0, 30)
      .select(col("id").as("k"), col("id").as("v")).repartition(1), dir)
    MorLog.deleteWhere(spark, dir, col("k") < 5)
    MorLog.upsert(spark, dir, Seq((7L, 700L)).toDF("k", "v"), "k")
    val stamps = MorLog.versions(spark, dir)
      .map(v => MorLog.state(spark, dir, v).ts)
    def changes(opts: (String, String)*): Long = {
      var r = spark.read.format("graft.sources.MorLogSource")
        .option("path", dir)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().count()
    }
    // anchored at v1's stamp: every version stamped >= it → (0, 2]
    assert(changes("changesFromTimestamp" -> stamps(1).toString) ==
      changes("changesFrom" -> "0"))
    // earlier than the first commit = the full history (create incl.)
    assert(changes("changesFromTimestamp" -> (stamps.head - 1).toString)
      == changes("changesFrom" -> "-1"))
    // bounded above by a timestamp: (0, 1] only
    assert(changes("changesFromTimestamp" -> stamps(1).toString,
      "changesToTimestamp" -> stamps(1).toString) ==
      changes("changesFrom" -> "0", "changesTo" -> "1"))
    intercept[Exception](changes("changesFrom" -> "0",
      "changesFromTimestamp" -> stamps(1).toString))
    // streaming: startingTimestamp before the create = full replay
    val out = s"$work/out"
    val q = spark.readStream.format("graft.sources.MorLogSource")
      .option("path", dir).option("streamChanges", "true")
      .option("startingTimestamp", (stamps.head - 1).toString).load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(out).count() ==
      changes("changesFrom" -> "-1"))
    // age-based vacuum: everything younger than a day → no-op;
    // zero retention keeps only the tip
    assert(MorLog.vacuumRetain(spark, dir, 86400000L) == 0)
    assert(MorLog.versions(spark, dir).size == 3)
    MorLog.vacuumRetain(spark, dir, 0L)
    assert(MorLog.versions(spark, dir) == Seq(2))
    assert(MorLog.read(spark, dir).count() == 25)
  }

  test("CDF driver-collect cap: an over-limit broadcast-tier span read fails loud, under-limit unchanged") {
    val dir = s"${tmp("r14_cap")}/t"
    MorLog.create(spark.range(0, 100)
      .select(col("id").as("k"), col("id").as("v")).repartition(2), dir)
    MorLog.deleteWhere(spark, dir, col("k") % 3 === 0) // 34 tombstones
    def readAll() = spark.read.format("graft.sources.MorLogSource")
      .option("path", dir).load().count()
    def readChanges() = spark.read.format("graft.sources.MorLogSource")
      .option("path", dir).option("changesFrom", "0").load().count()
    assert(readAll() == 66 && readChanges() == 34) // under the cap
    spark.conf.set(MorLog.CdfCapKey, "10")
    try {
      val e1 = intercept[Throwable](readAll())
      assert(chain(e1).contains("outgrown the broadcast tier"), chain(e1))
      val e2 = intercept[Throwable](readChanges())
      assert(chain(e2).contains("outgrown the broadcast tier"), chain(e2))
      val e3 = intercept[Throwable](
        MorLog.incrementalChanges(spark, dir, 0, 1, Seq("k")).count())
      assert(chain(e3).contains("outgrown the broadcast tier"), chain(e3))
    } finally spark.conf.unset(MorLog.CdfCapKey)
    assert(readAll() == 66, "the guard must not change results")
  }

  test("CDF driver-collect cap: the broadcast-to-per-file migration crossing fails loud over the cap") {
    val dir = s"${tmp("r14_cap_pf")}/t"
    MorLog.create(spark.range(0, 100)
      .select(col("id").as("k"), col("id").as("v")).repartition(2), dir)
    MorLog.deleteWhere(spark, dir, col("k") % 3 === 0) // v1: broadcast
    spark.conf.set(graft.sink.DeletionVectors.GuardConfKey, "40")
    try MorLog.deleteWhere(spark, dir, col("k") % 5 === 0) // v2: migrates
    finally spark.conf.unset(graft.sink.DeletionVectors.GuardConfKey)
    assert(MorLog.state(spark, dir, 1).pfCeil < 0 &&
      MorLog.state(spark, dir, 2).pfCeil >= 0, "v2 must cross the guard")
    def span() = MorLog.incrementalChanges(spark, dir, 1, 2, Seq("k"))
    assert(span().count() == 13) // under the cap
    spark.conf.set(MorLog.CdfCapKey, "10")
    try {
      val e = intercept[Throwable](span().count())
      assert(chain(e).contains("outgrown the broadcast tier"), chain(e))
      val e2 = intercept[Throwable](
        MorLog.changes(spark, dir, 1, 2, Seq("k")).count())
      assert(chain(e2).contains("outgrown the broadcast tier"), chain(e2))
    } finally spark.conf.unset(MorLog.CdfCapKey)
    assert(span().count() == 13, "the guard must not change results")
  }

  test("BMP/TIFF/fragmented-MP4 probes: hand-built bytes, truncation and edge encodings") {
    import graft.multimodal.{MultimodalCodecs, VideoCodecs}
    def bmp(w: Int, h: Int, dib: Int = 40): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(2 + 12 + dib)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
      if (dib == 40)
        out.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      else // legacy BITMAPCOREHEADER: 16-bit dims
        out.putInt(12).putShort(w.toShort).putShort(h.toShort)
          .putShort(1).putShort(24)
      out.array()
    }
    val r1 = MultimodalCodecs.dims(bmp(640, 480))
    assert(r1 != null && r1.getInt(1) == 640 && r1.getInt(2) == 480 &&
      r1.getUTF8String(0).toString == "bmp")
    // top-down (negative height) reads back abs'd
    val r2 = MultimodalCodecs.dims(bmp(64, -32))
    assert(r2 != null && r2.getInt(2) == 32)
    // legacy core header's 16-bit dims
    val r3 = MultimodalCodecs.dims(bmp(100, 50, dib = 12))
    assert(r3 != null && r3.getInt(1) == 100 && r3.getInt(2) == 50)
    // truncated mid-header → NULL, never a throw
    assert(MultimodalCodecs.dims(bmp(640, 480).take(20)) == null)
    def tiff(be: Boolean, w: Int, h: Int): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + 2 + 24 + 4).order(
        if (be) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      if (be) out.put('M'.toByte).put('M'.toByte).putShort(42)
      else out.put('I'.toByte).put('I'.toByte).putShort(42)
      out.putInt(8).putShort(2)
      out.putShort(256).putShort(3).putInt(1)
        .putShort(w.toShort).putShort(0) // SHORT in the field's head
      out.putShort(257).putShort(4).putInt(1).putInt(h)
      out.putInt(0)
      out.array()
    }
    Seq(true, false).foreach { be =>
      val r = MultimodalCodecs.dims(tiff(be, 1920, 1080))
      assert(r != null && r.getInt(1) == 1920 && r.getInt(2) == 1080 &&
        r.getUTF8String(0).toString == "tiff", s"tiff be=$be")
    }
    // an IFD offset past the buffer → NULL
    assert(MultimodalCodecs.dims(tiff(false, 8, 8).take(9)) == null)
    // a HOSTILE IFD offset near Int.MaxValue must not wrap the bounds
    // check and throw (review-caught)
    val hostile = Array[Byte]('I', 'I', 42, 0,
      0xfe.toByte, 0xff.toByte, 0xff.toByte, 0x7f.toByte)
    assert(MultimodalCodecs.dims(hostile) == null)
    // fragmented MP4 bytes come from the in-plan builder; round-trip
    // both mehd versions through the parser and pin the truncation
    import spark.implicits._
    val payloads = Seq((1L, 0), (2L, 1)).toDF("id", "v1")
      .select(graft.multimodal.Multimodal.fragMp4Payload(
        lit(320), lit(240), lit(1000), lit(90000), col("v1"))
        .as("p")).as[Array[Byte]].collect()
    payloads.foreach { p =>
      val m = VideoCodecs.meta(p)
      assert(m != null && m.getInt(1) == 320 && m.getInt(2) == 240 &&
        m.getLong(3) == 90000L, "mehd duration must surface")
      assert(VideoCodecs.meta(p.take(40)) == null ||
        VideoCodecs.meta(p.take(40)).getLong(3) == 0L,
        "a truncated fragment header never throws")
    }
    // an EMPTY-payload mehd (size 8) ending exactly at the buffer must
    // not read its version byte past the end (review-caught): splice
    // a hand-built moov(mvhd dur=0, mvex(mehd size 8)) tail
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 108 + 16)
    bb.putInt(16).put("ftypisom".getBytes).putInt(0)
    bb.putInt(108 + 16 + 8).put("moov".getBytes)
    bb.putInt(108).put("mvhd".getBytes).put(new Array[Byte](12))
      .putInt(1000).putInt(0).put(new Array[Byte](80))
    bb.putInt(16).put("mvex".getBytes).putInt(8).put("mehd".getBytes)
    val m2 = VideoCodecs.meta(bb.array())
    assert(m2 == null || m2.getLong(3) == 0L,
      "an empty mehd payload never throws")
  }

  test("streaming sink onto a partitioned table keeps one-tuple-per-file alignment") {
    val work = tmp("r14_sinkpart")
    val (src, dst) = (s"$work/src", s"$work/dst")
    val df = spark.range(0, 60)
      .select(col("id").as("k"), (col("id") % 3).as("g"))
    MorLog.create(df.repartition(2), src)
    // the mirror declares a partition spec the SOURCE does not have —
    // the sink must align its epoch files to it
    MorLog.createEmpty(spark, dst, df.schema, partitionBy = Seq("g"))
    val q = spark.readStream.format("graft.sources.MorLogSource")
      .option("path", src).option("streamChanges", "true")
      .option("startingVersion", "0").load()
      .drop("_change_type", "_commit_version")
      .writeStream.format("graft.sources.MorLogSource")
      .option("path", dst)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(MorLog.read(spark, dst).count() == 60)
    // partition-exact prune: a one-group read skips the other groups'
    // files — only possible if every sink file holds ONE g value
    val one = MorLog.readWhere(spark, dst, col("g") === 1L)
    assert(one.count() == 20)
    // 3 groups → at least 2/3 of the files hold only other groups
    assert(MorLogStats.lastFilesScanned >= 1 &&
      MorLogStats.lastFilesSkipped >=
        2 * MorLogStats.lastFilesScanned,
      s"sink files must align to the partition spec (scanned " +
        s"${MorLogStats.lastFilesScanned}, skipped " +
        s"${MorLogStats.lastFilesSkipped})")
  }

  test("vacuum sweeps crashed-replace temp debris in _log and _dvpf") {
    val dir = s"${tmp("r14_tmps")}/t"
    spark.conf.set(graft.sink.DeletionVectors.GuardConfKey, "1")
    try {
      MorLog.create(spark.range(0, 20)
        .select(col("id").as("k"), col("id").as("v"))
        .repartition(2), dir)
      MorLog.deleteWhere(spark, dir, col("k") < 3) // per-file store
      // simulate crashed AtomicFiles.replace attempts
      Files.write(java.nio.file.Paths.get(
        s"$dir/_log/.v9.stats.deadbeef.tmp"), Array[Byte](1))
      Files.write(java.nio.file.Paths.get(
        DvPerFile.pfDir(dir), "._current.cafe.tmp"), Array[Byte](1))
      // a FRESH temp may be a live cross-process writer's in-flight
      // attempt — the default grace window spares it (advice-caught:
      // sweeping it would fail that writer's commit un-retried)
      MorLog.vacuum(spark, dir, keepVersions = 1)
      assert(Files.exists(java.nio.file.Paths.get(
        s"$dir/_log/.v9.stats.deadbeef.tmp")),
        "vacuum must spare temps younger than the debris grace window")
      assert(Files.exists(java.nio.file.Paths.get(
        DvPerFile.pfDir(dir), "._current.cafe.tmp")),
        "the _dvpf gc must spare fresh temps")
      // aged past the grace window it is crash debris and sweeps
      // (a fresh commit first: the _dvpf gc runs on dropping vacuums)
      spark.conf.set("graft.vacuum.debrisGraceMs", "-1")
      MorLog.append(spark, dir, spark.range(100, 101)
        .select(col("id").as("k"), col("id").as("v")))
      MorLog.vacuum(spark, dir, keepVersions = 1)
      assert(!Files.exists(java.nio.file.Paths.get(
        s"$dir/_log/.v9.stats.deadbeef.tmp")),
        "vacuum must sweep _log temp debris past the grace window")
      assert(!Files.exists(java.nio.file.Paths.get(
        DvPerFile.pfDir(dir), "._current.cafe.tmp")),
        "the _dvpf gc must sweep aged temp debris")
    } finally {
      spark.conf.unset(graft.sink.DeletionVectors.GuardConfKey)
      spark.conf.unset("graft.vacuum.debrisGraceMs")
    }
  }
}
