package graft

import graft.sink.MorLog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The log-backed MoR table: one commit log versioning appends,
  * deletes, schema evolution and compaction, so VERSION AS OF
  * composes across all four — including reading PRE-compaction
  * versions (the directory-listing tier's documented gap). */
class MorLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("one log versions create/append/delete/evolve/compact; every version reads back") {
    val dir = s"${tmp("graft-ml1-")}/t"
    MorLog.create(
      spark.range(100).select(col("id"), (col("id") * 2).as("x")), dir)
    MorLog.append(spark, dir,
      spark.range(100, 150).select(col("id"), (col("id") * 2).as("x")))
    val deleted = MorLog.deleteWhere(spark, dir, col("id") % 10 === 0)
    assert(deleted == 15)
    MorLog.evolveAppend(spark, dir,
      spark.range(150, 160).select(col("id"), (col("id") * 2).as("x"),
        lit("t").as("tag")))
    val replaced = MorLog.compact(spark, dir)
    assert(replaced >= 2, "compact must swap out the old file list")
    MorLog.append(spark, dir,
      spark.range(160, 170).select(col("id"), (col("id") * 2).as("x"),
        lit("u").as("tag")))
    assert(MorLog.versions(spark, dir) == Seq(0, 1, 2, 3, 4, 5))

    def want(hi: Long, deleted: Boolean) =
      (0L until hi).filterNot(i => deleted && i % 10 == 0).toSet
    assert(ids(MorLog.readVersion(spark, dir, 0)) == want(100, false))
    assert(ids(MorLog.readVersion(spark, dir, 1)) == want(150, false))
    assert(ids(MorLog.readVersion(spark, dir, 2)) == want(150, true))
    // v3: evolved — old rows surface tag as NULL, v2's schema stays narrow
    val v3 = MorLog.readVersion(spark, dir, 3)
    assert(v3.columns.toSeq == Seq("id", "x", "tag"))
    assert(MorLog.readVersion(spark, dir, 2).columns.toSeq == Seq("id", "x"))
    assert(ids(v3) == want(150, true) ++ (150L until 160L))
    assert(v3.filter(col("id") < 150 && col("tag").isNotNull).count() == 0)
    // v4: compaction is value-invisible...
    val v4 = MorLog.readVersion(spark, dir, 4)
    assert(v4.exceptAll(v3).isEmpty && v3.exceptAll(v4).isEmpty)
    // ...and v2 (PRE-compaction) still reads — old files were retained
    assert(ids(MorLog.readVersion(spark, dir, 2)) == want(150, true))
    assert(ids(MorLog.read(spark, dir)) ==
      want(150, true) ++ (150L until 170L))
  }

  test("vacuum drops only the out-of-retention versions; travel past it fails loud") {
    val dir = s"${tmp("graft-ml2-")}/t"
    MorLog.create(spark.range(50).toDF("id"), dir)
    MorLog.deleteWhere(spark, dir, col("id") % 5 === 0)
    MorLog.compact(spark, dir)
    MorLog.append(spark, dir, spark.range(50, 60).toDF("id"))
    val dropped = MorLog.vacuum(spark, dir, keepVersions = 2)
    assert(dropped >= 1, "vacuum must delete the pre-compaction files")
    assert(MorLog.versions(spark, dir) == Seq(2, 3))
    // retained versions still exact
    assert(ids(MorLog.readVersion(spark, dir, 2)) ==
      (0L until 50L).filterNot(_ % 5 == 0).toSet)
    assert(ids(MorLog.read(spark, dir)) ==
      (0L until 60L).filterNot(i => i < 50 && i % 5 == 0).toSet)
    // travel to a vacuumed version fails loud, not wrong
    val e = intercept[Exception](
      MorLog.readVersion(spark, dir, 0).count())
    assert(e.getMessage.toLowerCase.contains("vacuum"))
  }

  test("a torn commit is invisible; the retry completes it") {
    val dir = s"${tmp("graft-ml3-")}/t"
    MorLog.create(spark.range(30).toDF("id"), dir)
    // simulate a crash: tombstones staged for v1 but no meta swap
    Seq(("part-v0-0.parquet", 0L)).toDF("file", "row_idx")
      .write.parquet(s"$dir/_log/tombs_v1")
    assert(MorLog.currentVersion(spark, dir) == 0)
    assert(ids(MorLog.read(spark, dir)) == (0L until 30L).toSet)
    // the retried delete commits over the leftovers
    assert(MorLog.deleteWhere(spark, dir, col("id") < 3) == 3)
    assert(ids(MorLog.read(spark, dir)) == (3L until 30L).toSet)
  }

  test("upsert commits tombstones+append as ONE version; the log fences stream replays") {
    val dir = s"${tmp("graft-ml5-")}/t"
    MorLog.create(
      spark.range(20).select(col("id"), (col("id") * 10).as("v")), dir)
    // updates 3 keys, inserts 2 — one version
    MorLog.upsert(spark, dir,
      Seq((1L, -1L), (2L, -2L), (3L, -3L), (100L, -4L), (101L, -5L))
        .toDF("id", "v"), "id")
    assert(MorLog.currentVersion(spark, dir) == 1)
    val got = MorLog.read(spark, dir).select("id", "v")
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == -1L && got(3L) == -3L && got(100L) == -4L)
    assert(got.size == 22 && got(5L) == 50L)
    // the pre-merge snapshot is one readVersion away
    val v0 = MorLog.readVersion(spark, dir, 0).select("id", "v")
      .as[(Long, Long)].collect().toMap
    assert(v0(1L) == 10L && !v0.contains(100L))
    // change feed across the merge classifies exactly
    val ch = MorLog.changes(spark, dir, 0, 1, Seq("id"))
      .select("id", "change").as[(Long, String)].collect().toMap
    assert(ch == Map(1L -> "update", 2L -> "update", 3L -> "update",
      100L -> "insert", 101L -> "insert"))
    // stream-batch replay: same (checkpoint, batchId) no-ops; the
    // fence is the committed action tag, not a side marker
    val ckpt = s"${tmp("graft-ml5c-")}/ckpt"
    MorLog.applyStreamBatch(spark, dir,
      Seq((5L, -6L)).toDF("id", "v"), 7L, "id", ckpt)
    assert(MorLog.currentVersion(spark, dir) == 2)
    MorLog.applyStreamBatch(spark, dir,
      Seq((5L, -999L)).toDF("id", "v"), 7L, "id", ckpt) // replay
    assert(MorLog.currentVersion(spark, dir) == 2,
      "a replayed batch id must not commit a second version")
    assert(MorLog.read(spark, dir).filter(col("id") === 5L)
      .select("v").as[Long].head() == -6L)
    // a DIFFERENT checkpoint's batch 7 is a different transaction
    MorLog.applyStreamBatch(spark, dir,
      Seq((6L, -7L)).toDF("id", "v"), 7L, "id",
      s"${tmp("graft-ml5d-")}/ckpt2")
    assert(MorLog.currentVersion(spark, dir) == 3)
  }

  test("incremental CDF equals the snapshot diff across upserts, deletes, evolve and compact") {
    val dir = s"${tmp("graft-ml6-")}/t"
    MorLog.create(
      spark.range(60).select(col("id"), (col("id") * 10).as("v")), dir) // v0
    MorLog.upsert(spark, dir,
      Seq((1L, -1L), (2L, -2L), (100L, -3L)).toDF("id", "v"), "id") // v1
    MorLog.deleteWhere(spark, dir, col("id") % 9 === 5) // v2
    MorLog.compact(spark, dir) // v3 — must contribute NOTHING
    MorLog.evolveAppend(spark, dir,
      Seq((200L, -4L, "t")).toDF("id", "v", "tag")) // v4
    MorLog.upsert(spark, dir,
      Seq((1L, -9L, null.asInstanceOf[String])).toDF("id", "v", "tag"),
      "id") // v5: re-update an already-updated key
    for ((f, t) <- Seq((0, 5), (0, 2), (1, 4), (2, 5))) {
      val snap = MorLog.snapshotChanges(spark, dir, f, t, Seq("id"))
      val inc = MorLog.incrementalChanges(spark, dir, f, t, Seq("id"))
      assert(inc.exceptAll(snap).isEmpty && snap.exceptAll(inc).isEmpty,
        s"CDF ($f,$t] diverged from the snapshot diff")
    }
    // a key deleted then re-upserted with its ORIGINAL image nets to
    // nothing in both forms
    MorLog.deleteWhere(spark, dir, col("id") === 7L) // v6
    MorLog.upsert(spark, dir,
      Seq((7L, 70L, null.asInstanceOf[String])).toDF("id", "v", "tag"),
      "id") // v7
    assert(MorLog.incrementalChanges(spark, dir, 5, 7, Seq("id"))
      .isEmpty, "delete+identical-reinsert must net to no change")
    // a restore inside the span is rejected loud
    MorLog.restore(spark, dir, 0) // v8
    val e = intercept[IllegalArgumentException](
      MorLog.incrementalChanges(spark, dir, 5, 8, Seq("id")).count())
    assert(e.getMessage.contains("RESTORE"))
    // …and the restored head equals v0 exactly
    val v0 = MorLog.readVersion(spark, dir, 0)
    val head = MorLog.read(spark, dir).select("id", "v")
    assert(head.exceptAll(v0).isEmpty && v0.exceptAll(head).isEmpty)
  }

  test("compactSmall packs only the small files, keeps big tombstones, old versions still read") {
    val dir = s"${tmp("graft-ml7-")}/t"
    // one BIG base file + three trickle appends + deletes in both
    MorLog.create(spark.range(50000).select(col("id"),
      md5(col("id").cast("string")).as("v")).repartition(1), dir) // v0
    for (i <- 1 to 3)
      MorLog.upsert(spark, dir,
        spark.range(50000L + i * 10, 50000L + i * 10 + 10)
          .select(col("id"), lit(s"t$i").as("v")), "id") // v1..v3
    MorLog.deleteWhere(spark, dir, col("id") % 10000 === 1) // v4: big file
    MorLog.deleteWhere(spark, dir, col("id") === 50011L) // v5: small file
    val before = MorLog.read(spark, dir)
    val beforeRows = before.count()
    val st5 = MorLog.state(spark, dir, 5)
    // pack with a threshold UNDER the big file's size
    val bigLen = new java.io.File(s"$dir/${st5.files.head}").length
    val packed = MorLog.compactSmall(spark, dir,
      smallBytes = bigLen, targetBytes = bigLen * 2)
    assert(packed >= 3, s"expected the trickle files packed, got $packed")
    val st6 = MorLog.state(spark, dir, 6)
    assert(st6.files.contains(st5.files.head),
      "the big file must survive the pack untouched")
    assert(st6.files.size < st5.files.size)
    // value-invisible, including the big file's surviving tombstones
    val after = MorLog.read(spark, dir)
    assert(after.count() == beforeRows)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
    assert(after.filter(col("id") % 10000 === 1 || col("id") === 50011L)
      .count() == 0, "packing resurrected a deleted row")
    // the pre-pack version still reads (old files retained)
    assert(MorLog.readVersion(spark, dir, 5).count() == beforeRows)
    // and the CDF across the pack sees it as value-invisible
    assert(MorLog.incrementalChanges(spark, dir, 5, 6, Seq("id")).isEmpty)
    // one maintenance call: pack (a no-op now — already packed) +
    // vacuum to retention 1, which finally frees the packed-away
    // trickle files (retention 2 would keep v5 referencing them)
    val (p2, dropped) = MorLog.maintain(spark, dir,
      smallBytes = bigLen, targetBytes = bigLen * 2, keepVersions = 1)
    assert(p2 == 0 && dropped >= 3,
      s"expected the superseded trickle files freed, got $dropped")
    assert(MorLog.versions(spark, dir).size == 1)
    assert(MorLog.read(spark, dir).count() == beforeRows)
  }

  test("past the guard, tombstones ride per-file sidecars; travel, CDF, restore and vacuum cross the migration") {
    val dir = s"${tmp("graft-ml8-")}/t"
    spark.conf.set(graft.sink.DeletionVectors.GuardConfKey, "10")
    try {
      MorLog.create(spark.range(200)
        .select(col("id"), (col("id") * 10).as("v")).repartition(4), dir)
      // v1: 5 tombstones — under the guard, broadcast tier
      assert(MorLog.deleteWhere(spark, dir, col("id") < 5) == 5)
      val st1 = MorLog.state(spark, dir, 1)
      assert(st1.tombsV == 1 && st1.pfCeil == -1)
      // v2: 20 total crosses the guard — the ONE O(total) migration
      assert(MorLog.deleteWhere(spark, dir,
        col("id") >= 5 && col("id") < 20) == 15)
      val st2 = MorLog.state(spark, dir, 2)
      assert(st2.tombsV == -1 && st2.pfCeil >= 1,
        s"guard crossing must land per-file, got $st2")
      // v3: a later delete merges ONLY the affected file's sidecar
      assert(MorLog.deleteWhere(spark, dir, col("id") === 100L) == 1)
      val st3 = MorLog.state(spark, dir, 3)
      assert(st3.pfCeil == st2.pfCeil + 1)
      // v4: keyed upsert in the per-file tier
      MorLog.upsert(spark, dir,
        Seq((50L, -1L), (51L, -2L), (500L, -3L)).toDF("id", "v"), "id")
      // every version reads exactly, across the tier boundary
      assert(ids(MorLog.readVersion(spark, dir, 0)) == (0L until 200L).toSet)
      assert(ids(MorLog.readVersion(spark, dir, 1)) == (5L until 200L).toSet)
      assert(ids(MorLog.readVersion(spark, dir, 2)) == (20L until 200L).toSet)
      assert(ids(MorLog.readVersion(spark, dir, 3)) ==
        (20L until 200L).toSet - 100L)
      val head = MorLog.read(spark, dir).select("id", "v")
        .as[(Long, Long)].collect().toMap
      assert(head.keySet == (20L until 200L).toSet - 100L + 500L)
      assert(head(50L) == -1L && head(500L) == -3L && head(60L) == 600L)
      // CDF: incremental equals snapshot diff within the per-file
      // tier AND across the migration crossing
      for ((f, t) <- Seq((0, 2), (1, 3), (2, 4), (0, 4))) {
        val snap = MorLog.snapshotChanges(spark, dir, f, t, Seq("id"))
        val inc = MorLog.incrementalChanges(spark, dir, f, t, Seq("id"))
        assert(inc.exceptAll(snap).isEmpty && snap.exceptAll(inc).isEmpty,
          s"CDF ($f,$t] diverged across the migration")
      }
      // restore BACK to the broadcast-tier v1 and mutate: per-file
      // history (v2–v4) must stay readable
      MorLog.restore(spark, dir, 1) // v5
      assert(ids(MorLog.read(spark, dir)) == (5L until 200L).toSet)
      assert(MorLog.deleteWhere(spark, dir, col("id") === 7L) == 1) // v6
      assert(ids(MorLog.read(spark, dir)) == (5L until 200L).toSet - 7L)
      assert(ids(MorLog.readVersion(spark, dir, 3)) ==
        (20L until 200L).toSet - 100L)
      // restore FORWARD into the per-file tier and mutate: the new
      // generation must write ABOVE v4's retained ceiling while
      // merging FROM v3's (the restored) state
      MorLog.restore(spark, dir, 3) // v7
      assert(MorLog.state(spark, dir, 7).pfCeil == st3.pfCeil)
      assert(MorLog.deleteWhere(spark, dir, col("id") === 101L) == 1) // v8
      val st8 = MorLog.state(spark, dir, 8)
      assert(st8.pfCeil > MorLog.state(spark, dir, 4).pfCeil,
        "post-restore generation collided with retained history")
      assert(ids(MorLog.read(spark, dir)) ==
        (20L until 200L).toSet - 100L - 101L)
      // the skipped-over upsert version still reads exactly
      val v4 = MorLog.readVersion(spark, dir, 4).select("id", "v")
        .as[(Long, Long)].collect().toMap
      assert(v4.keySet == (20L until 200L).toSet - 100L + 500L &&
        v4(50L) == -1L)
      // vacuum to the last 3: retained ceilings keep resolving,
      // dropped history fails loud
      MorLog.vacuum(spark, dir, keepVersions = 3)
      assert(MorLog.versions(spark, dir) == Seq(6, 7, 8))
      assert(ids(MorLog.readVersion(spark, dir, 7)) ==
        (20L until 200L).toSet - 100L)
      assert(ids(MorLog.readVersion(spark, dir, 8)) ==
        (20L until 200L).toSet - 100L - 101L)
      intercept[Exception](MorLog.readVersion(spark, dir, 2).count())
    } finally spark.conf.unset(graft.sink.DeletionVectors.GuardConfKey)
  }

  test("commit metadata is O(changed files): delta metas between checkpoints; vacuum re-checkpoints the oldest survivor") {
    val dir = s"${tmp("graft-ml9-")}/t"
    MorLog.create(spark.range(4000).select(col("id"),
      (col("id") * 7).as("v")).repartition(8), dir) // v0: 8 files
    for (i <- 1 to 14)
      MorLog.upsert(spark, dir,
        Seq((i * 100L, -i.toLong)).toDF("id", "v"), "id")
    def metaLines(v: Int): Seq[String] =
      new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_log/v$v.meta")), "UTF-8")
        .split("\n", -1).toSeq
    // a mid-stream upsert names only the file it added (+) — NOT the
    // whole table list (8 base files + one per prior version)
    val m7 = metaLines(7)
    // the kind token carries the commit timestamp since round 14
    assert(m7(3).startsWith("delta@"),
      s"v7 should be a timestamped delta meta, got ${m7(3)}")
    val m7files = m7.drop(4).filter(_.nonEmpty)
    assert(m7files.nonEmpty && m7files.size <= 2 &&
      m7files.forall(l => l.startsWith("+") || l.startsWith("-")),
      s"delta meta must carry only the changed files, got $m7files")
    // the periodic checkpoint carries the full list
    assert(metaLines(10)(3).startsWith("full@"))
    // reconstruction across the checkpoint boundary is exact
    val got = MorLog.read(spark, dir).select("id", "v")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 4000 && got(700L) == -7L && got(1100L) == -11L
      && got(3L) == 21L, "reconstructed file list lost rows")
    // vacuum upgrades the oldest survivor (a delta) to a checkpoint
    // so it reconstructs without the dropped metas
    MorLog.vacuum(spark, dir, keepVersions = 3)
    assert(MorLog.versions(spark, dir) == Seq(12, 13, 14))
    assert(metaLines(12)(3).startsWith("full@"),
      "the oldest retained delta meta must be upgraded to a checkpoint")
    assert(MorLog.readVersion(spark, dir, 12)
      .filter(col("id") === 1200L).select("v").as[Long].head() == -12L)
  }

  test("narrowing batches fail loud on append and upsert; narrower batches upcast") {
    val dir = s"${tmp("graft-mla-")}/t"
    MorLog.create(spark.range(10)
      .select(col("id"), lit(1).cast("int").as("n")), dir)
    val wide = spark.range(10, 12)
      .select(col("id"), lit(3000000000L).as("n"))
    val e1 = intercept[IllegalArgumentException](
      MorLog.append(spark, dir, wide))
    assert(e1.getMessage.contains("narrow-cast"))
    val e2 = intercept[IllegalArgumentException](
      MorLog.upsert(spark, dir, wide, "id"))
    assert(e2.getMessage.contains("narrow-cast"))
    assert(MorLog.currentVersion(spark, dir) == 0,
      "a rejected batch must not commit")
    // a NARROWER batch upcasts on write — fine both paths
    MorLog.evolveAppend(spark, dir, spark.range(20, 22)
      .select(col("id"), lit(3000000000L).as("n"))) // n -> long (v1)
    MorLog.append(spark, dir, spark.range(12, 14)
      .select(col("id"), lit(2).cast("int").as("n"))) // int into long
    MorLog.upsert(spark, dir, spark.range(0, 2)
      .select(col("id"), lit(9).cast("int").as("n")), "id")
    val got = MorLog.read(spark, dir).select("id", "n")
      .as[(Long, Long)].collect().toMap
    assert(got(0L) == 9L && got(12L) == 2L && got(20L) == 3000000000L)
  }

  test("vacuum sweeps crashed-attempt debris: stage dirs and data files of uncommitted versions") {
    val dir = s"${tmp("graft-mlb-")}/t"
    MorLog.create(spark.range(10).toDF("id"), dir)
    MorLog.append(spark, dir, spark.range(10, 20).toDF("id"))
    // fake a crashed tip+1 attempt: a stage dir and an already-renamed
    // data file, no meta. (Attempts are always tip+1 under OCC; an
    // above-tip data file could be a CONCURRENT writer's in-flight
    // staging, so the sweep spares it until the tip passes it.)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/_log/_stage_v2_dead"))
    Files.write(
      java.nio.file.Paths.get(s"$dir/_log/_stage_v2_dead/x.parquet"),
      Array[Byte](1))
    val v1File = new java.io.File(dir).list()
      .filter(_.startsWith("part-v1-")).head
    Files.copy(
      java.nio.file.Paths.get(s"$dir/$v1File"),
      java.nio.file.Paths.get(s"$dir/part-v2-dead-0.parquet"))
    MorLog.vacuum(spark, dir, keepVersions = 10) // drops nothing live
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/_log/_stage_v2_dead")),
      "crashed stage dir must be swept")
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/part-v2-dead-0.parquet")),
      "an above-tip data file is possibly in-flight — spared for now")
    // the tip passes the crashed version: now it is provably debris
    MorLog.append(spark, dir, spark.range(20, 25).toDF("id"))
    MorLog.vacuum(spark, dir, keepVersions = 10)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/part-v2-dead-0.parquet")),
      "a left-behind data file at or below the tip must be swept")
    assert(MorLog.versions(spark, dir) == Seq(0, 1, 2))
    assert(ids(MorLog.read(spark, dir)) == (0L until 25L).toSet)
  }

  test("property: random op histories match an in-memory model at EVERY version") {
    for ((seed, guard) <- Seq((3, None), (19, None), (37, None),
      (5, Some("6")), (23, Some("6")))) {
      guard.foreach(g =>
        spark.conf.set(graft.sink.DeletionVectors.GuardConfKey, g))
      try runHistory(seed)
      finally if (guard.isDefined)
        spark.conf.unset(graft.sink.DeletionVectors.GuardConfKey)
    }
  }

  /** One random-history run — with the guard lowered, histories cross
    * the broadcast→per-file migration (and restore across it), and
    * the model must still match at every version. */
  private def runHistory(seed: Int): Unit = {
      val rnd = new scala.util.Random(seed)
      val dir = s"${tmp(s"graft-mlp$seed-")}/t"
      def df(m: Map[Long, Long]) =
        m.toSeq.sortBy(_._1).toDF("id", "v")
      var model = (1L to 20L).filter(_ => rnd.nextBoolean())
        .map(k => k -> rnd.nextLong(1000)).toMap + (0L -> 0L)
      MorLog.create(df(model).repartition(2), dir)
      var snapshots = Vector(model)
      var restored = Set.empty[Int] // spans a CDF may not cross
      for (_ <- 0 until 8) {
        val before = MorLog.currentVersion(spark, dir)
        rnd.nextInt(6) match {
          case 0 | 1 => // upsert: random keys, random values
            val batch = (1L to 24L).filter(_ => rnd.nextInt(4) == 0)
              .map(k => k -> rnd.nextLong(1000)).toMap
            val b = if (batch.isEmpty) Map(99L -> 1L) else batch
            MorLog.upsert(spark, dir, df(b), "id")
            model = model ++ b
          case 2 => // predicate delete (may commit nothing)
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            MorLog.deleteWhere(spark, dir, col("id") % m === r)
            model = model.filter { case (k, _) => k % m != r }
          case 3 =>
            MorLog.compact(spark, dir)
          case 4 => // may be a no-op under 2 small files
            MorLog.compactSmall(spark, dir,
              smallBytes = 1L << 20, targetBytes = 4L << 20)
          case _ => // restore to a random earlier version
            val v = rnd.nextInt(snapshots.size)
            MorLog.restore(spark, dir, v)
            model = snapshots(v)
            restored += snapshots.size // this new version is a restore
        }
        // zero-victim deletes and sub-2-file packs commit NO version —
        // the model history only grows when the log did
        if (MorLog.currentVersion(spark, dir) > before) snapshots :+= model
      }
      // every version's snapshot equals the model's history
      assert(MorLog.versions(spark, dir).size == snapshots.size)
      snapshots.zipWithIndex.foreach { case (m, v) =>
        val got = MorLog.readVersion(spark, dir, v)
          .select("id", "v").as[(Long, Long)].collect().toMap
        assert(got == m, s"seed $seed v$v: $got != $m")
      }
      // both change-feed forms net the same random span (CDF only
      // over restore-free spans, per its documented contract)
      val last = snapshots.size - 1
      for (_ <- 0 until 3) {
        val f = rnd.nextInt(last); val t = f + 1 + rnd.nextInt(last - f)
        val snap = MorLog.snapshotChanges(spark, dir, f, t, Seq("id"))
        val expected = {
          val (a, b) = (snapshots(f), snapshots(t))
          (a.keySet ++ b.keySet).toSeq.flatMap { k =>
            (a.get(k), b.get(k)) match {
              case (None, Some(n)) => Some((k, "insert"))
              case (Some(_), None) => Some((k, "delete"))
              case (Some(o), Some(n)) if o != n => Some((k, "update"))
              case _ => None
            }
          }.toSet
        }
        val gotSnap = snap.select("id", "change")
          .as[(Long, String)].collect().toSet
        assert(gotSnap == expected, s"seed $seed ($f,$t]: snapshot diff")
        if (!(f + 1 to t).exists(restored.contains)) {
          val inc = MorLog.incrementalChanges(spark, dir, f, t, Seq("id"))
          assert(inc.exceptAll(snap).isEmpty && snap.exceptAll(inc).isEmpty,
            s"seed $seed ($f,$t]: CDF != snapshot diff")
        }
      }
  }

  test("schema drift and incompatible retypes fail loud; widening versions the schema") {
    val dir = s"${tmp("graft-ml4-")}/t"
    MorLog.create(spark.range(10).select(col("id"), lit(1).as("n")), dir)
    intercept[IllegalArgumentException](
      MorLog.append(spark, dir,
        spark.range(3).select(col("id"), lit(1).as("n"), lit(2).as("m"))))
    // int→long WIDENS as metadata: one version, both file widths
    // decode under the new schema, the old version stays narrow
    MorLog.evolveAppend(spark, dir,
      spark.range(10, 13).select(col("id"), lit(3000000000L).as("n")))
    assert(MorLog.state(spark, dir, 1).schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(MorLog.state(spark, dir, 0).schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val got = MorLog.read(spark, dir).select("id", "n")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 13 && got(0L) == 1L && got(12L) == 3000000000L)
    // an incompatible retype still fails loud
    intercept[IllegalArgumentException](
      MorLog.evolveAppend(spark, dir,
        spark.range(3).select(col("id"), lit("x").as("n"))))
  }
}
