package graft

import graft.streaming.{MorGoldStats, StreamMorGold}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-11 specs: the exact-recency gold state bounded to the batch
  * (driver collects O(batch countries), not O(gold grain)). */
class Round11Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def ts(i: Int): String =
    f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"

  test("exact-mode state collects O(batch countries) at a 10k-group gold, and stays exact") {
    val work = tmp("graft-r11gg-")
    val (table, gold) = (s"$work/fact", s"$work/gold")
    // 10k countries, one user each — the grain the round-10 verdict
    // flagged: the old patch collected all 10k state rows per batch
    val n = 10000
    val dim = spark.range(1, n + 1)
      .select(col("id").as("user_id"),
        concat(lit("c"), col("id")).as("country"))
    def batch(rows: Seq[(Long, Int, String)]) =
      rows.map { case (u, t, op) => (u, 1.0, ts(t), op) }
        .toDF("user_id", "value", "ts_s", "op")
    StreamMorGold.processBatch(
      batch((1L to n.toLong).map(u => (u, (u % 1000).toInt, "I"))),
      0L, table, gold, dim, "user_id", "op", exactLastSeen = true)
    assert(MorGoldStats.lastStateRowsCollected == 0,
      "bootstrap must build the state distributed, no driver collect")
    assert(graft.sink.AtomicParquetSink.read(spark, gold).get.count() == n)
    // batch 1 touches THREE countries: one update, one delete, one
    // retraction of a country's only row
    StreamMorGold.processBatch(
      batch(Seq((7L, 500, "U"), (8L, 8, "D"), (9L, 900, "U"))),
      1L, table, gold, dim, "user_id", "op", exactLastSeen = true)
    assert(MorGoldStats.lastStateRowsCollected <= 6,
      s"collected ${MorGoldStats.lastStateRowsCollected} state rows " +
        "for a 3-country batch — the driver fold is not batch-bounded")
    val g1 = graft.sink.AtomicParquetSink.read(spark, gold).get
      .select("country", "n_users", "last_seen")
      .as[(String, Long, Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(g1("c7") == (1L, Some(ts(500))))
    assert(g1("c8")._1 == 0L)
    assert(g1("c9") == (1L, Some(ts(900))))
    // an untouched country's state survived the DataFrame carry-over
    assert(g1("c5000") == (1L, Some(ts(5000 % 1000))))
    // …and keeps retracting exactly in a LATER batch (the carried
    // state is real, not a default)
    StreamMorGold.processBatch(
      batch(Seq((5000L, 5000 % 1000, "D"))),
      2L, table, gold, dim, "user_id", "op", exactLastSeen = true)
    val g2 = graft.sink.AtomicParquetSink.read(spark, gold).get
      .select("country", "n_users", "last_seen")
      .as[(String, Long, Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(g2("c5000")._1 == 0L)
    assert(g2("c7") == (1L, Some(ts(500))), "untouched state drifted")
    assert(MorGoldStats.lastStateRowsCollected <= 2)
  }

  test("graft_image_dims parses WEBP VP8/VP8L/VP8X; corrupt and truncated variants yield NULL") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le24(v: Int) = le16(v) :+ ((v >> 16) & 0xff).toByte
    def le32(v: Int) = le16(v) ++ le16(v >> 16)
    def riff(fourcc: String, data: Array[Byte]): Array[Byte] =
      "RIFF".getBytes ++ le32(4 + 8 + data.length) ++ "WEBP".getBytes ++
        fourcc.getBytes ++ le32(data.length) ++ data
    val vp8 = riff("VP8 ", Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a) ++
      le16(640) ++ le16(360))
    val vp8BadSync = riff("VP8 ",
      Array[Byte](0, 0, 0, 0x9c.toByte, 0x01, 0x2a) ++
        le16(640) ++ le16(360))
    val vp8l = riff("VP8L",
      0x2f.toByte +: le32((799) | (449 << 14))) // 800×450, −1-encoded
    val vp8lTrunc = vp8l.take(22)
    val vp8x = riff("VP8X", Array[Byte](0, 0, 0, 0) ++
      le24(1023) ++ le24(767)) // canvas 1024×768, −1-encoded
    val alien = riff("ALPH", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10))
    val stub = "RIFFWEBP".getBytes
    val got = Seq(
      ("vp8", vp8), ("vp8badsync", vp8BadSync), ("vp8l", vp8l),
      ("vp8ltrunc", vp8lTrunc), ("vp8x", vp8x), ("alien", alien),
      ("stub", stub))
      .toDF("name", "payload")
      .selectExpr("name", "graft_image_dims(payload) AS d")
      .selectExpr("name", "d.format", "d.width", "d.height")
      .collect()
      .map(r => r.getString(0) ->
        (Option(r.getString(1)), Option(r.get(2)), Option(r.get(3))))
      .toMap
    assert(got("vp8") == (Some("webp"), Some(640), Some(360)))
    assert(got("vp8l") == (Some("webp"), Some(800), Some(450)))
    assert(got("vp8x") == (Some("webp"), Some(1024), Some(768)))
    for (bad <- Seq("vp8badsync", "vp8ltrunc", "alien", "stub"))
      assert(got(bad) == (None, None, None),
        s"$bad must quarantine as NULL, got ${got(bad)}")
  }

  test("PqIndex lloyd codebook: persisted index = in-memory refinement; appends assign against stored centroids") {
    val work = tmp("graft-r11pq-")
    val dir = s"$work/idx"
    // 24 vectors, 16 dims, m=2 subspaces; two visible clusters so
    // Lloyd refinement actually moves centroids
    def vec(i: Int): Array[Float] =
      Array.tabulate(16)(d => (if (i % 2 == 0) 1.0f else -1.0f) *
        (1.0f + 0.03f * ((i + d) % 5)))
    val corpus = (0 until 24).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    graft.ann.PqIndex.write(corpus, "embedding", "vec_id", dir, m = 2,
      codebook = "lloyd")
    // the persisted scan must equal the in-memory refined ADC rank
    val queries = corpus.filter(col("vec_id") < 3)
    val idxTop = graft.ann.PqIndex.adcTopK(spark, dir, queries,
      "embedding", "vec_id", m = 2, k = 4)
    val means = graft.ann.Pq.fitMeans(corpus, "embedding")
    val (cb, codes) = graft.ann.Pq.fitKmeansCells(corpus, "embedding",
      "vec_id", m = 2, means = means, iters = 2)
    import org.apache.spark.sql.expressions.Window
    val qd = queries.select(col("vec_id").as("query_id"),
        posexplode(transform(col("embedding"), x => x.cast("double")))
          .as(Seq("i", "qv")))
      .withColumn("s", (col("i") / lit(8)).cast("int"))
      .withColumn("b", (col("i") % lit(8)).cast("int"))
    val lut = qd.join(cb, Seq("s", "b"))
      .groupBy("query_id", "s", "code")
      .agg(sum(col("qv") * col("cv")).as("dot8"))
    val memTop = codes.select(col("id").as("neighbor_id"), col("s"),
        col("code"))
      .join(broadcast(lut), Seq("s", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("dot8")).as("adc"))
      .withColumn("adc5", graft.Oracle.stableRound(col("adc"), 5))
      .withColumn("rank", row_number().over(Window
        .partitionBy("query_id")
        .orderBy(col("adc5").desc, col("neighbor_id"))))
      .filter(col("rank") <= 4)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("adc5"))
    assert(idxTop.exceptAll(memTop).isEmpty &&
      memTop.exceptAll(idxTop).isEmpty,
      "persisted lloyd index diverged from the in-memory refinement")
    // append: codes come from nearest STORED centroid — structurally
    // zero drift, and identical to an independent assignment
    val batch = (100 until 104).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    assert(graft.ann.PqIndex.append(spark, batch, "embedding",
      "vec_id", dir, m = 2) == 0L,
      "lloyd appends can never produce unseen cells")
    val storedCodes = spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id") >= 100)
    assert(storedCodes.count() == 4)
    // independent nearest-centroid assignment of one appended vector
    val cbStored = spark.read.parquet(s"$dir/codebook")
    val one = batch.filter(col("vec_id") === 100L)
      .select(col("vec_id").as("id"),
        posexplode(transform(col("embedding"), v => v.cast("double")))
          .as(Seq("i", "x")))
      .withColumn("s", (col("i") / lit(8)).cast("int"))
      .withColumn("b", (col("i") % lit(8)).cast("int"))
      .join(broadcast(cbStored), Seq("s", "b"))
      .groupBy("s", "code")
      .agg(sum((col("x") - col("cv")) * (col("x") - col("cv")))
        .as("dist"))
      .withColumn("rk", row_number().over(Window.partitionBy("s")
        .orderBy(floor(col("dist") * 1e5 + 0.5), col("code"))))
      .filter(col("rk") === 1)
      .orderBy("s").select("code")
      .collect().map(_.getInt(0)).toSeq
    val storedOne = storedCodes.filter(col("vec_id") === 100L)
      .select("codes").head().getSeq[Int](0).toSeq
    assert(storedOne == one,
      s"appended codes $storedOne != independent assignment $one")
    // a mean-mode index still reads as before (legacy default)
    val dir2 = s"$work/idx2"
    graft.ann.PqIndex.write(corpus, "embedding", "vec_id", dir2, m = 2)
    assert(graft.ann.PqIndex.readMode(spark, dir2) == "mean")
    assert(graft.ann.PqIndex.adcTopK(spark, dir2, queries, "embedding",
      "vec_id", m = 2, k = 4).count() == 12)
  }

  // ---- MorLog: metadata-only file-drop delete ------------------------

  test("deleteWhere drops fully-covered files wholesale: no tombstone growth, exact count, CDF and travel intact") {
    import graft.sink.{MorLog, MorLogStats}
    val dir = s"${tmp("graft-r11drop-")}/t"
    val base = spark.range(0, 400)
      .select(col("id"), (col("id") * 2).as("val"))
    MorLog.create(base.repartitionByRange(4, col("id"))
      .sortWithinPartitions("id"), dir)
    // v1: scatter a tombstone into the first file (id=5) so the drop
    // accounting must subtract pre-existing tombstones
    assert(MorLog.deleteWhere(spark, dir, col("id") === 5) == 1L)
    assert(MorLogStats.lastFilesDropped == 0)
    // v2: retention delete — files fully under 200 drop WHOLESALE;
    // the boundary file (if any) goes through normal tombstones
    // 200 ids under the cut, one (id=5) already tombstoned -> 199 new
    val n = MorLog.deleteWhere(spark, dir, col("id") < 200)
    assert(n == 199L, s"expected 199 newly deleted rows, got $n")
    assert(MorLogStats.lastFilesDropped >= 1,
      "no file dropped wholesale — the metadata-only tier never engaged")
    val st2files = MorLog.versions(spark, dir)
    assert(MorLog.read(spark, dir).agg(count(lit(1)), sum("id"))
      .as[(Long, Long)].head() == ((200L, (200L until 400L).sum)))
    // time travel: v0 still full, v1 still missing only id=5
    assert(MorLog.readVersion(spark, dir, 0).count() == 400L)
    assert(MorLog.readVersion(spark, dir, 1).count() == 399L)
    // CDF across the drop agrees with the snapshot diff exactly
    val inc = MorLog.incrementalChanges(spark, dir, 1, 2, Seq("id"))
      .select(col("id"), col("change")).as[(Long, String)]
      .collect().toSet
    val snap = MorLog.snapshotChanges(spark, dir, 1, 2, Seq("id"))
      .select(col("id"), col("change")).as[(Long, String)]
      .collect().toSet
    assert(inc == snap)
    assert(inc.size == 199 && inc.forall(_._2 == "delete"))
  }

  test("deleteWhere never drops a file holding nulls on a referenced column") {
    import graft.sink.{MorLog, MorLogStats}
    val dir = s"${tmp("graft-r11null-")}/t"
    // one file, ids 1..9 plus a NULL id: bounds alone would prove
    // id < 50 for every non-null row — the null row must survive
    val df = spark.range(1, 10)
      .select(col("id"), lit("x").as("tag"))
      .unionByName(Seq((null.asInstanceOf[java.lang.Long], "keep"))
        .toDF("id", "tag"))
    MorLog.create(df.coalesce(1), dir)
    val n = MorLog.deleteWhere(spark, dir, col("id") < 50)
    assert(MorLogStats.lastFilesDropped == 0,
      "a file with nulls on the predicate column must not drop")
    assert(n == 9L)
    val left = MorLog.read(spark, dir).select("tag").as[String].collect()
    assert(left.toSeq == Seq("keep"))
  }

  // ---- MorLog: Z-order clustering under the log ----------------------

  test("cluster rewrites the snapshot Z-ordered: same values, multi-dim skipping engages, history and CDF intact") {
    import graft.sink.{MorLog, MorLogStats}
    val dir = s"${tmp("graft-r11clu-")}/t"
    val base = spark.range(0, 10000)
      .select((col("id") % 100).as("a"), (col("id") / 100).as("b"),
        col("id").as("k"))
    // ingest order deliberately interleaves both dims across files
    MorLog.create(base.repartition(8, col("k") % 8), dir)
    val box = col("a") >= 10 && col("a") < 30 && col("b") >= 10 &&
      col("b") < 30
    val before = MorLog.readWhere(spark, dir, box)
      .select("k").as[Long].collect().sorted.toSeq
    val skippedBefore = MorLogStats.lastFilesSkipped
    assert(MorLog.cluster(spark, dir, Seq("a", "b"), nFiles = 8) >= 1)
    val after = MorLog.readWhere(spark, dir, box)
      .select("k").as[Long].collect().sorted.toSeq
    assert(after == before, "clustering changed visible values")
    assert(MorLogStats.lastFilesSkipped > skippedBefore,
      s"skipping did not improve: before=$skippedBefore " +
        s"after=${MorLogStats.lastFilesSkipped}")
    // value-invisible: CDF across the cluster version nets to zero,
    // and the pre-cluster version still reads
    assert(MorLog.incrementalChanges(spark, dir, 0, 1, Seq("k"))
      .count() == 0L)
    assert(MorLog.readVersion(spark, dir, 0).count() == 10000L)
  }

  // ---- mergeable quantile sketch -------------------------------------

  test("graft_kll: exact under k, bounded rank error over k, weight exactly n, merge-order-proof") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // under k: no compaction ever fires — the sketch IS the data
    val small = new graft.functions.Kll.Buf(64)
    (1 to 50).reverse.foreach(v => small.insert(v.toDouble))
    assert(small.quantile(0.5) == 25.0)
    assert(small.quantile(0.02) == 1.0)
    assert(small.quantile(1.0) == 50.0)
    // over k: total weight stays EXACTLY n through every compaction
    val big = new graft.functions.Kll.Buf(128)
    (1 to 100000).foreach(v => big.insert((v * 7919 % 100000).toDouble))
    assert(big.n == 100000L)
    val weight = big.levels.zipWithIndex.map { case (l, i) =>
      l.size.toLong << i }.sum
    assert(weight == 100000L, s"weight $weight drifted from n")
    // serialize → deserialize → same estimates
    val rt = graft.functions.Kll.deserialize(big.serialize())
    for (p <- Seq(0.1, 0.5, 0.9, 0.99))
      assert(rt.quantile(p) == big.quantile(p))
    // distributed: rank error within 2% of n at k=256 across 32 tasks
    val n = 200000L
    val est = spark.range(0, n).select(
        (col("id") * 7919 % n).cast("double").as("v"))
      .repartition(32)
      .agg(expr("graft_kll_quantile(graft_kll(v, 256), 0.5d)"),
        expr("graft_kll_quantile(graft_kll(v, 256), 0.99d)"))
      .as[(Double, Double)].head()
    assert(math.abs(est._1 - 0.5 * n) <= 0.02 * n,
      s"p50 estimate ${est._1} off the uniform ramp")
    assert(math.abs(est._2 - 0.99 * n) <= 0.02 * n,
      s"p99 estimate ${est._2} off the uniform ramp")
    // mergeability: two disjoint halves merged = one pass, same bound
    val a = new graft.functions.Kll.Buf(128)
    val b = new graft.functions.Kll.Buf(128)
    (1 to 50000).foreach(v => a.insert(v.toDouble))
    (50001 to 100000).foreach(v => b.insert(v.toDouble))
    a.mergeIn(b)
    assert(a.n == 100000L)
    assert(math.abs(a.quantile(0.75) - 75000.0) <= 2000.0)
  }

  test("StreamKll: replayed batches no-op under the fence; fold stays rank-bounded") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val state = s"${tmp("graft-r11skll-")}/state"
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(lit("t").as("g"), col("id").cast("double").as("v"))
    graft.streaming.StreamKll.applyBatch(spark, state,
      batch(0, 40000), "g", "v", k = 256, batchId = 0L)
    graft.streaming.StreamKll.applyBatch(spark, state,
      batch(40000, 80000), "g", "v", k = 256, batchId = 1L)
    val before = graft.streaming.StreamKll.estimates(spark, state)
      .select("e50", "e90").as[(Double, Double)].head()
    // replay batch 1: the fence must swallow it bit-for-bit
    graft.streaming.StreamKll.applyBatch(spark, state,
      batch(40000, 80000), "g", "v", k = 256, batchId = 1L)
    val after = graft.streaming.StreamKll.estimates(spark, state)
      .select("e50", "e90").as[(Double, Double)].head()
    assert(after == before, "a replayed batch changed the state")
    assert(graft.streaming.StreamKll.fenceOf(spark, state) == 1L)
    // the two-batch fold still ranks the 0..80000 ramp within 2%
    assert(math.abs(before._1 - 40000.0) <= 1600.0, s"p50 ${before._1}")
    assert(math.abs(before._2 - 72000.0) <= 1600.0, s"p90 ${before._2}")
  }

  test("clusterSmall folds only small files through their tombstones; large files and history stay") {
    import graft.sink.MorLog
    val dir = s"${tmp("graft-r11cls-")}/t"
    // v0: one LARGE (well, above-threshold) file of ids 0..4999
    MorLog.create(spark.range(0, 5000)
      .select(col("id").as("a"), (col("id") % 97).as("b"))
      .coalesce(1), dir)
    // debris: 4 tiny appends
    (0 until 4).foreach(i => MorLog.append(spark, dir,
      spark.range(5000 + i * 10, 5010 + i * 10)
        .select(col("id").as("a"), (col("id") % 97).as("b"))
        .coalesce(1)))
    // a tombstone INSIDE the debris must not resurrect
    assert(MorLog.deleteWhere(spark, dir, col("a") === 5005L) == 1L)
    val before = MorLog.read(spark, dir).agg(sum("a")).as[Long].head()
    // gate on the REAL sizes: big file must survive the small cut
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s.getPath.getName -> s.getLen).toMap
    val bigName = sizes.maxBy(_._2)._1
    val cut = sizes(bigName) // everything strictly under the big file
    val packed = MorLog.clusterSmall(spark, dir, Seq("a", "b"),
      smallBytes = cut, targetBytes = cut, nFiles = 2)
    assert(packed == 4, s"expected the 4 debris files packed, got $packed")
    assert(MorLog.read(spark, dir).agg(sum("a")).as[Long].head() == before,
      "clusterSmall changed visible values")
    // the big file is still in the current state, un-rewritten
    val cur = MorLog.readVersion(spark, dir,
      MorLog.currentVersion(spark, dir))
    assert(cur.count() == 5000 + 40 - 1)
    // CDF across the cluster version nets to zero
    val v = MorLog.currentVersion(spark, dir)
    assert(MorLog.incrementalChanges(spark, dir, v - 1, v, Seq("a"))
      .count() == 0L)
  }

  test("adcRerankTopK with a full-corpus shortlist equals exact brute-force dot top-k") {
    val corpus = (0 until 30).map(i =>
      (i.toLong, Array.tabulate(16)(d => ((i * 31 + d * 7) % 13 - 6)
        .toFloat / 6f))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    val means = graft.ann.Pq.fitMeans(corpus, "embedding")
    // c = corpus size: the ADC stage can't drop anyone, so the
    // re-rank must BE the exact brute-force answer
    val rr = graft.ann.Pq.adcRerankTopK(corpus, queries, "embedding",
      "vec_id", means, m = 8, k = 4, c = 30)
    import org.apache.spark.sql.expressions.Window
    val dot = expr("""aggregate(zip_with(_qv, _nv,
      (a, b) -> cast(a as double) * cast(b as double)),
      0d, (acc, x) -> acc + x)""")
    val brute = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("_nv"))
      .crossJoin(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("_qv")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot5", graft.Oracle.stableRound(dot, 5))
      .withColumn("rank", row_number().over(Window
        .partitionBy("query_id")
        .orderBy(col("dot5").desc, col("neighbor_id"))))
      .filter(col("rank") <= 4)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dot5"))
    assert(rr.exceptAll(brute).isEmpty && brute.exceptAll(rr).isEmpty,
      "full-shortlist re-rank diverged from brute force")
  }

  test("StreamDlq routes against the prior watermark; replays and torn retries are exactly-once") {
    val work = tmp("graft-r11dlq-")
    val (state, mainD, dlqD) = (s"$work/st", s"$work/main", s"$work/dlq")
    def batch(rows: (Long, String)*) = rows.toSeq
      .toDF("event_id", "ts_s")
      .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"))
    val schema = batch().schema
    // batch 0: establishes wm at 10:00 — nothing can be late yet
    graft.streaming.StreamDlq.applyBatch(spark, state, mainD, dlqD,
      batch(1L -> "2024-01-01 09:00:00", 2L -> "2024-01-01 10:00:00"),
      "ts", horizonMs = 3600000L, batchId = 0L)
    // batch 1: 8:30 is >1h behind wm(10:00) -> dlq; 9:30 is within -> main
    graft.streaming.StreamDlq.applyBatch(spark, state, mainD, dlqD,
      batch(3L -> "2024-01-01 08:30:00", 4L -> "2024-01-01 09:30:00",
        5L -> "2024-01-01 11:00:00"),
      "ts", horizonMs = 3600000L, batchId = 1L)
    def ids(dir: String) = graft.streaming.StreamDlq
      .readSide(spark, dir, schema)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids(mainD) == Seq(1L, 2L, 4L, 5L))
    assert(ids(dlqD) == Seq(3L))
    // replay batch 1 (redelivery): the fence swallows it
    graft.streaming.StreamDlq.applyBatch(spark, state, mainD, dlqD,
      batch(3L -> "2024-01-01 08:30:00", 4L -> "2024-01-01 09:30:00",
        5L -> "2024-01-01 11:00:00"),
      "ts", horizonMs = 3600000L, batchId = 1L)
    assert(ids(mainD) == Seq(1L, 2L, 4L, 5L) && ids(dlqD) == Seq(3L))
    // torn retry: batch 2's data landed but the state swap didn't —
    // the retry overwrites the SAME per-batch subdirs, no duplicates
    val b2 = batch(6L -> "2024-01-01 09:45:00", 7L -> "2024-01-01 12:00:00")
    b2.filter(col("event_id") === 6L) // 9:45 < 11:00-1h -> would be dlq
      .write.mode("overwrite").parquet(s"$dlqD/batch=2")
    b2.filter(col("event_id") === 7L)
      .write.mode("overwrite").parquet(s"$mainD/batch=2")
    graft.streaming.StreamDlq.applyBatch(spark, state, mainD, dlqD,
      b2, "ts", horizonMs = 3600000L, batchId = 2L)
    assert(ids(mainD) == Seq(1L, 2L, 4L, 5L, 7L))
    assert(ids(dlqD) == Seq(3L, 6L))
  }

  test("shallowClone: clone vacuum never crosses the table boundary; travel and re-clone work") {
    import graft.sink.MorLog
    val work = tmp("graft-r11cln-")
    val (src, dst, dst2) = (s"$work/src", s"$work/dst", s"$work/dst2")
    MorLog.create(spark.range(0, 1000)
      .select(col("id"), (col("id") % 7).as("g")).coalesce(2), src)
    MorLog.deleteWhere(spark, src, col("id") === 13L)
    MorLog.shallowClone(spark, src, dst)
    val base = MorLog.currentVersion(spark, dst)
    // diverge the clone heavily: delete + compact + more versions,
    // then vacuum down to 1 retained version
    MorLog.deleteWhere(spark, dst, col("id") < 100)
    assert(MorLog.compact(spark, dst) >= 1)
    MorLog.append(spark, dst, spark.range(5000, 5010)
      .select(col("id"), (col("id") % 7).as("g")).coalesce(1))
    MorLog.vacuum(spark, dst, keepVersions = 1)
    // the SOURCE still answers in full: its files survived the
    // clone's vacuum even though the clone's dropped base referenced
    // them
    assert(MorLog.read(spark, src).count() == 999L)
    assert(MorLog.read(spark, dst).count() == 910L)
    // a clone of the DIVERGED clone still forks cleanly (absolute
    // refs stay absolute)
    MorLog.shallowClone(spark, dst, dst2)
    assert(MorLog.read(spark, dst2).count() == 910L)
    MorLog.deleteWhere(spark, dst2, col("id") >= 5000L)
    assert(MorLog.read(spark, dst2).count() == 900L)
    assert(MorLog.read(spark, dst).count() == 910L,
      "grand-clone divergence leaked into its source")
    // clone base version stays travelable until vacuumed
    assert(base >= 1)
  }

  test("coveredAll is SOUND under random range predicates: never claims a file a scan would keep rows in") {
    import graft.sink.MorLog
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 6) {
      val dir = s"${tmp(s"graft-r11fz$trial-")}/t"
      // random layout: some files range-tight, some scattered, one
      // with nulls on the predicate column
      val n = 2000
      val base = spark.range(0, n).select(
        when(col("id") % 503 === 0, lit(null))
          .otherwise(col("id")).as("a"),
        (col("id") * 17 % 1000).as("b"),
        col("id").as("k"))
      val laid =
        if (trial % 2 == 0)
          base.repartitionByRange(6, col("k")).sortWithinPartitions("k")
        else base.repartition(6, col("b") % 6)
      MorLog.create(laid, dir)
      // random conjunction/disjunction of ranges on a and b
      def rndPred() = {
        val lo = rnd.nextInt(n); val hi = lo + rnd.nextInt(n)
        val lo2 = rnd.nextInt(1000); val hi2 = lo2 + rnd.nextInt(1000)
        val p1 = col("a") >= lo && col("a") < hi
        val p2 = col("b") >= lo2 && col("b") < hi2
        rnd.nextInt(3) match {
          case 0 => p1
          case 1 => p1 || p2
          case _ => p1 && p2
        }
      }
      for (_ <- 0 until 5) {
        val pred = rndPred()
        // ground truth BEFORE the delete
        val expectKeep = MorLog.read(spark, dir)
          .filter(!coalesce(pred, lit(false)))
          .select("k").as[Long].collect().sorted.toSeq
        MorLog.deleteWhere(spark, dir, pred)
        val got = MorLog.read(spark, dir)
          .select("k").as[Long].collect().sorted.toSeq
        assert(got == expectKeep,
          s"trial $trial: drop-tier delete diverged from scan semantics")
      }
    }
  }

  test("file-drop deletes keep CDF == snapshot diff across random range-delete histories") {
    import graft.sink.MorLog
    val rnd = new scala.util.Random(23)
    val dir = s"${tmp("graft-r11cdf-")}/t"
    MorLog.create(spark.range(0, 3000)
      .select(col("id"), (col("id") % 13).as("g"))
      .repartitionByRange(8, col("id")).sortWithinPartitions("id"), dir)
    for (_ <- 0 until 4) {
      val lo = rnd.nextInt(3000)
      val cut = col("id") >= lo && col("id") < lo + rnd.nextInt(1500)
      val vBefore = MorLog.currentVersion(spark, dir)
      if (MorLog.deleteWhere(spark, dir, cut) > 0) {
        val v = MorLog.currentVersion(spark, dir)
        val inc = MorLog.incrementalChanges(spark, dir, vBefore, v,
          Seq("id")).select(col("id"), col("change"))
          .as[(Long, String)].collect().toSet
        val snap = MorLog.snapshotChanges(spark, dir, vBefore, v, Seq("id"))
          .select(col("id"), col("change"))
          .as[(Long, String)].collect().toSet
        assert(inc == snap,
          s"CDF diverged from snapshot diff after delete at v$v " +
            s"(dropped ${graft.sink.MorLogStats.lastFilesDropped} files)")
      }
    }
  }

  test("mergeInto commits delete+update+insert as ONE version; CDF classifies all three") {
    import graft.sink.MorLog
    val dir = s"${tmp("graft-r11mrg-")}/t"
    MorLog.create(spark.range(0, 100)
      .select(col("id"), (col("id") * 2).as("v")).coalesce(2), dir)
    val batch = Seq(
      (5L, 0L, "D"), (7L, 0L, "D"),        // deletes (v ignored)
      (8L, 888L, "U"), (9L, 999L, "U"),    // updates
      (200L, 2000L, "I"), (201L, 2010L, "I")) // inserts
      .toDF("id", "v", "_op")
    val (del, wrote) = MorLog.mergeInto(spark, dir, batch, "id", "_op")
    assert(del == 4L,
      s"the 4 batch keys WITH current rows die (inserts have none), got $del")
    assert(wrote == 4L)
    // exactly ONE new version
    assert(MorLog.versions(spark, dir) == Seq(0, 1))
    val m = MorLog.read(spark, dir).as[(Long, Long)].collect().toMap
    assert(m.size == 100L) // 100 - 2 deletes + 2 inserts
    assert(!m.contains(5L) && !m.contains(7L))
    assert(m(8L) == 888L && m(9L) == 999L)
    assert(m(200L) == 2000L && m(201L) == 2010L)
    assert(m(50L) == 100L, "untouched row drifted")
    val cdf = MorLog.incrementalChanges(spark, dir, 0, 1, Seq("id"))
      .select(col("id"), col("change")).as[(Long, String)]
      .collect().toMap
    assert(cdf == Map(5L -> "delete", 7L -> "delete",
      8L -> "update", 9L -> "update",
      200L -> "insert", 201L -> "insert"))
  }

  test("media probes are TOTAL: random bytes and random truncations of valid headers never throw") {
    val rnd = new scala.util.Random(7)
    def arbitrary(n: Int) = Array.fill[Byte](n)(rnd.nextInt.toByte)
    // valid headers to truncate at every prefix length
    val valids = Seq[Array[Byte]](
      // WAV
      "RIFF".getBytes ++ Array[Byte](100, 0, 0, 0) ++
        "WAVEfmt ".getBytes ++ Array[Byte](16, 0, 0, 0, 1, 0, 2, 0) ++
        Array[Byte](0x40, 0x1f, 0, 0) ++ Array[Byte](0, 125, 0, 0) ++
        Array[Byte](4, 0, 16, 0) ++ "data".getBytes ++
        Array[Byte](16, 0, 0, 0),
      // fLaC magic + block header
      "fLaC".getBytes ++ Array[Byte](0x80.toByte, 0, 0, 34) ++
        Array.fill[Byte](34)(1),
      // ID3 + MP3 frame
      "ID3".getBytes ++ Array[Byte](3, 0, 0, 0, 0, 0, 4) ++
        Array.fill[Byte](4)(0) ++
        Array(0xFF.toByte, 0xFB.toByte, 0x94.toByte, 0x00.toByte),
      // MP4
      Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes ++
        Array.fill[Byte](4)(0) ++ Array[Byte](0, 0, 0, 116) ++
        "moov".getBytes ++ Array[Byte](0, 0, 0, 108) ++
        "mvhd".getBytes ++ Array.fill[Byte](100)(0),
      // AVI
      "RIFF".getBytes ++ Array[Byte](80, 0, 0, 0) ++
        "AVI LIST".getBytes ++ Array[Byte](68, 0, 0, 0) ++
        "hdrlavih".getBytes ++ Array[Byte](56, 0, 0, 0) ++
        Array.fill[Byte](56)(0),
      // PNG sig + IHDR
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        Array[Byte](0, 0, 0, 13) ++ "IHDR".getBytes ++
        Array.fill[Byte](17)(3))
    val cases =
      (0 until 200).map(_ => arbitrary(rnd.nextInt(64))) ++
      valids.flatMap(v => (0 to v.length).map(v.take)) ++
      // adversarial size fields: declared chunk sizes near overflow
      Seq("RIFF".getBytes ++ Array.fill[Byte](4)(0xff.toByte) ++
          "WAVE".getBytes ++ "fmt ".getBytes ++
          Array.fill[Byte](4)(0xff.toByte) ++ Array.fill[Byte](16)(0),
        Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte,
          0xff.toByte) ++ "ftyp".getBytes ++ Array.fill[Byte](8)(0))
    // totality = none of the three probes throws on ANY input
    cases.foreach { b =>
      graft.multimodal.MultimodalCodecs.dims(b)
      graft.multimodal.AudioCodecs.meta(b)
      graft.multimodal.VideoCodecs.meta(b)
    }
    // and null-safety
    assert(graft.multimodal.AudioCodecs.meta(null) == null)
    assert(graft.multimodal.VideoCodecs.meta(null) == null)
  }

  // ---- span-level dedup with removal --------------------------------

  test("scrubDupSpans cuts cross-doc spans symmetrically, merges overlaps, keeps short docs") {
    val docs = Seq(
      // docs 1 and 2 share "a b c" (and overlapping "b c d" only in 1)
      (1L, "x a b c y z q"),
      (2L, "p a b c r s t"),
      // doc 3 repeats a trigram only WITHIN itself — not cross-doc
      (3L, "m n o m n o m n o"),
      // doc 4 is shorter than n — untouched by construction
      (4L, "u v"),
      // docs 5 and 6 are identical — fully scrubbed
      (5L, "e f g h i"),
      (6L, "e f g h i"))
      .toDF("doc_id", "text")
    val out = graft.dedup.Dedup.scrubDupSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 6, "every input doc keeps a row")
    // "a b c" occurs in docs 1 and 2: cut there, neighbors survive
    assert(out(1L) == ("x y z q", 4L, 3L))
    assert(out(2L) == ("p r s t", 4L, 3L))
    // within-doc repetition alone is not cross-doc duplication
    assert(out(3L) == ("m n o m n o m n o", 9L, 0L))
    assert(out(4L) == ("u v", 2L, 0L))
    // identical docs: every trigram shared -> all positions covered
    assert(out(5L) == ("", 0L, 5L))
    assert(out(6L) == ("", 0L, 5L))
  }

  test("scrubDupSpans merges OVERLAPPING duplicated spans into one contiguous cut") {
    // "a b c d" in doc 1 vs "a b c" in doc 2 and "b c d" in doc 3:
    // doc 1's positions 1..4 are covered by two overlapping trigrams —
    // the union cut must be contiguous, not double-counted
    val docs = Seq(
      (1L, "z a b c d z2"),
      (2L, "q a b c q2 q3"),
      (3L, "r b c d r2 r3"))
      .toDF("doc_id", "text")
    val out = graft.dedup.Dedup.scrubDupSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ("z z2", 2L, 4L))
    assert(out(2L) == ("q q2 q3", 3L, 3L))
    assert(out(3L) == ("r r2 r3", 3L, 3L))
  }

  // ---- audio-container header probe --------------------------------

  test("graft_audio_meta parses hand-built WAV/FLAC/MP3 headers; corrupt blobs yield NULL") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = le16(v) ++ le16(v >> 16)
    // WAV, 8000 Hz stereo 16-bit, 4000 frames (500 ms); a JUNK chunk
    // before fmt exercises the chunk walk
    val wav = "RIFF".getBytes ++ le32(36 + 6 + 16000) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32(6) ++ Array.fill[Byte](6)(0) ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(8000) ++
      le32(32000) ++ le16(4) ++ le16(16) ++
      "data".getBytes ++ le32(16000)
    // FLAC STREAMINFO: 44100 Hz mono 16 bps, 44100 samples (1000 ms)
    val packed = (44100L << 44) | (0L << 41) | (15L << 36) | 44100L
    val flac = "fLaC".getBytes ++ Array[Byte](0x80.toByte, 0, 0, 34) ++
      Array.fill[Byte](10)(0) ++
      (0 until 8).map(k =>
        ((packed >>> (56 - 8 * k)) & 0xff).toByte).toArray ++
      Array.fill[Byte](16)(0)
    // MP3: ID3v2 with an 8-byte body, then an MPEG-1 Layer III frame
    // at 128 kbps / 44100 Hz stereo and 196 stream bytes → 12 ms CBR
    val mp3 = "ID3".getBytes ++ Array[Byte](3, 0, 0, 0, 0, 0, 8) ++
      Array.fill[Byte](8)(0) ++
      Array(0xFF.toByte, 0xFB.toByte, ((9 << 4) | (0 << 2)).toByte,
        0x00.toByte) ++ Array.fill[Byte](192)(0)
    val mp3Mono = Array(0xFF.toByte, 0xFB.toByte,
      ((1 << 4) | (2 << 2)).toByte, 0xC0.toByte) ++ Array.fill[Byte](28)(0)
    val mpeg2 = Array(0xFF.toByte, 0xF3.toByte, 0x94.toByte, 0x00.toByte)
    val freeBitrate = Array(0xFF.toByte, 0xFB.toByte, 0x00.toByte, 0x00.toByte)
    val rows = Seq(
      ("wav", wav), ("flac", flac), ("mp3", mp3), ("mp3mono", mp3Mono),
      ("mpeg2", mpeg2), ("free", freeBitrate),
      ("garbage", Array[Byte](9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9)),
      ("wavtrunc", wav.take(20)), ("flactrunc", flac.take(12)),
      ("empty", Array.empty[Byte]))
      .toDF("name", "payload")
      .selectExpr("name", "graft_audio_meta(payload) AS m")
      .selectExpr("name", "m.format", "m.sample_rate", "m.channels",
        "m.duration_ms")
      .collect()
      .map(r => r.getString(0) -> (Option(r.getString(1)),
        Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(rows("wav") == (Some("wav"), Some(8000), Some(2), Some(500L)))
    assert(rows("flac") ==
      (Some("flac"), Some(44100), Some(1), Some(1000L)))
    // 196 bytes * 8000 / 128000 = 12 ms
    assert(rows("mp3") == (Some("mp3"), Some(44100), Some(2), Some(12L)))
    // mono, 32 kbps @ 32000 Hz, 32 bytes → 8 ms
    assert(rows("mp3mono") ==
      (Some("mp3"), Some(32000), Some(1), Some(8L)))
    for (bad <- Seq("mpeg2", "free", "garbage", "wavtrunc", "flactrunc",
        "empty"))
      assert(rows(bad) == (None, None, None, None),
        s"$bad must quarantine as NULL, got ${rows(bad)}")
  }

  test("graft_video_meta parses hand-built MP4/AVI headers; corrupt blobs yield NULL") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      (v & 0xff).toByte)
    def be64(v: Long) = be32(v >> 32) ++ be32(v & 0xffffffffL)
    def le32(v: Long) = be32(v).reverse
    def box(t: String, payload: Array[Byte]) =
      be32(8 + payload.length) ++ t.getBytes ++ payload
    val ftyp = box("ftyp", "isom".getBytes ++ be32(0))
    // mvhd v1 (64-bit duration), a free box BEFORE moov, and a trak
    // whose tkhd carries 1920×1080 in 16.16 fixed — the walk must
    // skip unknown boxes by size and handle the v1 field widths
    val mvhd1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0) ++
      be64(0) ++ be32(90000) ++ be64(450000) ++ Array.fill[Byte](80)(0))
    val tkhd0 = box("tkhd", Array[Byte](0, 0, 0, 0) ++
      Array.fill[Byte](72)(0) ++ be32(1920L << 16) ++ be32(1080L << 16))
    val mp4 = ftyp ++ box("free", Array.fill[Byte](6)(7)) ++
      box("moov", mvhd1 ++ box("trak", tkhd0))
    // AVI: 25 fps (40000 µs/frame), 250 frames → 10000 ms, 640×480
    val avih = "avih".getBytes ++ le32(56) ++ le32(40000) ++
      Array.fill[Byte](12)(0) ++ le32(250) ++ Array.fill[Byte](12)(0) ++
      le32(640) ++ le32(480) ++ Array.fill[Byte](16)(0)
    val hdrl = "LIST".getBytes ++ le32(4 + avih.length) ++
      "hdrl".getBytes ++ avih
    val avi = "RIFF".getBytes ++ le32(4 + hdrl.length) ++
      "AVI ".getBytes ++ hdrl
    val noMoov = ftyp ++ box("mdat", Array.fill[Byte](8)(1))
    val rows = Seq(
      ("mp4", mp4), ("avi", avi), ("nomoov", noMoov),
      ("mp4trunc", mp4.take(30)), ("avitrunc", avi.take(14)),
      ("garbage", Array.fill[Byte](32)(9)),
      ("empty", Array.empty[Byte]))
      .toDF("name", "payload")
      .selectExpr("name", "graft_video_meta(payload) AS m")
      .selectExpr("name", "m.format", "m.width", "m.height",
        "m.duration_ms")
      .collect()
      .map(r => r.getString(0) -> (Option(r.getString(1)),
        Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    // 450000 units at 90000/s = 5000 ms
    assert(rows("mp4") ==
      (Some("mp4"), Some(1920), Some(1080), Some(5000L)))
    assert(rows("avi") ==
      (Some("avi"), Some(640), Some(480), Some(10000L)))
    for (bad <- Seq("nomoov", "mp4trunc", "avitrunc", "garbage", "empty"))
      assert(rows(bad) == (None, None, None, None),
        s"$bad must quarantine as NULL, got ${rows(bad)}")
  }

  test("q254 video round trip: builder payloads parse to doc_id arithmetic, %23 corrupt to NULL") {
    val out = graft.queries.LlmQueries.videoMeta(spark,
      "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.length > 0)
    for (r <- rows) {
      val id = r.getLong(0)
      if (id % 23 == 0) assert(r.isNullAt(1), s"doc $id must be corrupt")
      else {
        // round-12 rotation: mp4 / avi / webm|mkv
        val fmt =
          if (id % 3 == 0) "mp4"
          else if (id % 3 == 1) "avi"
          else if (id % 2 == 0) "webm" else "mkv"
        assert(r.getString(1) == fmt, s"doc $id format")
        assert(r.getInt(2) == (id % 1280 + 16).toInt, s"doc $id width")
        assert(r.getInt(3) == (id % 720 + 16).toInt, s"doc $id height")
        val expectMs =
          if (id % 3 == 0) (id % 500 + 1) * 100
          else if (id % 3 == 1) (id % 1000 + 1) *
            Seq(16667L, 33333L, 40000L)(((id % 7) % 3).toInt) / 1000
          else (id % 900 + 1) * (id % 4 + 1)
        assert(r.getLong(4) == expectMs, s"doc $id duration")
      }
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), "probe fell out of whole-stage codegen")
  }

  test("q250 audio round trip: builder payloads parse to doc_id arithmetic, %29 corrupt to NULL") {
    val out = graft.queries.LlmQueries.audioMeta(spark,
      "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.length > 0)
    for (r <- rows) {
      val id = r.getLong(0)
      if (id % 29 == 0) assert(r.isNullAt(1), s"doc $id must be corrupt")
      else {
        // round-12 rotation: wav / flac / CBR mp3 / VBR mp3
        val fmt = Seq("wav", "flac", "mp3", "mp3")((id % 4).toInt)
        assert(r.getString(1) == fmt, s"doc $id format")
        val prate = Seq(8000, 16000, 44100, 48000)((id % 4).toInt)
        val mrate = Seq(44100, 48000, 32000)(((id % 5) % 3).toInt)
        assert(r.getInt(2) == (if (fmt == "mp3") mrate else prate))
        assert(r.getInt(3) == ((id % 3) % 2 + 1).toInt)
        val kbps = Seq(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
          224, 256, 320)((id % 14).toInt)
        val expectMs =
          if (id % 4 == 2) (kbps * (id % 5 + 1) + 4) * 8000 / (kbps * 1000)
          else if (id % 4 == 3) (id % 2000 + 100) * 1152 * 1000 / mrate
          else (id % 1000 + 1) * 441 * 1000 / prate
        assert(r.getLong(4) == expectMs, s"doc $id duration")
      }
    }
    // the probe stays inside whole-stage codegen (the `*(n)` span
    // marker) with no UDF fallback
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), "probe fell out of whole-stage codegen")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }
}
