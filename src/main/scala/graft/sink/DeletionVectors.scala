package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level DELETE without rewriting data — the Delta/Iceberg-v2
  * deletion-vector (merge-on-read) shape on open parquet.
  *
  * [[AtomicParquetSink.deleteWhere]] is copy-on-write at TABLE
  * granularity: deleting 100 rows from a 100 TB table rewrites 100 TB.
  * Here a DELETE only RECORDS the victims' row identities — the pair
  * (`_metadata.file_path`, `_metadata.row_index`), Spark's stable
  * parquet row identity, so no key column is needed and duplicate rows
  * delete independently — in a metadata-sized tombstone sidecar, and
  * reads anti-join against it (broadcast). Data files are untouched
  * until [[applyDeletes]] compacts ONLY the tombstoned files.
  *
  * Unlike the `_manifest`/`_bloom` sidecars (pure scan-skipping
  * optimizations — losing one costs extra reads, never wrong rows),
  * tombstones are CORRECTNESS-BEARING: a torn sidecar write must not
  * half-apply a delete. Commit protocol: tombstones live in monotone
  * GENERATIONS `_dv_g<N>/` (each holds the FULL accumulated set —
  * metadata-sized), a generation counts only once Spark's own
  * `_SUCCESS` marker exists, and readers serve the highest complete
  * generation. A crash mid-write leaves a markerless directory that
  * readers skip entirely, falling back to the previous generation —
  * the delete either committed or it didn't, never partially.
  *
  * Single-writer contract (like every sidecar here): the directory is
  * maintained through this API plus plain appends. Appends are safe by
  * construction — new files carry no tombstones. Rewriting or renaming
  * an EXISTING data file out-of-band would re-target its row indexes;
  * don't (the atomic-sink version swap is the transactional alternative
  * when that's needed).
  */
/** Observability hook for specs: how many files the last keyed
  * locate/fetch actually read — Some(n) when a bloom prune engaged
  * (n = surviving files), None when it fell back to the full scan.
  * Test-only; never consulted by the operators themselves. */
private[graft] object DvStats {
  @volatile var lastLocateFiles: Option[Int] = None
  @volatile var lastFetchFiles: Option[Int] = None
  /** How the last DV-aware read subtracted tombstones: "broadcast"
    * (gen-mode anti-join), "inscan" (per-file sidecar probe), None
    * (no tombstones). Test-only. */
  @volatile var lastReadMode: Option[String] = None
}

object DeletionVectors {

  private val GenPrefix = "_dv_g"
  /** tombstone sidecar schema */
  private val FileCol = "file"
  private val RowCol = "row_idx"
  /** temp column names for the read-side row identity (underscored to
    * stay clear of data columns) */
  private val RFile = "__dv_file"
  private val RRow = "__dv_row"

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Schema-resolved reads: every data read in this module flows
    * through these so an EVOLVED table ([[evolveAppend]]) presents
    * its full union schema — old files surface added columns as
    * NULL, sampled-footer schema roulette can't happen, and
    * compaction rewrites carry the union schema forward instead of
    * silently dropping evolved columns. One file stat per read;
    * never-evolved tables take the plain parquet path. */
  /** Inferred-schema memo for never-evolved dirs (optimization r18):
    * parquet schema inference launches one Spark job per
    * `spark.read.parquet` call, and the drain paths re-open the same
    * table several times per micro-batch. Appends through this module
    * are column-set-enforced ([[SchemaGuard.requireSameColumns]]) and
    * every schema-CHANGING op persists `_schema.json` — which the
    * stored-schema branch resolves BEFORE this memo — so a cached
    * inferred schema cannot go stale within the module's contract.
    * Keyed by dir; bounded (table dirs are few per session). */
  private val inferredSchema =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()

  private def inferredOf(spark: SparkSession, dir: String,
                         sample: Seq[String])
      : org.apache.spark.sql.types.StructType =
    inferredSchema.computeIfAbsent(dir, _ =>
      (if (sample.isEmpty) spark.read.parquet(dir)
       else spark.read.parquet(sample: _*)).schema)

  private def readDir(spark: SparkSession, dir: String): DataFrame =
    SchemaGuard.storedSchema(spark, dir) match {
      case Some(sc) =>
        spark.read.schema(SchemaGuard.visible(sc)).parquet(dir)
      case None =>
        spark.read.schema(inferredOf(spark, dir, Seq.empty)).parquet(dir)
    }

  private def readFiles(spark: SparkSession, dir: String,
                        files: Seq[String]): DataFrame =
    SchemaGuard.storedSchema(spark, dir) match {
      case Some(sc) =>
        spark.read.schema(SchemaGuard.visible(sc)).parquet(files: _*)
      case None =>
        spark.read.schema(inferredOf(spark, dir, files))
          .parquet(files: _*)
    }

  /** Optimized write (Delta's optimized-write stance): size an
    * append's file count from its KNOWN row count instead of letting
    * every trickle batch fragment into one-file-per-shuffle-partition
    * debris — a 1 500-row CDC batch under 32 shuffle partitions would
    * otherwise append 32 near-empty files, and every subsequent
    * sidecar fold, listing, and locate pays that fragmentation
    * forever (compaction exists, but not writing the debris beats
    * packing it later). `coalesce` only ever REDUCES partitions, so
    * large batches keep their parallelism.
    *
    * Sizing is BYTE-based, not row-based (review-caught: a fixed
    * 512 k-rows constant writes multi-GB files of a wide multimodal
    * row and ~10 MB files of a 3-column fact): rows-per-file derives
    * from the TABLE'S OWN observed bytes-per-row — parquet footer
    * record counts against listed file sizes, the same
    * metadata-only sampling [[compactIfNeeded]] already uses, so the
    * estimate reflects real post-encoding/compression width. The
    * estimate is cached per directory (a table's row width drifts
    * slowly, and the sizing is a heuristic — a stale estimate mis-
    * sizes a file, never corrupts one). First write into an empty
    * directory has nothing to observe and falls back to the row
    * heuristic; the second batch onward is byte-sized. */
  private val TargetFileBytes = 128L << 20
  private val FallbackRowsPerFile = 524288L
  private val bprCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Observed bytes/row of `dir`'s data files, from ≤4 largest files'
    * footer record counts (metadata-only). None when unobservable
    * (no files, zero rows, unreadable footer). */
  private def bytesPerRow(spark: SparkSession, dir: String): Option[Double] =
    Option(bprCache.get(dir)).map(_.doubleValue).orElse {
      val est = scala.util.Try {
        val fs = fsOf(spark, dir)
        val p = new Path(dir)
        if (!fs.exists(p)) None
        else {
          val conf = spark.sparkContext.hadoopConfiguration
          val samples = fs.listStatus(p).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")
              && !s.getPath.getName.startsWith("_"))
            .sortBy(-_.getLen).take(4)
          val (bytes, rows) = samples.foldLeft((0L, 0L)) { case ((b, r), s) =>
            val rd = LocalParquet.openFile(conf, s.getPath)
            val n = try rd.getRecordCount finally rd.close()
            (b + s.getLen, r + n)
          }
          if (rows > 0) Some(bytes.toDouble / rows) else None
        }
      }.toOption.flatten
      est.foreach(v => bprCache.put(dir, Double.box(v)))
      est
    }

  private[graft] def appendSized(df: DataFrame, rows: Long, dir: String,
                                 targetBytes: Long = TargetFileBytes): Unit = {
    if (rows == 0) return // a zero-row append would only add a
    // zero-row file for every sidecar fold to track forever
    val files = bytesPerRow(df.sparkSession, dir) match {
      case Some(bpr) =>
        math.max(1L, math.ceil(rows * bpr / targetBytes).toLong)
          .min(Int.MaxValue).toInt
      case None =>
        math.max(1L, (rows + FallbackRowsPerFile - 1)
          / FallbackRowsPerFile).toInt
    }
    df.coalesce(files).write.mode("append").parquet(dir)
  }

  /** The data rows plus their stable row identity. */
  private def withRowId(df: DataFrame): DataFrame =
    df.select(col("*"),
      col("_metadata.file_path").as(RFile),
      col("_metadata.row_index").as(RRow))

  /** Generation numbers under `dir` that are COMPLETE (carry the
    * `_SUCCESS` marker), ascending. */
  private def completeGens(spark: SparkSession, dir: String): Seq[Int] = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(GenPrefix))
      .flatMap(n => scala.util.Try(n.drop(GenPrefix.length).toInt).toOption)
      .filter(g => fs.exists(new Path(s"$dir/$GenPrefix$g/_SUCCESS")))
      .toSeq.sorted
  }

  /** Broadcast-regime ceiling: tombstone sets stay in full-set
    * `_dv_g<N>` generations (read = broadcast anti-join, write =
    * accumulate-and-rewrite — both fine while the set is
    * metadata-sized) until a commit would push the accumulated count
    * past this guard; that commit MIGRATES the table to the per-file
    * representation ([[DvPerFile]]), after which reads apply deletes
    * in-scan and delete batches rewrite only affected files'
    * sidecars. Settable per session for tests and tuning. */
  private[graft] val GuardConfKey = "graft.dv.broadcastMaxRows"
  private def broadcastGuard(spark: SparkSession): Long =
    spark.conf.getOption(GuardConfKey).map(_.toLong).getOrElse(4000000L)

  /** The table's per-file-mode commit ceiling, when migrated. */
  private def pfGen(spark: SparkSession, dir: String): Option[Int] =
    DvPerFile.committedGen(spark, dir)

  /** The current tombstone set — highest complete generation (or the
    * per-file store reconstructed, past the migration), or None when
    * no delete has ever committed. Mode-transparent for consumers;
    * maintenance paths use the per-file primitives directly. */
  def currentTombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    pfGen(spark, dir) match {
      case Some(ceil) => Some(DvPerFile.asDf(spark, dir, ceil))
      case None => completeGens(spark, dir).lastOption.flatMap { g =>
        Sidecars.readRaw(spark, dir, s"$GenPrefix$g", Seq(FileCol, RowCol))
      }
    }

  /** Commit `df` as the next tombstone generation, then GC every
    * generation older than the immediately-previous one (kept as a
    * grace copy for a reader that resolved it just before this
    * commit). Without the GC a long CDC stream accumulates one
    * directory per micro-batch forever — the listing cost would grow
    * without bound even though only the newest generation is ever
    * read. Deleting strictly-older generations is safe under the
    * module's single-writer contract: the new generation holds the
    * FULL accumulated set, so no reader ever needs an older one for
    * correctness. */
  private def commitGen(spark: SparkSession, dir: String,
                        df: DataFrame): Int = {
    val prev = completeGens(spark, dir)
    val gen = prev.lastOption.getOrElse(0) + 1
    // tombstones are metadata-sized: one part file keeps the
    // generation listing O(1)
    df.coalesce(1).write.parquet(s"$dir/$GenPrefix$gen")
    val fs = fsOf(spark, dir)
    prev.dropRight(1).foreach(g =>
      fs.delete(new Path(s"$dir/$GenPrefix$g"), true))
    gen
  }

  /** Accumulate `newTombs` into the next generation (full set = old ∪
    * new, deduplicated); returns the number of NEWLY tombstoned rows.
    * The write is committed by `_SUCCESS` — torn attempts are invisible
    * to readers.
    *
    * Past the migration to the per-file store this routes to
    * [[DvPerFile.mergeCommit]] — O(changed files), the accumulated
    * set is never read or rewritten again. The commit that CROSSES
    * [[GuardConfKey]] performs the one-time migration: it commits
    * the full-set generation as usual (so gen-mode readers mid-
    * flight stay correct), then writes the whole set per-file at the
    * same generation number and the per-file marker; every
    * subsequent read and write is per-file. */
  private def writeNextGen(spark: SparkSession, dir: String,
                           newTombs: DataFrame): Long = {
    pfGen(spark, dir) match {
      case Some(_) =>
        DvPerFile.mergeCommit(spark, dir,
          newTombs.select(col(FileCol), col(RowCol)))
      case None =>
        val prevGen = completeGens(spark, dir).lastOption
        val prev = prevGen.flatMap { g =>
          Sidecars.readRaw(spark, dir, s"$GenPrefix$g",
            Seq(FileCol, RowCol))
        }
        // prior count from parquet FOOTERS (the gen was written
        // distinct): one fewer Spark job per tombstone batch
        val prevN = prev match {
          case None => 0L
          case Some(_) => LocalParquet.footerRowCount(
            spark.sparkContext.hadoopConfiguration,
            Sidecars.partFiles(spark, dir, s"$GenPrefix${prevGen.get}"))
        }
        val all = prev.map(_.unionByName(newTombs)).getOrElse(newTombs)
          .select(col(FileCol), col(RowCol)).distinct()
        // ONE job per delete batch (optimization r18): write the
        // distinct union as the next generation FIRST, take n from
        // the written parquet FOOTERS — the count()-then-commitGen
        // shape paid a persist plus a separate count job per batch.
        // An empty delta (n == prevN: every victim already
        // tombstoned) deletes the just-written twin generation — its
        // content is the identical SET, so a reader that resolved it
        // in the window read the same tombstones.
        val gen = prevGen.getOrElse(0) + 1
        all.coalesce(1).write.parquet(s"$dir/$GenPrefix$gen")
        val n = LocalParquet.footerRowCount(
          spark.sparkContext.hadoopConfiguration,
          Sidecars.partFiles(spark, dir, s"$GenPrefix$gen"))
        val fs = fsOf(spark, dir)
        if (n == prevN) {
          fs.delete(new Path(s"$dir/$GenPrefix$gen"), true)
        } else {
          // GC every generation older than the grace copy (the
          // immediately-previous one) — commitGen's contract
          completeGens(spark, dir)
            .filterNot(g => g == gen || prevGen.contains(g))
            .foreach(g =>
              fs.delete(new Path(s"$dir/$GenPrefix$g"), true))
          if (n > broadcastGuard(spark))
            DvPerFile.migrate(spark, dir,
              Sidecars.readRaw(spark, dir, s"$GenPrefix$gen",
                Seq(FileCol, RowCol)).get, gen, n)
        }
        n - prevN
    }
  }

  /** DELETE WHERE `cond` — records tombstones, touches NO data file.
    * SQL DELETE semantics: a NULL predicate keeps the row. Returns the
    * number of newly deleted rows. Locate cost is one table scan; use
    * [[deleteByKeys]] when a bloom sidecar can prune the scan. */
  def deleteWhere(spark: SparkSession, dir: String, cond: Column): Long = {
    val victims = withRowId(readDir(spark, dir))
      .filter(coalesce(cond, lit(false)))
      .select(col(RFile).as(FileCol), col(RRow).as(RowCol))
    writeNextGen(spark, dir, victims)
  }

  /** DELETE WHERE `cond`, locating victims only inside the files whose
    * manifest box intersects `box` — the range-predicate twin of
    * [[deleteByKeys]]'s bloom-pruned locate: on a Z-ordered table the
    * locate cost is O(intersecting files), not O(table). `cond` MUST
    * imply the box (rows matching `cond` outside it would survive);
    * the box only SKIPS files, so any cond⊆box is exact. Falls back
    * to the full locate scan when no fresh manifest exists. */
  def deleteWhereInBox(spark: SparkSession, dir: String,
                       box: Seq[(String, Column, Column)],
                       cond: Column): Long = {
    require(box.nonEmpty, "empty box")
    val files = scala.util.Try(ZOrderLayout.survivingFilesN(
      ZOrderLayout.manifestN(spark, dir, box.map(_._1)), box)).toOption
    val src = files match {
      case Some(fs) if fs.isEmpty => return 0L // no file intersects
      case Some(fs) => readFiles(spark, dir, fs)
      case None     => readDir(spark, dir)
    }
    val victims = withRowId(src)
      .filter(coalesce(cond, lit(false)))
      .select(col(RFile).as(FileCol), col(RRow).as(RowCol))
    writeNextGen(spark, dir, victims)
  }

  /** DELETE by key values, locating victims through the
    * `_bloom_<keyCol>` sidecar when present: only may-contain files are
    * scanned, so the locate cost is O(matched files), not O(table) —
    * the merge-on-read DELETE a 100 TB keyed table needs. Falls back to
    * the full locate scan when no fresh sidecar exists. */
  def deleteByKeys(spark: SparkSession, dir: String, keyCol: String,
                   values: Seq[Column]): Long = {
    require(values.nonEmpty, "empty delete key set")
    // probe only behind a FRESH sidecar — the survivingFiles fallback
    // would pay a full scan to build a throwaway bloom and then read
    // the surviving files again (strictly worse than one locate scan)
    val files =
      if (scala.util.Try(BloomSkipIndex
            .hasFreshSidecar(spark, dir, keyCol)).getOrElse(false))
        Some(BloomSkipIndex.survivingFiles(spark, dir, keyCol, values))
      else None
    val src = files match {
      case Some(fs) if fs.isEmpty => return 0L // no file may contain a victim
      case Some(fs) => readFiles(spark, dir, fs)
      case None     => readDir(spark, dir)
    }
    val victims = withRowId(src)
      .filter(values.map(col(keyCol) === _).reduce(_ || _))
      .select(col(RFile).as(FileCol), col(RRow).as(RowCol))
    writeNextGen(spark, dir, victims)
  }

  /** DELETE every row whose `keyCol` appears in `keys` (a DataFrame —
    * the form a CDC micro-batch's delete set arrives in).
    * Tombstone-only, no data rewrite. When a fresh `_bloom_<keyCol>`
    * sidecar exists the locate scans only may-contain files — via
    * driver-side probe literals for small key sets (≤256 after dedup)
    * and via [[BloomSkipIndex.survivingFilesForKeyDf]]'s distributed
    * probe for anything larger — so locate stays O(matched files) for
    * ANY batch size; without a sidecar it is one full table scan per
    * call (maintain the sidecar on tables that take frequent keyed
    * batches). On the small path BOTH the file prune and the victim
    * predicate are built from the one collected sample, so a
    * non-deterministic `keys` plan (sample/rand upstream) can never
    * make the probe and the delete disagree on the key set; the large
    * path pins `keys` by persisting it across probe and locate. */
  def deleteByKeyDf(spark: SparkSession, dir: String, keyCol: String,
                    keys: DataFrame): Long = {
    val k = keys.select(col(keyCol)).distinct().persist()
    try {
      // ONE capped collect decides the probe path AND captures the
      // probe values: ≤256 distinct keys → driver-side bloom probe
      // material; 257 rows back → too many, distributed probe. (A
      // separate count() would cost an extra job per CDC micro-batch.)
      val sample = k.limit(257).collect()
      if (sample.isEmpty) return 0L
      // probe paths ONLY behind a fresh sidecar: survivingFiles'
      // fallback would full-scan to build a throwaway bloom and then
      // scan the surviving files again — strictly worse than the one
      // plain locate scan (review-caught)
      val fresh = scala.util.Try(BloomSkipIndex
        .hasFreshSidecar(spark, dir, keyCol)).getOrElse(false)
      if (sample.length <= 256) {
        val dt = keys.schema(keyCol).dataType
        val vals = sample.map(r => lit(r.get(0)).cast(dt)).toSeq
        val src =
          if (fresh) {
            val fls = BloomSkipIndex.survivingFiles(spark, dir, keyCol, vals)
            DvStats.lastLocateFiles = Some(fls.length)
            if (fls.isEmpty) return 0L
            readFiles(spark, dir, fls)
          } else { DvStats.lastLocateFiles = None; readDir(spark, dir) }
        // victim predicate from the SAME sample the prune used
        val victims = withRowId(src)
          .filter(vals.map(col(keyCol) === _).reduce(_ || _))
          .select(col(RFile).as(FileCol), col(RRow).as(RowCol))
        writeNextGen(spark, dir, victims)
      } else {
        val src =
          if (fresh) {
            val fls = BloomSkipIndex
              .survivingFilesForKeyDf(spark, dir, keyCol, k)
            DvStats.lastLocateFiles = Some(fls.length)
            if (fls.isEmpty) return 0L
            readFiles(spark, dir, fls)
          } else { DvStats.lastLocateFiles = None; readDir(spark, dir) }
        val victims = withRowId(src)
          .join(broadcast(k), Seq(keyCol), "left_semi")
          .select(col(RFile).as(FileCol), col(RRow).as(RowCol))
        writeNextGen(spark, dir, victims)
      }
    } finally k.unpersist()
  }

  /** DV-aware fetch of the VISIBLE rows whose `keyCol` may appear in
    * `keys` — the "old images of exactly these keys" primitive a
    * streaming merge's pre-image lookup needs
    * ([[graft.streaming.StreamMorGold]]): bloom-pruned to may-contain
    * files when a fresh `_bloom_<keyCol>` sidecar exists (distributed
    * probe — any key-set size), tombstone anti-join hides deleted
    * rows, then a broadcast semi-join closes to exactly the requested
    * keys. O(batch + matched files), never O(table), on a maintained
    * table; degrades to one full scan without the sidecar. */
  def visibleByKeyDf(spark: SparkSession, dir: String, keyCol: String,
                     keys: DataFrame): DataFrame = {
    val k = keys.select(col(keyCol)).distinct()
    val src =
      if (scala.util.Try(BloomSkipIndex
            .hasFreshSidecar(spark, dir, keyCol)).getOrElse(false)) {
        val fls = BloomSkipIndex.survivingFilesForKeyDf(spark, dir, keyCol, k)
        DvStats.lastFetchFiles = Some(fls.length)
        if (fls.isEmpty) readDir(spark, dir).limit(0)
        else readFiles(spark, dir, fls)
      } else { DvStats.lastFetchFiles = None; readDir(spark, dir) }
    minusTombstones(spark, dir, src)
      .join(broadcast(k), Seq(keyCol), "left_semi")
  }

  /** `data` (a scan of `dir`) with its `_metadata` row identity
    * attached and the tombstoned rows removed, identity columns KEPT
    * — the shared kernel of every DV-aware read/locate:
    *
    *   - per-file mode: IN-SCAN probe — a codegen'd predicate binary-
    *     searches each row's index in its file's sidecar, loaded
    *     per-executor for only the files that executor scans
    *     ([[DvPerFile.deletedColumn]]). No broadcast, no shuffle, no
    *     ceiling on the total tombstone count;
    *   - gen mode: broadcast anti-join of the (metadata-sized) full
    *     set — each row pays a hash probe, nothing shuffles. */
  private def visibleWithRowId(spark: SparkSession, dir: String,
                               data: DataFrame): DataFrame =
    pfGen(spark, dir) match {
      case Some(ceil) =>
        DvStats.lastReadMode = Some("inscan")
        withRowId(data).filter(!DvPerFile.deletedColumn(spark, dir, ceil,
          col(RFile), col(RRow)))
      case None =>
        currentTombstones(spark, dir) match {
          case None =>
            DvStats.lastReadMode = None
            withRowId(data)
          case Some(t) =>
            DvStats.lastReadMode = Some("broadcast")
            withRowId(data).join(broadcast(t),
              col(RFile) === col(FileCol) && col(RRow) === col(RowCol),
              "left_anti")
        }
    }

  /** Subtract the current tombstones from `data` (rows carrying their
    * `_metadata` identity) — [[visibleWithRowId]] minus the identity
    * columns. */
  private def minusTombstones(spark: SparkSession, dir: String,
                              data: DataFrame): DataFrame =
    if (pfGen(spark, dir).isEmpty &&
        completeGens(spark, dir).isEmpty) { // never deleted: plain scan
      DvStats.lastReadMode = None
      data
    } else visibleWithRowId(spark, dir, data).drop(RFile, RRow)

  /** DV-aware read: the table minus its tombstoned rows. The tombstone
    * set is metadata-sized, so the anti-join broadcasts — each data row
    * pays a hash probe, no shuffle of the table. */
  def read(spark: SparkSession, dir: String): DataFrame =
    minusTombstones(spark, dir, readDir(spark, dir))

  /** TOMBSTONE time travel: read as of the PREVIOUS generation — the
    * reader-grace snapshot [[commitGen]]/[[vacuumTombstones]]
    * deliberately retain — i.e. with the NEWEST delete batch
    * un-applied. Scope is honest and narrow: only tombstones are
    * versioned here, so rows APPENDED after the previous generation
    * committed are still visible, and a compaction that rewrote files
    * since then invalidates the older generation's row addresses
    * (fails loud via the zero-match guard below rather than
    * resurrecting wrong rows). Full snapshot time travel is the
    * atomic sink's version pointer (q159); this is the cheap
    * last-delete undo window the grace copy already pays for. */
  def readPreviousGen(spark: SparkSession, dir: String): DataFrame = {
    pfGen(spark, dir) match {
      case Some(ceil) =>
        // per-file mode: "previous generation" = each file's best
        // sidecar ≤ ceil−1 (the grace copies [[DvPerFile]]'s GC
        // retains). The ceiling must itself have a per-file
        // predecessor — a grace window reaching back across the
        // migration would mix representations, so fail loud there.
        val fsys = fsOf(spark, dir)
        require(fsys.exists(
          new Path(DvPerFile.pfDir(dir), s"_commit.g${ceil - 1}")),
          s"readPreviousGen: per-file ceiling $ceil has no per-file " +
            "predecessor — the grace window predates the migration")
        val prevFiles = DvPerFile.countsByFile(spark, dir, ceil - 1).keys
        val live = Sidecars.dataFileNames(spark, dir)
        val dead = prevFiles
          .map(f => new Path(new java.net.URI(f)).getName)
          .filterNot(live.contains).toSeq
        require(dead.isEmpty,
          s"readPreviousGen: ${dead.length} file(s) of the previous " +
            "generation were rewritten since (compaction) — the grace " +
            "snapshot is gone; use the atomic sink for full time travel")
        return withRowId(readDir(spark, dir))
          .filter(!DvPerFile.deletedColumn(spark, dir, ceil - 1,
            col(RFile), col(RRow)))
          .drop(RFile, RRow)
      case None => ()
    }
    val gens = completeGens(spark, dir)
    require(gens.length >= 2,
      s"readPreviousGen: ${gens.length} generation(s) in $dir — " +
        "the grace window needs a previous one")
    val prev = Sidecars.readRaw(spark, dir, s"$GenPrefix${gens(gens.length - 2)}",
      Seq(FileCol, RowCol)).getOrElse(
      throw new IllegalStateException(
        s"readPreviousGen: generation ${gens(gens.length - 2)} unreadable"))
    // zero-match guard: a compaction since the previous generation
    // rewrote files its tombstones address — those addresses no longer
    // pin the same rows, so fail loud instead of resurrecting
    val live = fsOf(spark, dir).listStatus(new Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val dead = prev.select(col(FileCol)).distinct().collect()
      .map(r => new Path(r.getString(0)).getName)
      .filterNot(live.contains)
    require(dead.isEmpty,
      s"readPreviousGen: ${dead.length} file(s) of the previous " +
        "generation were rewritten since (compaction) — the grace " +
        "snapshot is gone; use the atomic sink for full time travel")
    withRowId(readDir(spark, dir))
      .join(broadcast(prev),
        col(RFile) === col(FileCol) && col(RRow) === col(RowCol),
        "left_anti")
      .drop(RFile, RRow)
  }

  /** Bloom-pruned point lookup THROUGH the deletion vectors: the
    * metadata sidecars and the tombstones compose — bloom-surviving
    * files only, then the anti-join hides deleted rows, then the exact
    * predicate. Reading a DV'd table via [[BloomSkipIndex
    * .prunedPointScan]] directly would RESURRECT tombstoned rows
    * (skipping sidecars are over-inclusive by design, never
    * row-subtractive); every read of a DV'd directory must flow
    * through this module. */
  def prunedPointScan(spark: SparkSession, dir: String, keyCol: String,
                      values: Seq[Column]): DataFrame = {
    require(values.nonEmpty, "empty probe set")
    val files = BloomSkipIndex.survivingFiles(spark, dir, keyCol, values)
    val src =
      if (files.isEmpty) readDir(spark, dir).limit(0)
      else readFiles(spark, dir, files)
    minusTombstones(spark, dir, src)
      .filter(values.map(col(keyCol) === _).reduce(_ || _))
  }

  /** Manifest-pruned box scan THROUGH the deletion vectors: the
    * Z-order `_manifest` sidecar prunes to intersecting files, the
    * tombstone anti-join hides deleted rows, then the exact box
    * predicate applies. Reading a DV'd directory via [[ZOrderLayout
    * .prunedBoxScanN]] directly would RESURRECT tombstoned rows (the
    * manifest is over-inclusive by design, never row-subtractive) —
    * same composition rule as [[prunedPointScan]]: every read of a
    * DV'd directory flows through this module. Cost: two
    * metadata-sized sidecar reads + the surviving data files + a
    * broadcast hash probe per row. */
  def prunedBoxScan(spark: SparkSession, dir: String,
                    box: Seq[(String, Column, Column)]): DataFrame = {
    require(box.nonEmpty, "empty box")
    val mf = ZOrderLayout.manifestN(spark, dir, box.map(_._1))
    val files = ZOrderLayout.survivingFilesN(mf, box)
    val src =
      if (files.isEmpty) readDir(spark, dir).limit(0)
      else readFiles(spark, dir, files)
    minusTombstones(spark, dir, src)
      .filter(box.map { case (d, lo, hi) =>
        col(d) >= lo && col(d) <= hi
      }.reduce(_ && _))
  }

  /** Composite-pruned scan ("these keys, inside this box") THROUGH
    * the deletion vectors: [[CompositeSkip.survivingFiles]]'s
    * manifest∧bloom intersection picks the files, the tombstone
    * anti-join hides deleted rows, then the exact predicates apply.
    * Same composition rule as [[prunedPointScan]]/[[prunedBoxScan]]:
    * sidecar pruning is file-subtractive only, never row-subtractive,
    * so every read of a DV'd directory flows through this module. */
  def prunedCompositeScan(spark: SparkSession, dir: String,
                          box: Seq[(String, Column, Column)],
                          keyCol: String,
                          values: Seq[Column]): DataFrame = {
    require(box.nonEmpty && values.nonEmpty, "empty box or probe set")
    val files = CompositeSkip.survivingFiles(spark, dir, box, keyCol, values)
    val src =
      if (files.isEmpty) readDir(spark, dir).limit(0)
      else readFiles(spark, dir, files)
    minusTombstones(spark, dir, src)
      .filter(box.map { case (d, lo, hi) =>
        col(d) >= lo && col(d) <= hi
      }.reduce(_ && _))
      .filter(values.map(col(keyCol) === _).reduce(_ || _))
  }

  /** Compact deletes into the data: rewrite ONLY the tombstoned files
    * (read → anti-join → staged write → swap in), leaving untouched
    * files alone, then commit an EMPTY tombstone generation. Returns
    * the number of files rewritten. O(affected files), never O(table) —
    * Delta's DV-aware OPTIMIZE.
    *
    * Crash windows on a plain (non-transactional) directory, in order:
    * staging is underscore-hidden (invisible); after old-file deletes
    * but before the staged moves, surviving rows of affected files are
    * temporarily ABSENT (recoverable from staging) — rows are never
    * duplicated and deletes never resurrect, in any window; after the
    * moves, the stale generation only holds dangling tombstones
    * (files that no longer exist — anti-join no-ops, harmless). The
    * atomic-sink version swap ([[Compaction.zorderCompact]] shape) is
    * the zero-window alternative. */
  def applyDeletes(spark: SparkSession, dir: String): Int =
    pfGen(spark, dir) match {
      case Some(ceil) =>
        // per-file mode: the affected list and each file's tombstones
        // come straight from the sidecars (header/sidecar reads, no
        // full-set reconstruction); rewrites run in ≤64-file rounds so
        // the per-round anti-join broadcast stays bounded no matter
        // how many files accumulated tombstones
        val affected = DvPerFile.countsByFile(spark, dir, ceil)
          .keys.toSeq.sorted
        if (affected.isEmpty) return 0
        affected.grouped(64).foreach { grp =>
          val names = grp.map(f => new Path(new java.net.URI(f)).getName)
            .toSet
          val t = DvPerFile.tombstonesOfFiles(spark, dir, ceil,
            Some(names))
          rewriteFiles(spark, dir, grp, t)
          DvPerFile.retire(spark, dir, names)
        }
        DvPerFile.commitAfterRetire(spark, dir,
          affected.map(f => new Path(new java.net.URI(f)).getName).toSet)
        affected.length
      case None =>
        val t = currentTombstones(spark, dir).getOrElse(return 0).persist()
        val affected = t.select(FileCol).distinct().collect()
          .map(_.getString(0)).sorted
        if (affected.isEmpty) { t.unpersist(); return 0 }
        rewriteFiles(spark, dir, affected.toSeq, t)
        t.unpersist()
        // empty next generation — the slate is clean
        commitGen(spark, dir, t.limit(0))
        affected.length
    }

  /** Ratio-triggered MoR compaction — the scheduler [[applyDeletes]]
    * lacks: under a long CDC stream every micro-batch tombstones a few
    * rows, and without a trigger either nobody compacts (read
    * amplification grows without bound: every read anti-joins an
    * ever-larger tombstone set against ever-deader files) or every
    * batch compacts (write amplification: rewriting a file to drop 1
    * row of 1M). Rewrite ONLY files whose tombstoned-row fraction
    * exceeds `maxDeleteRatio` (Delta's OPTIMIZE trigger shape);
    * lightly-tombstoned files stay merge-on-read. Per-file row totals
    * come from parquet footers — a driver-side metadata read per
    * affected file, O(affected), no data scan. The next tombstone
    * generation keeps the NOT-compacted files' entries, so partial
    * compaction never un-deletes anything. Returns the number of files
    * rewritten.
    *
    * Invariant a caller can rely on (spec-enforced): after
    * compactIfNeeded, every live tombstone points at a file whose
    * delete fraction is < maxDeleteRatio — i.e. read amplification is
    * bounded by the threshold no matter how long the stream runs. */
  def compactIfNeeded(spark: SparkSession, dir: String,
                      maxDeleteRatio: Double = 0.1): Int = {
    require(maxDeleteRatio > 0 && maxDeleteRatio <= 1,
      s"maxDeleteRatio must be in (0,1], got $maxDeleteRatio")
    val conf = spark.sparkContext.hadoopConfiguration
    val fsys = fsOf(spark, dir)
    def ratioDue(perFile: Map[String, Long]): Seq[String] =
      perFile.keys.toSeq.sorted.filter { f =>
        val p = new Path(new java.net.URI(f))
        // a tombstone can reference a vanished file (crash window of a
        // prior rewrite before its generation committed) — skip it, the
        // anti-join no-ops on dangling entries and vacuumTombstones
        // retires them; throwing here would wedge a compactRatio stream
        // on every replay
        fsys.exists(p) && {
          val rows = LocalParquet.openFile(conf, p)
          val n = try rows.getRecordCount finally rows.close()
          n > 0 && perFile(f).toDouble / n >= maxDeleteRatio
        }
      }
    pfGen(spark, dir) match {
      case Some(ceil) =>
        // per-file mode: per-file counts are sidecar HEADER reads —
        // O(tombstoned files) metadata, never a full-set scan; only
        // the due files' sidecars are materialized for the rewrite,
        // and untouched files simply keep theirs (no carry-forward
        // rewrite of the accumulated set)
        val perFile = DvPerFile.countsByFile(spark, dir, ceil)
        if (perFile.isEmpty) return 0
        val due = ratioDue(perFile)
        if (due.isEmpty) return 0
        due.grouped(64).foreach { grp =>
          val names = grp.map(f => new Path(new java.net.URI(f)).getName)
            .toSet
          rewriteFiles(spark, dir, grp,
            DvPerFile.tombstonesOfFiles(spark, dir, ceil, Some(names)))
          DvPerFile.retire(spark, dir, names)
        }
        DvPerFile.commitAfterRetire(spark, dir,
          due.map(f => new Path(new java.net.URI(f)).getName).toSet)
        due.length
      case None =>
        val t = currentTombstones(spark, dir).getOrElse(return 0).persist()
        val perFile = t.groupBy(FileCol).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        if (perFile.isEmpty) { t.unpersist(); return 0 }
        val due = ratioDue(perFile)
        if (due.isEmpty) { t.unpersist(); return 0 }
        rewriteFiles(spark, dir, due, t.filter(col(FileCol).isInCollection(due)))
        // carry forward tombstones of files we did NOT rewrite
        commitGen(spark, dir, t.filter(!col(FileCol).isInCollection(due)))
        t.unpersist()
        due.length
    }
  }

  /** Small-file compaction, DV-aware — the OTHER read-amplification a
    * long MoR stream accrues: every micro-batch appends its own file
    * set, so after 10k trickle batches the table is 10k tiny files
    * (listing, footer, and task-scheduling overhead per file) even if
    * no tombstone ratio ever trips [[compactIfNeeded]]. Bin-pack every
    * data file smaller than `smallBytes` into ~`targetBytes` outputs:
    * read the victims THROUGH their tombstones (a raw rewrite would
    * resurrect deleted rows), write the packed replacements, drop the
    * victims and retire their tombstone entries. O(small files), never
    * O(table); large files are untouched. Returns the number of files
    * compacted away. Delta's OPTIMIZE bin-packing compaction on the
    * open-parquet MoR layout.
    *
    * Same crash windows as [[applyDeletes]] (staged write, then
    * delete+rename commit): rows are never duplicated and deletes
    * never resurrect in any window. */
  def compactSmallFiles(spark: SparkSession, dir: String,
                        smallBytes: Long = 8L << 20,
                        targetBytes: Long = 128L << 20): Int = {
    require(smallBytes > 0 && targetBytes >= smallBytes,
      s"need 0 < smallBytes <= targetBytes, got $smallBytes/$targetBytes")
    val fs = fsOf(spark, dir)
    val small = fs.listStatus(new Path(dir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")
        && !s.getPath.getName.startsWith("_")
        && s.getLen < smallBytes)
    if (small.size < 2) return 0 // nothing to pack
    val files = small.map(_.getPath.toString).sorted
    val nOut = math.max(1,
      math.ceil(small.map(_.getLen).sum.toDouble / targetBytes).toInt)
    // read the victims through their tombstones; repack into nOut files
    val staging = s"$dir/_dv_pack_tmp"
    minusTombstones(spark, dir, readFiles(spark, dir, files))
      .repartition(nOut)
      .write.mode("overwrite").parquet(staging)
    val gen = completeGens(spark, dir).lastOption.getOrElse(0)
    files.foreach { f => fs.delete(new Path(new java.net.URI(f)), false) }
    fs.listStatus(new Path(staging)).iterator
      .filter(_.isFile).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .foreach { p =>
        fs.rename(p, new Path(s"$dir/packed-g$gen-${p.getName}"))
      }
    fs.delete(new Path(staging), true)
    // retire the compacted files' tombstone entries — compare on file
    // NAME (scheme/authority spellings differ between
    // `_metadata.file_path` and the listing, cf. vacuumTombstones)
    pfGen(spark, dir) match {
      case Some(_) =>
        val names = files.map(f => new Path(f).getName).toSet
        DvPerFile.retire(spark, dir, names)
        DvPerFile.commitAfterRetire(spark, dir, names)
      case None =>
        currentTombstones(spark, dir).foreach { ts =>
          val names = files.map(f => new Path(f).getName)
          commitGen(spark, dir,
            ts.filter(!udfFreeName(col(FileCol)).isInCollection(names)))
        }
    }
    files.size
  }

  /** Staged rewrite of `files` minus their tombstones in `t` (which
    * must cover exactly those files). Crash-window characteristics as
    * documented on [[applyDeletes]]. */
  private def rewriteFiles(spark: SparkSession, dir: String,
                           files: Seq[String], t: DataFrame): Unit = {
    val gen = completeGens(spark, dir).lastOption.getOrElse(0)
    val staging = s"$dir/_dv_apply_tmp"
    // keep rows of one old file together (≈ preserves any clustering):
    // hash-repartition on the source file before the staged write
    val staged = withRowId(readFiles(spark, dir, files))
      .join(broadcast(t),
        col(RFile) === col(FileCol) && col(RRow) === col(RowCol),
        "left_anti")
      .repartition(files.length, col(RFile))
      .drop(RFile, RRow)
    staged.write.mode("overwrite").parquet(staging)
    val fs = fsOf(spark, dir)
    // commit: drop the old files, then move the staged parts in under
    // fresh (generation-stamped) names
    files.foreach { f => fs.delete(new Path(new java.net.URI(f)), false) }
    val parts = fs.listStatus(new Path(staging)).iterator
      .filter(_.isFile).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    parts.foreach { p =>
      fs.rename(p, new Path(s"$dir/applied-g$gen-${p.getName}"))
    }
    fs.delete(new Path(staging), true)
  }

  /** Drop tombstones whose file no longer exists in the listing
    * (left dangling by [[applyDeletes]] or a compaction) and stale
    * generations older than the PREVIOUS one. Compares on file NAME —
    * scheme/authority spellings differ between `_metadata.file_path`
    * and the listing. Pure metadata maintenance; reads are already
    * correct without it. The immediately-previous generation (the one
    * that was current when vacuum started) survives as the grace copy
    * — same reader-grace argument as [[commitGen]]: a reader that
    * resolved the generation list just before the vacuum commits must
    * still find the directory it resolved (review-caught: the old
    * delete-everything behavior was the module's one exception to its
    * own grace rule). */
  def vacuumTombstones(spark: SparkSession, dir: String): Unit =
    pfGen(spark, dir) match {
      case Some(ceil) =>
        // per-file mode: a dangling entry is a whole dangling SIDECAR
        // (its data file vanished under a compaction) — drop those
        // files' sidecars, metadata-only, and advance the marker
        val live = Sidecars.dataFileNames(spark, dir)
        val dead = DvPerFile.countsByFile(spark, dir, ceil).keys
          .map(f => new Path(new java.net.URI(f)).getName)
          .filterNot(live.contains).toSet
        if (dead.nonEmpty) {
          DvPerFile.retire(spark, dir, dead)
          DvPerFile.commitAfterRetire(spark, dir, dead)
        }
      case None =>
        val t = currentTombstones(spark, dir).getOrElse(return)
        val live = Sidecars.dataFileNames(spark, dir)
        val nameOf = udfFreeName(col(FileCol))
        val kept = t.filter(nameOf.isInCollection(live))
        val gens = completeGens(spark, dir)
        val gen = gens.lastOption.getOrElse(0)
        kept.coalesce(1).write.parquet(s"$dir/$GenPrefix${gen + 1}")
        val fs = fsOf(spark, dir)
        gens.dropRight(1).foreach(g =>
          fs.delete(new Path(s"$dir/$GenPrefix$g"), true))
    }

  /** One maintenance pass over a long-lived MoR table, in the safe
    * order — the single call a table-service cron runs between (never
    * under) stream batches:
    *
    *   1. [[compactIfNeeded]]: rewrite files whose tombstoned
    *      fraction crossed `maxDeleteRatio` (bounds read
    *      amplification from deletes);
    *   2. [[compactSmallFiles]]: bin-pack sub-`smallBytes` files
    *      (bounds listing/footer/task amplification from trickle
    *      appends);
    *   3. [[vacuumTombstones]]: retire entries dangling at files the
    *      compactions removed (keeps the reader-grace generation);
    *   4. refold every `_bloom_*` sidecar and the `_manifest` sidecar
    *      against the post-compaction listing (O(rewritten files)),
    *      so the next pruned read serves from fresh metadata instead
    *      of paying the staleness fallback.
    *
    * Each step is independently safe between batches (documented on
    * the respective methods); ordering matters only for EFFICIENCY —
    * folding before compacting would fold twice. Returns
    * (filesCompacted, filesPacked). */
  def maintain(spark: SparkSession, dir: String,
               maxDeleteRatio: Double = 0.1,
               smallBytes: Long = 8L << 20,
               targetBytes: Long = 128L << 20): (Int, Int) = {
    val compacted = compactIfNeeded(spark, dir, maxDeleteRatio)
    val packed = compactSmallFiles(spark, dir, smallBytes, targetBytes)
    vacuumTombstones(spark, dir)
    BloomSkipIndex.foldAllBloomSidecars(spark, dir)
    ZOrderLayout.foldManifestSidecar(spark, dir)
    (compacted, packed)
  }

  /** Last path segment of a path/URI string, as a Column (no UDF). */
  private def udfFreeName(c: Column): Column =
    element_at(split(c, "/"), -1)

  /** See [[SchemaGuard.requireSameColumns]] — shared by every append
    * path onto a plain parquet directory. */
  private[graft] def requireSameColumns(spark: SparkSession, dir: String,
                                        batch: DataFrame,
                                        who: String): Unit =
    SchemaGuard.requireSameColumns(spark, dir, batch, who)

  /** Merge-on-read UPDATE (Delta's DV-backed UPDATE shape): tombstone
    * the matched rows and append their updated images — O(matched),
    * no table rewrite, vs [[AtomicParquetSink.updateWhere]]'s
    * full-snapshot copy-on-write. SQL UPDATE's SIMULTANEOUS assignment
    * semantics (every right-hand side reads the ORIGINAL row); a NULL
    * predicate matches nothing. The match runs on the DV-AWARE view —
    * an already-deleted row must not resurrect as an updated image.
    * Returns the number of updated rows.
    *
    * Crash window (plain, non-transactional dir): tombstones commit
    * first, images append second — a crash between the two leaves the
    * matched rows temporarily ABSENT (retry completes the update);
    * rows are never duplicated. The atomic-sink version swap is the
    * zero-window alternative. */
  def updateWhere(spark: SparkSession, dir: String, cond: Column,
                  assignments: Map[String, Column]): Long = {
    val cur = readDir(spark, dir)
    val unknown = assignments.keySet -- cur.columns.toSet
    require(unknown.isEmpty,
      s"updateWhere: no such column(s) $unknown in ${cur.columns.toSeq}")
    // keep the row identity through the DV filter: subtract BEFORE
    // dropping the id columns (`_metadata` only resolves on the scan)
    val visible = visibleWithRowId(spark, dir, cur)
    val matched = visible
      .filter(coalesce(cond, lit(false)))
      .persist()
    val n = matched.count()
    if (n > 0) {
      writeNextGen(spark, dir,
        matched.select(col(RFile).as(FileCol), col(RRow).as(RowCol)))
      val images = matched.select(cur.columns.toSeq.map { c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))
      }: _*)
      appendSized(images, n, dir)
    }
    matched.unpersist()
    n
  }

  /** Merge-on-read UPDATE restricted to a KEY SET (the per-key twin
    * of [[updateWhere]], for CDC-shaped "update exactly these keys"
    * mutations): tombstone the visible rows whose `keyCol` appears in
    * `keys` AND satisfy `cond`, append their updated images. The
    * locate goes through the `_bloom_<keyCol>` sidecar when fresh
    * (driver probe ≤256 keys, distributed probe beyond — the
    * [[deleteByKeyDf]] paths), so the cost is O(batch + matched
    * files), not O(table). Same SIMULTANEOUS-assignment semantics and
    * crash window as [[updateWhere]] (tombstones commit first, images
    * append second; a retry completes the update; rows are never
    * duplicated). Returns the number of updated rows. */
  def updateByKeyDf(spark: SparkSession, dir: String, keyCol: String,
                    keys: DataFrame, cond: Column,
                    assignments: Map[String, Column]): Long = {
    val curCols = readDir(spark, dir).columns.toSeq
    val unknown = assignments.keySet -- curCols.toSet
    require(unknown.isEmpty,
      s"updateByKeyDf: no such column(s) $unknown in $curCols")
    val k = keys.select(col(keyCol)).distinct().persist()
    try {
      val sample = k.limit(257).collect()
      if (sample.isEmpty) return 0L
      val fresh = scala.util.Try(BloomSkipIndex
        .hasFreshSidecar(spark, dir, keyCol)).getOrElse(false)
      val dt = keys.schema(keyCol).dataType
      // pruned source + a key predicate built from the SAME material
      // the prune used (the deleteByKeyDf determinism rule)
      val (src, keyPred: Column) =
        if (sample.length <= 256) {
          val vals = sample.map(r => lit(r.get(0)).cast(dt)).toSeq
          val s0 =
            if (fresh) {
              val fls = BloomSkipIndex.survivingFiles(spark, dir, keyCol, vals)
              if (fls.isEmpty) return 0L
              readFiles(spark, dir, fls)
            } else readDir(spark, dir)
          (s0, vals.map(col(keyCol) === _).reduce(_ || _))
        } else {
          val s0 =
            if (fresh) {
              val fls = BloomSkipIndex
                .survivingFilesForKeyDf(spark, dir, keyCol, k)
              if (fls.isEmpty) return 0L
              readFiles(spark, dir, fls)
            } else readDir(spark, dir)
          (s0, lit(true)) // closed by the semi-join below
        }
      val visible = visibleWithRowId(spark, dir, src)
      val keyed =
        if (sample.length <= 256) visible.filter(keyPred)
        else visible.join(broadcast(k), Seq(keyCol), "left_semi")
      val matched = keyed.filter(coalesce(cond, lit(false))).persist()
      try {
        val n = matched.count()
        if (n > 0) {
          writeNextGen(spark, dir,
            matched.select(col(RFile).as(FileCol), col(RRow).as(RowCol)))
          appendSized(matched.select(curCols.map { c =>
            assignments.get(c).map(_.as(c)).getOrElse(col(c))
          }: _*), n, dir)
        }
        n
      } finally matched.unpersist()
    } finally k.unpersist()
  }

  /** Merge-on-read UPSERT (the Hudi MOR / Iceberg-v2 MERGE shape):
    * tombstone the current rows whose `keyCol` appears in `batch`
    * (bloom-pruned locate when the sidecar exists), then APPEND the
    * batch as new files — cost O(batch + matched files), zero table
    * rewrite, vs [[AtomicParquetSink.mergeWithRetry]]'s full-snapshot
    * copy-on-write. Read through [[read]]. `batch` must be unique on
    * `keyCol` (checked — two batch rows for one key have no defined
    * winner). Key-set size is bounded by the batch (broadcast both in
    * the locate and in Delta's equivalent MERGE file-prune). */
  def upsertMoR(spark: SparkSession, dir: String, batch: DataFrame,
                keyCol: String): Unit = {
    requireSameColumns(spark, dir, batch, "upsertMoR")
    val keys = batch.select(col(keyCol)).distinct().persist()
    val nKeys = keys.count()
    require(nKeys == batch.count(),
      s"upsertMoR: batch is not unique on $keyCol")
    // bloom-located tombstoning for modest key sets (driver-side probe
    // literals); large batches locate by broadcast join instead
    if (nKeys <= 256) {
      val vals = keys.collect().map(r => lit(r.get(0)).cast(
        batch.schema(keyCol).dataType)).toSeq
      deleteByKeys(spark, dir, keyCol, vals)
    } else {
      deleteByKeyDf(spark, dir, keyCol, keys)
    }
    keys.unpersist()
    appendSized(batch, nKeys, dir)
  }

  /** SCHEMA EVOLUTION as a metadata-plus-batch operation — the
    * reference dataflow runs with `allowSchemaDrift: true` on both
    * sources and sink (dataflow/BookingDataTransformation.json:68,91,
    * 156), i.e. drifted columns flow through instead of failing; this
    * is that capability on the MoR substitute, done the Delta/Iceberg
    * way: adding a column NEVER rewrites data. The union schema
    * persists in the `_schema.json` sidecar
    * ([[SchemaGuard.writeSchema]], atomic rename), the batch appends
    * projected to the union (its own missing columns null-filled),
    * and every read in this module resolves through the sidecar — so
    * old files surface the new columns as NULL and compaction
    * rewrites carry the union forward. Cost: O(batch) + one metadata
    * file, at ANY table size; contrast the atomic-sink rewrite, which
    * is the copy-on-write evolution. Type WIDENING (byte→short→int→
    * long, float→double) also evolves as metadata — see the widening
    * block below; narrowing/incompatible retypes stay loud.
    *
    * Crash window: schema sidecar lands before the append, so a crash
    * between the two leaves a declared-but-all-NULL column until the
    * replay — never a half-typed table (single-writer contract, as
    * everywhere in this module). */
  def evolveAppend(spark: SparkSession, dir: String,
                   batch: DataFrame, rowsHint: Long = -1L): Unit = {
    val full = SchemaGuard.storedSchema(spark, dir)
      .getOrElse(spark.read.parquet(dir).schema)
    val cur = SchemaGuard.visible(full)
    val dropped = full.fields.map(_.name).toSet -- cur.fieldNames.toSet
    val curMap = cur.map(f => f.name -> f.dataType).toMap
    val bMap = batch.schema.map(f => f.name -> f.dataType).toMap
    val resurrected = dropped.intersect(bMap.keySet)
    require(resurrected.isEmpty,
      s"evolveAppend: columns ${resurrected.toSeq.sorted} were DROPPED — " +
        "re-adding the name would resurrect old file values; use a new " +
        "name or an atomic-sink rewrite")
    // TYPE WIDENING as metadata (Delta's type-widening stance, on the
    // reader support Spark's vectorized parquet reader ships): a batch
    // whose column WIDENS the table's type (byte→short→int→long,
    // float→double) just updates the schema sidecar — old files decode
    // under the wider read schema natively, no rewrite. A batch
    // NARROWER than the table casts up in the projection below (no
    // schema change). Anything else — narrowing the table, or an
    // incompatible retype — still fails loud: those need a rewrite.
    def widens(from: org.apache.spark.sql.types.DataType,
               to: org.apache.spark.sql.types.DataType): Boolean =
      SchemaGuard.widens(from, to)
    val retyped = curMap.keySet.intersect(bMap.keySet)
      .filter(c => curMap(c) != bMap(c))
    val widened = retyped.filter(c => widens(curMap(c), bMap(c)))
    val upcastOnly = retyped.filter(c => widens(bMap(c), curMap(c)))
    val bad = retyped -- widened -- upcastOnly
    require(bad.isEmpty,
      s"evolveAppend: retyped columns ${bad.toSeq.sorted} — only " +
        "widening (byte→short→int→long, float→double) evolves as " +
        "metadata; other type changes need an atomic-sink rewrite")
    val newFields = batch.schema.filter(f => !curMap.contains(f.name))
    val union = org.apache.spark.sql.types.StructType(
      (cur.fields.map(f =>
        if (widened.contains(f.name)) f.copy(dataType = bMap(f.name))
        else f) ++ newFields).map(_.copy(nullable = true)))
    if (newFields.nonEmpty || widened.nonEmpty)
      SchemaGuard.writeSchema(spark, dir,
        org.apache.spark.sql.types.StructType(
          union.fields ++ full.fields.filter(f => dropped.contains(f.name))))
    val projected = batch.select(union.map(f =>
      if (bMap.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)): _*)
    if (rowsHint >= 0) appendSized(projected, rowsHint, dir)
    else projected.write.mode("append").parquet(dir)
  }

  /** DROP COLUMN as a metadata-only operation (column-mapping lite):
    * the field stays in the `_schema.json` sidecar flagged
    * `graft.dropped` — remembering its physical name+type so a later
    * [[evolveAppend]] can't re-add a conflicting column that would
    * resurrect old file values — and every read projects the VISIBLE
    * schema, so the parquet reader never even decodes the dropped
    * column. No data rewrite; the next compaction physically sheds
    * the column from the files it rewrites (it reads the visible
    * projection), exactly like Delta's drop-then-vacuum. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Unit = {
    val full = SchemaGuard.storedSchema(spark, dir)
      .getOrElse(spark.read.parquet(dir).schema)
    val vis = SchemaGuard.visible(full)
    require(vis.fieldNames.contains(name),
      s"dropColumn: no visible column $name in ${vis.fieldNames.toSeq}")
    require(vis.fields.length > 1,
      s"dropColumn: cannot drop the last visible column $name")
    val marked = org.apache.spark.sql.types.StructType(full.fields.map {
      f =>
        if (f.name == name) f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putBoolean(SchemaGuard.DroppedKey, true).build())
        else f
    })
    SchemaGuard.writeSchema(spark, dir, marked)
  }
}
