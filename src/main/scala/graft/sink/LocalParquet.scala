package graft.sink

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.sources.GroupDecode

/** DRIVER-SIDE reads of METADATA-SIZED parquet (optimization r18,
  * guide §1.2 step 1 — fix the job SHAPE before configs).
  *
  * Measured motivation (per-job listener traces, sf0.1): every
  * sidecar/tombstone consultation through `spark.read.parquet` costs
  * one schema-infer job plus one collect job of near-zero task time,
  * and the streaming drains consult sidecars several times PER
  * MICRO-BATCH — job count,
  * not data volume, dominated all ten slowest queries (20–35 jobs and
  * 2.5–4 s of driver gap per batch against KB-sized state).
  *
  * This helper decodes such files on the driver — the same
  * parquet-hadoop Group surface the DSv2 readers already use
  * ([[graft.sources.GroupDecode]]), so type decode cannot drift — and
  * returns a LocalRelation-backed DataFrame: downstream `collect()`,
  * freshness comparisons and broadcast builds run with ZERO Spark
  * jobs, while filters/joins stay ordinary Catalyst plans.
  *
  * SCALE SAFETY: strictly guarded. A read is attempted only when the
  * summed file length and the footer row count sit under caps
  * ([[MaxBytesKey]]/[[MaxRowsKey]], conf-settable); anything bigger —
  * or any unsupported/nested schema, or any mid-read error — returns
  * None and the caller keeps its distributed read. A 100 TB table's
  * big artifacts take the Spark path exactly as before; only
  * genuinely metadata-sized files move to the driver, which is where
  * their every consumer (broadcast build, capped collect) was about
  * to put them anyway. */
private[graft] object LocalParquet {

  /** Byte cap on Σ part-file lengths for a driver-side decode. */
  val MaxBytesKey = "graft.local.metaReadMaxBytes"
  private val DefaultMaxBytes = 4L << 20
  /** Row cap (from footer counts — free) for a driver-side decode. */
  val MaxRowsKey = "graft.local.metaReadMaxRows"
  private val DefaultMaxRows = 200000L

  private def maxBytes(spark: SparkSession): Long =
    spark.conf.getOption(MaxBytesKey).map(_.toLong)
      .getOrElse(DefaultMaxBytes)
  private def maxRows(spark: SparkSession): Long =
    spark.conf.getOption(MaxRowsKey).map(_.toLong)
      .getOrElse(DefaultMaxRows)

  /** Open one parquet file with read options taken from `conf`. The
    * one-argument `ParquetFileReader.open(InputFile)` builds its
    * options from a fresh `Configuration`, which re-parses Hadoop's
    * XML defaults on every open (10–14 ms per open, against under
    * 1 ms this way) — every footer open in the engine comes here. */
  def openFile(conf: Configuration, path: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())

  /** A record reader of `path` as example `Group`s, configured from
    * `conf` — `ParquetReader.builder(support, path)` would pay the
    * same fresh-`Configuration` parse as [[openFile]] avoids. */
  def groupReader(conf: Configuration, path: Path): ParquetReader[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(path, conf)) {
      override protected def getReadSupport(): ReadSupport[Group] =
        new GroupReadSupport()
    }.build()

  /** Exact row count from parquet FOOTERS — no Spark job, no data
    * read. The count a `df.count()` of the same files returns. */
  def footerRowCount(conf: Configuration, parts: Seq[String]): Long =
    parts.iterator.map { p =>
      val r = openFile(conf, new Path(p))
      try r.getRecordCount finally r.close()
    }.sum

  /** Spark type of one parquet top-level field — the flat subset the
    * engine's sidecars use (mirror of [[GroupDecode.value]]); None ⇒
    * unsupported, caller falls back to the distributed read. */
  private def sparkTypeOf(t: org.apache.parquet.schema.Type)
      : Option[DataType] = {
    if (!t.isPrimitive) return None
    val pt = t.asPrimitiveType()
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case PrimitiveType.PrimitiveTypeName.INT64 => ann match {
        case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          Some(TimestampType)
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case _ => Some(LongType)
      }
      case PrimitiveType.PrimitiveTypeName.INT32 => ann match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
          Some(DateType)
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case _ => Some(IntegerType)
      }
      case PrimitiveType.PrimitiveTypeName.BINARY => ann match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
          Some(StringType)
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case _ => None
      }
      case PrimitiveType.PrimitiveTypeName.DOUBLE => Some(DoubleType)
      case PrimitiveType.PrimitiveTypeName.FLOAT => Some(FloatType)
      case PrimitiveType.PrimitiveTypeName.BOOLEAN => Some(BooleanType)
      case PrimitiveType.PrimitiveTypeName.INT96 => Some(TimestampType)
      case _ => None
    }
  }

  private def sparkSchemaOf(msg: MessageType): Option[StructType] = {
    val fields = new scala.collection.mutable.ArrayBuffer[StructField]
    val it = msg.getFields.iterator()
    while (it.hasNext) {
      val f = it.next()
      sparkTypeOf(f) match {
        case Some(dt) => fields += StructField(f.getName, dt)
        case None => return None
      }
    }
    Some(StructType(fields.toSeq))
  }

  /** Spark schema from ONE parquet footer, driver-side — lets a
    * distributed sidecar read pass an explicit schema and skip the
    * per-call schema-INFERENCE job. None when the type surface falls
    * outside the flat subset (caller infers as before). */
  def sparkSchema(conf: Configuration,
                  parts: Seq[String]): Option[StructType] =
    scala.util.Try {
      val r = openFile(conf, new Path(parts.head))
      try sparkSchemaOf(r.getFooter.getFileMetaData.getSchema)
      finally r.close()
    }.toOption.flatten

  /** LRU row cache: a tombstone generation / sidecar is immutable
    * once written (writers replace the FILE, never append to it), so
    * (path, length, mtime) identifies content exactly. Bounded small:
    * entries are metadata-sized by the caps above. */
  private final case class CacheKey(sig: String)
  private val cache =
    new java.util.LinkedHashMap[String, (StructType, Seq[InternalRow])](
      16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (StructType, Seq[InternalRow])])
          : Boolean = size > 48
    }

  private def signature(conf: Configuration,
                        parts: Seq[String]): Option[String] =
    scala.util.Try {
      parts.sorted.map { p =>
        val st = new Path(p).getFileSystem(conf).getFileStatus(new Path(p))
        s"$p#${st.getLen}#${st.getModificationTime}"
      }.mkString("|")
    }.toOption

  /** Decode `parts` driver-side into (schema, internal rows), or None
    * when anything (size, schema, IO) argues for the Spark path. */
  private def decode(spark: SparkSession, conf: Configuration,
                     parts: Seq[String]): Option[(StructType,
                                                  Seq[InternalRow])] =
    scala.util.Try {
      val fs = new Path(parts.head).getFileSystem(conf)
      val lens = parts.map(p => fs.getFileStatus(new Path(p)).getLen)
      if (lens.sum > maxBytes(spark)) return None
      // one footer pass: schema agreement + row-count cap
      var schema: StructType = null
      var rows = 0L
      parts.foreach { p =>
        val r = openFile(conf, new Path(p))
        try {
          rows += r.getRecordCount
          val s = sparkSchemaOf(r.getFooter.getFileMetaData.getSchema)
            .getOrElse(return None)
          if (schema == null) schema = s
          else if (schema != s) return None
        } finally r.close()
      }
      if (rows > maxRows(spark)) return None
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow](
        rows.toInt)
      parts.foreach { p =>
        val reader = groupReader(conf, new Path(p))
        try {
          var g: Group = reader.read()
          var idx: Array[Int] = null
          while (g != null) {
            if (idx == null)
              idx = GroupDecode.resolveIdx(g,
                schema.fields.map(_.name))
            val vals = new Array[Any](schema.length)
            var i = 0
            while (i < schema.length) {
              vals(i) = GroupDecode.value(g, idx(i),
                schema.fields(i).dataType)
              i += 1
            }
            out += new GenericInternalRow(vals)
            g = reader.read()
          }
        } finally reader.close()
      }
      (schema, out.toSeq)
    }.toOption

  /** The parts decoded as a LOCAL DataFrame (cached by content
    * signature), or None → caller uses its distributed read. */
  def readLocal(spark: SparkSession, conf: Configuration,
                parts: Seq[String]): Option[DataFrame] = {
    if (parts.isEmpty) return None
    val sig = signature(conf, parts).getOrElse(return None)
    val hit = cache.synchronized { Option(cache.get(sig)) }
    val decoded = hit.orElse {
      val d = decode(spark, conf, parts)
      d.foreach(v => cache.synchronized { cache.put(sig, v) })
      d
    }
    decoded.map { case (schema, rows) =>
      org.apache.spark.sql.graftx.LocalFrames
        .ofInternal(spark, schema, rows)
    }
  }

  /** A flat (string key, long value) parquet set — a tombstone set's
    * (file, row_idx) — decoded driver-side as key → sorted values,
    * under the same caps as [[readLocal]]. None above them, or on a
    * missing or mistyped column: the caller keeps its distributed
    * read. Not cached: the row cache's per-row form cost measurable
    * retained heap, and decoding a set under the caps takes
    * milliseconds. */
  def readLongsByKey(spark: SparkSession, conf: Configuration,
                     parts: Seq[String], keyCol: String,
                     valCol: String): Option[Map[String, Array[Long]]] =
    if (parts.isEmpty) None
    else decode(spark, conf, parts).flatMap { case (schema, rows) =>
      val (ki, vi) = (schema.fieldNames.indexOf(keyCol),
        schema.fieldNames.indexOf(valCol))
      if (ki < 0 || vi < 0 || schema(ki).dataType != StringType ||
          schema(vi).dataType != LongType) None
      else Some(rows.groupBy(_.getUTF8String(ki).toString).map {
        case (k, rs) =>
          val a = rs.iterator.map(_.getLong(vi)).toArray
          java.util.Arrays.sort(a)
          k -> a
      })
    }

  /** Pre-seed the cache for files a writer just produced whose rows
    * it already holds driver-side (sidecar folds) — the next
    * consultation is then job- AND decode-free. Internal rows must be
    * exactly what a decode of `parts` would yield. */
  private[graft] def seed(conf: Configuration, parts: Seq[String],
                          schema: StructType,
                          rows: Seq[InternalRow]): Unit =
    signature(conf, parts).foreach(sig =>
      cache.synchronized { cache.put(sig, (schema, rows)) })

  private[graft] def clearCacheForTest(): Unit =
    cache.synchronized { cache.clear() }

  // ---- driver-side sidecar WRITE ------------------------------------

  /** The flat type set the local writer encodes — the sidecar
    * schemas' actual surface (file paths + filter words / stats). */
  private def writableType(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | DoubleType |
         FloatType | BooleanType => true
    case _ => false
  }

  private def parquetTypeOf(name: String, dt: DataType)
      : org.apache.parquet.schema.Type = {
    import org.apache.parquet.schema.Types
    import PrimitiveType.PrimitiveTypeName._
    dt match {
      case LongType => Types.optional(INT64).named(name)
      case IntegerType => Types.optional(INT32).named(name)
      case DoubleType => Types.optional(DOUBLE).named(name)
      case FloatType => Types.optional(FLOAT).named(name)
      case BooleanType => Types.optional(BOOLEAN).named(name)
      case StringType => Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      case other => throw new UnsupportedOperationException(
        other.simpleString)
    }
  }

  /** Overwrite `dirPath` with ONE part file holding `rows`, written
    * DRIVER-SIDE (plus `_SUCCESS` for write-shape parity), and seed
    * the read cache so the next consultation is job- and decode-free.
    * Returns false (wrote nothing) when any column type falls outside
    * the writable set — caller keeps its Spark write. The temp-write/
    * swap ordering keeps the unreadable window no wider than the
    * Spark committer's delete-then-write overwrite. */
  def writeLocalSidecar(spark: SparkSession, dirPath: String,
                        schema: StructType,
                        rows: Seq[org.apache.spark.sql.Row]): Boolean = {
    if (!schema.fields.forall(f => writableType(f.dataType)))
      return false
    val conf = spark.sparkContext.hadoopConfiguration
    val ok = scala.util.Try {
      val fs = new Path(dirPath).getFileSystem(conf)
      val tmp = new Path(dirPath + ".inprogress-" +
        java.util.UUID.randomUUID().toString.take(8))
      fs.mkdirs(tmp)
      val part = new Path(tmp, "part-00000-local.parquet")
      val msg = new org.apache.parquet.schema.MessageType("graft_sidecar",
        schema.fields.map(f =>
          parquetTypeOf(f.name, f.dataType)): _*)
      val factory =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(part).withType(msg).withConf(conf).build()
      try rows.foreach { r =>
        val g = factory.newGroup()
        var i = 0
        while (i < schema.length) {
          if (!r.isNullAt(i)) schema.fields(i).dataType match {
            case LongType => g.add(schema.fields(i).name, r.getLong(i))
            case IntegerType => g.add(schema.fields(i).name, r.getInt(i))
            case DoubleType => g.add(schema.fields(i).name, r.getDouble(i))
            case FloatType => g.add(schema.fields(i).name, r.getFloat(i))
            case BooleanType =>
              g.add(schema.fields(i).name, r.getBoolean(i))
            case StringType =>
              g.add(schema.fields(i).name,
                org.apache.parquet.io.api.Binary.fromString(r.getString(i)))
            case other => throw new UnsupportedOperationException(
              other.simpleString)
          }
          i += 1
        }
        w.write(g)
      } finally w.close()
      fs.create(new Path(tmp, "_SUCCESS"), true).close()
      fs.delete(new Path(dirPath), true)
      if (!fs.rename(tmp, new Path(dirPath)))
        throw new java.io.IOException(s"rename $tmp -> $dirPath failed")
      // seed the read cache with the internal form of what we wrote
      val internal = rows.map { r =>
        val vals = new Array[Any](schema.length)
        var i = 0
        while (i < schema.length) {
          vals(i) =
            if (r.isNullAt(i)) null
            else schema.fields(i).dataType match {
              case StringType =>
                org.apache.spark.unsafe.types.UTF8String
                  .fromString(r.getString(i))
              case _ => r.get(i)
            }
          i += 1
        }
        new GenericInternalRow(vals): InternalRow
      }
      // normalized all-nullable schema = exactly what a footer decode
      // of the optional-typed file would derive (cache-coherent)
      seed(conf, Seq(new Path(dirPath,
        "part-00000-local.parquet").toString),
        StructType(schema.fields.map(f =>
          StructField(f.name, f.dataType))), internal)
    }.isSuccess
    ok
  }
}
