package graft.sink

import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
// the catalyst wildcard shadows Either's constructors with the
// string-function expressions of the same name
import scala.util.{Left, Right}

/** Per-file column min/max statistics for LOG-LEVEL data skipping —
  * Delta's `stats` field on each `add` action, re-expressed for
  * [[MorLog]]'s version log (the reference has no such tier at all;
  * its Synapse serving tables re-scan everything,
  * synapse_table_creation.sql:1-92 — this is part of the repo's
  * 100 TB extension surface).
  *
  * Why log-level and not just parquet row-group skipping: Spark's
  * parquet reader already prunes ROW GROUPS from pushed filters, but
  * only AFTER a task was scheduled against the file and opened its
  * footer — at a million files that is a million task launches and a
  * million footer reads PER QUERY. Skipping at the log tier consults
  * O(files) driver/executor-side metadata that was collected ONCE at
  * write time, so a selective query schedules tasks only against
  * files whose [min,max] can satisfy the predicate. Collection reads
  * parquet FOOTERS of the files just committed — O(changed files)
  * small reads, never a data re-scan (Delta collects inline at write;
  * the footer walk is the open-format equivalent).
  *
  * Value domains are collapsed to two orderings so evolution stays
  * cheap: NUMBERS (ints, floats, decimals, dates as epoch-day,
  * timestamps as epoch-micros, bools as 0/1) compare as BigDecimal —
  * so an int32-era file's stats stay valid after a type-widening
  * evolution to long — and STRINGS compare as unsigned UTF-8 bytes,
  * parquet's own BINARY ordering (Java String compareTo would diverge
  * on supplementary characters). A column with unreliable chunk stats
  * (missing footer stats, NaN float bounds) is simply absent — absent
  * means "cannot skip", never "skip": correctness NEVER depends on a
  * stat being present, [[canSkip]] only returns true when the stats
  * PROVE the predicate false for every row of the file. */
private[graft] object FileStats {

  /** One column's file-level stats. `kind` ∈ num | str. min/max are
    * the encoded bounds ("" = no non-null values recorded, i.e. the
    * column is all-null in this file). */
  final case class ColStat(kind: String, min: String, max: String,
                           nulls: Long, rows: Long) {
    def hasValues: Boolean = min.nonEmpty || max.nonEmpty
    def allNull: Boolean = !hasValues && nulls == rows && rows > 0
  }

  type FileColStats = Map[String, ColStat]

  // ---- footer collection -------------------------------------------

  /** Read one parquet file's footer into per-column stats. Columns
    * that are nested, unsupported (INT96), or carry unreliable chunk
    * stats are absent from the result. */
  def ofFooter(conf: Configuration, path: String): FileColStats = {
    val rd = LocalParquet.openFile(conf, new Path(path))
    try {
      // (kind, min, max, nulls, rows, ok) accumulated across chunks
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, (String, Any, Any, Long, Long, Boolean)]
      rd.getFooter.getBlocks.forEach { b =>
        val blockRows = b.getRowCount
        b.getColumns.forEach { c =>
          if (c.getPath.size == 1) {
            val name = c.getPath.iterator.next()
            val st = c.getStatistics
            val prev = acc.getOrElse(name,
              ("", null, null, 0L, 0L, true))
            if (!prev._6) ()             // already poisoned
            else if (st == null || !st.isNumNullsSet)
              acc(name) = prev.copy(_6 = false)
            else if (!st.hasNonNullValue) {
              // stats present but no values recorded: safe ONLY if
              // the chunk is provably all-null
              if (st.getNumNulls == blockRows)
                acc(name) = (prev._1, prev._2, prev._3,
                  prev._4 + st.getNumNulls, prev._5 + blockRows, true)
              else acc(name) = prev.copy(_6 = false)
            } else decode(c.getPrimitiveType, st) match {
              case Some((kind, mn, mx)) =>
                if (prev._1.nonEmpty && prev._1 != kind)
                  acc(name) = prev.copy(_6 = false)
                else acc(name) = (kind,
                  if (prev._2 == null) mn else lower(kind, prev._2, mn),
                  if (prev._3 == null) mx else upper(kind, prev._3, mx),
                  prev._4 + st.getNumNulls, prev._5 + blockRows, true)
              case None => acc(name) = prev.copy(_6 = false)
            }
          }
        }
      }
      acc.iterator.collect {
        case (name, (kind, mn, mx, nulls, rows, true))
            if kind.nonEmpty || rows > 0 =>
          name -> ColStat(if (kind.isEmpty) "num" else kind,
            encode(kind, mn), encode(kind, mx), nulls, rows)
      }.toMap
    } finally rd.close()
  }

  /** (kind, min, max) of one column chunk, normalized to the two
    * value domains; None = unsupported/unreliable. */
  private def decode(pt: org.apache.parquet.schema.PrimitiveType,
                     st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[(String, Any, Any)] = {
    import LogicalTypeAnnotation._
    def num(mn: BigDecimal, mx: BigDecimal) = Some(("num", mn, mx))
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT64 =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
        val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
        ann match {
          case t: TimestampLogicalTypeAnnotation =>
            val f = t.getUnit match {
              case TimeUnit.MILLIS => BigDecimal(1000)
              case TimeUnit.MICROS => BigDecimal(1)
              case TimeUnit.NANOS  => BigDecimal("0.001")
            }
            num(BigDecimal(mn) * f, BigDecimal(mx) * f)
          case d: DecimalLogicalTypeAnnotation =>
            val s = BigDecimal(10).pow(d.getScale)
            num(BigDecimal(mn) / s, BigDecimal(mx) / s)
          case _: TimeLogicalTypeAnnotation => None
          case _ => num(BigDecimal(mn), BigDecimal(mx))
        }
      case PrimitiveTypeName.INT32 =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Integer].intValue
        val mx = st.genericGetMax.asInstanceOf[java.lang.Integer].intValue
        ann match {
          case d: DecimalLogicalTypeAnnotation =>
            val s = BigDecimal(10).pow(d.getScale)
            num(BigDecimal(mn) / s, BigDecimal(mx) / s)
          case _: TimeLogicalTypeAnnotation => None
          case _ => num(BigDecimal(mn), BigDecimal(mx)) // incl. DATE
        }
      case PrimitiveTypeName.DOUBLE =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue
        val mx = st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue
        if (mn.isNaN || mx.isNaN) None
        else num(BigDecimal(mn), BigDecimal(mx))
      case PrimitiveTypeName.FLOAT =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Float].floatValue
        val mx = st.genericGetMax.asInstanceOf[java.lang.Float].floatValue
        if (mn.isNaN || mx.isNaN) None
        else num(BigDecimal(mn.toDouble), BigDecimal(mx.toDouble))
      case PrimitiveTypeName.BOOLEAN =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Boolean]
        val mx = st.genericGetMax.asInstanceOf[java.lang.Boolean]
        num(BigDecimal(if (mn) 1 else 0), BigDecimal(if (mx) 1 else 0))
      case PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY =>
        ann match {
          case d: DecimalLogicalTypeAnnotation =>
            val s = BigDecimal(10).pow(d.getScale)
            val mn = BigDecimal(new java.math.BigInteger(st.getMinBytes))
            val mx = BigDecimal(new java.math.BigInteger(st.getMaxBytes))
            num(mn / s, mx / s)
          case _: StringLogicalTypeAnnotation | _: EnumLogicalTypeAnnotation =>
            Some(("str", st.getMinBytes, st.getMaxBytes))
          case _ => None
        }
      case _ => None // INT96 legacy timestamps and friends
    }
  }

  private def lower(kind: String, a: Any, b: Any): Any =
    if (cmp(kind, a, b) <= 0) a else b
  private def upper(kind: String, a: Any, b: Any): Any =
    if (cmp(kind, a, b) >= 0) a else b

  private def cmp(kind: String, a: Any, b: Any): Int = kind match {
    case "str" => cmpBytes(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]])
    case _ => a.asInstanceOf[BigDecimal].compare(b.asInstanceOf[BigDecimal])
  }

  /** Unsigned lexicographic byte compare — parquet's BINARY order. */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private def encode(kind: String, v: Any): String =
    if (v == null) ""
    else kind match {
      case "str" => Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]])
      case _     => v.asInstanceOf[BigDecimal].bigDecimal.toPlainString
    }

  // ---- serialization (the v<k>.stats body) -------------------------

  /** One line per (file, column): name and column are raw (our own
    * writers produce tab-free part names and field names; a field
    * that does contain a separator is skipped at write — absent stats
    * are always safe), bounds are domain-encoded. */
  def render(stats: Map[String, FileColStats]): Seq[String] =
    stats.toSeq.sortBy(_._1).flatMap { case (file, cols) =>
      cols.toSeq.sortBy(_._1).collect {
        case (col, s)
            if !file.exists(c => c == '\t' || c == '\n') &&
              !col.exists(c => c == '\t' || c == '\n') =>
          s"$file\t$col\t${s.kind}\t${s.min}\t${s.max}\t${s.nulls}\t${s.rows}"
      }
    }

  def parse(lines: Seq[String]): Map[String, FileColStats] =
    lines.filter(_.nonEmpty).flatMap { l =>
      l.split("\t", -1) match {
        case Array(file, col, kind, mn, mx, nulls, rows) =>
          scala.util.Try(
            (file, col, ColStat(kind, mn, mx, nulls.toLong, rows.toLong))
          ).toOption
        case _ => None
      }
    }.groupBy(_._1).map { case (f, ss) =>
      f -> ss.map(t => t._2 -> t._3).toMap
    }

  // ---- predicate evaluation ----------------------------------------

  /** A literal from the caller's (unresolved) predicate, normalized
    * into a stats domain: Left(num) | Right(utf8 bytes). None =
    * unsupported type → the conjunct can never prune. */
  private def litValue(l: Literal): Option[Either[BigDecimal, Array[Byte]]] =
    (l.value, l.dataType) match {
      case (null, _) => None
      case (v: Byte, _)  => Some(Left(BigDecimal(v.toInt)))
      case (v: Short, _) => Some(Left(BigDecimal(v.toInt)))
      case (v: Int, DateType) => Some(Left(BigDecimal(v)))
      case (v: Int, _)   => Some(Left(BigDecimal(v)))
      case (v: Long, TimestampType | TimestampNTZType) =>
        Some(Left(BigDecimal(v))) // catalyst micros
      case (v: Long, _)  => Some(Left(BigDecimal(v)))
      case (v: Float, _)  =>
        if (v.isNaN) None else Some(Left(BigDecimal(v.toDouble)))
      case (v: Double, _) =>
        if (v.isNaN) None else Some(Left(BigDecimal(v)))
      case (v: Decimal, _) => Some(Left(BigDecimal(v.toJavaBigDecimal)))
      case (v: UTF8String, _) => Some(Right(v.getBytes))
      case (v: Boolean, _) =>
        Some(Left(BigDecimal(if (v) 1 else 0)))
      case _ => None
    }

  private def boundsOf(s: ColStat)
      : Option[(Either[BigDecimal, Array[Byte]],
                Either[BigDecimal, Array[Byte]])] =
    if (!s.hasValues) None
    else s.kind match {
      case "str" => Some((
        Right(Base64.getDecoder.decode(s.min)),
        Right(Base64.getDecoder.decode(s.max))))
      case _ => scala.util.Try((
        Left(BigDecimal(s.min)): Either[BigDecimal, Array[Byte]],
        Left(BigDecimal(s.max)): Either[BigDecimal, Array[Byte]]
      )).toOption
    }

  private def cmpVals(a: Either[BigDecimal, Array[Byte]],
                      b: Either[BigDecimal, Array[Byte]]): Option[Int] =
    (a, b) match {
      case (Left(x), Left(y))   => Some(x.compare(y))
      case (Right(x), Right(y)) => Some(cmpBytes(x, y))
      case _                    => None // domain mismatch: never prune
    }

  /** Unwrap casts that are EXACT under the stats domains (every value
    * of `from` maps injectively into BigDecimal through `to`), so the
    * analyzer's implicit widenings — `int_col = 7L` becomes
    * `Cast(int_col as bigint) = 7L` — still prune against the int-era
    * file stats. long→double is NOT here: it rounds past 2^53, and a
    * rounded bound could prune a file that matches. */
  private def exactWiden(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType | ShortType | IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType | FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, d: DecimalType) =>
        d.scale == 0 && d.precision >= 10
      case (LongType, d: DecimalType) => d.scale == 0 && d.precision >= 20
      case _ => false
    }

  private def unwrapCast(e: Expression): Expression = e match {
    case c: Cast if exactWiden(c.child.dataType, c.dataType) =>
      unwrapCast(c.child)
    case other => other
  }

  private def attrName(e: Expression): Option[String] = unwrapCast(e) match {
    case a: AttributeReference => Some(a.name)
    // unresolved Columns straight from the fluent API
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(u.name)
    case _ => None
  }

  /** True only when `stats` PROVE `pred` matches no row of the file.
    * Unknown structure, missing columns, or domain mismatches return
    * false (scan the file). Three-valued logic is collapsed the safe
    * way: And skips if either side skips, Or only if both do. */
  def canSkip(stats: FileColStats, pred: Expression): Boolean = {
    def colLit(l: Expression, r: Expression)
        : Option[(ColStat, Either[BigDecimal, Array[Byte]])] =
      for {
        n <- attrName(l)
        s <- stats.get(n)
        lit <- r match {
          case ll: Literal => litValue(ll)
          case e if e.foldable => // e.g. Cast(Literal) from analysis
            scala.util.Try(Literal(e.eval(null), e.dataType))
              .toOption.flatMap(litValue)
          case _ => None
        }
      } yield (s, lit)
    def allNullOf(e: Expression): Boolean =
      attrName(e).flatMap(stats.get).exists(_.allNull)
    pred match {
      case And(a, b) => canSkip(stats, a) || canSkip(stats, b)
      case Or(a, b)  => canSkip(stats, a) && canSkip(stats, b)
      case EqualTo(l, r) =>
        allNullOf(l) || colLit(l, r).flatMap { case (s, v) =>
          boundsOf(s).flatMap { case (mn, mx) =>
            for (c1 <- cmpVals(v, mn); c2 <- cmpVals(v, mx))
              yield c1 < 0 || c2 > 0
          }
        }.getOrElse(colLit(r, l).flatMap { case (s, v) =>
          boundsOf(s).flatMap { case (mn, mx) =>
            for (c1 <- cmpVals(v, mn); c2 <- cmpVals(v, mx))
              yield c1 < 0 || c2 > 0
          }
        }.getOrElse(false))
      case LessThan(l, r) =>
        allNullOf(l) || allNullOf(r) ||
          colLit(l, r).flatMap { case (s, v) =>   // col < lit
            boundsOf(s).flatMap(b => cmpVals(b._1, v).map(_ >= 0))
          }.getOrElse(colLit(r, l).flatMap { case (s, v) => // lit < col
            boundsOf(s).flatMap(b => cmpVals(b._2, v).map(_ <= 0))
          }.getOrElse(false))
      case LessThanOrEqual(l, r) =>
        allNullOf(l) || allNullOf(r) ||
          colLit(l, r).flatMap { case (s, v) =>
            boundsOf(s).flatMap(b => cmpVals(b._1, v).map(_ > 0))
          }.getOrElse(colLit(r, l).flatMap { case (s, v) =>
            boundsOf(s).flatMap(b => cmpVals(b._2, v).map(_ < 0))
          }.getOrElse(false))
      case GreaterThan(l, r) => canSkip(stats, LessThan(r, l))
      case GreaterThanOrEqual(l, r) => canSkip(stats, LessThanOrEqual(r, l))
      case In(v, list) if list.forall(_.foldable) =>
        list.nonEmpty &&
          list.forall(x => canSkip(stats, EqualTo(v, x)))
      case InSet(v, set) =>
        set.nonEmpty && set.forall(x =>
          canSkip(stats, EqualTo(v, Literal(x, v.dataType))))
      case IsNull(e) =>
        attrName(e).flatMap(stats.get).exists(s => s.nulls == 0 && s.rows > 0)
      case IsNotNull(e) => allNullOf(e)
      case Literal(false, BooleanType) => true
      case Not(EqualTo(l, r)) =>
        // provably-false ≠ : every row equals the literal (min==max==v)
        colLit(l, r).orElse(colLit(r, l)).flatMap { case (s, v) =>
          if (s.nulls > 0) Some(false)
          else boundsOf(s).flatMap { case (mn, mx) =>
            for (c1 <- cmpVals(mn, v); c2 <- cmpVals(mx, v))
              yield c1 == 0 && c2 == 0
          }
        }.getOrElse(false)
      case _ => false
    }
  }

  /** Partition `files` into (scan, skip) under `pred`. Files without
    * stats always scan; an unanalyzable predicate prunes nothing.
    *
    * The predicate is ANALYZED against `schema` first (a filter over
    * an empty relation through the session analyzer): the fluent
    * API's Column wraps unevaluated ColumnNodes in Spark 4, and
    * analysis is also what inserts the implicit casts ([[unwrapCast]])
    * and resolves function names — so [[canSkip]] matches real
    * catalyst comparisons, the same trees a FileSourceStrategy
    * pushdown would see. Driver-side, O(1) per query. */
  def prune(spark: SparkSession, schema: StructType,
            stats: Map[String, FileColStats], files: Seq[String],
            pred: Column): (Seq[String], Seq[String]) =
    resolvedPredicate(spark, schema, pred) match {
      case None => (files, Seq.empty)
      case Some(e) =>
        files.partition(f => !stats.get(f).exists(s => canSkip(s, e)))
    }

  private def resolvedPredicate(spark: SparkSession, schema: StructType,
                                pred: Column): Option[Expression] =
    scala.util.Try {
      spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          schema)
        .filter(pred).queryExecution.analyzed
        .collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }
    }.toOption.flatten

  /** Files whose stats PROVE `pred` holds for EVERY row — the dual of
    * [[prune]], and the gate for metadata-only file-drop deletes:
    * [[canSkip]] on the OPTIMIZER-simplified negation (the optimizer
    * pushes NOT through And/Or into the comparison shapes canSkip
    * analyzes; plain analysis would leave an opaque Not node) proves
    * ¬pred matches no row, PLUS a zero-null requirement on every
    * column the condition references — a null-valued row satisfies
    * NEITHER pred nor ¬pred, so without it a provably-¬pred-free file
    * could still hold rows the caller's `coalesce(pred, false)`
    * semantics would keep. Conservative everywhere: missing stats, an
    * unanalyzable predicate, or a fold-away filter qualify nothing. */
  def coveredAll(spark: SparkSession, schema: StructType,
                 stats: Map[String, FileColStats], files: Seq[String],
                 pred: Column): Seq[String] = {
    // NOT pushed into the comparison shapes canSkip analyzes; valid
    // under three-valued logic (¬(a<b) ≡ a≥b — null stays null).
    // Shapes without a sound rewrite stay wrapped and prove nothing.
    def pushNot(e: Expression): Expression = e match {
      case Not(Not(x))                  => pushNot(x)
      case Not(And(a, b))               => Or(pushNot(Not(a)), pushNot(Not(b)))
      case Not(Or(a, b))                => And(pushNot(Not(a)), pushNot(Not(b)))
      case Not(LessThan(a, b))          => GreaterThanOrEqual(a, b)
      case Not(LessThanOrEqual(a, b))   => GreaterThan(a, b)
      case Not(GreaterThan(a, b))       => LessThanOrEqual(a, b)
      case Not(GreaterThanOrEqual(a, b)) => LessThan(a, b)
      case And(a, b)                    => And(pushNot(a), pushNot(b))
      case Or(a, b)                     => Or(pushNot(a), pushNot(b))
      case other                        => other
    }
    val negated = resolvedPredicate(spark, schema, pred)
      .map(e => pushNot(Not(e)))
    negated match {
      case None => Seq.empty
      case Some(e) =>
        val refs = e.references.map(_.name).toSeq
        files.filter { f =>
          stats.get(f).exists { s =>
            refs.forall(n =>
              s.get(n).exists(c => c.nulls == 0 && c.rows > 0)) &&
              canSkip(s, e)
          }
        }
    }
  }

  /** Row count recorded in a file's stats (all columns agree; absent
    * stats → None). */
  def rowsOf(stats: Map[String, FileColStats], f: String): Option[Long] =
    stats.get(f).flatMap(_.values.headOption).map(_.rows)

  /** A file's recorded numeric (min, max) for `colName` — None for
    * string/absent/all-null stats. */
  def numericBounds(stats: FileColStats, colName: String)
      : Option[(BigDecimal, BigDecimal)] =
    stats.get(colName).filter(s => s.kind != "str" && s.hasValues)
      .flatMap(s => scala.util.Try(
        (BigDecimal(s.min), BigDecimal(s.max))).toOption)
}
