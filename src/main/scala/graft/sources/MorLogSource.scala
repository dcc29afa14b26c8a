package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sink.{DvPerFile, MorLog}

/** DataSourceV2 READ surface for the [[graft.sink.MorLog]] table tier
  * (the round-11 verdict's #9): time travel, the column mapping and
  * log-level stats skipping were Scala-API-only — this relation hands
  * them to SQL users:
  *
  *   spark.read.format("graft.sources.MorLogSource")
  *     .option("path", dir).option("versionAsOf", "7").load()
  *
  *  - `versionAsOf` (optional) pins the snapshot; default = current,
  *    resolved ONCE per scan (plan and reader factory see the same
  *    version even if a commit lands mid-planning — review-caught).
  *  - `changesFrom` / `changesTo` (round 13): the CHANGE FEED over
  *    (from, to] as per-version raw events — Delta's `table_changes`
  *    shape: the snapshot schema plus `_change_type`
  *    (insert|delete) and `_commit_version`; an upsert is its
  *    delete+insert pair, netting across versions is the consumer's
  *    GROUP BY. Partitions stay per-file: inserts scan the version's
  *    added files, deletes re-read exactly the tombstoned rows (the
  *    broadcast tier's delta rides the partition; the per-file tier
  *    diffs its own sidecar pair executor-side). `changesTo` defaults
  *    to the current version; invalid spans fail loud at plan time.
  *  - FILTER PUSHDOWN (snapshot reads): claimed comparisons — incl.
  *    timestamp, decimal and date literals — prune FILES through the
  *    log's per-file stats before any task launches (the same
  *    [[graft.sink.FileStats]] skipping `readWhere` uses — visible in
  *    the plan as PushedFilters and counted in [[MorLogSourceStats]])
  *    and re-evaluate per row inside the reader (a claimed filter is
  *    not re-checked by Catalyst — V2 contract).
  *  - COLUMN PRUNING: the reader asks parquet for only the required
  *    columns, resolved through the tier's logical→PHYSICAL column
  *    mapping, so renamed columns read correctly at every version.
  *  - TYPES: long/int/double/float/string/boolean/date PLUS
  *    timestamp (INT64 micros/millis and legacy INT96), decimal
  *    (int32/int64/binary-backed) and nested structs of these — the
  *    reference's own fact schema (timestamp
  *    reference synapse_table_creation.sql:37,46, decimal(10,2)
  *    sql:20, nested property_location
  *    dataset/BookingDataCosmosDB.json:40-50) reads through the
  *    connector. Still-unsupported types fail at PLAN time, loudly.
  *  - TOMBSTONES are subtracted: broadcast-tier sets ride inside each
  *    file's own InputPartition (metadata-sized by that tier's
  *    definition); per-file-tier readers probe their file's sidecar
  *    through the executor-side [[graft.sink.DvScanCache]] — no
  *    broadcast, no listing. Readers run under the DRIVER's Hadoop
  *    configuration (shipped serialized), so object-store credentials
  *    reach the executors.
  *
  * The reader materializes rows via parquet's example Group API — the
  * right trade for a SQL access path (correct, pushdown-pruned);
  * bulk-analytic scans keep the vectorized native path via
  * [[graft.sink.MorLog.read]]/`readWhere`. */
class MorLogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = org.apache.spark.sql.SparkSession.active
    val dir = options.get("path")
    if (options.getBoolean("streamChanges", false)) {
      require(options.get("timestampAsOf") == null &&
        options.get("versionAsOf") == null,
        "streamChanges is anchored by startingVersion/" +
          "startingTimestamp, not versionAsOf/timestampAsOf")
      return MorLogFacade.withChangeCols(
        MorLogFacade.schemaOf(spark, dir, None))
    }
    MorLogFacade.changesSpan(spark, dir, options) match {
      case Some((from, to)) =>
        require(options.get("timestampAsOf") == null,
          "timestampAsOf and changesFrom are mutually exclusive")
        val (schema, _, _) = MorLog.connectorChangesPlan(spark, dir, from, to)
        MorLogFacade.withChangeCols(schema)
      case None =>
        val v = MorLogFacade.pinnedVersion(spark, dir,
          Option(options.get("versionAsOf")),
          Option(options.get("timestampAsOf")))
        val (schema, _, _, _, _, _) =
          MorLog.connectorPlan(spark, dir, v, None)
        schema
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val spark = org.apache.spark.sql.SparkSession.active
    val dir = properties.get("path")
    val changesFrom = MorLogFacade.resolveChangesFrom(spark, dir,
      Option(properties.get("changesFrom")),
      Option(properties.get("changesFromTimestamp"))).map(_.trim.toInt)
    if (changesFrom.isDefined)
      require(properties.get("timestampAsOf") == null,
        "timestampAsOf and changesFrom are mutually exclusive")
    val streamChanges =
      "true".equalsIgnoreCase(properties.get("streamChanges"))
    if (streamChanges)
      require(properties.get("timestampAsOf") == null &&
        properties.get("versionAsOf") == null,
        "streamChanges is anchored by startingVersion/" +
          "startingTimestamp, not versionAsOf/timestampAsOf")
    new MorLogTable(dir,
      if (changesFrom.isDefined || streamChanges) None
      else MorLogFacade.pinnedVersion(spark, dir,
        Option(properties.get("versionAsOf")),
        Option(properties.get("timestampAsOf"))),
      changesFrom,
      MorLogFacade.resolveChangesTo(spark, dir,
        Option(properties.get("changesTo")),
        Option(properties.get("changesToTimestamp")))
        .map(_.trim.toInt), schema,
      // honor user-declared partitioning on the create-on-first-write
      // route (advice-caught: it was silently dropped — the table
      // landed unpartitioned; unsupported transforms now refuse loud)
      createPartitionBy =
        partitioning.toSeq.map(MorLogFacade.transformToSpec),
      streamChanges = streamChanges,
      startingVersion = {
        val byV = Option(properties.get("startingVersion"))
        val byTs = Option(properties.get("startingTimestamp"))
        require(byV.isEmpty || byTs.isEmpty,
          "startingVersion and startingTimestamp are mutually exclusive")
        // inclusive contract: stream every version stamped >= ts
        byV.map(_.trim.toInt).orElse(byTs.map(t =>
          MorLog.versionBefore(spark, dir,
            MorLogFacade.parseTsMillis(spark, t)) + 1))
      })
  }

  // writes to a NOT-YET-EXISTING path carry the frame's own schema
  // (the create-on-first-write path); reads still infer from the log
  override def supportsExternalMetadata(): Boolean = true
}

/** Unsupported-in-reader types fail at PLAN time, loudly — a silent
  * null would be data corruption. */
private[sources] object MorLogFacade {

  def schemaOf(spark: org.apache.spark.sql.SparkSession, dir: String,
               v: Option[Int]): StructType = {
    val (schema, _, _, _, _, _) = MorLog.connectorPlan(spark, dir, v, None)
    schema
  }

  def supportedType(t: DataType): Boolean = t match {
    case LongType | IntegerType | DoubleType | FloatType |
         StringType | BooleanType | DateType | TimestampType => true
    case _: DecimalType => true
    case s: StructType => s.fields.forall(f => supportedType(f.dataType))
    case _ => false
  }

  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  /** `versionAsOf`/`timestampAsOf` → the pinned snapshot version
    * (None = current tip). `timestampAsOf` accepts epoch MILLIS or
    * any Spark-castable timestamp string (parsed in the session
    * zone), resolved through the log's monotone commit stamps
    * ([[graft.sink.MorLog.versionAt]]). Mutually exclusive, loudly. */
  def pinnedVersion(spark: org.apache.spark.sql.SparkSession,
                    dir: String, versionAsOf: Option[String],
                    timestampAsOf: Option[String]): Option[Int] = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    versionAsOf.map(_.trim.toInt).orElse(timestampAsOf.map(t =>
      MorLog.versionAt(spark, dir, parseTsMillis(spark, t))))
  }

  /** V2 partition Transform → the tier's spec-entry string: identity
    * → `col`, time-derived → `days(col)`/`months`/`years`/`hours`
    * (Iceberg's hidden partitioning, minimal form). Anything else —
    * bucket(n, col), truncate — refuses loud. */
  def transformToSpec(
      t: org.apache.spark.sql.connector.expressions.Transform): String = {
    require(t.references.length == 1 &&
      t.references.head.fieldNames.length == 1,
      s"unsupported partition transform $t — single-column " +
        "transforms only")
    val c = t.references.head.fieldNames.head
    t.name match {
      case "identity" => c
      case tf @ ("days" | "months" | "years" | "hours") => s"$tf($c)"
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform $other($c) — the log tier " +
          "partitions by identity or time-derived " +
          "(days/months/years/hours) columns")
    }
  }

  def parseTsMillis(spark: org.apache.spark.sql.SparkSession,
                    t: String): Long =
    scala.util.Try(t.trim.toLong).getOrElse {
      // Spark's own cast does the parsing, in the session zone —
      // plan-time, one local row
      val row = spark.sql(
        s"SELECT CAST('${t.replace("'", "''")}' AS TIMESTAMP)").head()
      require(!row.isNullAt(0),
        s"timestampAsOf: unparseable timestamp '$t'")
      row.getTimestamp(0).getTime
    }

  /** V2 predicate tree → Column, STRICT: any node this can't express
    * returns None and the whole DELETE refuses at `canDeleteWhere` —
    * Spark's default V2→V1 bridge can silently LOSE an inconvertible
    * branch (observed: `id % 10 = 3 OR id >= 90` deleted only the
    * right disjunct through the bridge), and a lossy condition on a
    * DELETE is data corruption, not an optimization miss. General
    * arithmetic (%, +, −, *) is translatable because
    * [[graft.sink.MorLog.deleteWhere]] evaluates a full Spark plan,
    * not the Group reader's claim set. */
  def v2ToColumn(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.Column] = e match {
    case r: org.apache.spark.sql.connector.expressions.NamedReference
        if r.fieldNames.length == 1 =>
      Some(col(r.fieldNames.head))
    case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
      scala.util.Try(lit(
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType))).toOption
    case g: org.apache.spark.sql.connector.expressions.GeneralScalarExpression =>
      val ch = g.children.toSeq.map(v2ToColumn)
      if (ch.exists(_.isEmpty)) None
      else (g.name, ch.map(_.get)) match {
        case ("=", Seq(a, b)) => Some(a === b)
        case ("<>", Seq(a, b)) => Some(a =!= b)
        case ("<=>", Seq(a, b)) => Some(a <=> b)
        case ("<", Seq(a, b)) => Some(a < b)
        case ("<=", Seq(a, b)) => Some(a <= b)
        case (">", Seq(a, b)) => Some(a > b)
        case (">=", Seq(a, b)) => Some(a >= b)
        case ("AND", Seq(a, b)) => Some(a && b)
        case ("OR", Seq(a, b)) => Some(a || b)
        case ("NOT", Seq(a)) => Some(!a)
        case ("IS_NULL", Seq(a)) => Some(a.isNull)
        case ("IS_NOT_NULL", Seq(a)) => Some(a.isNotNull)
        case ("IN", a +: rest) if rest.nonEmpty =>
          Some(rest.map(a === _).reduce(_ || _))
        case ("%", Seq(a, b)) => Some(a % b)
        case ("+", Seq(a, b)) => Some(a + b)
        case ("-", Seq(a, b)) => Some(a - b)
        case ("-", Seq(a)) => Some(-a)
        case ("*", Seq(a, b)) => Some(a * b)
        case _ => None
      }
    case _ => None
  }

  def withChangeCols(schema: StructType): StructType =
    StructType(schema.fields ++ Seq(
      StructField(ChangeType, StringType, nullable = false),
      StructField(CommitVersion, IntegerType, nullable = false)))

  /** `changesFromTimestamp`/`changesToTimestamp` → the version span
    * they anchor: from = the newest version committed strictly BEFORE
    * the timestamp (so every version stamped at-or-after it is
    * delivered; earlier than the first retained commit = the full
    * history), to = newest at-or-before. Mutually exclusive with the
    * version forms, loudly. */
  def resolveChangesFrom(spark: org.apache.spark.sql.SparkSession,
                         dir: String, byVersion: Option[String],
                         byTs: Option[String]): Option[String] = {
    require(byVersion.isEmpty || byTs.isEmpty,
      "changesFrom and changesFromTimestamp are mutually exclusive")
    byVersion.orElse(byTs.map(t => MorLog.versionBefore(spark, dir,
      parseTsMillis(spark, t)).toString))
  }

  def resolveChangesTo(spark: org.apache.spark.sql.SparkSession,
                       dir: String, byVersion: Option[String],
                       byTs: Option[String]): Option[String] = {
    require(byVersion.isEmpty || byTs.isEmpty,
      "changesTo and changesToTimestamp are mutually exclusive")
    byVersion.orElse(byTs.map(t => MorLog.versionAt(spark, dir,
      parseTsMillis(spark, t)).toString))
  }

  /** (from, to) when the options select the change feed; validates
    * option combinations loudly. */
  def changesSpan(spark: org.apache.spark.sql.SparkSession, dir: String,
                  options: CaseInsensitiveStringMap): Option[(Int, Int)] =
    spanOf(spark, dir,
      resolveChangesFrom(spark, dir,
        Option(options.get("changesFrom")),
        Option(options.get("changesFromTimestamp"))),
      resolveChangesTo(spark, dir,
        Option(options.get("changesTo")),
        Option(options.get("changesToTimestamp"))),
      Option(options.get("versionAsOf")))

  def spanOf(spark: org.apache.spark.sql.SparkSession, dir: String,
             changesFrom: Option[String], changesTo: Option[String],
             versionAsOf: Option[String]): Option[(Int, Int)] =
    changesFrom match {
      case None =>
        require(changesTo.isEmpty,
          "changesTo requires changesFrom")
        None
      case Some(f) =>
        require(versionAsOf.isEmpty,
          "versionAsOf and changesFrom are mutually exclusive")
        val from = f.trim.toInt
        val to = changesTo.map(_.trim.toInt)
          .getOrElse(MorLog.currentVersion(spark, dir))
        Some((from, to))
    }
}

class MorLogTable(val path: String, version: Option[Int],
                  changesFrom: Option[Int], changesTo: Option[Int],
                  tblSchema: StructType,
                  createPartitionBy: Seq[String] = Seq.empty,
                  streamChanges: Boolean = false,
                  startingVersion: Option[Int] = None)
    extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {
  override def name(): String =
    s"graft_morlog($path${version.map("@v" + _).getOrElse("")}" +
      s"${changesFrom.map(f => s"@changes($f,${changesTo.getOrElse("tip")}]")
        .getOrElse("")})"

  /** Guards for the SQL DML strategy ([[graft.plans
    * .MorLogDmlStrategy]]): UPDATE/MERGE must target the current
    * snapshot, never a time-travel or change-feed relation. */
  def pinnedVersionOpt: Option[Int] = version
  def isChangeRelation: Boolean = changesFrom.isDefined || streamChanges

  /** The table's partition transforms — the COMMITTED spec for
    * existing tables, the declared one on the create-on-first-write
    * route (DataFrameWriter validates its `partitionBy` against
    * this). */
  override def partitioning(): Array[Transform] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val spec =
      if (graft.sink.MorLog.versions(spark, path).nonEmpty)
        graft.sink.MorLog.partitionSpec(spark, path)
      else createPartitionBy
    spec.map { e =>
      val (c, tf) = graft.sink.MorLog.parsePartEntry(e)
      tf match {
        case "identity" =>
          org.apache.spark.sql.connector.expressions.Expressions
            .identity(c)
        case "days" => org.apache.spark.sql.connector.expressions
          .Expressions.days(c)
        case "months" => org.apache.spark.sql.connector.expressions
          .Expressions.months(c)
        case "years" => org.apache.spark.sql.connector.expressions
          .Expressions.years(c)
        case "hours" => org.apache.spark.sql.connector.expressions
          .Expressions.hours(c)
      }
    }.toArray
  }
  override def schema(): StructType = tblSchema

  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED: the durable per-table
    * map off the log's tip meta (round-15 verdict's #3). */
  override def properties(): util.Map[String, String] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val m = new util.HashMap[String, String]()
    graft.sink.MorLog.tableProps(spark, path)
      .foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new MorLogScanBuilder(path, version, changesFrom, changesTo,
      tblSchema, streamChanges, startingVersion,
      Option(options.get("maxVersionsPerTrigger")).map(_.trim.toInt))

  /** SQL `DELETE FROM … WHERE …`: the predicate conjunction maps onto
    * [[graft.sink.MorLog.deleteWhere]] — whole-file metadata drops
    * where stats PROVE the predicate, tombstones for the rest, one
    * committed version. `TRUNCATE TABLE` is the empty conjunction
    * (provably-true: every file drops metadata-only). Translation is
    * STRICT at the V2 predicate level ([[MorLogFacade.v2ToColumn]]) —
    * an inexpressible condition refuses the whole DELETE loudly
    * rather than risk the lossy default V1 bridge. */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Boolean =
    version.isEmpty && changesFrom.isEmpty && !streamChanges &&
      predicates.forall(p => MorLogFacade.v2ToColumn(p).isDefined)
  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val cond = predicates.toSeq.map(p =>
        MorLogFacade.v2ToColumn(p).getOrElse(throw
          new IllegalArgumentException(s"untranslatable predicate $p")))
      .reduceOption(_ && _).getOrElse(lit(true))
    MorLog.deleteWhere(spark, path, cond)
  }

  /** WRITE surface, via the V1 fallback (the same route Spark's own
    * JDBC source takes): the resolved frame lands driver-side as one
    * [[graft.sink.MorLog.append]] / `overwrite` commit — the log's
    * own staging writes the files distributed, so nothing collects;
    * only the plan handle crosses the boundary. A write to a path
    * with NO log yet CREATES the table from the frame (save mode
    * semantics). Time-travel and change-feed relations refuse
    * writes. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(version.isEmpty && changesFrom.isEmpty && !streamChanges,
      "writes must target the CURRENT snapshot — versionAsOf/" +
        "changesFrom/streamChanges relations are read-only")
    new MorLogWriteBuilder(path, createPartitionBy, info)
  }
}

class MorLogWriteBuilder(path: String, partitionBy: Seq[String],
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var overwrite = false
  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true; this
  }
  /** A comma-separated list option; `Some(empty)` when the option is
    * present but names nothing. Comma-separated `mergeKey` = a
    * COMPOSITE key (the tuple forms of the locate/netting — same
    * semantics as multi-equality MERGE ON); comma-separated `netBy` =
    * a lexicographic order tuple. */
  private def listOpt(name: String): Option[Seq[String]] =
    Option(info.options.get(name)).map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq)

  /** A netted sink write (`mergeKey` + `netBy`) also declares the
    * input its writers net in one pass ([[MorLogEpochWriter]]): every
    * row of a key in ONE task, sorted by key ascending, then by the
    * order tuple descending. Strictly required: a non-strict
    * distribution plans a `RebalancePartitions`, whose AQE skew split
    * (`OptimizeSkewInRebalancePartitions`) may cut one key's rows
    * across two tasks; the strict form plans a `RepartitionByExpression`
    * that AQE still coalesces (a 2k-row epoch runs as one task).
    * `requiredNumPartitions = 0` leaves the count to the session. */
  override def build(): org.apache.spark.sql.connector.write.Write = {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NamedReference, SortDirection, SortOrder}
    val keys = listOpt("mergeKey").getOrElse(Nil)
    val netBys = listOpt("netBy").getOrElse(Nil)
    // quoted: a column name is one identifier, dots included
    def ref(c: String): NamedReference =
      Expressions.column("`" + c.replace("`", "``") + "`")
    if (keys.isEmpty || netBys.isEmpty) new MorLogWrite
    else new MorLogWrite
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      override def requiredDistribution(): Distribution =
        Distributions.clustered(keys.map(ref(_): Expression).toArray)
      override def distributionStrictlyRequired(): Boolean = true
      override def requiredNumPartitions(): Int = 0
      override def requiredOrdering(): Array[SortOrder] =
        (keys.map(k => Expressions.sort(ref(k), SortDirection.ASCENDING)) ++
          netBys.map(c => Expressions.sort(ref(c), SortDirection.DESCENDING)))
          .toArray
    }
  }

  private class MorLogWrite
      extends org.apache.spark.sql.connector.write.V1Write {
    override def toInsertableRelation()
        : org.apache.spark.sql.sources.InsertableRelation =
      (data: org.apache.spark.sql.DataFrame, ow: Boolean) => {
        val spark = data.sparkSession
        if (MorLog.versions(spark, path).isEmpty)
          MorLog.create(data, path, partitionBy)
        else if (overwrite || ow) MorLog.overwrite(spark, path, data)
        else MorLog.append(spark, path, data)
      }

    /** STREAMING sink (`df.writeStream.format(...)`): resolve the
      * table's schema/physical mapping/partition spec ONCE at query
      * start, validate the stream frame against it loudly, and hand
      * executors a [[MorLogStreamingWrite]] — see that class for the
      * epoch protocol. Options: `mergeKey` (keyed upsert apply;
      * absent = plain append epochs), `opCol` + `deleteValue`
      * (default "D") route delete-tagged rows. */
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      val spark = org.apache.spark.sql.SparkSession.active
      require(MorLog.versions(spark, path).nonEmpty,
        "streaming write needs an existing table — create it first " +
          "(the schema and partition spec are the table's contract)")
      val (cols, parts) = MorLog.connectorSinkPlan(spark, path)
      val opts = info.options
      val mergeKeyOpt = listOpt("mergeKey")
      val mergeKeys = mergeKeyOpt.getOrElse(Nil)
      // a present-but-empty option must not silently select APPEND
      // mode (review-caught: a typo'd "" duplicated every epoch)
      require(mergeKeyOpt.isEmpty || mergeKeys.nonEmpty,
        "mergeKey: the option is present but names no column")
      require(mergeKeys.distinct.size == mergeKeys.size,
        s"mergeKey: duplicate column in $mergeKeys")
      val opCol = Option(opts.get("opCol"))
      val deleteValue = Option(opts.get("deleteValue")).getOrElse("D")
      require(opCol.isEmpty || mergeKeys.nonEmpty,
        "opCol routing needs mergeKey (deletes are keyed)")
      // optional in-epoch netting: without it an epoch must be
      // key-unique per side (one source version per epoch); with it
      // duplicate keys last-wins-net in the writers on this ORDER
      // column LIST (lexicographic — the tail entries break
      // coarse-timestamp ties), so arbitrary multi-version feeds
      // can sink uncapped
      val netByOpt = listOpt("netBy")
      val netBys = netByOpt.getOrElse(Nil)
      require(netByOpt.isEmpty || netBys.nonEmpty,
        "netBy: the option is present but names no column")
      require(netBys.distinct.size == netBys.size,
        s"netBy: duplicate column in $netBys")
      require(netBys.isEmpty || mergeKeys.nonEmpty,
        "netBy needs mergeKey (netting is per key)")
      // precedence: writer option > durable TABLE property >
      // session conf > default (table knobs travel with the table)
      val maxOpenWriters =
        Option(opts.get("maxOpenWriters")).map(_.trim.toInt)
          .orElse(MorLog.tableProp(spark, path,
            "graft.sink.maxOpenWriters").map(_.trim.toInt))
          .getOrElse(32)
      require(maxOpenWriters >= 1,
        "maxOpenWriters must be >= 1")
      val in = info.schema
      val expected = cols.map(_._1).toSet ++ opCol.toSet
      require(in.fieldNames.toSet == expected,
        s"stream columns ${in.fieldNames.sorted.mkString(", ")} must " +
          s"be the table's ${cols.map(_._1).sorted.mkString(", ")}" +
          opCol.map(c => s" plus $c").getOrElse(""))
      cols.foreach { case (n, dt, _) =>
        require(in(n).dataType == dt,
          s"stream column $n: ${in(n).dataType.simpleString} must " +
            s"equal the table's ${dt.simpleString} (the sink casts " +
            "nothing — align the frame)")
        require(GroupEncode.supported(dt),
          s"streaming sink cannot encode $n: ${dt.simpleString}")
      }
      opCol.foreach(c => require(in(c).dataType == StringType,
        s"opCol $c must be STRING"))
      mergeKeys.foreach(k => require(cols.exists(_._1 == k),
        s"mergeKey $k is not a table column"))
      netBys.foreach(c => require(cols.exists(_._1 == c),
        s"netBy $c is not a table column"))
      netBys.foreach(c => require(!mergeKeys.contains(c),
        s"netBy $c must differ from mergeKey (ordering within a key)"))
      val dataNames = cols.map(_._1).toArray
      val dataTypes = cols.map(_._2).toArray
      val physNames = cols.map(_._3).toArray
      val dataOrdinals = dataNames.map(in.fieldIndex)
      val partIdx = parts.map { case (n, tf) =>
        (dataNames.indexOf(n), tf) }
      new MorLogStreamingWrite(path, info.queryId, dataNames,
        dataTypes, physNames, dataOrdinals, partIdx,
        opCol.map(in.fieldIndex).getOrElse(-1), deleteValue,
        mergeKeys,
        mergeKeys.map(k => physNames(dataNames.indexOf(k))).toArray,
        mergeKeys.map(k => dataTypes(dataNames.indexOf(k))).toArray,
        new DvPerFile.SerConf(spark.sparkContext.hadoopConfiguration),
        // session zone: the sink's partition derivation must group
        // by the same boundaries as the batch path's session-zone
        // SQL transforms (review-caught)
        spark.conf.get("spark.sql.session.timeZone"),
        netBys,
        netBys.map(c => physNames(dataNames.indexOf(c))).toArray,
        netBys.map(in.fieldIndex).toArray,
        netBys.map(c => dataTypes(dataNames.indexOf(c))).toArray,
        maxOpenWriters,
        // the sink's files land in the table as written: compress
        // them as Spark's own writes would
        org.apache.spark.sql.execution.datasources.parquet
          .ParquetCompressionCodec.fromString(
            spark.conf.get("spark.sql.parquet.compression.codec"))
          .getCompressionCodec)
    }
  }
}

class MorLogScanBuilder(path: String, version: Option[Int],
                        changesFrom: Option[Int], changesTo: Option[Int],
                        full: StructType,
                        streamChanges: Boolean = false,
                        startingVersion: Option[Int] = None,
                        maxVersionsPerTrigger: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  // claim a comparison only when the reader can evaluate it EXACTLY:
  // supported column type and a literal of the column's runtime class
  private def matches(a: String, v: Any): Boolean =
    full.fields.find(_.name == a).exists { f =>
      MorLogFacade.supportedType(f.dataType) && (f.dataType match {
        case LongType => v.isInstanceOf[java.lang.Long]
        case IntegerType => v.isInstanceOf[java.lang.Integer]
        case DoubleType => v.isInstanceOf[java.lang.Double]
        case FloatType => v.isInstanceOf[java.lang.Float]
        case StringType => v.isInstanceOf[String]
        case BooleanType => v.isInstanceOf[java.lang.Boolean]
        case DateType => v.isInstanceOf[java.sql.Date] ||
          v.isInstanceOf[java.time.LocalDate]
        case TimestampType => v.isInstanceOf[java.sql.Timestamp] ||
          v.isInstanceOf[java.time.Instant]
        case _: DecimalType => v.isInstanceOf[java.math.BigDecimal]
        case _ => false
      })
    }

  private def supported(f: Filter): Boolean = f match {
    case EqualTo(a, v) => matches(a, v)
    case GreaterThan(a, v) => matches(a, v)
    case GreaterThanOrEqual(a, v) => matches(a, v)
    case LessThan(a, v) => matches(a, v)
    case LessThanOrEqual(a, v) => matches(a, v)
    case In(a, vs) => vs.nonEmpty && vs.forall(matches(a, _))
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // the change-feed scans claim nothing (their rows carry virtual
    // columns a file-stat can't see); Catalyst keeps every filter
    if (changesFrom.isDefined || streamChanges) return filters
    val (ours, residual) = filters.partition(supported)
    pushed = ours
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (streamChanges)
      return MorLogStreamScan(path, required, startingVersion,
        maxVersionsPerTrigger)
    MorLogFacade.spanOf(spark, path,
      changesFrom.map(_.toString), changesTo.map(_.toString),
      version.map(_.toString)) match {
      case Some((from, to)) =>
        MorLogChangesScan(path, from, to, required)
      case None =>
        // pin the snapshot ONCE: planInputPartitions and
        // createReaderFactory must agree even if a commit (e.g. a
        // rename) lands between the two calls
        val pinned = version.getOrElse(MorLog.currentVersion(spark, path))
        MorLogScan(path, pinned, required, pushed)
    }
  }
}

/** STREAMING change-feed scan (`spark.readStream.format(...)
  * .option("streamChanges", "true")`): offsets ARE committed log
  * versions, each micro-batch is the change span between two of them
  * — the same per-file event partitions and reader the batch CDF
  * uses, under Structured Streaming's own checkpointing (Delta's
  * streaming-source shape). `startingVersion = v` streams changes
  * from version v ONWARD (inclusive; 0 replays the whole history,
  * create included — Delta's convention); absent, the stream starts
  * at the tip and delivers only commits that land after it. */
case class MorLogStreamScan(path: String, required: StructType,
                            startingVersion: Option[Int],
                            maxVersionsPerTrigger: Option[Int] = None)
    extends Scan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft_morlog path=$path streamChanges starting=" +
      s"${startingVersion.getOrElse(-1)}"
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new MorLogMicroBatchStream(path, required, startingVersion,
      maxVersionsPerTrigger)
}

/** One offset = one committed version (inclusive upper bound of the
  * delivered span). */
case class MorLogOffset(v: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

class MorLogMicroBatchStream(path: String, outSchema: StructType,
                             startingVersion: Option[Int],
                             maxVersionsPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  private def spark = org.apache.spark.sql.SparkSession.active

  /** Trigger.AvailableNow contract: capture the tip ONCE at query
    * start and drain (admission-capped) batches up to exactly it —
    * without this Spark falls back to a SINGLE Trigger.Once-style
    * batch, which silently ignores maxVersionsPerTrigger. */
  @volatile private var availableTip: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableTip = Some(MorLog.currentVersion(spark, path))

  /** Admission control: cap each micro-batch at
    * `maxVersionsPerTrigger` source versions. `= 1` makes every epoch
    * exactly one committed version — which is what makes the
    * streaming SINK's per-epoch keyed netting exact for any
    * lifecycle (a version's delete+insert upsert pair stays one
    * epoch; distinct versions never share one). */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val tip = availableTip.getOrElse(MorLog.currentVersion(spark, path))
    val s = start.asInstanceOf[MorLogOffset].v
    MorLogOffset(maxVersionsPerTrigger
      .map(m => math.min(tip, s + math.max(1, m))).getOrElse(tip))
  }

  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    MorLogOffset(MorLog.currentVersion(spark, path))

  override def initialOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    // inclusive startingVersion → exclusive span lower bound
    MorLogOffset(startingVersion.map(_ - 1).getOrElse(
      MorLog.currentVersion(spark, path)))

  override def latestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    MorLogOffset(MorLog.currentVersion(spark, path))

  override def deserializeOffset(json: String)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    MorLogOffset(json.trim.toInt)

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[MorLogOffset].v
    val e = end.asInstanceOf[MorLogOffset].v
    if (s >= e) return Array.empty
    // the logical→physical map rides EACH PARTITION, resolved at the
    // batch's own END version: resolving at the current tip in
    // createReaderFactory raced a rename/evolve committed between
    // latestOffset and factory creation — the stale logical-name
    // fallback then silently read nulls (advice-caught). The span
    // plan itself already rejects renames INSIDE (s, e].
    val (_, logToPhys, specs) =
      MorLog.connectorChangesPlan(spark, path, s, e)
    val phys = dataFields.map(f => logToPhys.getOrElse(f.name, f.name))
    specs.map(sp => MorLogChangePartition(sp.file, sp.version,
      sp.changeType, sp.mode, sp.idxs, sp.oldSidecar,
      sp.newSidecar, phys): InputPartition).toArray
  }

  private def dataFields = outSchema.fields.filter(f =>
    f.name != MorLogFacade.ChangeType &&
      f.name != MorLogFacade.CommitVersion)

  override def createReaderFactory(): PartitionReaderFactory =
    MorLogChangesReaderFactory(outSchema, StructType(dataFields),
      // per-batch phys names ride the partitions (see above); this
      // fallback serves only legacy partitions with none
      dataFields.map(_.name),
      new DvPerFile.SerConf(spark.sparkContext.hadoopConfiguration))

  override def commit(
      end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

case class MorLogScan(path: String, pinnedVersion: Int,
                      required: StructType, filters: Array[Filter])
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_morlog path=$path v=$pinnedVersion, " +
      s"PrunedSchema: ${required.simpleString}, " +
      s"PushedFilters: [${filters.mkString(", ")}]"

  /** Planning-time stats for the pruned file set: rows from the
    * log's CACHED footer counts, bytes from the files' ON-DISK
    * lengths × `spark.sql.sources.fileCompressionFactor` — the exact
    * basis Spark's own file sources use, so the broadcast threshold
    * compares like for like (review-caught: rows × schema
    * defaultSize under-weighs wide variable-length columns by orders
    * of magnitude and could wrongly broadcast a huge table). Unknown
    * (conservative default ≈ ∞) when any surviving file lacks stats
    * or a length — see [[graft.sink.MorLog.estimateScanRows]]. This
    * is what lets a small catalog table AUTO-broadcast in a join. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val spark = org.apache.spark.sql.SparkSession.active
    val cond = filters.map(filterToColumn).reduceOption(_ && _)
    val est = scala.util.Try(MorLog.estimateScanRows(
      spark, path, pinnedVersion, cond)).toOption.flatten
    val factor = spark.conf
      .get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        est.map { case (_, b) => java.util.OptionalLong.of(
          math.max(1L, (b * factor).toLong)) }
          .getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        est.map { case (r, _) => java.util.OptionalLong.of(r) }
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  /** One partition per surviving data file — the log's stats prune
    * under the pushed filters BEFORE any task exists. */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val bad = required.fields.filterNot(f =>
      MorLogFacade.supportedType(f.dataType))
    require(bad.isEmpty,
      s"MorLogSource reader does not decode column(s) ${bad.map(f =>
        s"${f.name}: ${f.dataType.simpleString}").mkString(", ")} — " +
        "read those through MorLog.read (the native path)")
    val cond = filters.map(filterToColumn).reduceOption(_ && _)
    val (schema, files, logToPhys, bTombs, pfCeil, skipped) =
      MorLog.connectorPlan(spark, path, Some(pinnedVersion), cond)
    MorLogSourceStats.lastFilesScanned = files.size
    MorLogSourceStats.lastFilesSkipped = skipped
    val pfDir = if (pfCeil >= 0) DvPerFile.pfDir(path) else null
    files.sorted.map { f =>
      val base = new Path(f).getName
      MorLogPartition(f, bTombs.getOrElse(base, Array.empty),
        pfDir, pfCeil): InputPartition
    }.toArray
  }

  private def filterToColumn(f: Filter): org.apache.spark.sql.Column =
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isInCollection(vs.toSeq)
      case _ => lit(true)
    }

  // metadata-only twin of the partition plan (no tombstone collect),
  // resolved once per scan
  private lazy val factoryPlan = MorLog.connectorPlan(
    org.apache.spark.sql.SparkSession.active, path, Some(pinnedVersion),
    None, withTombs = false)

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val (schema, _, logToPhys, _, _, _) = factoryPlan
    // a CLAIMED filter is never re-checked by Catalyst, and the
    // pruned projection may exclude its columns — the reader reads
    // required ∪ filter-referenced, then emits only the required
    val extra = filters.flatMap(_.references).distinct
      .filterNot(required.fieldNames.contains)
      .flatMap(n => schema.fields.find(_.name == n))
    val readSchema = StructType(required.fields ++ extra)
    MorLogReaderFactory(readSchema,
      readSchema.fields.map(f => logToPhys.getOrElse(f.name, f.name)),
      filters, required.fields.length,
      new DvPerFile.SerConf(spark.sparkContext.hadoopConfiguration))
  }
}

/** CDF scan: one partition per (file, version, change-kind) event
  * source from [[MorLog.connectorChangesPlan]]. No filter claiming;
  * column pruning applies (virtual columns materialize from the
  * partition's own tags). */
case class MorLogChangesScan(path: String, fromV: Int, toV: Int,
                             required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_morlog path=$path changes=($fromV,$toV], " +
      s"PrunedSchema: ${required.simpleString}"

  // ONE span plan serves both planInputPartitions and the reader
  // factory (the span is pinned by (fromV, toV), and re-planning
  // would re-collect the broadcast tier's delta arrays)
  private lazy val planned = MorLog.connectorChangesPlan(
    org.apache.spark.sql.SparkSession.active, path, fromV, toV)

  override def planInputPartitions(): Array[InputPartition] = {
    val (schema, _, specs) = planned
    val dataFields = required.fields.filterNot(f =>
      f.name == MorLogFacade.ChangeType ||
        f.name == MorLogFacade.CommitVersion)
    val bad = dataFields.filterNot(f =>
      MorLogFacade.supportedType(f.dataType))
    require(bad.isEmpty,
      s"MorLogSource reader does not decode column(s) ${bad.map(f =>
        s"${f.name}: ${f.dataType.simpleString}").mkString(", ")} — " +
        "read those through MorLog.incrementalChanges (the native path)")
    MorLogSourceStats.lastChangePartitions = specs.size
    specs.map(s => MorLogChangePartition(s.file, s.version,
      s.changeType, s.mode, s.idxs, s.oldSidecar,
      s.newSidecar): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val (_, logToPhys, _) = planned
    val dataFields = required.fields.filter(f =>
      f.name != MorLogFacade.ChangeType &&
        f.name != MorLogFacade.CommitVersion)
    MorLogChangesReaderFactory(required,
      StructType(dataFields),
      dataFields.map(f => logToPhys.getOrElse(f.name, f.name)),
      new DvPerFile.SerConf(spark.sparkContext.hadoopConfiguration))
  }
}

case class MorLogPartition(file: String, tombs: Array[Long],
                           pfDir: String, pfCeil: Int)
    extends InputPartition

case class MorLogChangePartition(file: String, version: Int,
                                 changeType: String, mode: String,
                                 idxs: Array[Long], oldSidecar: String,
                                 newSidecar: String,
                                 physNames: Array[String] = null)
    extends InputPartition

case class MorLogReaderFactory(readSchema: StructType,
                               physNames: Array[String],
                               filters: Array[Filter],
                               nRequired: Int,
                               conf: DvPerFile.SerConf)
    extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[MorLogPartition]
    new MorLogReader(mp, readSchema, physNames, filters, nRequired,
      new Configuration(conf.value))
  }
}

case class MorLogChangesReaderFactory(outSchema: StructType,
                                      dataSchema: StructType,
                                      physNames: Array[String],
                                      conf: DvPerFile.SerConf)
    extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[MorLogChangePartition]
    new MorLogChangesReader(mp, outSchema, dataSchema,
      if (mp.physNames != null) mp.physNames else physNames,
      new Configuration(conf.value))
  }
}

/** Group→Catalyst decode shared by the snapshot and change-feed
  * readers: flat and one-level-nested values under the physical
  * column projection, incl. the timestamp encodings Spark writes
  * (INT64 micros/millis/nanos and legacy INT96) and
  * int32/int64/binary-backed decimals. */
private[graft] object GroupDecode {

  /** phys name → projected-group field ordinal (constant across a
    * file's rows). */
  def resolveIdx(g: Group, physNames: Array[String]): Array[Int] = {
    val names = new java.util.ArrayList[String]()
    val it = g.getType.getFields.iterator()
    while (it.hasNext) names.add(it.next().getName)
    physNames.map(names.indexOf(_))
  }

  private val JulianEpochDay = 2440588L

  def value(g: Group, fi: Int, dt: DataType): Any = {
    if (fi < 0 || g.getFieldRepetitionCount(fi) == 0) return null
    dt match {
      case LongType => java.lang.Long.valueOf(g.getLong(fi, 0))
      case IntegerType | DateType =>
        java.lang.Integer.valueOf(g.getInteger(fi, 0))
      case DoubleType => java.lang.Double.valueOf(g.getDouble(fi, 0))
      case FloatType => java.lang.Float.valueOf(g.getFloat(fi, 0))
      case BooleanType => java.lang.Boolean.valueOf(g.getBoolean(fi, 0))
      case StringType =>
        UTF8String.fromBytes(g.getBinary(fi, 0).getBytes)
      case TimestampType =>
        val pt = g.getType.getType(fi).asPrimitiveType()
        pt.getPrimitiveTypeName match {
          case PrimitiveType.PrimitiveTypeName.INT96 =>
            // 12 LE bytes: nanos-of-day then Julian day
            val b = java.nio.ByteBuffer
              .wrap(g.getInt96(fi, 0).getBytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanos = b.getLong; val jd = b.getInt
            java.lang.Long.valueOf(
              (jd - JulianEpochDay) * 86400000000L + nanos / 1000L)
          case _ =>
            val raw = g.getLong(fi, 0)
            val micros = pt.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
                  case LogicalTypeAnnotation.TimeUnit.NANOS => raw / 1000L
                  case _ => raw
                }
              case _ => raw // bare INT64: assume micros
            }
            java.lang.Long.valueOf(micros)
        }
      case d: DecimalType =>
        val pt = g.getType.getType(fi).asPrimitiveType()
        pt.getPrimitiveTypeName match {
          case PrimitiveType.PrimitiveTypeName.INT32 =>
            Decimal(g.getInteger(fi, 0).toLong, d.precision, d.scale)
          case PrimitiveType.PrimitiveTypeName.INT64 =>
            Decimal(g.getLong(fi, 0), d.precision, d.scale)
          case _ =>
            val bytes = g.getBinary(fi, 0).getBytes
            Decimal(new java.math.BigDecimal(
              new java.math.BigInteger(bytes), d.scale),
              d.precision, d.scale)
        }
      case s: StructType =>
        val child = g.getGroup(fi, 0)
        val ct = child.getType
        new GenericInternalRow(s.fields.map { cf =>
          // nested children keep their logical names (the column
          // mapping stamps top-level fields only)
          if (!ct.containsField(cf.name)) null
          else value(child, ct.getFieldIndex(cf.name), cf.dataType)
        }.asInstanceOf[Array[Any]])
      case _ => null
    }
  }

  /** Parquet read projection: the file's top-level fields whose names
    * the scan wants (nested groups project whole; the decoder prunes
    * children). */
  def projectedSchema(fileSchema: MessageType,
                      want: Set[String]): MessageType = {
    val kept = fileSchema.getFields.iterator()
    val sel = new java.util.ArrayList[org.apache.parquet.schema.Type]()
    while (kept.hasNext) {
      val t = kept.next()
      if (want.contains(t.getName)) sel.add(t)
    }
    new MessageType(fileSchema.getName, sel)
  }

  def openReader(conf: Configuration, p: Path,
                 physNames: Array[String]): ParquetReader[Group] = {
    val footer = graft.sink.LocalParquet.openFile(conf, p)
    val fileSchema = try footer.getFooter.getFileMetaData.getSchema
    finally footer.close()
    conf.set(ReadSupport.PARQUET_READ_SCHEMA,
      projectedSchema(fileSchema, physNames.toSet).toString)
    graft.sink.LocalParquet.groupReader(conf, p)
  }
}

/** Reads one data file record-by-record under the PHYSICAL column
  * projection, subtracts tombstones by row index (binary search over
  * the partition's broadcast-tier array, or the sidecar probe in the
  * per-file tier), evaluates the pushed filters, and materializes only
  * the required columns. */
class MorLogReader(part: MorLogPartition, required: StructType,
                   physNames: Array[String], filters: Array[Filter],
                   nRequired: Int, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val p = new Path(part.file)
  private val fileUtf8 = UTF8String.fromString(part.file)

  private val reader: ParquetReader[Group] =
    GroupDecode.openReader(conf, p, physNames)

  private var row: InternalRow = _
  private var rowIdx = -1L

  private def deleted(idx: Long): Boolean =
    if (part.pfCeil >= 0)
      graft.sink.DvScanCache.deleted(conf, part.pfDir, part.pfCeil,
        fileUtf8, idx)
    else java.util.Arrays.binarySearch(part.tombs, idx) >= 0

  private var fieldIdx: Array[Int] = _

  private def micros(x: Any): Option[Long] = x match {
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos % 1000000) / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }
  private def days(x: Any): Option[Int] = x match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toInt)
    case d: java.time.LocalDate => Some(d.toEpochDay.toInt)
    case _ => None
  }

  private def passes(vals: Array[Any]): Boolean = {
    def v(a: String): Any = {
      val i = required.fieldNames.indexOf(a)
      if (i >= 0) vals(i) else null
    }
    def fieldType(a: String): Option[DataType] =
      required.fields.find(_.name == a).map(_.dataType)
    def cmp(a: String, x: Any): Option[Int] = (v(a), x) match {
      case (null, _) => None
      case (l: java.lang.Long, r: java.lang.Long) =>
        Some(java.lang.Long.compare(l, r))
      case (l: java.lang.Long, r) if fieldType(a).contains(TimestampType) =>
        micros(r).map(m => java.lang.Long.compare(l, m))
      case (l: java.lang.Integer, r: java.lang.Integer) =>
        Some(java.lang.Integer.compare(l, r))
      case (l: java.lang.Integer, r) if fieldType(a).contains(DateType) =>
        days(r).map(d => java.lang.Integer.compare(l, d))
      case (l: java.lang.Double, r: java.lang.Double) =>
        Some(java.lang.Double.compare(l, r))
      case (l: java.lang.Float, r: java.lang.Float) =>
        Some(java.lang.Float.compare(l, r))
      case (l: UTF8String, r: String) =>
        Some(l.toString.compareTo(r))
      case (l: java.lang.Boolean, r: java.lang.Boolean) =>
        Some(java.lang.Boolean.compare(l, r))
      case (l: Decimal, r: java.math.BigDecimal) =>
        Some(l.toJavaBigDecimal.compareTo(r))
      case _ => None
    }
    filters.forall {
      case EqualTo(a, x) => cmp(a, x).exists(_ == 0)
      case GreaterThan(a, x) => cmp(a, x).exists(_ > 0)
      case GreaterThanOrEqual(a, x) => cmp(a, x).exists(_ >= 0)
      case LessThan(a, x) => cmp(a, x).exists(_ < 0)
      case LessThanOrEqual(a, x) => cmp(a, x).exists(_ <= 0)
      case In(a, xs) => xs.exists(x => cmp(a, x).contains(0))
      case _ => true
    }
  }

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null) {
      if (fieldIdx == null)
        fieldIdx = GroupDecode.resolveIdx(g, physNames)
      rowIdx += 1
      if (!deleted(rowIdx)) {
        val vals = new Array[Any](required.fields.length)
        var i = 0
        while (i < vals.length) {
          vals(i) = GroupDecode.value(g, fieldIdx(i),
            required.fields(i).dataType)
          i += 1
        }
        if (passes(vals)) {
          row = new GenericInternalRow(
            if (vals.length == nRequired) vals else vals.take(nRequired))
          return true
        }
      }
      g = reader.read()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

/** Change-feed reader: emits one partition's change events — all rows
  * (an added file), exactly the tombstoned rows (a delete delta —
  * broadcast-tier indexes ride the partition, per-file-tier readers
  * diff their own sidecar pair), or a dropped file's previously
  * visible rows — with the partition's `_change_type` and
  * `_commit_version` appended where the scan asked for them. */
class MorLogChangesReader(part: MorLogChangePartition,
                          outSchema: StructType, dataSchema: StructType,
                          physNames: Array[String], conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val reader: ParquetReader[Group] =
    GroupDecode.openReader(conf, new Path(part.file), physNames)

  /** Sorted selection set: include-mode rows IN it emit; exclude-mode
    * rows NOT in it emit. */
  private val sel: Array[Long] = part.mode match {
    case "all" => Array.empty
    case "include" =>
      if (part.newSidecar.isEmpty) part.idxs
      else {
        val now = DvPerFile.readSidecar(conf, new Path(part.newSidecar))._2
        if (part.oldSidecar.isEmpty) now
        else {
          val old = DvPerFile.readSidecar(conf,
            new Path(part.oldSidecar))._2
          diffSorted(now, old)
        }
      }
    case _ => // exclude
      if (part.oldSidecar.nonEmpty)
        DvPerFile.readSidecar(conf, new Path(part.oldSidecar))._2
      else part.idxs
  }

  /** now − old, both sorted. */
  private def diffSorted(now: Array[Long], old: Array[Long]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0; var j = 0
    while (i < now.length) {
      while (j < old.length && old(j) < now(i)) j += 1
      if (j >= old.length || old(j) != now(i)) out += now(i)
      i += 1
    }
    out.result()
  }

  private def emits(idx: Long): Boolean = part.mode match {
    case "all" => true
    case "include" => java.util.Arrays.binarySearch(sel, idx) >= 0
    case _ => java.util.Arrays.binarySearch(sel, idx) < 0
  }

  private val tagUtf8 = UTF8String.fromString(part.changeType)
  private var row: InternalRow = _
  private var rowIdx = -1L
  private var fieldIdx: Array[Int] = _

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null) {
      if (fieldIdx == null)
        fieldIdx = GroupDecode.resolveIdx(g, physNames)
      rowIdx += 1
      if (emits(rowIdx)) {
        val vals = new Array[Any](outSchema.fields.length)
        var di = 0
        var i = 0
        while (i < vals.length) {
          val f = outSchema.fields(i)
          vals(i) =
            if (f.name == MorLogFacade.ChangeType) tagUtf8
            else if (f.name == MorLogFacade.CommitVersion)
              java.lang.Integer.valueOf(part.version)
            else {
              val x = GroupDecode.value(g, fieldIdx(di),
                dataSchema.fields(di).dataType)
              di += 1
              x
            }
          i += 1
        }
        row = new GenericInternalRow(vals)
        return true
      }
      g = reader.read()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

/** Diagnostics for the last [[MorLogScan]] planning on this driver —
  * specs and oracle entries pin that the pushed filters genuinely
  * pruned files before task launch. */
object MorLogSourceStats {
  @volatile var lastFilesScanned: Int = -1
  @volatile var lastFilesSkipped: Int = -1

  /** Event partitions the last change-feed scan planned. */
  @volatile var lastChangePartitions: Int = -1
}
