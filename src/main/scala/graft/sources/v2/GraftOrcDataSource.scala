package graft.sources.v2

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.TaskType
import org.apache.hadoop.mapreduce.lib.input.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.orc.{OrcConf, OrcFile, TypeDescription}
import org.apache.orc.mapred.OrcInputFormat

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.memory.MemoryMode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.orc.{GraftOrcShims, OrcColumnarBatchReader}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Max, Min}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** `graft-orc`: a DataSource V2 ORC connector making the reference's scan
  * contracts explicit (SURVEY.md §2.A):
  *
  *  - A1  `DataSourceRegister.shortName = "graft-orc"`  (file_format.rs:41-86)
  *  - A2  multi-file schema inference                    (file_format.rs:137-162)
  *  - A3  footer statistics -> `SupportsReportStatistics`, degraded to
  *        size-only when a data filter is pushed          (source.rs:212-230)
  *  - A5  pushdown negotiation on the ScanBuilder         (source.rs:54-295)
  *  - A6  column pruning -> per-file ORC column ids       (opener.rs:139-153)
  *  - A7  limit pushdown with exact mid-batch truncation  (opener.rs:211-266)
  *  - A8  Filter -> ORC SearchArgument compilation        (predicate.rs:53-245)
  *  - A9  INEXACT pushdown: stripe pruning only, every filter is returned
  *        as residual so Catalyst re-applies it row-level  (source.rs:257-289)
  *  - A10 per-file vectorized batch reader                (opener.rs:97-272)
  *  - A12 full scan-metric parity: bytes/file-size/io-requests/metadata-
  *        time/stripes-pruned+matched/stats-eval-time/predicate-errors/
  *        pushdown-rows-pruned+matched/decode-time/rows/batches
  *        (metrics.rs:52-218 — the reference *defines* the stripe-pruning
  *        counters but never drives them; here they are measured for real
  *        by evaluating pushed filters against per-stripe statistics)
  *
  * Hive-partition layouts (`.../k=v/...`) are discovered recursively with
  * bounded-concurrency listing, partition values are materialized as
  * constant columns, and partition filters prune files before planning
  * (reference `partition_fields`: src/opener.rs:59, src/source.rs:171).
  * Driver-side metadata work (listing, footer reads for stats and
  * stripe-split planning) runs through a bounded pool
  * (32 concurrent requests) — never one file at a time
  * (reference meta_fetch_concurrency: src/file_format.rs:146-155).
  * Decode is delegated to Spark's vectorized `OrcColumnarBatchReader` —
  * the point of the rebuild is the connector protocol, not a slower
  * re-implementation of the decoder.
  */
class GraftOrcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-orc"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val ps = GraftOrcDataSource.paths(options)
    require(ps.nonEmpty, "graft-orc: no path specified")
    // Reference contract (basic_reading.rs:493-522): a listing with zero
    // .orc files merges to an EMPTY schema, not an inference error. A
    // nonexistent path still errors (FileNotFound from the listing).
    val index = new GraftOrcFileIndex(
      spark.sparkContext.hadoopConfiguration, ps,
      GraftOrcDataSource.snapshotSelector(options),
      GraftOrcDataSource.startSnapshotId(options),
      onRewrite = GraftOrcDataSource.onRewritePolicy(options))
    // a persisted schema (catalog table / post-DDL manifest,
    // GraftOrcSchema) IS the table schema: zero footer reads, correct
    // answers on evolved tables (old footers carry pre-rename names),
    // and a declared-but-empty table keeps its columns. Time travel
    // resolves the ADDRESSED snapshot's schema.
    index.tableMeta.foreach(m => return m.schema)
    if (index.entries.isEmpty) return new StructType()
    // A2: merge the footers of every listed file on the driver (conflict
    // => error naming both schemas); hive layouts append their k=v
    // columns. The recursive index is the listing, so a plain nested
    // layout (e.g. wave subdirectories under a streamed table) infers from
    // every file this connector reads.
    // ignoreCorruptFiles applies to inference too: a truncated upload
    // must not block reading the rest of the table (option first, session
    // conf spark.sql.files.ignoreCorruptFiles as the default)
    val ignoreCorrupt = Option(options.get("ignoreCorruptFiles"))
      .map(GraftOrcDataSource.parseBooleanOption("ignoreCorruptFiles", _))
      .getOrElse(
        spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false").toBoolean)
    graft.sources.OrcTables.inferSchema(spark, index, ignoreCorrupt)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftOrcTable(schema, properties.asScala.toMap, partitioning)
}

object GraftOrcDataSource {

  /** Table-property prefix persisting CHECK constraints: the suffix is
    * the constraint name, the value its predicate SQL.
    */
  private[v2] val ConstraintPropPrefix = "graft.constraint."


  /** Metadata column names (see [[GraftOrcTable.metadataColumns]]). */
  val FileMetaCol = "_file"
  val PosMetaCol = "_pos"
  private[v2] def isMetaCol(name: String): Boolean =
    name.equalsIgnoreCase(FileMetaCol) || name.equalsIgnoreCase(PosMetaCol)

  /** Resolve load paths: Spark passes `load(p1, p2, ...)` as a JSON string
    * array under the "paths" option (DataSourceV2Utils.getOptionsWithPaths)
    * and a single `load(p)` under "path".
    */
  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap(parseJsonArray)
    // catalog tables (CREATE TABLE ... USING graft-orc LOCATION p) carry
    // the path as the "location" table property, not a read option
    val location = Option(options.get("location")).toSeq
    (single ++ multi ++ location).distinct
  }

  /** Test hook: records plan-time footer OPENS by the statistics sweep
    * and the pushed-aggregate scan while `recordPlanFooterReads` is on
    * (suites run concurrently, so a bare counter could not be
    * attributed — the spec filters by path).
    * Manifest tables carry stat sidecars in their snapshot entries, so
    * their sweeps should not open footers at all — an assertion only a
    * hook like this can make. Off by default: zero footprint outside
    * tests beyond one volatile read per (already rare) footer open.
    */
  @volatile private[graft] var recordPlanFooterReads = false
  private[graft] val planFooterReads =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[v2] def notePlanFooterRead(path: String): Unit =
    if (recordPlanFooterReads) planFooterReads.add(path)

  /** Normalized footer/partition value -> the Catalyst-internal value for
    * `dt` (dates as epoch days, timestamps as micros, decimals as
    * [[Decimal]]); None for types CBO estimation does not consume
    * numerically (strings, booleans) and for non-finite doubles (a NaN
    * bound would poison interval arithmetic). Shared by the CBO column
    * stats and the sidecar aggregate kernel.
    */
  private[v2] def catalystBound(v: Any, dt: DataType): Option[Object] = {
    import org.apache.spark.sql.types._
    (v, dt) match {
      case (bd: BigDecimal, ByteType) => Some(java.lang.Byte.valueOf(bd.toByte))
      case (bd: BigDecimal, ShortType) => Some(java.lang.Short.valueOf(bd.toShort))
      case (bd: BigDecimal, IntegerType) => Some(java.lang.Integer.valueOf(bd.toInt))
      case (bd: BigDecimal, LongType) => Some(java.lang.Long.valueOf(bd.toLong))
      case (bd: BigDecimal, FloatType) => Some(java.lang.Float.valueOf(bd.toFloat))
      case (bd: BigDecimal, DoubleType) => Some(java.lang.Double.valueOf(bd.toDouble))
      case (bd: BigDecimal, _: DecimalType) => Some(Decimal(bd))
      case (OrcStatsEval.EpochDays(d), DateType) =>
        Some(java.lang.Integer.valueOf(d.toInt))
      case (OrcStatsEval.EpochMicros(us), TimestampType | TimestampNTZType) =>
        Some(java.lang.Long.valueOf(us))
      // Spark's ORC writer stores TIMESTAMP_NTZ as int64 epoch micros
      // (catalyst-type field metadata carries the logical type), so its
      // footer stats surface as integer ranges — already the Catalyst
      // internal representation
      case (bd: BigDecimal, TimestampType | TimestampNTZType) =>
        Some(java.lang.Long.valueOf(bd.toLong))
      case (bd: BigDecimal, DateType) =>
        Some(java.lang.Integer.valueOf(bd.toInt))
      case _ => None
    }
  }

  private[v2] def parseBooleanOption(name: String, v: String): Boolean =
    try v.trim.toBoolean catch {
      case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"Invalid value '$v' for option '$name', must be true or false")
    }

  private[v2] def parseLongOption(name: String, v: String): Long =
    try v.trim.toLong catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"Invalid value '$v' for option '$name', must be a long")
    }

  /** Time-travel read options (manifest tables only):
    * `graft.snapshot_id` addresses a retained snapshot by sequence
    * number; `graft.as_of_timestamp` (epoch millis, ISO-8601 instant, or
    * `yyyy-MM-dd HH:mm:ss` local time) addresses the newest snapshot
    * committed at or before that instant. Mutually exclusive.
    */
  private[v2] def snapshotSelector(options: CaseInsensitiveStringMap)
      : Option[GraftOrcManifest.Selector] = {
    val byId = Option(options.get("graft.snapshot_id"))
      .map(parseLongOption("graft.snapshot_id", _))
    val asOf = Option(options.get("graft.as_of_timestamp"))
      .map(parseTimestampMillis)
    val byTag = Option(options.get("graft.tag"))
    val byBranch = Option(options.get("graft.branch"))
    require(Seq(byId, asOf, byTag, byBranch).count(_.isDefined) <= 1,
      "graft-orc: graft.snapshot_id, graft.as_of_timestamp, graft.tag " +
        "and graft.branch are mutually exclusive")
    byId.map(GraftOrcManifest.Selector.ById(_))
      .orElse(asOf.map(GraftOrcManifest.Selector.AsOf(_)))
      .orElse(byTag.map(GraftOrcManifest.Selector.ByTag(_)))
      .orElse(byBranch.map(GraftOrcManifest.Selector.ByBranch(_)))
  }

  /** Incremental-read option: `graft.start_snapshot_id` restricts the
    * scan to files appended AFTER that retained snapshot (0 = everything;
    * files a compaction rewrote reappear as their merged outputs).
    * Composes with the time-travel options, which pick the END snapshot.
    */
  private[v2] def startSnapshotId(options: CaseInsensitiveStringMap)
      : Option[Long] =
    Option(options.get("graft.start_snapshot_id"))
      .map(parseLongOption("graft.start_snapshot_id", _))

  /** Policy when an incremental read's snapshot walk meets a
    * copy-on-write rewrite — see [[GraftOrcFileIndex]]. */
  private[v2] def onRewritePolicy(options: CaseInsensitiveStringMap): String =
    Option(options.get("graft.on_rewrite"))
      .map(_.trim.toLowerCase(java.util.Locale.ROOT)).getOrElse("replay")

  private def parseTimestampMillis(v0: String): Long = {
    val v = v0.trim
    if (v.nonEmpty && v.forall(_.isDigit)) return v.toLong
    try java.time.Instant.parse(v).toEpochMilli
    catch { case _: java.time.format.DateTimeParseException =>
      try java.sql.Timestamp.valueOf(v).getTime
      catch { case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"Invalid value '$v0' for option 'graft.as_of_timestamp', must " +
            "be epoch millis, an ISO-8601 instant, or 'yyyy-MM-dd HH:mm:ss'")
      }
    }
  }

  private[v2] def parseJsonArray(s: String): Seq[String] = {
    val t = s.trim
    if (t.startsWith("[")) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(t, classOf[Array[String]]).toSeq
    } else t.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Parse a raw hive partition-value string to the EXTERNAL value used by
    * driver-side pruning (plain JVM types the stats evaluator understands).
    */
  def externalPartitionValue(raw: String, dt: DataType): Any = {
    import org.apache.spark.sql.types._
    if (raw == null) return null
    try dt match {
      case StringType => raw
      case ByteType | ShortType | IntegerType | LongType => raw.trim.toLong
      case FloatType | DoubleType => raw.trim.toDouble
      case _: DecimalType => new java.math.BigDecimal(raw.trim)
      case DateType => java.time.LocalDate.parse(raw.trim)
      // parse in UTC to match the writer's UTC-formatted partition paths
      // and internalPartitionValue's UTC cast — Timestamp.valueOf would use
      // the JVM default zone and prune the wrong files on non-UTC hosts
      case TimestampType =>
        java.sql.Timestamp.from(
          java.time.LocalDateTime.parse(raw.trim.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC))
      case BooleanType => raw.trim.toBoolean
      case _ => raw
    } catch { case _: RuntimeException => raw }
  }

  /** Parse a raw hive partition-value string to the INTERNAL (Catalyst)
    * value placed in the reader's constant partition vectors.
    */
  def internalPartitionValue(raw: String, dt: DataType): Any =
    if (raw == null) null
    else Cast(Literal(UTF8String.fromString(raw), StringType), dt,
      Some("UTC")).eval(InternalRow.empty)
}

class GraftOrcTable(tableSchema: StructType, props: Map[String, String],
                    partTransforms: Array[Transform] = Array.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def schema(): StructType = tableSchema

  // keyed property lookups ignore key case (TBLPROPERTIES keep the case
  // the user typed); walks over every key read `props` itself
  private val opts = CaseInsensitiveMap(props)

  private lazy val consolidateAfter: Option[Int] =
    opts.get("graft.consolidate_after").map(GraftOrcMor.parseConsolidateAfter)

  /** Enforced CHECK constraints (`ALTER TABLE ... ADD CONSTRAINT ck
    * CHECK (...)` — the catalog advertises SUPPORT_TABLE_CONSTRAINT and
    * persists each as a `graft.constraint.<name>` table property):
    * Spark's write analysis validates every INSERT/UPDATE/MERGE row
    * against these and fails the statement on violation — the
    * data-quality gate lives in the table, not in each pipeline job.
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints
        .Constraint] =
    props.toSeq.collect {
      case (k, sql) if k.toLowerCase.startsWith(
          GraftOrcDataSource.ConstraintPropPrefix) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.substring(
            GraftOrcDataSource.ConstraintPropPrefix.length))
          .predicateSql(sql)
          .enforced(true)
          .build(): org.apache.spark.sql.connector.catalog.constraints
            .Constraint
    }.sortBy(_.name).toArray

  /** Metadata columns (Iceberg-shape): `_file` is the source file path,
    * `_pos` the row's ordinal within that file — the lineage/debugging
    * handles a 100 TB table needs ("which files feed this bad row",
    * "sample every file's first rows") at zero storage cost. A data
    * column with the same name shadows the metadata column (the
    * SupportsMetadataColumns contract), so they are not advertised then.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    import org.apache.spark.sql.connector.catalog.MetadataColumn
    def mc(n: String, dt: DataType, doc: String): MetadataColumn =
      new MetadataColumn {
        override def name(): String = n
        override def dataType(): DataType = dt
        override def isNullable: Boolean = false
        override def comment(): String = doc
      }
    Array[MetadataColumn](
      mc(GraftOrcDataSource.FileMetaCol, StringType,
        "source ORC file path"),
      mc(GraftOrcDataSource.PosMetaCol,
        org.apache.spark.sql.types.LongType,
        "row position within the source file"))
      .filterNot(m => tableSchema.fieldNames
        .exists(_.equalsIgnoreCase(m.name)))
  }
  // partitionBy on a write reaches the provider as identity transforms;
  // reporting them back is what passes Spark's requested-vs-table
  // partitioning check (reads manage hive partitions internally and pass
  // none)
  override def partitioning(): Array[Transform] = partTransforms
  override def name(): String =
    "graft-orc:" + opts.getOrElse("path", opts.getOrElse("paths", "?"))
  // SHOW TBLPROPERTIES / DESCRIBE EXTENDED read these; catalog tables
  // carry their persisted TBLPROPERTIES here (path rides along, which
  // is also what makes DESCRIBE show the location)
  override def properties(): java.util.Map[String, String] =
    props.asJava
  // ACCEPT_ANY_SCHEMA — but only while the table is EMPTY: a first write
  // targets a directory whose inferred table schema is empty, and by-name
  // output resolution against an empty schema would reject every query,
  // so those writes validate against the query schema instead (the
  // listing defines the table, like the reference's directory tables).
  // Once the table HAS a schema the capability must NOT be reported:
  // Spark marks ACCEPT_ANY_SCHEMA tables `skipSchemaResolution`, which
  // silently disables row-level assignment alignment — UPDATE/MERGE
  // would never rewrite (append validation is unaffected: validateAppend
  // performs the schema check either way).
  override def capabilities(): java.util.Set[TableCapability] = {
    val base = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      // MERGE WITH SCHEMA EVOLUTION: Spark's
      // ResolveMergeIntoSchemaEvolution computes the AddColumn changes
      // and routes them through TableCatalog.alterTable — the same
      // field-ID DDL commit as explicit ADD COLUMN, so a wider MERGE
      // source evolves the target as one metadata commit
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    if (tableSchema.isEmpty) base.add(TableCapability.ACCEPT_ANY_SCHEMA)
    base
  }
  /** Catalog tables (CREATE TABLE ... USING graft-orc LOCATION p) carry
    * the path in the TABLE properties, while per-scan/write options from
    * SQL are empty — merge the stored location in so `SELECT`/`INSERT`
    * resolve the same files as path-based reads.
    */
  private def withTablePath(
      options: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    val merged = new java.util.HashMap[String, String](
      options.asCaseSensitiveMap())
    // time-travel selectors ride table props when the CATALOG loads a
    // `VERSION AS OF` / `TIMESTAMP AS OF` relation — the scan must see
    // them exactly like read options
    // preserve_partitioning rides TBLPROPERTIES too: a catalog table
    // created for SPJ (bucket/identity transforms) opts in once at DDL
    // time instead of on every read
    Seq("path", "paths", "location",
        "graft.snapshot_id", "graft.as_of_timestamp", "graft.tag",
        "graft.branch", "graft.preserve_partitioning")
      .foreach { k =>
      if (!options.containsKey(k)) opts.get(k).foreach(v => merged.put(k, v))
    }
    new CaseInsensitiveStringMap(merged)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftOrcScanBuilder(tableSchema, withTablePath(options))

  // ---- UPDATE / MERGE INTO (group-based copy-on-write) -------------
  // See [[GraftOrcRowLevelOperation]]: the operation's scan defines the
  // replaced group set; its write swaps those files atomically.
  // DELETE keeps the richer [[SupportsDelete]] path below (Spark's
  // metadata-delete optimization prefers it when canDeleteWhere holds).
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val ps = tablePaths
    require(ps.length == 1,
      s"graft-orc: UPDATE/MERGE targets exactly one table path, got $ps")
    // a branch-scoped handle (`UPDATE t.branch_x ...`) runs the whole
    // operation against the BRANCH lineage: its scan reads the branch
    // state and its commit swaps/deltas against the same branch — WAP
    // can stage destructive changes and gate them before fast_forward
    val branch = opts.get("graft.branch").map(_.trim).filter(_.nonEmpty)
    val partCols = partTransforms
      .map(t => GraftOrcPartitionSpec.fromTransform(t).canonical).toSeq
    // strategy per command: `cow` (default) plans the group-based
    // copy-on-write rewrite; `mor` plans a position-delta
    // ([[GraftOrcDeltaOperation]] via SupportsDelta) — cost ∝ rows
    // changed. DELETE reaches here only when the metadata/CoW
    // SupportsDelete path refused (untranslatable predicate), and then
    // honors graft.delete_mode the same way.
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val mode = rowLevelMode(info.command() match {
      case Command.UPDATE => "update_mode"
      case Command.MERGE => "merge_mode"
      case _ => "delete_mode"
    })
    // same knob as the batch write: MoR delta inserts cluster by the
    // partition columns when the table opts in
    val distMode = opts.get("graft.distribution_mode")
      .map(_.trim.toLowerCase(java.util.Locale.ROOT)).getOrElse("none")
    val writeSort = opts.get("graft.write_sort")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // orc.* writer conf (bloom filters, stride, ...) as table defaults,
    // like the batch write's props-as-options ride-through
    val orcOpts = props.filter(_._1.toLowerCase(java.util.Locale.ROOT)
      .startsWith("orc."))
    () =>
      if (mode == "mor")
        new GraftOrcDeltaOperation(tableSchema, ps.head, partCols,
          info.command(), branch, consolidateAfter, distMode,
          writeSort, orcOpts)
      else new GraftOrcRowLevelOperation(tableSchema, ps.head, partCols,
        info.command(), branch)
  }

  /** `cow` | `mor` for one row-level command: table property
    * `graft.<key>` first, session conf `spark.graft.<key>` as the
    * default.
    */
  private def rowLevelMode(key: String): String = {
    val m = opts.getOrElse(s"graft.$key",
      SparkSession.active.conf.get(s"spark.graft.$key", "cow"))
      .trim.toLowerCase(java.util.Locale.ROOT)
    require(m == "cow" || m == "mor",
      s"graft-orc: invalid value '$m' for graft.$key, must be cow or mor")
    m
  }

  // ---- DELETE FROM ... WHERE <predicate> ---------------------------
  // Row-level delete for MANIFEST tables, file-classified from free
  // metadata (hive partition values + stat sidecars), committed as ONE
  // atomic snapshot swap:
  //  - files where the predicate provably matches EVERY row drop as
  //    pure metadata (the Iceberg-v1 partition-delete shape — a
  //    partition-predicate delete reads and writes nothing);
  //  - files where it provably matches NO row keep their identity
  //    (never rewritten, never re-uploaded);
  //  - only the partial files pay copy-on-write: read, rewritten
  //    without the matching rows (GraftOrcDelete), swapped in.
  // A crash anywhere leaves unmanifested garbage for vacuum, never a
  // half-deleted table; the pre-delete snapshot stays time-travelable
  // until expiry. Predicates with no exact Column re-evaluation are
  // refused via canDeleteWhere, so Spark reports them unsupported
  // instead of running a wrong delete.

  private def tablePaths: Seq[String] =
    Seq("path", "paths", "location").flatMap(opts.get).distinct

  private def deleteTarget: (FileSystem, Path) = {
    val ps = tablePaths
    require(ps.length == 1,
      s"graft-orc: DELETE targets exactly one table path, got $ps")
    val p = new Path(ps.head)
    val fs = p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  /** Some(true)=every row of the entry matches `f`; Some(false)=none;
    * None=undecidable at file granularity. Partition columns evaluate
    * exactly (single-value ranges); data columns through the entry's
    * stat sidecar when present.
    */
  private def entryMatches(e: OrcFileEntry,
                           f: Filter): Option[Boolean] = {
    lazy val sidecarCols = e.stats.flatMap(OrcStatsEval.decodeSidecar)
      .map(_._2).getOrElse(Map.empty[String,
        (Option[OrcStatsEval.StatRange], Long)])
    val lookup: String => Option[OrcStatsEval.StatRange] = name => {
      val part = tableSchema.fields.collectFirst {
        case sf if sf.name.equalsIgnoreCase(name) => sf.dataType
      }.flatMap { dt =>
        e.partitionValues.collectFirst {
          case (k, v) if k.equalsIgnoreCase(name) => v
        }.map(raw => OrcStatsEval.valueRange(
          GraftOrcDataSource.externalPartitionValue(raw, dt)))
      }
      part.orElse {
        // schema evolution: sidecars are keyed by write-time names —
        // resolve per file version; a field the file predates is
        // all-null there (exact, not a guess)
        tableSchema.fields.find(_.name.equalsIgnoreCase(name)) match {
          case Some(field) if !GraftOrcSchema.visibleIn(field, e.schemaV) =>
            // a column the file predates is all-null there — UNLESS its
            // ADD COLUMN declared a DEFAULT, in which case every row of
            // the file reads that constant and the classification must
            // see it (a DELETE keyed on the default value would
            // otherwise silently exclude exactly the files it should
            // touch)
            GraftOrcSchema.existsDefaultExternal(field) match {
              case Some(v) => Some(OrcStatsEval.valueRange(v))
              case None => Some(OrcStatsEval.StatRange(None, None,
                hasNull = true, hasValues = false))
            }
          case Some(field) =>
            val phys = GraftOrcSchema.nameAt(field, math.max(e.schemaV, 1L))
            sidecarCols.get(phys.toLowerCase).flatMap(_._1)
          case None => sidecarCols.get(name.toLowerCase).flatMap(_._1)
        }
      }
    }
    OrcStatsEval.eval(f, lookup)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    // multi-path relations can't DELETE atomically — refuse so Spark
    // falls back to the row-level plan instead of aborting mid-optimize
    if (tablePaths.length != 1) return false
    val (fs, qt) = deleteTarget
    GraftOrcManifest.exists(fs, qt) &&
      filters.forall(f => GraftOrcDelete.toColumn(f).isDefined)
  }

  /** DELETE strategy for partial files: `cow` (default) rewrites them
    * without the matching rows; `mor` writes position-delete sidecars
    * readers subtract at scan time ([[GraftOrcMor]] — rows-deleted cost
    * instead of bytes-rewritten cost). Table property first (CREATE
    * TABLE ... TBLPROPERTIES('graft.delete_mode'='mor')), session conf
    * `spark.graft.delete_mode` as the default. Full-file drops are pure
    * metadata either way.
    */
  private def deleteMode: String = rowLevelMode("delete_mode")

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val (fs, qt) = deleteTarget
    require(GraftOrcManifest.exists(fs, qt),
      s"graft-orc: DELETE requires a manifest table, but ${name()} has " +
        s"no ${GraftOrcManifest.Dir} (write with " +
        ".option(\"graft.manifest\", \"true\") to establish one)")
    // a branch handle deletes against the BRANCH lineage: classification
    // reads the branch state, the swap commits to the same lineage —
    // main never sees the staged delete until fast_forward
    val branch = opts.get("graft.branch").map(_.trim).filter(_.nonEmpty)
    val cur = GraftOrcManifest.readSnapshot(fs, qt, branch)
      .getOrElse(GraftOrcManifest.Snapshot(0L, Nil))
    // conjunction classification per file
    val fullDrops = cur.entries.filter(e =>
      filters.forall(f => entryMatches(e, f).contains(true)))
    val fullSet = fullDrops.map(_.path).toSet
    val partials = cur.entries.filter(e => !fullSet(e.path) &&
      // the conjunction MAY match: no filter is provably false
      filters.forall(f => !entryMatches(e, f).contains(false)))
    if (fullDrops.isEmpty && partials.isEmpty) return
    val pred = filters.flatMap(GraftOrcDelete.toColumn)
      .reduceOption(_ && _)
      .getOrElse(throw new IllegalStateException(
        "graft-orc: deleteWhere offered an untranslatable filter " +
          "canDeleteWhere should have refused"))
    if (deleteMode == "mor") {
      // merge-on-read: partial files gain deletion-vector sidecars
      // (GraftOrcDeleteVector — per-file bitmaps behind a header index),
      // nothing is rewritten; full drops stay metadata-only. Existing
      // sidecars carry forward (a second MoR delete stacks).
      val sidecars = GraftOrcMor.writeDeletes(
        SparkSession.active, fs, qt, partials, pred, tableSchema)
      // expectPresent: every file this DELETE classified must still be
      // live at commit — a concurrent compact/rewrite that replaced one
      // would make its positions inert (silently losing the delete) or
      // resurrect a full-drop's rows from the rival's merged output
      GraftOrcManifest.commitSwap(fs, qt, remove = fullSet, add = Nil,
        addDeletes = sidecars, op = "delta",
        expectPresent = fullSet ++ partials.map(_.path), branch = branch)
      GraftOrcManifest.deleteUnreferenced(fs, qt, fullDrops)
      // graft.consolidate_after: keep the live sidecar count bounded
      GraftOrcMor.maybeAutoConsolidate(SparkSession.active, fs, qt, branch,
        explicit = consolidateAfter)
    } else {
      val rewritten = GraftOrcDelete.rewriteWithout(
        SparkSession.active, fs, qt, partials, pred, tableSchema,
        liveDeletes = cur.deletes,
        curV = cur.meta.map(_.schemaV).getOrElse(0L),
        specEvolved = cur.meta.exists(GraftOrcPartitionSpec.specEvolved))
      GraftOrcManifest.commitSwap(fs, qt,
        remove = fullSet ++ partials.map(_.path), add = rewritten,
        op = "replace",
        expectPresent = fullSet ++ partials.map(_.path), branch = branch)
      GraftOrcManifest.deleteUnreferenced(fs, qt, fullDrops ++ partials)
    }
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // identity transforms map to the classic hive layout; transform
    // fields (days/bucket/truncate) to hidden-partition directories
    val partCols = partTransforms
      .map(t => GraftOrcPartitionSpec.fromTransform(t).canonical)
    // a branch-scoped table handle (`INSERT INTO t.branch_x`, loaded
    // with graft.branch in its props) must commit to the branch: the
    // prop rides into the write options like the path does for reads.
    // The writer-SHAPE properties ride the same way — TBLPROPERTIES are
    // table defaults (the Iceberg write.distribution-mode posture: set
    // once on the table, every INSERT/MERGE writer honors it), and an
    // explicit write option still wins.
    val propDefaults = Seq("graft.branch", "graft.distribution_mode",
      "graft.write_sort", "graft.advisory_partition_bytes",
      "graft.max_open_writers")
    val toAdd = propDefaults.flatMap { k =>
      if (info.options().containsKey(k)) None
      else opts.get(k).map(k -> _)
    } ++
      // `orc.*` TBLPROPERTIES (bloom filters, stride, ...) are writer
      // defaults the same way — the write path already forwards any
      // orc.* OPTION into the ORC writer conf
      props.collect {
        case (pk, v) if pk.toLowerCase(java.util.Locale.ROOT)
            .startsWith("orc.") && !info.options().containsKey(pk) =>
          pk -> v
      }
    val winfo =
      if (toAdd.isEmpty) info
      else {
        val m = new java.util.HashMap[String, String](
          info.options().asCaseSensitiveMap())
        toAdd.foreach { case (k, v) => m.put(k, v) }
        val merged = new CaseInsensitiveStringMap(m)
        new org.apache.spark.sql.connector.write.LogicalWriteInfo {
          override def queryId(): String = info.queryId()
          override def schema(): StructType = info.schema()
          override def options(): CaseInsensitiveStringMap = merged
        }
      }
    new GraftOrcWriteBuilder(
      GraftOrcDataSource.paths(withTablePath(winfo.options())), winfo,
      partCols.toSeq)
  }
}

/** A5: the pushdown negotiation surface. Filters referencing only partition
  * columns are accepted for file-level pruning; the rest are accepted when
  * SearchArgument-convertible (stripe-level pruning). ALL filters are
  * reported back as residual (the reference's inexact-pushdown contract).
  */
class GraftOrcScanBuilder(dataSchema: StructType,
                          options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  // Spark keeps each key's case as the user typed it: every lookup goes
  // through this case-insensitive copy
  private val optionsMap =
    CaseInsensitiveMap(options.asCaseSensitiveMap().asScala.toMap)

  private[v2] lazy val fileIndex = new GraftOrcFileIndex(
    SparkSession.active.sparkContext.hadoopConfiguration,
    GraftOrcDataSource.paths(options),
    GraftOrcDataSource.snapshotSelector(options),
    GraftOrcDataSource.startSnapshotId(options),
    onRewrite = GraftOrcDataSource.onRewritePolicy(options))

  // partition columns = discovered k=v keys that exist in the table schema
  private lazy val partitionSchema: StructType = {
    val keys = fileIndex.partitionColumnNames.map(_.toLowerCase)
    StructType(dataSchema.fields.filter(f => keys.contains(f.name.toLowerCase)))
  }
  private lazy val dataFileSchema: StructType = {
    val part = partitionSchema.fieldNames.map(_.toLowerCase).toSet
    StructType(dataSchema.fields.filterNot(f => part(f.name.toLowerCase)))
  }

  private var requested: StructType = dataSchema
  private var partitionFilters: Array[Filter] = Array.empty
  private var dataFilters: Array[Filter] = Array.empty
  // filters referencing a hidden-partition transform's SOURCE column
  // (superset shapes of dataFilters for those columns — SARG-ability
  // does not gate directory pruning)
  private var hiddenFilters: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  // A6: column pruning
  override def pruneColumns(requiredSchema: StructType): Unit =
    requested = StructType(requiredSchema.fields.filter(f =>
      dataSchema.fieldNames.contains(f.name) ||
        // requested metadata columns (_file/_pos) survive pruning — the
        // reader synthesizes them (see GraftOrcTable.metadataColumns)
        GraftOrcDataSource.isMetaCol(f.name)))

  // A8 + A9: keep the convertible conjunction for stripe pruning and the
  // partition-only conjunction for file pruning, but report EVERY filter as
  // residual (inexact pushdown) — Catalyst keeps a Filter above the scan,
  // mirroring the reference's PushedDown::No. With
  // `orc.pushdown_predicate=false` no data filter is recorded at all (the
  // reference's options.rs:29-47 toggle): no SARG reaches the reader, and
  // statistics stay exact — honest, because nothing was pushed.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val partNames = partitionSchema.fieldNames.map(_.toLowerCase).toSet
    val (onPartition, rest) = filters.partition(f =>
      f.references.nonEmpty && f.references.forall(r => partNames(r.toLowerCase)))
    partitionFilters = onPartition
    dataFilters =
      if (!graft.sources.OrcTables.parseOptions(optionsMap).pushdownPredicate)
        Array.empty
      else rest.filter(f =>
        GraftOrcShims.createFilter(dataFileSchema, Seq(f)).isDefined)
    // hidden-partition pruning inputs: ANY filter touching a transform
    // source column — including shapes ORC SARGs can't express
    // (StringStartsWith prunes truncate() dirs) — independently of the
    // pushdown toggle (this is partition pruning, not predicate
    // pushdown; the filter itself always stays residual)
    hiddenFilters = {
      // sources of EVERY spec that ever applied — after evolution, old
      // files still prune by their own (historical) transform fields
      val srcs = fileIndex.tableMeta.map(m => GraftOrcPartitionSpec
          .allSpecs(m).flatMap(GraftOrcPartitionSpec.parseCanonical)
          .filterNot(_.isIdentity)
          .map(_.source.toLowerCase).toSet).getOrElse(Set.empty)
      if (srcs.isEmpty) Array.empty
      else rest.filter(f => f.references.nonEmpty &&
        f.references.exists(r => srcs(r.toLowerCase)))
    }
    filters // all residual
  }
  override def pushedFilters(): Array[Filter] = partitionFilters ++ dataFilters

  // A7: limit is only partially pushed (per-file early termination);
  // returning false keeps the global Limit operator above the scan.
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  // Aggregate pushdown (extension beyond the reference's A-surface): a
  // filterless MIN/MAX/COUNT is answered from footer STATISTICS alone,
  // completely, on the driver: one partial row per file (its manifest
  // stat sidecar, else one footer read), merged by [[GraftOrcAggScan]]
  // into the final rows, so Spark runs no task, exchange or final
  // aggregate for it. At 100 TB this turns "SELECT count(*)/min/max
  // FROM t" from a full read into a metadata sweep. With GROUP BY over
  // partition columns the partial row is per (file, its partition
  // value): "SELECT dt, count(*) GROUP BY dt" never touches data either
  // (AggregatePushDownUtils validates the group list is all partition
  // columns; each file belongs to exactly one group, so per-file rows
  // merge exactly). Gated like the built-in source
  // (spark.sql.orc.aggregatePushdown, overridable per read via
  // orc.aggregate_pushdown); refused under any filter or limit (Catalyst
  // never offers it then — the A9 all-residual contract keeps a Filter
  // above the scan) and for float/double MIN/MAX (a NaN-bearing stripe
  // records min/max that silently exclude it — the OrcStatsEval
  // non-finite lesson applied to results, not pruning).
  private var pushedAgg: Option[(Aggregation, StructType)] = None

  override def pushAggregation(agg: Aggregation): Boolean = {
    val enabled = optionsMap.get("orc.aggregate_pushdown") match {
      case Some(v) =>
        GraftOrcDataSource.parseBooleanOption("orc.aggregate_pushdown", v)
      case None => SparkSession.active.conf
        .get("spark.sql.orc.aggregatePushdown", "false").toBoolean
    }
    if (!enabled || limit.isDefined || partitionFilters.nonEmpty ||
        dataFilters.nonEmpty || minMaxOnFloatingPoint(agg)) return false
    // live MoR delete sidecars: footer/sidecar totals include deleted
    // rows, so a stats-answered aggregate would be WRONG — refuse until
    // a purge retires them
    if (fileIndex.deleteEntries.nonEmpty) return false
    // schema evolution: the footer kernel and the sidecar fast path are
    // keyed by name against write-time file schemas — only sound when
    // every selected file's version is name/type-stable for every
    // column. Refuse otherwise; the data-reading plan stays correct,
    // and a compaction (which rewrites to the current schema) restores
    // pushdown.
    if (GraftOrcSchema.hasEvolution(dataSchema) &&
        !fileIndex.entries.map(_.schemaV).distinct.forall(v =>
          dataSchema.fields.forall(f => GraftOrcSchema.statsSafe(f, v))))
      return false
    val partNames = partitionSchema.fieldNames.map(_.toLowerCase).toSet
    GraftOrcShims.aggSchemaForPushdown(agg, dataSchema, partNames) match {
      case Some(schema) => pushedAgg = Some((agg, schema)); true
      case None => false
    }
  }

  // every aggregate this builder accepts is answered whole by its scan
  override def supportCompletePushDown(agg: Aggregation): Boolean = true

  private def minMaxOnFloatingPoint(agg: Aggregation): Boolean = {
    def field(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference => Some(nr.fieldNames.mkString("."))
      case _ => None
    }
    agg.aggregateExpressions.toSeq.flatMap {
      case m: Min => field(m.column)
      case m: Max => field(m.column)
      case _ => Nil
    }.exists(n => dataSchema.fields.exists(f =>
      f.name.equalsIgnoreCase(n) &&
        (f.dataType == FloatType || f.dataType == DoubleType)))
  }

  /** The scan `build()` produced — the row-level operation reads its
    * post-pruning file list off this to define the replaced group set.
    */
  private[v2] var lastBuiltScan: GraftOrcScan = _

  override def build(): Scan = {
    if (GraftOrcDataSource.paths(options).isEmpty)
      throw new IllegalArgumentException("graft-orc: no path")
    pushedAgg match {
      case Some((agg, aggSchema)) =>
        return new GraftOrcAggScan(dataFileSchema, partitionSchema, agg,
          aggSchema, fileIndex, optionsMap)
      case None =>
    }
    val part = partitionSchema.fieldNames.map(_.toLowerCase).toSet
    // requested _file/_pos (when not shadowed by real columns) are
    // metadata columns the READER synthesizes, never ORC columns
    def isMeta(f: org.apache.spark.sql.types.StructField): Boolean =
      GraftOrcDataSource.isMetaCol(f.name) &&
        !dataFileSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)) &&
        !partitionSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))
    val metaFields = requested.fields.filter(isMeta)
    val plain = requested.fields.filterNot(isMeta)
    val readData = StructType(plain.filterNot(f => part(f.name.toLowerCase)))
    val readPart = StructType(plain.filter(f => part(f.name.toLowerCase)))
    lastBuiltScan = new GraftOrcScan(dataFileSchema, partitionSchema, readData, readPart,
      partitionFilters, dataFilters, limit, fileIndex, optionsMap,
      metaFields, hiddenFilters)
    lastBuiltScan
  }
}

/** Partial-aggregate row from a manifest stat sidecar — the zero-I/O
  * answer for MIN/MAX/COUNT pushdown on manifest tables (the footer the
  * sidecar serialized is the same footer the kernel would read). Returns
  * None whenever ANY pushed expression cannot be answered from the
  * sidecar byte-identically to the footer kernel — distinct counts,
  * partition/nested columns, untracked or all-null ranges, value kinds
  * with no exact Catalyst mapping — and the caller then opens the footer
  * as before. Conservative by construction; pinned by the
  * directory-vs-manifest parity case in `GraftOrcAggPushdownSpec`.
  */
private[v2] object GraftOrcAggSidecar {
  import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
  import org.apache.spark.sql.types._

  private def topLevelName(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }

  private def internalValue(v: Any, dt: DataType): Option[Any] =
    GraftOrcDataSource.catalystBound(v, dt).map(identity[Any]).orElse {
      (v, dt) match {
        case (s: String, StringType) =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        case (b: Boolean, BooleanType) => Some(java.lang.Boolean.valueOf(b))
        case _ => None
      }
    }

  def aggRow(sidecar: String, dataFileSchema: StructType,
             agg: Aggregation,
             groupPrefix: Array[Any] = Array.empty): Option[InternalRow] =
    OrcStatsEval.decodeSidecar(sidecar).flatMap { case (rows, cols) =>
      def colType(n: String): Option[DataType] =
        dataFileSchema.fields.collectFirst {
          case f if f.name.equalsIgnoreCase(n) => f.dataType
        }
      def minMax(col: org.apache.spark.sql.connector.expressions.Expression,
                 pick: OrcStatsEval.StatRange => Option[Any]): Option[Any] =
        for {
          n <- topLevelName(col)
          dt <- colType(n)
          (rangeOpt, _) <- cols.get(n.toLowerCase)
          r <- rangeOpt // untracked kind ("x") => footer fallback
          if r.hasValues // all-null column => let the kernel decide
          v <- pick(r)
          out <- internalValue(v, dt)
        } yield out
      val vals: Seq[Option[Any]] = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(java.lang.Long.valueOf(rows))
        case c: Count if !c.isDistinct =>
          for {
            n <- topLevelName(c.column)
            if colType(n).isDefined // partition columns fall back
            (_, nValues) <- cols.get(n.toLowerCase)
          } yield java.lang.Long.valueOf(nValues)
        case m: Min => minMax(m.column, _.min)
        case m: Max => minMax(m.column, _.max)
        case _ => None
      }
      if (vals.forall(_.isDefined))
        Some(new GenericInternalRow(groupPrefix ++ vals.map(_.get)))
      else None
    }
}

/** Footer-statistics aggregate scan, answered completely on the driver.
  * Each selected file contributes one partial row, from its manifest stat
  * sidecar (no I/O) when that answers every pushed expression, else from
  * one footer read in the bounded metadata pool. The partials merge here
  * per group, so the rows are the final answer: Spark plans this
  * [[LocalScan]] as a `LocalTableScanExec`, with no task, no exchange and
  * no final aggregate above it.
  */
class GraftOrcAggScan(dataFileSchema: StructType, partitionSchema: StructType,
                      agg: Aggregation, aggSchema: StructType,
                      index: GraftOrcFileIndex,
                      options: CaseInsensitiveMap[String])
    extends LocalScan {

  override def readSchema(): StructType = aggSchema
  override def rows(): Array[InternalRow] = merged

  // each group expression's partition column; -1 (not a plain column
  // reference) leaves the sidecar path to the footer kernel
  private val groupCols: Seq[Int] = agg.groupByExpressions.toSeq.map {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      partitionSchema.fields
        .indexWhere(_.name.equalsIgnoreCase(nr.fieldNames.head))
    case _ => -1
  }

  // physical planning may ask more than once (explain, then execute)
  private lazy val merged: Array[InternalRow] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val hint = graft.sources.OrcTables.parseOptions(options).metadataSizeHint
    val partials =
      GraftOrcFileIndex.parallelMap(index.entries)(fileRow(_, conf, hint))
    val nGroup = groupCols.length
    val types = aggSchema.fields.map(_.dataType)
    val aggs = agg.aggregateExpressions.toSeq
    // counts sum; MIN/MAX keep the extreme value, and a null (no value
    // in that file) never wins
    val combine: Seq[(Any, Any) => Any] = aggs.zipWithIndex.map {
      case (m @ (_: Min | _: Max), i) =>
        val ord = GraftOrcShims.ordering(types(nGroup + i))
        val keepLeft = if (m.isInstanceOf[Min]) ord.lteq _ else ord.gteq _
        (a: Any, b: Any) =>
          if (b == null || (a != null && keepLeft(a, b))) a else b
      case _ => (a: Any, b: Any) => a.asInstanceOf[Long] + b.asInstanceOf[Long]
    }
    // counts start at 0 and MIN/MAX at null, so a global aggregate over
    // no file still answers its one row; a grouped one answers one row
    // per group some file belongs to
    def zero: Array[Any] =
      aggs.map { case _: Min | _: Max => null; case _ => 0L }.toArray
    val groups = collection.mutable.LinkedHashMap.empty[Seq[Any], Array[Any]]
    if (nGroup == 0) groups(Nil) = zero
    partials.foreach { r =>
      val acc = groups.getOrElseUpdate(
        (0 until nGroup).map(i => r.get(i, types(i))), zero)
      acc.indices.foreach { j =>
        acc(j) = combine(j)(acc(j), r.get(nGroup + j, types(nGroup + j)))
      }
    }
    groups.iterator.map { case (key, acc) =>
      new GenericInternalRow((key ++ acc).toArray): InternalRow
    }.toArray
  }

  /** One file's partial row in the footer kernel's layout: the group
    * values (this file's partition values, in group order), then one
    * value per pushed aggregate.
    */
  private def fileRow(e: OrcFileEntry, conf: Configuration,
                      metadataSizeHint: Option[Long]): InternalRow = {
    val partValues: Array[Any] = partitionSchema.fields.map { f =>
      GraftOrcDataSource.internalPartitionValue(
        e.partitionValues.collectFirst {
          case (k, v) if k.equalsIgnoreCase(f.name) => v
        }.orNull, f.dataType)
    }
    e.stats
      .filter(_ => groupCols.forall(_ >= 0))
      .flatMap(GraftOrcAggSidecar.aggRow(_, dataFileSchema, agg,
        groupCols.map(partValues).toArray))
      .getOrElse {
        GraftOrcDataSource.notePlanFooterRead(e.path)
        // footer-only open: the metadata hint keeps this to ONE ranged
        // read per file on object stores
        val (reader, _, _) = GraftOrcTailReader.createReader(
          new Path(e.path), conf, e.length, metadataSizeHint)
        try GraftOrcShims.aggRowFromFooter(reader, e.path, dataFileSchema,
          partitionSchema, agg, aggSchema, new GenericInternalRow(partValues))
        finally reader.close()
      }
  }
}

case class GraftOrcInputPartition(filePath: String, start: Long, length: Long,
                                  partitionValues: Array[String],
                                  fileLength: Long,
                                  partitionTypes: Array[DataType] = Array.empty,
                                  schemaV: Long = 0L,
                                  fileMtime: Long = 0L,
                                  hiddenKeyRaw: Array[String] = Array.empty,
                                  hiddenKeyCanon: Array[String] = Array.empty,
                                  hiddenKeySrcTypes: Array[DataType] =
                                    Array.empty)
  extends InputPartition with HasPartitionKey {
  // Storage-partitioned joins: Spark groups splits of hive-partitioned
  // tables by this key (driver-side, InternalRow equality/ordering), so
  // co-partitioned joins plan with ZERO shuffle. Types ride alongside the
  // raw strings; an empty-typed partition (streaming constructs) yields
  // an empty key, which is never consulted — SPJ only engages when the
  // scan reports KeyGroupedPartitioning. Hidden-partition transform keys
  // (bucket/day dirs, [[GraftOrcPartitionSpec.keyValue]]) follow the
  // identity values, in the exact order outputPartitioning reported.
  @transient private lazy val key: InternalRow = new GenericInternalRow(
    partitionValues.zip(partitionTypes).map { case (raw, dt) =>
      GraftOrcDataSource.internalPartitionValue(raw, dt)
    }.toArray[Any] ++
      hiddenKeyRaw.lazyZip(hiddenKeyCanon).lazyZip(hiddenKeySrcTypes)
        .map { case (raw, canon, st) =>
          GraftOrcPartitionSpec.keyValue(
            GraftOrcPartitionSpec.parseCanonical(Seq(canon)).head, raw, st)
        }.toArray[Any])
  override def partitionKey(): InternalRow = key
}

/** Several SMALL files as ONE task: the packed analogue of Spark's own
  * `FilePartition` bin packing. At lake scale a table is mostly many
  * small-ish files (streaming ingest, partitioned writes), and one task
  * per file pays scheduler latency + reader open cost per FILE — a
  * near-dup ingest's history join was measured going 2.4 -> 15 s purely
  * on file count (GraftOrcSourceSpec pins the packing). Every per-file
  * concern (schema-version
  * resolution, MoR sidecars, corrupt-file tolerance, per-file metrics)
  * is untouched: the factory chains the ordinary per-file readers.
  * `partitionKey` delegates to the first file — the planner only builds
  * mixed-key packs when the scan reports UnknownPartitioning, where the
  * key is never consulted; under SPJ packs are key-pure.
  */
case class GraftOrcPackedPartition(files: Array[GraftOrcInputPartition])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = files.head.partitionKey()
}

/** Sequential chain of per-file readers for [[GraftOrcPackedPartition]]:
  * opens one sub-reader at a time (lazily — never more than one open
  * file per task), folds each exhausted reader's final metric values
  * into an accumulator so the task's metrics are the SUM over its
  * files, exactly what a per-file task would have reported.
  */
private[v2] final class GraftOrcChainedReader[T](
    files: IndexedSeq[InputPartition],
    mk: InputPartition => PartitionReader[T]) extends PartitionReader[T] {
  private var idx = 0
  private var cur: PartitionReader[T] = _
  private val finished = new java.util.LinkedHashMap[String, java.lang.Long]()

  private def fold(r: PartitionReader[T]): Unit =
    r.currentMetricsValues().foreach { m =>
      finished.merge(m.name(), Long.box(m.value()),
        (a, b) => Long.box(a + b))
    }

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (idx >= files.length) return false
        cur = mk(files(idx)); idx += 1
      }
      if (cur.next()) return true
      try fold(cur) finally { cur.close(); cur = null }
    }
    false // unreachable
  }

  override def get(): T = cur.get()

  override def close(): Unit =
    if (cur != null) { cur.close(); cur = null }

  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    val acc = new java.util.LinkedHashMap[String, java.lang.Long](finished)
    if (cur != null) cur.currentMetricsValues().foreach { m =>
      acc.merge(m.name(), Long.box(m.value()), (a, b) => Long.box(a + b))
    }
    val out = new Array[CustomTaskMetric](acc.size())
    var i = 0
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); out(i) = GraftTaskMetric(e.getKey, e.getValue); i += 1
    }
    out
  }
}

class GraftOrcScan(dataFileSchema: StructType, partitionSchema: StructType,
                   readDataSchema: StructType, readPartitionSchema: StructType,
                   partitionFilters: Array[Filter], dataFilters: Array[Filter],
                   limit: Option[Int], index: GraftOrcFileIndex,
                   options: CaseInsensitiveMap[String],
                   metadataFields: Array[
                     org.apache.spark.sql.types.StructField] = Array.empty,
                   hiddenFilters: Array[Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {

  private def spark = SparkSession.active

  /** Target bytes per input split (`graft.split_size`, default 128 MB):
    * files up to it are packed whole, larger ones cut at stripe
    * boundaries into ranges of about this size.
    */
  private val targetSplitBytes: Long =
    options.get("graft.split_size").map { v =>
      val n = GraftOrcDataSource.parseLongOption("graft.split_size", v)
      if (n <= 0) throw new IllegalArgumentException(
        s"Invalid value '$v' for option 'graft.split_size', must be positive")
      n
    }.getOrElse(128L * 1024 * 1024)

  /** Live merge-on-read position-delete sidecars ([[GraftOrcMor]]) of
    * the resolved snapshot, as (sidecar path, table-root prefix) pairs.
    * Non-empty flips the scan to row-wise reads that subtract the
    * deleted positions per file; empty (the overwhelmingly common case)
    * leaves the vectorized path untouched.
    */
  private[v2] lazy val liveDeleteSidecars: Seq[(String, String)] =
    index.deleteEntries.collect {
      case (e, root) if !GraftOrcEqDelete.isEqualitySidecar(e.path) =>
        (e.path, root)
    }

  /** Live EQUALITY-delete sidecars ([[GraftOrcEqDelete]]): (path, table
    * root, sidecar mtime) — the mtime is the applicability watermark (a
    * sidecar deletes only from files strictly OLDER than it).
    */
  private[v2] lazy val liveEqSidecars: Seq[(String, String, Long)] =
    index.deleteEntries.collect {
      case (e, root) if GraftOrcEqDelete.isEqualitySidecar(e.path) =>
        (e.path, root, e.mtime)
    }

  /** The key columns the live equality sidecars delete by (union of the
    * sidecar schemas, resolved to table fields). Read from the sidecar
    * footers once at plan time — they are tiny by the purge contract.
    */
  private[v2] lazy val eqKeyFields: Array[
      org.apache.spark.sql.types.StructField] =
    if (liveEqSidecars.isEmpty) Array.empty
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      import scala.jdk.CollectionConverters._
      liveEqSidecars.flatMap { case (p, _, _) =>
        val r = OrcFile.createReader(new Path(p),
          OrcFile.readerOptions(conf))
        try r.getSchema.getFieldNames.asScala.toSeq finally r.close()
      }.distinct.map { n =>
        dataFileSchema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalStateException(
            s"graft-orc: equality sidecar key column $n is not in the " +
              s"table schema ${dataFileSchema.simpleString}"))
      }.toArray
    }

  /** Plan-time per-file MoR applicability: the set of data-file paths
    * any live sidecar can actually touch — position sidecars name their
    * files outright (one driver read of each small sidecar), equality
    * sidecars bound theirs by stamp order + key-range intersection with
    * the manifest stat sidecars. Scan tasks over every OTHER file skip
    * sidecar I/O and per-row delete checks entirely, so a small CDC
    * sidecar taxes only the files it can affect, not the whole table.
    * None = unknown (a failed sidecar read) — every file pays the
    * conservative path, exactly the pre-prune behavior.
    */
  private[v2] lazy val morAffectedPaths: Option[Set[String]] =
    if (liveDeleteSidecars.isEmpty && liveEqSidecars.isEmpty) None
    else try {
      val conf = spark.sparkContext.hadoopConfiguration
      val posRefs = GraftOrcMor.referencedFiles(conf, liveDeleteSidecars)
      val eqRanges = liveEqSidecars.map { case (p, _, mt) =>
        (mt, GraftOrcEqDelete.keyRangesOf(conf, p)) }
      Some(index.entries.iterator.filter(e =>
        posRefs(e.path) || eqRanges.exists { case (mt, kr) =>
          e.mtime < mt && GraftOrcEqDelete.mayHoldKeys(e.stats, kr) })
        .map(_.path).toSet)
    } catch { case scala.util.control.NonFatal(_) => None }

  // Runtime (dynamic partition) filtering: Catalyst offers filters on the
  // declared partition attributes once a join's build side has executed —
  // typically In(part_col, <dim keys>) from a DPP subquery — and the scan
  // re-prunes its FILE list before planning input partitions. The same
  // exact single-value-range evaluation as static partition pruning
  // applies; at 100 TB this is what keeps a star join from reading every
  // date partition of the fact.
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  // transform sources join the DPP surface: a runtime In(ts, <keys>) /
  // In(id, <keys>) prunes ts_day / id_bucket directories through
  // [[GraftOrcPartitionSpec.hiddenPrune]]
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only columns present in this scan's OUTPUT: Spark resolves these
    // references against the scan relation (PartitionPruning /
    // RowLevelOperationRuntimeGroupFiltering resolveRefs THROWS on a
    // miss), and column pruning may have projected a partition column
    // out — e.g. a MERGE's join-key-only target scan under a write
    // whose required distribution re-exposes the partition column to
    // the optimizer. A runtime filter we can't advertise there is an
    // optimization skipped, not a correctness loss.
    val out = readSchema().fieldNames.map(_.toLowerCase).toSet
    (partitionSchema.fieldNames ++ hiddenSpec.map(_.source))
      .filter(c => out(c.toLowerCase))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit = {
    val partNames = partitionSchema.fieldNames.map(_.toLowerCase).toSet ++
      hiddenSpec.map(_.source.toLowerCase)
    runtimeFilters = filters.filter(f =>
      f.references.nonEmpty &&
        f.references.forall(r => partNames(r.toLowerCase)))
  }

  // DSv2 output order: data columns, partition columns, then any
  // requested metadata columns — _file before _pos, matching the
  // reader's emission order (a constant-vector slot after the partition
  // constants, then the appended position vector); Catalyst's Project
  // above restores the query's requested order
  private[v2] def orderedMetaFields
      : Array[org.apache.spark.sql.types.StructField] =
    metadataFields.sortBy(f =>
      if (f.name.equalsIgnoreCase(GraftOrcDataSource.FileMetaCol)) 0 else 1)

  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++ readPartitionSchema.fields ++
      orderedMetaFields)

  /** Files surviving partition pruning: each partition filter is evaluated
    * exactly against the file's typed partition values (single-value
    * ranges make [[OrcStatsEval]] exact here). A `def`, not a lazy val:
    * runtime filters can arrive AFTER statistics were estimated, and
    * planInputPartitions must see the re-pruned list. Data filters
    * additionally prune whole FILES through manifest stat sidecars
    * ([[sidecarPrune]]) — free metadata, zero footer reads.
    */
  private[v2] def selectedFiles: Seq[OrcFileEntry] =
    sidecarPrune(
      pruneEntries(index.entries, partitionFilters ++ runtimeFilters))

  /** File-level DATA-filter pruning from manifest stat sidecars: a file
    * whose sidecar ranges prove no row can match every pushed data
    * filter never becomes an input partition — the A9 stripe-statistics
    * prune lifted to whole files, at zero I/O (the ranges ride in the
    * snapshot). Same conservative tri-state evaluator as stripe pruning
    * and partition pruning, so semantics cannot drift between levels;
    * files without a sidecar (BFS listings, pre-sidecar snapshots) are
    * always kept, and `orc.pushdown_predicate=false` empties
    * `dataFilters`, which disables this along with the SARG push.
    */
  private def sidecarPrune(entries: Seq[OrcFileEntry]): Seq[OrcFileEntry] =
    if (dataFilters.isEmpty) entries
    else entries.filter { e =>
      e.stats.flatMap(OrcStatsEval.decodeSidecar) match {
        case None => true
        case Some((_, cols)) =>
          // schema evolution: filters reference TABLE names, sidecars
          // the file's write-time names — translate per file version.
          // A field this file predates maps to an absent name: the
          // lookup misses and the file is conservatively kept.
          val filters =
            if (!evolved) dataFilters.toSeq
            else dataFilters.toSeq.flatMap(GraftOrcSchema.translateFilter(
              _, GraftOrcSchema.renameMap(dataFileSchema, e.schemaV)))
          val lookup: String => Option[OrcStatsEval.StatRange] =
            n => cols.get(n.toLowerCase).flatMap(_._1)
          filters.forall(f => OrcStatsEval.mayMatch(f, lookup))
      }
    }

  /** The persisted partition spec's TRANSFORM fields (hidden
    * partitioning, [[GraftOrcPartitionSpec]]); empty on identity-only
    * and pre-spec tables, which keep the classic path untouched.
    */
  private lazy val hiddenSpec: Seq[PartField] =
    index.tableMeta.map(m => GraftOrcPartitionSpec
      .parseCanonical(m.parts).filterNot(_.isIdentity)).getOrElse(Nil)

  /** Partition-filter pruning over an arbitrary listing (shared with the
    * micro-batch stream, which re-lists per batch). Two layers: exact
    * identity `k=v` evaluation (below), then hidden-partition transform
    * pruning — pushed DATA filters on a transform's source column bound
    * the derived directory (`ts >= X` prunes `ts_day=` dirs,
    * `id = k` prunes to one `id_bucket=`), while the filters themselves
    * stay residual, so this only ever skips I/O.
    */
  private[v2] def pruneEntries(entries: Seq[OrcFileEntry],
                               pruning: Seq[Filter]): Seq[OrcFileEntry] = {
    val base = pruneIdentity(entries, pruning)
    val meta = index.tableMeta
    if (meta.isEmpty) return base
    val m = meta.get
    val filters = (dataFilters ++ hiddenFilters ++ pruning).distinct.toSeq
    if (filters.isEmpty) return base
    val typeOf: String => Option[DataType] =
      name => dataFileSchema.fields.collectFirst {
        case f if f.name.equalsIgnoreCase(name) => f.dataType }
    if (!GraftOrcPartitionSpec.specEvolved(m)) {
      if (hiddenSpec.isEmpty) base
      else GraftOrcPartitionSpec.hiddenPrune(base, filters, hiddenSpec,
        typeOf)
    } else {
      // partition-spec EVOLUTION: each file prunes under the spec it was
      // written with (absent directories of later-added fields resolve
      // as unknown and keep the file) — order preserved, spec parse
      // memoized per schema version
      // layoutV, not schemaV: a purge/CoW rewrite can carry
      // current-version CONTENT inside directories frozen at the input
      // group's old spec — pruning must follow the layout
      val specByV = collection.mutable.Map.empty[Long, Seq[PartField]]
      base.filter { e =>
        val spec = specByV.getOrElseUpdate(e.layoutV,
          GraftOrcPartitionSpec.parseCanonical(
            GraftOrcPartitionSpec.specForVersion(m, e.layoutV))
            .filterNot(_.isIdentity))
        spec.isEmpty || GraftOrcPartitionSpec
          .hiddenPrune(Seq(e), filters, spec, typeOf).nonEmpty
      }
    }
  }

  private def pruneIdentity(entries: Seq[OrcFileEntry],
                            pruning: Seq[Filter]): Seq[OrcFileEntry] = {
    if (pruning.isEmpty) entries
    else entries.filter { e =>
      val lookup: String => Option[OrcStatsEval.StatRange] = name => {
        val raw = e.partitionValues.collectFirst {
          case (k, v) if k.equalsIgnoreCase(name) => v
        }
        raw.flatMap { r =>
          partitionFieldType(name).map { dt =>
            OrcStatsEval.valueRange(
              GraftOrcDataSource.externalPartitionValue(r, dt))
          }
        }
      }
      pruning.forall(f => OrcStatsEval.mayMatch(f, lookup))
    }
  }

  private[v2] def staticPartitionFilters: Seq[Filter] = partitionFilters.toSeq

  /** Raw partition-value strings for one file in read-partition order. */
  private[v2] def partValuesFor(e: OrcFileEntry): Array[String] =
    readPartitionSchema.fields.map { f =>
      e.partitionValues.collectFirst {
        case (k, v) if k.equalsIgnoreCase(f.name) => v
      }.orNull
    }

  // pruning may use a partition column the query does not project, so the
  // type lookup goes through the FULL partition schema
  private def partitionFieldType(name: String): Option[DataType] =
    partitionSchema.fields.collectFirst {
      case f if f.name.equalsIgnoreCase(name) => f.dataType
    }

  override def toBatch: Batch = this

  /** Storage-partitioned joins (SPJ): with
    * `.option("graft.preserve_partitioning", true)`, a hive-partitioned
    * table whose partition columns are all in the output reports
    * `KeyGroupedPartitioning(identity(partCols))`; Spark (under
    * `spark.sql.sources.v2.bucketing.enabled`) then groups this scan's
    * splits by [[GraftOrcInputPartition.partitionKey]] and a join of two
    * graft-orc tables co-partitioned on the join keys plans with NO
    * Exchange on either side — at 100 TB that deletes the single
    * largest cost of a fact-to-fact join (the reference's directory
    * tables have no analogue; this is Iceberg's SPJ shape on the same
    * layout, behind the same explicit opt-in Iceberg uses —
    * `preserve-data-grouping`). The opt-in matters because grouping is
    * unconditional once reported: EVERY query projecting the partition
    * columns would collapse to one task per partition value, which is
    * right for a co-partitioned join and wrong for a plain scan of a
    * 365-partition table on a 1000-executor cluster. Default off ⇒
    * plans exactly as before.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val optIn = options.get("graft.preserve_partitioning").map { v =>
      GraftOrcDataSource.parseBooleanOption(
        "graft.preserve_partitioning", v)
    }.getOrElse(false)
    if (!optIn ||
        (readPartitionSchema.fields.isEmpty && spjHiddenKeys.isEmpty))
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    else {
      // identity keys (requested partition columns), then transform keys
      // (bucket/days/... whose SOURCE column is in the output, resolved
      // by Spark against this table's FunctionCatalog — the
      // GraftOrcFunctions system functions). A bucket(16, key) table
      // pair joins on `key` with ZERO exchanges at 16 groups — the SPJ
      // shape identity partitioning cannot give a high-cardinality key.
      val keys: Array[org.apache.spark.sql.connector.expressions.Expression] =
        readPartitionSchema.fields
          .map(f => Expressions.identity(f.name)
            : org.apache.spark.sql.connector.expressions.Expression) ++
        spjHiddenKeys.map(f => GraftOrcPartitionSpec.toTransform(f)
          : org.apache.spark.sql.connector.expressions.Expression)
      // advisory count from the raw listing (the exec regroups the
      // actual post-pruning splits and uses ITS count): no sidecar
      // decode, no second pruning pass at plan time
      val n = index.entries
        .map(e => (partValuesFor(e).toSeq, hiddenKeyRawFor(e).toSeq))
        .distinct.size
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(keys, math.max(n, 1))
    }
  }

  /** Transform spec fields reported as SPJ partition keys: those whose
    * source column is in the read output (Spark resolves the transform
    * expression against the relation's output attributes). Order is the
    * spec's — partition key rows append these after the identity values.
    */
  private lazy val spjHiddenKeys: Seq[PartField] = {
    // a table whose spec EVOLVED only reports transform keys while every
    // listed file postdates the current spec's activation (older files
    // lack the current directories — their key slots would read null and
    // mis-group); identity keys stay valid regardless (evolution cannot
    // change the identity set)
    val uniformSpec = index.tableMeta.forall { m =>
      !GraftOrcPartitionSpec.specEvolved(m) ||
        m.props.get(GraftOrcPartitionSpec.SinceProp).map(_.toLong)
          .forall(s => index.entries.forall(_.layoutV >= s))
    }
    if (!uniformSpec) Nil
    else hiddenSpec.filter(f => readDataSchema.fields
      .exists(_.name.equalsIgnoreCase(f.source)))
  }

  private def hiddenKeyRawFor(e: OrcFileEntry): Array[String] =
    spjHiddenKeys.toArray.map { f =>
      e.partitionValues.collectFirst {
        case (k, v) if k.equalsIgnoreCase(f.dirName) => v
      }.orNull
    }

  /** Micro-batch streaming read: the directory is the stream, each batch
    * covers the files that appeared since the last (mtime, path)
    * watermark — or, with `graft.snapshot_offsets` on a manifest table,
    * since the last consumed manifest snapshot seq. See
    * [[GraftOrcMicroBatchStream]] for the contract.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftOrcMicroBatchStream(this,
      GraftOrcDataSource.paths(
        new CaseInsensitiveStringMap(options.asJava)),
      spark.sparkContext.hadoopConfiguration,
      snapshotOffsets = options.get("graft.snapshot_offsets").map { v =>
        GraftOrcDataSource.parseBooleanOption("graft.snapshot_offsets", v)
      }.getOrElse(false),
      // branch-scoped streaming: tail the branch lineage (WAP audit loop)
      branch = options.get("graft.branch").map(_.trim).filter(_.nonEmpty),
      // fresh-checkpoint seed for snapshot-offset streams: start the
      // feed AFTER an already-processed snapshot instead of replaying
      // the retained history
      startSnapshotId = options.get("graft.stream.start_snapshot_id")
        .map(GraftOrcDataSource.parseLongOption(
          "graft.stream.start_snapshot_id", _)),
      onRewrite = options.get("graft.stream.on_rewrite").map { v =>
        v.toLowerCase(java.util.Locale.ROOT)
      }.getOrElse("replay"),
      maxFilesPerTrigger = options.get("maxFilesPerTrigger").map { v =>
        // fail fast on bad values: a raw NumberFormatException names
        // nothing, and <= 0 would admit zero files every trigger — a
        // silently stalled stream (mirrors FileStreamSource validation)
        val n = try v.toInt catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"Invalid value '$v' for option 'maxFilesPerTrigger', " +
                "must be a positive integer")
        }
        if (n <= 0) throw new IllegalArgumentException(
          s"Invalid value '$v' for option 'maxFilesPerTrigger', " +
            "must be a positive integer")
        n
      },
      maxBytesPerTrigger = options.get("maxBytesPerTrigger").map { v =>
        // accepts size suffixes ("10m", "1g") like FileStreamSource
        val n =
          try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"Invalid value '$v' for option 'maxBytesPerTrigger', " +
                  "must be a positive size (e.g. 10m, 1g)")
          }
        if (n <= 0) throw new IllegalArgumentException(
          s"Invalid value '$v' for option 'maxBytesPerTrigger', " +
            "must be a positive size (e.g. 10m, 1g)")
        n
      })

  override def description(): String =
    s"GraftOrcScan files=${index.entries.size}, " +
      s"partitionFilters=${partitionFilters.mkString("[", ",", "]")}, " +
      s"dataFilters=${dataFilters.mkString("[", ",", "]")}, limit=$limit"

  // A3: footer statistics. Bytes are exact from the (partition-pruned)
  // listing; row counts come from a bounded-parallel footer sweep and are
  // reported ONLY when no data filter is pushed — the reference degrades
  // stats to_inexact() under a filter (src/source.rs:212-230), and an
  // absent count is the honest DSv2 mapping (partition pruning keeps
  // counts exact, so partition filters do not degrade them).
  //
  // The SAME sweep also decodes per-column footer statistics (min/max/
  // null count) for the projected data columns — the reference marks this
  // TODO (src/metadata.rs:60-86); here they feed Catalyst CBO through the
  // DSv2 `columnStats` surface so join ordering / broadcast decisions at
  // 100 TB see real column ranges, not defaults. One footer read per file
  // total: column stats ride along with the row count, never a second
  // sweep.
  private case class FileFooter(rows: Long,
      cols: Map[String, (Option[OrcStatsEval.StatRange], Long)])

  /** Schema evolution ([[GraftOrcSchema]]): whether any field carries
    * history a per-file consumer must resolve. False on never-altered
    * tables — every translation below is then the identity and the
    * paths stay byte-identical to before. STRICT val, deliberately: the
    * footer sweep's worker threads read it while the footerSweep lazy
    * val holds this object's initialization monitor — a lazy val here
    * deadlocks the sweep (worker parks on the monitor the coordinator
    * holds).
    */
  private val evolved = GraftOrcSchema.hasEvolution(dataFileSchema)

  /** (physical column name in a file of version `v`, field existed). */
  private def resolveField(f: org.apache.spark.sql.types.StructField,
                           v: Long): (String, Boolean) =
    if (!evolved) (f.name, true)
    else if (!GraftOrcSchema.visibleIn(f, v)) (f.name, false)
    else (GraftOrcSchema.nameAt(f, math.max(v, 1L)), true)

  private lazy val footerSweep: (Seq[OrcFileEntry], Seq[FileFooter]) = {
    val files = selectedFiles
    val footers = GraftOrcFileIndex.parallelMap(files) { e =>
      // manifest stat sidecar first: a snapshot entry written by the
      // graft-orc writer/compactor already carries this file's footer
      // statistics, so a 100k-file manifest table prices its row count
      // AND its CBO column stats with ZERO footer round-trips — the
      // footer open below is the fallback for BFS listings, pre-sidecar
      // snapshots, and unparseable sidecars
      e.stats.flatMap(OrcStatsEval.decodeSidecar) match {
        case Some((rows, sideCols)) =>
          val cols: Map[String, (Option[OrcStatsEval.StatRange], Long)] =
            if (readDataSchema.isEmpty) Map.empty
            else readDataSchema.fields.iterator.map { f =>
              // sidecars are keyed by the names CURRENT at write time:
              // resolve this field's physical name under the file's
              // schema version (exact — never alias guessing)
              val (phys, vis) = resolveField(f, e.schemaV)
              (if (vis) sideCols.get(phys.toLowerCase) else None) match {
                case Some((range, nValues)) =>
                  f.name.toLowerCase -> (range, rows - nValues)
                case None =>
                  // column absent from this file (schema evolution):
                  // every row contributes a null; min/max untouched
                  f.name.toLowerCase -> (Some(OrcStatsEval.StatRange(
                    None, None, hasNull = true, hasValues = false)), rows)
              }
            }.toMap
          FileFooter(rows, cols)
        case None =>
          GraftOrcDataSource.notePlanFooterRead(e.path)
          val r = OrcFile.createReader(new Path(e.path),
            OrcFile.readerOptions(spark.sparkContext.hadoopConfiguration))
          try {
            val rows = r.getNumberOfRows
            val root = r.getSchema
            val cols: Map[String, (Option[OrcStatsEval.StatRange], Long)] =
              if (readDataSchema.isEmpty ||
                  root.getCategory != TypeDescription.Category.STRUCT) Map.empty
              else {
                val names = root.getFieldNames.asScala
                val kids = root.getChildren.asScala
                val stats = r.getStatistics
                readDataSchema.fields.iterator.map { f =>
                  val (phys, vis) = resolveField(f, e.schemaV)
                  val i = if (!vis) -1
                    else names.indexWhere(_.equalsIgnoreCase(phys))
                  if (i < 0)
                    // column absent from this file (schema evolution): every
                    // row contributes a null; min/max untouched (hasValues
                    // false keeps it out of the merge)
                    f.name.toLowerCase -> (Some(OrcStatsEval.StatRange(
                      None, None, hasNull = true, hasValues = false)), rows)
                  else {
                    val cs = stats(kids(i).getId)
                    f.name.toLowerCase ->
                      (OrcStatsEval.fromOrcStats(cs), rows - cs.getNumberOfValues)
                  }
                }.toMap
              }
            FileFooter(rows, cols)
          } finally r.close()
      }
    }
    (files, footers)
  }

  private def footerRows: Long = footerSweep._2.map(_.rows).sum

  private lazy val columnStatsEnabled: Boolean =
    options.get("graft.column_stats").map { v =>
      GraftOrcDataSource.parseBooleanOption("graft.column_stats", v)
    }.getOrElse(true)

  override def estimateStatistics(): Statistics = {
    val bytes = selectedFiles.map(_.length).sum
    // live MoR delete sidecars — position AND equality — make footer row
    // counts upper bounds, so they degrade exactly like a pushed data
    // filter (and purge restores)
    val exactRows = dataFilters.isEmpty && liveDeleteSidecars.isEmpty &&
      liveEqSidecars.isEmpty
    val rows = if (exactRows) OptionalLong.of(footerRows) else OptionalLong.empty()
    // column stats share the degrade gate: under a pushed data filter the
    // scan's OUTPUT rows are unknown, so per-column null counts would lie;
    // gating both on the same condition also means column stats never add
    // a footer sweep the row count was not already paying for
    val colStats =
      if (exactRows && columnStatsEnabled) v2ColumnStats()
      else java.util.Collections.emptyMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = rows
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  private def catalystBound(v: Any, dt: DataType): Option[Object] =
    GraftOrcDataSource.catalystBound(v, dt)

  /** Merge the per-file footer ranges into one DSv2 ColumnStatistics per
    * projected column. Data columns come from the footer sweep; partition
    * columns from the (already-typed) listing values — exact and free.
    */
  private def v2ColumnStats(): java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val (files, footers) = footerSweep
    val out = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()

    def put(name: String, mn: Option[Object], mx: Option[Object],
            nulls: Long, nonNull: Long): Unit = {
      val minV = java.util.Optional.ofNullable(mn.orNull: Object)
      val maxV = java.util.Optional.ofNullable(mx.orNull: Object)
      out.put(Expressions.column(name),
        new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
          override def min(): java.util.Optional[Object] = minV
          override def max(): java.util.Optional[Object] = maxV
          override def nullCount(): OptionalLong = OptionalLong.of(nulls)
          // ORC footers carry no NDV; the non-null count is the only sound
          // bound. CBO range-selectivity does not depend on it, but
          // FilterEstimation refuses to estimate at all without a distinct
          // count — reporting the upper bound unlocks min/max-driven
          // estimates (equality estimates skew selective; documented).
          override def distinctCount(): OptionalLong =
            OptionalLong.of(math.max(1L, nonNull))
        })
    }

    // three-state merge per column: (no values yet) / (merged range) /
    // (untracked — a file had values but no usable min/max)
    def merge(ranges: Seq[(Option[OrcStatsEval.StatRange], Long)],
              dt: DataType): (Option[Object], Option[Object], Long) = {
      var nulls = 0L
      var mn: Option[Any] = None
      var mx: Option[Any] = None
      var ok = true
      ranges.foreach { case (rOpt, n) =>
        nulls += n
        rOpt match {
          case Some(r) if !r.hasValues => // all-null in this file: no-op
          case Some(r) =>
            (r.min, r.max) match {
              case (Some(a), Some(b)) =>
                mn = mn match {
                  case None => Some(a)
                  case Some(cur) => OrcStatsEval.cmp(a, cur) match {
                    case Some(c) => if (c < 0) Some(a) else Some(cur)
                    case None => ok = false; None
                  }
                }
                mx = mx match {
                  case None => Some(b)
                  case Some(cur) => OrcStatsEval.cmp(b, cur) match {
                    case Some(c) => if (c > 0) Some(b) else Some(cur)
                    case None => ok = false; None
                  }
                }
              case _ => ok = false // values present but range untracked
            }
          case None => ok = false // untracked column type
        }
      }
      if (!ok) (None, None, nulls)
      else (mn.flatMap(catalystBound(_, dt)), mx.flatMap(catalystBound(_, dt)),
        nulls)
    }

    val totalRows = footers.map(_.rows).sum

    readDataSchema.fields.foreach { f =>
      val key = f.name.toLowerCase
      val perFile = footers.map(ff => ff.cols.getOrElse(key, (None, 0L)))
      val (mn, mx, nulls) = merge(perFile, f.dataType)
      put(f.name, mn, mx, nulls, totalRows - nulls)
    }

    readPartitionSchema.fields.foreach { f =>
      val perFile = files.zip(footers).map { case (e, ff) =>
        val raw = e.partitionValues.collectFirst {
          case (k, v) if k.equalsIgnoreCase(f.name) => v
        }.orNull
        val ext =
          if (raw == null) null
          else GraftOrcDataSource.externalPartitionValue(raw, f.dataType)
        (Some(OrcStatsEval.valueRange(ext)),
          if (ext == null) ff.rows else 0L)
      }
      val (mn, mx, nulls) = merge(perFile, f.dataType)
      put(f.name, mn, mx, nulls, totalRows - nulls)
    }
    out
  }

  // Stripe-aligned input splits: a large ORC file becomes multiple
  // partitions of ~targetSplitBytes, cut at stripe boundaries (a stripe is
  // the ORC unit of independent decode). Without this, one 1 GB file =
  // one task — the single-file parallelism killer at scale. Footer reads
  // (needed only for oversized files) run in the bounded metadata pool.
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def partValues(e: OrcFileEntry): Array[String] = partValuesFor(e)
    val partTypes = readPartitionSchema.fields.map(_.dataType)
    // SPJ transform keys (empty unless this scan reports them)
    val hidCanon = spjHiddenKeys.toArray.map(_.canonical)
    val hidSrcTypes = spjHiddenKeys.toArray.map(f =>
      dataFileSchema.fields.find(_.name.equalsIgnoreCase(f.source))
        .map(_.dataType).getOrElse(StringType))
    def hidRaw(e: OrcFileEntry): Array[String] = hiddenKeyRawFor(e)
    val (small, big) = selectedFiles.partition(_.length <= targetSplitBytes)
    val smallParts = small.map(e =>
      GraftOrcInputPartition(e.path, 0, e.length, partValues(e), e.length,
        partTypes, e.schemaV, e.mtime, hidRaw(e), hidCanon, hidSrcTypes))
    val bigParts = GraftOrcFileIndex.parallelMap(big) { e =>
      val r = OrcFile.createReader(new Path(e.path), OrcFile.readerOptions(conf))
      val stripes =
        try r.getStripes.asScala.map(s => (s.getOffset, s.getLength)).toSeq
        finally r.close()
      // greedily pack consecutive stripes into ~target-size ranges
      val splits = collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var start = -1L; var acc = 0L; var end = 0L
      stripes.foreach { case (off, slen) =>
        if (start < 0) { start = off; acc = 0L }
        acc += slen; end = off + slen
        if (acc >= targetSplitBytes) {
          splits += ((start, end - start)); start = -1L
        }
      }
      if (start >= 0) splits += ((start, end - start))
      val vs = partValues(e)
      val hv = hidRaw(e)
      if (splits.isEmpty)
        Seq(GraftOrcInputPartition(e.path, 0, e.length, vs, e.length,
          partTypes, e.schemaV, e.mtime, hv, hidCanon, hidSrcTypes))
      else splits.map { case (s, l) =>
        GraftOrcInputPartition(e.path, s, l, vs, e.length, partTypes,
          e.schemaV, e.mtime, hv, hidCanon, hidSrcTypes)
      }
    }.flatten
    (packSmall(smallParts) ++ bigParts).toArray
  }

  /** Streaming entry: pack one micro-batch's admitted files with the
    * same policy (crawl commits are the many-small-files case). Batch
    * membership is decided by OFFSETS, task granularity is free to
    * change — replays admit the same file set regardless of packing.
    */
  private[v2] def packForStream(parts: Seq[GraftOrcInputPartition])
      : Array[InputPartition] =
    packSmall(parts).toArray

  /** Bin-pack per-file partitions of SMALL files into shared tasks —
    * the same sizing formula as Spark's own `FilePartition`
    * (`min(maxPartitionBytes, max(openCost, total/defaultParallelism))`,
    * every file padded by `spark.sql.files.openCostInBytes`), so small
    * tables keep their parallelism while a million-small-file history
    * scan stops paying one task launch + reader open PER FILE. Packs are
    * order-preserving; under storage-partitioned joins
    * (`graft.preserve_partitioning`) they are built per partition KEY so
    * a pack's reported `partitionKey` stays exact.
    * `graft.pack_small_files=false` restores one task per file.
    */
  private def packSmall(parts: Seq[GraftOrcInputPartition])
      : Seq[InputPartition] = {
    val enabled = options.get("graft.pack_small_files").map { v =>
      GraftOrcDataSource.parseBooleanOption("graft.pack_small_files", v)
    }.getOrElse(true)
    if (!enabled || parts.length <= 1) return parts
    val sqlConf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = sqlConf.filesOpenCostInBytes
    val totalBytes = parts.iterator.map(_.length + openCost).sum
    val minParts = sqlConf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val maxSplit = math.min(
      math.min(targetSplitBytes, sqlConf.filesMaxPartitionBytes),
      math.max(openCost, totalBytes / math.max(1, minParts)))
    val spjOn = options.get("graft.preserve_partitioning").map { v =>
      GraftOrcDataSource.parseBooleanOption(
        "graft.preserve_partitioning", v)
    }.getOrElse(false) &&
      (readPartitionSchema.fields.nonEmpty || spjHiddenKeys.nonEmpty)
    val groups: Iterator[Seq[GraftOrcInputPartition]] =
      if (!spjOn) Iterator.single(parts)
      else parts.groupBy(p =>
        (p.partitionValues.toSeq, p.hiddenKeyRaw.toSeq)).valuesIterator
    groups.flatMap { g =>
      val bins = collection.mutable.ArrayBuffer
        .empty[collection.mutable.ArrayBuffer[GraftOrcInputPartition]]
      var bin = collection.mutable.ArrayBuffer.empty[GraftOrcInputPartition]
      var acc = 0L
      g.foreach { p =>
        val sz = p.length + openCost
        if (bin.nonEmpty && acc + sz > maxSplit) {
          bins += bin
          bin = collection.mutable.ArrayBuffer.empty; acc = 0L
        }
        bin += p; acc += sz
      }
      if (bin.nonEmpty) bins += bin
      bins.map(b =>
        if (b.length == 1) b.head
        else GraftOrcPackedPartition(b.toArray): InputPartition)
    }.toSeq
  }

  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory(applyDeletes = true)

  /** The STREAMING factory never applies MoR position sidecars: a
    * streamed row is the admitted file's content at admission time, and
    * a later sidecar is a policy event ([[GraftOrcMicroBatchStream]]
    * `graft.stream.on_rewrite`), not a retraction — applying the
    * CURRENT sidecar set to old batches would make replays
    * non-deterministic.
    */
  private[v2] def streamReaderFactory(): PartitionReaderFactory =
    readerFactory(applyDeletes = false)

  private def readerFactory(applyDeletes: Boolean): PartitionReaderFactory = {
    // same typed option semantics as the A13 contract (OrcTables)
    val parsed = graft.sources.OrcTables.parseOptions(options)
    val batchSize = parsed.batchSize.getOrElse(4096)
    // the session Hadoop configuration (fs.* credentials, orc.* tuning —
    // a bare new Configuration() would drop s3a/gcs settings on a real
    // cluster) reaches the readers as one shared broadcast
    val serConf = GraftOrcConfShipping.broadcast(spark.sparkContext,
      spark.sparkContext.hadoopConfiguration)
    // corrupt-file tolerance for lake-scale ingest: a single truncated or
    // garbage file must not kill a 100 TB scan when the user opts in.
    // Session conf supplies the default (Spark's own file sources read the
    // same flag); the per-read option overrides it.
    val ignoreCorrupt = options.get("ignoreCorruptFiles").map { v =>
      GraftOrcDataSource.parseBooleanOption("ignoreCorruptFiles", v)
    }.getOrElse(
      spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false").toBoolean)
    // row-level (UPDATE/MERGE) scans: data filters prune FILES (group
    // granularity) during planning but must not reach the reader — a
    // SARG-skipped stripe inside a surviving file would silently drop
    // its rows from the group rewrite
    val rowLevelScan = options.get("graft.row_level_scan").map { v =>
      v.trim.toBoolean
    }.getOrElse(false)
    // equality deletes force-read their key columns when the query did
    // not project them; the row wrapper drops the forced columns before
    // emitting (same pattern as the forced _pos machinery)
    val eqActive = applyDeletes && liveEqSidecars.nonEmpty
    // per-task key-tuple budget: fail the scan with a typed
    // "purge required" error instead of an executor OOM when sidecars
    // have accumulated past what a task can hold in memory
    val eqBudgetRows: Long =
      options.get("graft.eq_delete_budget_rows").map { v =>
        try v.trim.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"graft-orc: graft.eq_delete_budget_rows must be a long, " +
              s"got '$v'") }
      }.getOrElse(GraftOrcEqDelete.DefaultBudgetRows)
    val forcedEq: Array[org.apache.spark.sql.types.StructField] =
      if (!eqActive) Array.empty
      else eqKeyFields.filterNot(f =>
        readDataSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    val extendedReadData = StructType(readDataSchema.fields ++ forcedEq)
    val eqOrdinals: Array[Int] =
      if (!eqActive) Array.empty
      else eqKeyFields.map(f => extendedReadData.fields.indexWhere(
        _.name.equalsIgnoreCase(f.name)))
    new GraftOrcPartitionReaderFactory(dataFileSchema, extendedReadData,
      readPartitionSchema,
      if (parsed.pushdownPredicate && !rowLevelScan) dataFilters
      else Array.empty,
      limit, batchSize, serConf, parsed.metadataSizeHint, ignoreCorrupt,
      emitFilePath = metadataFields.exists(
        _.name.equalsIgnoreCase(GraftOrcDataSource.FileMetaCol)),
      emitRowPos = metadataFields.exists(
        _.name.equalsIgnoreCase(GraftOrcDataSource.PosMetaCol)),
      deleteSidecars =
        if (applyDeletes) liveDeleteSidecars.toArray else Array.empty,
      eqSidecars = if (eqActive) liveEqSidecars.toArray else Array.empty,
      eqKeyTypes = if (eqActive) eqKeyFields.map(_.dataType) else Array.empty,
      eqOrdinals = eqOrdinals,
      forcedEqCount = forcedEq.length,
      eqBudgetRows = eqBudgetRows,
      morAffected = if (applyDeletes) morAffectedPaths else None)
  }

  // A12: custom scan metrics, full parity with the reference's 12
  // (metrics.rs:52-218; pruning metrics split into pruned/matched pairs).
  override def supportedCustomMetrics(): Array[CustomMetric] = Array(
    new GraftBytesScannedMetric, new GraftFileBytesMetric,
    new GraftIoRequestsMetric, new GraftMetadataLoadNsMetric,
    new GraftStripesPrunedMetric, new GraftStripesMatchedMetric,
    new GraftStatsEvalNsMetric, new GraftPredicateErrorsMetric,
    new GraftPushdownRowsPrunedMetric, new GraftPushdownRowsMatchedMetric,
    new GraftDecodeNsMetric, new GraftRowsDecodedMetric,
    new GraftBatchesProducedMetric, new GraftFilesReadMetric,
    new GraftCorruptFilesSkippedMetric, new GraftEqDeleteKeysMetric)
}

// metric classes need zero-arg constructors (Spark instantiates them by
// reflection when aggregating task metrics for the SQL UI); names mirror
// the reference's OrcFileMetrics fields (metrics.rs:52-118)
class GraftBytesScannedMetric extends CustomSumMetric {
  override def name: String = "graftBytesScanned"
  override def description: String = "graft: bytes scanned (post stripe-prune)"
}
class GraftFileBytesMetric extends CustomSumMetric {
  override def name: String = "graftFileBytes"
  override def description: String = "graft: total split bytes (file_size)"
}
class GraftIoRequestsMetric extends CustomSumMetric {
  override def name: String = "graftIoRequests"
  override def description: String = "graft: i/o requests"
}
class GraftMetadataLoadNsMetric extends CustomSumMetric {
  override def name: String = "graftMetadataLoadNs"
  override def description: String = "graft: metadata load time (ns)"
}
class GraftStripesPrunedMetric extends CustomSumMetric {
  override def name: String = "graftStripesPruned"
  override def description: String = "graft: stripes pruned by statistics"
}
class GraftStripesMatchedMetric extends CustomSumMetric {
  override def name: String = "graftStripesMatched"
  override def description: String = "graft: stripes matched by statistics"
}
class GraftStatsEvalNsMetric extends CustomSumMetric {
  override def name: String = "graftStatsEvalNs"
  override def description: String = "graft: statistics eval time (ns)"
}
class GraftPredicateErrorsMetric extends CustomSumMetric {
  override def name: String = "graftPredicateEvalErrors"
  override def description: String = "graft: predicate evaluation errors"
}
class GraftPushdownRowsPrunedMetric extends CustomSumMetric {
  override def name: String = "graftPushdownRowsPruned"
  override def description: String = "graft: rows in pruned stripes"
}
class GraftPushdownRowsMatchedMetric extends CustomSumMetric {
  override def name: String = "graftPushdownRowsMatched"
  override def description: String = "graft: rows in matched stripes"
}
class GraftDecodeNsMetric extends CustomSumMetric {
  override def name: String = "graftDecodeNs"
  override def description: String = "graft: decode time (ns)"
}
class GraftRowsDecodedMetric extends CustomSumMetric {
  override def name: String = "graftRowsDecoded"
  override def description: String = "graft: rows decoded"
}
class GraftBatchesProducedMetric extends CustomSumMetric {
  override def name: String = "graftBatchesProduced"
  override def description: String = "graft: batches produced"
}
class GraftFilesReadMetric extends CustomSumMetric {
  override def name: String = "graftFilesRead"
  override def description: String = "graft: files read"
}
class GraftCorruptFilesSkippedMetric extends CustomSumMetric {
  override def name: String = "graftCorruptFilesSkipped"
  override def description: String = "graft: corrupt files skipped/truncated"
}
class GraftEqDeleteKeysMetric extends CustomSumMetric {
  override def name: String = "graftEqDeleteKeys"
  override def description: String =
    "graft: equality-delete key tuples loaded per task (purge health)"
}

case class GraftTaskMetric(name: String, value: Long) extends CustomTaskMetric

/** Executor-side logger seat (PartitionReaderFactory is serialized; a
  * shared object keeps the slf4j handle out of the closure). */
object GraftOrcLog {
  @transient lazy val log: org.slf4j.Logger =
    org.slf4j.LoggerFactory.getLogger("graft.sources.v2.GraftOrc")
}

/** A10: per-file vectorized reader with metric instrumentation, constant
  * partition-column vectors, and exact limit truncation.
  *
  * `serConf` is the session Hadoop conf as one shared broadcast
  * ([[GraftOrcConfShipping]]): the factory itself carries only its
  * handle, and each reader copies the conf before setting its own keys.
  *
  * `deleteSidecars` non-empty (live merge-on-read position deletes,
  * [[GraftOrcMor]]) flips the WHOLE scan to row-wise reads — Spark's
  * DSv2 exec requires partitions to agree on columnar-ness, and the
  * Iceberg readers made the same trade before vectorized delete
  * application. The row reader wraps the vectorized one (forcing the
  * `_pos` machinery on so positions stay exact — which also disables
  * SARG row-group skipping, like any `_pos` read) and subtracts each
  * file's sorted position set with a single advancing pointer; a purge
  * compaction retires the sidecars and restores pure-columnar scans.
  */
class GraftOrcPartitionReaderFactory(dataFileSchema: StructType,
                                     readDataSchema: StructType,
                                     readPartitionSchema: StructType,
                                     pushedFilters: Array[Filter],
                                     limit: Option[Int], batchSize: Int,
                                     serConf: Broadcast[SerializableConfiguration],
                                     metadataSizeHint: Option[Long] = None,
                                     ignoreCorruptFiles: Boolean = false,
                                     emitFilePath: Boolean = false,
                                     emitRowPos: Boolean = false,
                                     deleteSidecars: Array[(String, String)] =
                                       Array.empty,
                                     eqSidecars: Array[(String, String, Long)] =
                                       Array.empty,
                                     eqKeyTypes: Array[DataType] = Array.empty,
                                     eqOrdinals: Array[Int] = Array.empty,
                                     forcedEqCount: Int = 0,
                                     eqBudgetRows: Long =
                                       GraftOrcEqDelete.DefaultBudgetRows,
                                     morAffected: Option[Set[String]] = None)
    extends PartitionReaderFactory {

  private def morMode: Boolean =
    deleteSidecars.nonEmpty || eqSidecars.nonEmpty

  override def supportColumnarReads(partition: InputPartition): Boolean =
    !morMode

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    if (!morMode)
      throw new UnsupportedOperationException(
        "graft-orc is a columnar source; Spark should call createColumnarReader")
    partition match {
      case GraftOrcPackedPartition(files) =>
        return new GraftOrcChainedReader[InternalRow](files.toIndexedSeq,
          createReader)
      case _ => ()
    }
    val p = partition.asInstanceOf[GraftOrcInputPartition]
    // plan-time applicability: a file NO live sidecar can touch skips
    // the per-task sidecar reads and every per-row delete check (the
    // scan is globally row-wise while sidecars are live — Spark's
    // columnar decision is per scan — but unaffected files pay only
    // the row iteration, not the merge)
    val fileAffected = morAffected.forall(_.contains(p.filePath))
    val deleted =
      if (!fileAffected) Array.empty[Long]
      else GraftOrcMor.positionsFor(serConf.value.value,
        deleteSidecars.toSeq, p.filePath)
    // equality deletes: the union key-tuple set of every sidecar NEWER
    // than this file (under this file's table root); empty when only
    // position sidecars are live
    val eqSet: java.util.HashSet[String] =
      if (!fileAffected || eqSidecars.isEmpty)
        new java.util.HashSet[String]()
      else GraftOrcEqDelete.keySetFor(serConf.value.value,
        eqSidecars.toSeq.collect {
          case (side, root, mtime)
              if p.filePath.startsWith(root.stripSuffix("/") + "/") =>
            (side, mtime)
        },
        eqOrdinals.zip(eqKeyTypes).map { case (o, dt) =>
          readDataSchema.fields(o).copy(dataType = dt) },
        p.fileMtime, eqBudgetRows)
    // batch layout in morMode: readData (incl. any FORCED equality key
    // columns at its tail) ++ readPart ++ (_file?) ++ pos (forced last);
    // the output projection drops the forced pieces unless the query
    // asked for them itself
    val batchCols = readDataSchema.length + readPartitionSchema.length +
      (if (emitFilePath) 1 else 0) + 1
    val posIdx = batchCols - 1
    val d0 = readDataSchema.length - forcedEqCount // original data cols
    val origData = StructType(readDataSchema.fields.take(d0))
    val outSchema = StructType(
      origData.fields ++ readPartitionSchema.fields ++
        (if (emitFilePath) Array(org.apache.spark.sql.types.StructField(
          GraftOrcDataSource.FileMetaCol, StringType, nullable = false))
         else Array.empty[org.apache.spark.sql.types.StructField]) ++
        (if (emitRowPos) Array(org.apache.spark.sql.types.StructField(
          GraftOrcDataSource.PosMetaCol,
          org.apache.spark.sql.types.LongType, nullable = false))
         else Array.empty[org.apache.spark.sql.types.StructField]))
    val outIndices: IndexedSeq[Int] =
      ((0 until d0) ++ (readDataSchema.length until posIdx) ++
        (if (emitRowPos) Seq(posIdx) else Nil)).toIndexedSeq
    val identity = forcedEqCount == 0 && emitRowPos
    val inner = createColumnarReader(partition)
    new PartitionReader[InternalRow] {
      private val project =
        if (identity) null // nothing forced beyond the requested _pos
        else org.apache.spark.sql.catalyst.ProjectingInternalRow(outSchema,
          outIndices)
      private var rowIter: java.util.Iterator[InternalRow] =
        java.util.Collections.emptyIterator()
      private var cur: InternalRow = _
      private var emitted = 0L
      private var di = 0 // advancing pointer into the sorted position set

      override def next(): Boolean = {
        if (limit.exists(emitted >= _)) return false
        while (true) {
          while (rowIter.hasNext) {
            val row = rowIter.next()
            val pos = row.getLong(posIdx)
            while (di < deleted.length && deleted(di) < pos) di += 1
            if (di >= deleted.length || deleted(di) != pos) {
              val eqDeleted = !eqSet.isEmpty &&
                GraftOrcEqDelete.tupleOf(row, eqOrdinals, eqKeyTypes)
                  .exists(eqSet.contains)
              if (!eqDeleted) {
                cur = if (project == null) row
                  else { project.project(row); project }
                emitted += 1
                return true
              }
            }
          }
          if (!inner.next()) return false
          rowIter = inner.get().rowIterator()
        }
        false // unreachable
      }

      override def get(): InternalRow = cur
      override def close(): Unit = inner.close()
      override def currentMetricsValues(): Array[CustomTaskMetric] =
        inner.currentMetricsValues() :+ (new CustomTaskMetric {
          override def name(): String = "graftEqDeleteKeys"
          override def value(): Long = eqSet.size().toLong
        })
    }
  }

  /** With `ignoreCorruptFiles` on, a file whose footer or stripes cannot
    * be read degrades to an empty/truncated read instead of failing the
    * scan — the exception classes mirror Spark's own FilePartitionReader
    * tolerance (IOException covers ORC's FileFormatException;
    * RuntimeException covers protobuf/array decode failures on garbage
    * bytes). Clearly-transient interrupt classes (InterruptedIOException,
    * ClosedByInterruptException — task kill / speculative-duplicate
    * cancellation, not data corruption) are RETHROWN so a healthy file is
    * never silently truncated by a cancelled read. Every skip is logged
    * through the logging framework and counted in the
    * `graftCorruptFilesSkipped` scan metric.
    */
  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = partition match {
    case GraftOrcPackedPartition(files) =>
      // chain the ordinary per-file readers (corrupt-tolerance, schema
      // resolution and metrics all stay per-file)
      new GraftOrcChainedReader[ColumnarBatch](files.toIndexedSeq,
        createColumnarReader)
    case _ =>
    if (!ignoreCorruptFiles) createColumnarReaderUnsafe(partition)
    else {
      val path = partition.asInstanceOf[GraftOrcInputPartition].filePath
      def transient_(e: Throwable): Boolean = e match {
        case _: java.io.InterruptedIOException => true
        case _: java.nio.channels.ClosedByInterruptException => true
        case _ => false
      }
      def warn(stage: String, e: Throwable): Unit =
        GraftOrcLog.log.warn("graft-orc: ignoring corrupt file {} ({}: {}: {})",
          path, stage, e.getClass.getSimpleName, e.getMessage)
      try {
        val inner = createColumnarReaderUnsafe(partition)
        new PartitionReader[ColumnarBatch] {
          private var skipped = 0L
          override def next(): Boolean =
            try inner.next() catch {
              case e @ (_: java.io.IOException | _: RuntimeException)
                  if !transient_(e) =>
                warn("read", e); skipped = 1L
                false // treat the rest of the file as EOF
            }
          override def get(): ColumnarBatch = inner.get()
          override def close(): Unit = inner.close()
          override def currentMetricsValues(): Array[CustomTaskMetric] =
            inner.currentMetricsValues() :+
              GraftTaskMetric("graftCorruptFilesSkipped", skipped)
        }
      } catch {
        case e @ (_: java.io.IOException | _: RuntimeException)
            if !transient_(e) =>
          warn("open", e)
          new PartitionReader[ColumnarBatch] {
            override def next(): Boolean = false
            override def get(): ColumnarBatch =
              throw new java.util.NoSuchElementException
            override def close(): Unit = ()
            override def currentMetricsValues(): Array[CustomTaskMetric] =
              Array(GraftTaskMetric("graftCorruptFilesSkipped", 1L))
          }
      }
    }
  }

  private def createColumnarReaderUnsafe(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftOrcInputPartition]
    // per-reader copy of the shipped session conf (mutated below; the
    // shipped one is shared and read-only, see GraftOrcConfShipping)
    val conf = new Configuration(serConf.value.value)
    // A9: SARG prunes stripes/row-groups only; row-level filtering stays
    // with Catalyst's residual Filter
    OrcConf.ALLOW_SARG_TO_FILTER.setBoolean(conf, false)

    val metaT0 = System.nanoTime()
    var ioRequests = 1L // footer read
    var statsEvalNs = 0L
    var stripesPruned = 0L
    var stripesMatched = 0L
    var rowsPruned = 0L
    var rowsMatched = 0L
    var predicateErrors = 0L
    var prunedBytes = 0L
    // rows in stripes before this split's start: the file-ordinal base
    // for the _pos metadata column
    var splitStartRow = 0L

    // _pos derives from a running count of decoded rows, so row groups
    // must not be skipped mid-split: SARG push (and its metrics mirror)
    // is disabled for this read — Catalyst's residual Filter keeps the
    // results identical, the scan just decodes the whole split. morMode
    // forces the pos machinery on (the row wrapper consumes it) and
    // moves the limit to the wrapper (a pre-subtraction truncation
    // would under-produce surviving rows).
    val emitRowPosEff = emitRowPos || morMode
    val limitEff = if (morMode) None else limit

    // ---- schema evolution (GraftOrcSchema): per-file resolution -------
    // Translate TABLE column names to this file's PHYSICAL names (the
    // names current at the file's schema version). Fields the file
    // predates map to a guaranteed-absent name, so the column-id mapping
    // below yields -1 and the reader null-fills — the exact machinery
    // plain schema merge already uses for missing columns. On
    // never-altered tables every map below is empty and the path is
    // byte-identical to before.
    val evolved = GraftOrcSchema.hasEvolution(dataFileSchema)
    val renameM: Map[String, String] =
      if (!evolved) Map.empty
      else GraftOrcSchema.renameMap(dataFileSchema, p.schemaV)
    def phys(n: String): String = renameM.getOrElse(n.toLowerCase, n)
    val physDataFileSchema =
      if (renameM.isEmpty) dataFileSchema
      else StructType(dataFileSchema.fields.map(f => f.copy(name = phys(f.name))))
    val physReadDataSchema =
      if (renameM.isEmpty) readDataSchema
      else StructType(readDataSchema.fields.map(f => f.copy(name = phys(f.name))))
    // a column TYPE-WIDENED after this file was written has the narrower
    // physical type here: decode converts (ORC schema evolution), but a
    // SearchArgument must not be pushed against it — drop those filters
    // for THIS file (they are all residual anyway, the A9 contract)
    val widenedCols: Set[String] =
      if (!evolved) Set.empty
      else dataFileSchema.fields.iterator
        .filter(f => GraftOrcSchema.widenedV(f)
          .exists(_ > math.max(p.schemaV, 1L)))
        .map(f => phys(f.name).toLowerCase).toSet
    val sargFilters =
      if (emitRowPosEff) Array.empty[Filter]
      else {
        val translated =
          if (renameM.isEmpty) pushedFilters
          else pushedFilters.flatMap(
            GraftOrcSchema.translateFilter(_, renameM))
        if (widenedCols.isEmpty) translated
        else translated.filter(_.references.forall(r =>
          !widenedCols(r.toLowerCase)))
      }

    val filePath = new Path(p.filePath)
    // orc.metadata_size_hint: one ranged tail read of the hinted size
    // replaces the reader's own footer fetch; a too-small hint costs a
    // second fetch, surfaced in the ioRequests metric
    val (orcReader, orcTail, metaReads) = GraftOrcTailReader.createReader(
      filePath, conf, p.fileLength, metadataSizeHint)
    ioRequests += metaReads - 1
    val (colIds, canPrune) =
      try {
        val (ids, cp) = GraftOrcShims.requestedColumnIds(isCaseSensitive = false,
            physDataFileSchema, physReadDataSchema, orcReader.getSchema, conf)
          .getOrElse((Array.empty[Int], true))

        // A12 stripe-pruning observability: re-evaluate the pushed
        // conjunction against per-stripe column statistics, the same
        // decision the ORC reader makes internally when it skips stripes.
        // (The skipping itself is done by the reader via the SARG below;
        // this pass makes pruned/matched counts and rows visible.)
        if (sargFilters.nonEmpty) {
          val t0 = System.nanoTime()
          ioRequests += 1 // stripe-statistics metadata read
          try {
            val orcSchema = orcReader.getSchema
            val fieldIds: Map[String, Int] =
              orcSchema.getFieldNames.asScala.zip(
                orcSchema.getChildren.asScala.map(_.getId)).map {
                case (n, id) => n.toLowerCase -> id
              }.toMap
            val stripeStats = orcReader.getStripeStatistics.asScala
            orcReader.getStripes.asScala.zipWithIndex.foreach {
              case (s, _) if s.getOffset < p.start =>
                splitStartRow += s.getNumberOfRows
              case (s, i) if s.getOffset >= p.start &&
                s.getOffset < p.start + p.length =>
                val mayMatch =
                  try {
                    val colStats = stripeStats(i).getColumnStatistics
                    val lookup: String => Option[OrcStatsEval.StatRange] =
                      name => fieldIds.get(name.toLowerCase)
                        .flatMap(id => OrcStatsEval.fromOrcStats(colStats(id)))
                    sargFilters.forall(f => OrcStatsEval.mayMatch(f, lookup))
                  } catch {
                    case _: RuntimeException =>
                      predicateErrors += 1
                      true // evaluation error => read the stripe
                  }
                if (mayMatch) {
                  stripesMatched += 1; rowsMatched += s.getNumberOfRows
                } else {
                  stripesPruned += 1; rowsPruned += s.getNumberOfRows
                  prunedBytes += s.getLength
                }
              case _ => ()
            }
          } catch {
            case _: RuntimeException => predicateErrors += 1
          }
          statsEvalNs = System.nanoTime() - t0
        } else {
          // no filters: every overlapping stripe will be read
          orcReader.getStripes.asScala.foreach { s =>
            if (s.getOffset < p.start) splitStartRow += s.getNumberOfRows
            else if (s.getOffset < p.start + p.length) stripesMatched += 1
          }
        }
        (ids, cp)
      } finally orcReader.close()

    if (colIds.isEmpty && readDataSchema.nonEmpty) {
      // file has none of the requested data columns -> empty reader
      return new PartitionReader[ColumnarBatch] {
        override def next(): Boolean = false
        override def get(): ColumnarBatch = throw new NoSuchElementException
        override def close(): Unit = ()
      }
    }

    // _file rides the constant-vector machinery exactly like a partition
    // column: one more synthetic field bound to this file's path
    val constSchema =
      if (emitFilePath)
        StructType(readPartitionSchema.fields :+
          org.apache.spark.sql.types.StructField(
            GraftOrcDataSource.FileMetaCol, StringType, nullable = false))
      else readPartitionSchema
    val resultSchema =
      StructType(physReadDataSchema.fields ++ constSchema.fields)
    val resultSchemaString = GraftOrcShims.orcResultSchemaString(
      canPrune, physDataFileSchema, resultSchema, constSchema, conf)

    if (sargFilters.nonEmpty) {
      GraftOrcShims.createFilter(physDataFileSchema, sargFilters).foreach { sarg =>
        OrcInputFormat.setSearchArgument(conf, sarg,
          physDataFileSchema.fieldNames)
      }
    }

    // columns this file PREDATES whose ADD COLUMN declared a DEFAULT
    // (Iceberg-v3 initial defaults): they ride the constant-vector
    // machinery — one constant per file resolution — instead of the
    // missing-column null vector. Files written after the add carry the
    // column physically and never reach this branch.
    val defaultSlots: Array[(Int, Any)] =
      if (!evolved) Array.empty
      else readDataSchema.fields.zipWithIndex.flatMap { case (f, i) =>
        if (!GraftOrcSchema.visibleIn(f, p.schemaV))
          GraftOrcSchema.existsDefaultValue(f).map(v => (i, v))
        else None
      }

    // constant partition vectors: cast the raw path values to the
    // partition column types (hive `__HIVE_DEFAULT_PARTITION__` -> null)
    val partitionValuesRow = {
      val row = new GenericInternalRow(constSchema.length +
        defaultSlots.length)
      readPartitionSchema.fields.zipWithIndex.foreach { case (f, i) =>
        row.update(i, GraftOrcDataSource.internalPartitionValue(
          p.partitionValues(i), f.dataType))
      }
      if (emitFilePath)
        row.update(readPartitionSchema.length,
          UTF8String.fromString(p.filePath))
      defaultSlots.zipWithIndex.foreach { case ((_, v), k) =>
        row.update(constSchema.length + k, v)
      }
      row
    }

    val attemptId = new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0)
    val ctx = new TaskAttemptContextImpl(conf, attemptId)
    val split = new FileSplit(filePath, p.start, p.length, Array.empty[String])
    val reader = new OrcColumnarBatchReader(batchSize, MemoryMode.ON_HEAP)
    // the tail parsed above: the batch reader opens no footer of its own
    reader.initialize(split, ctx, orcTail)
    val partColIds = Array.fill(readDataSchema.length)(-1) ++
      constSchema.indices.toArray
    defaultSlots.zipWithIndex.foreach { case ((i, _), k) =>
      partColIds(i) = constSchema.length + k
    }
    reader.initBatch(
      TypeDescription.fromString(resultSchemaString),
      resultSchema.fields,
      colIds ++ Array.fill(constSchema.length)(-1),
      partColIds,
      partitionValuesRow)
    val metadataNs = System.nanoTime() - metaT0
    // one ranged read per stripe actually decoded (post-prune)
    ioRequests += stripesMatched

    val finalStripesMatched = stripesMatched
    new PartitionReader[ColumnarBatch] {
      private var rowsOut = 0L
      private var batches = 0L
      private var decodeNs = 0L
      private var done = false
      private var current: ColumnarBatch = _
      // _pos metadata column: one reused long vector, refilled per batch
      // with the file-ordinal range [posCursor, posCursor + numRows)
      private var posCursor = splitStartRow
      private val posVec: org.apache.spark.sql.execution.vectorized
          .OnHeapColumnVector =
        if (emitRowPosEff)
          new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector(
            batchSize, org.apache.spark.sql.types.LongType)
        else null

      override def next(): Boolean = {
        if (done) return false
        if (limitEff.exists(rowsOut >= _)) { done = true; return false }
        val t0 = System.nanoTime()
        val has = reader.nextKeyValue()
        decodeNs += System.nanoTime() - t0
        if (!has) { done = true; return false }
        current = reader.getCurrentValue
        // A7: slice the straddling batch to exactly `limit` rows
        limitEff.foreach { l =>
          val remaining = l - rowsOut
          if (current.numRows() > remaining) current.setNumRows(remaining.toInt)
        }
        if (emitRowPosEff) {
          val n = current.numRows()
          var i = 0
          while (i < n) { posVec.putLong(i, posCursor + i); i += 1 }
          posCursor += n
          val cols = Array.tabulate[org.apache.spark.sql.vectorized
            .ColumnVector](current.numCols())(current.column) :+
            (posVec: org.apache.spark.sql.vectorized.ColumnVector)
          current = new ColumnarBatch(cols, n)
        }
        rowsOut += current.numRows()
        batches += 1
        true
      }

      override def get(): ColumnarBatch = current
      override def close(): Unit = {
        if (posVec != null) posVec.close()
        reader.close()
      }

      override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
        GraftTaskMetric("graftBytesScanned", p.length - prunedBytes),
        GraftTaskMetric("graftFileBytes", p.length),
        GraftTaskMetric("graftIoRequests", ioRequests),
        GraftTaskMetric("graftMetadataLoadNs", metadataNs),
        GraftTaskMetric("graftStripesPruned", stripesPruned),
        GraftTaskMetric("graftStripesMatched", finalStripesMatched),
        GraftTaskMetric("graftStatsEvalNs", statsEvalNs),
        GraftTaskMetric("graftPredicateEvalErrors", predicateErrors),
        GraftTaskMetric("graftPushdownRowsPruned", rowsPruned),
        GraftTaskMetric("graftPushdownRowsMatched", rowsMatched),
        GraftTaskMetric("graftDecodeNs", decodeNs),
        GraftTaskMetric("graftRowsDecoded", rowsOut),
        GraftTaskMetric("graftBatchesProduced", batches),
        GraftTaskMetric("graftFilesRead", 1L))
    }
  }
}
