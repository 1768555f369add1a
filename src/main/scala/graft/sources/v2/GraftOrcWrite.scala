package graft.sources.v2

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.orc.GraftOrcShims
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** DSv2 write path for the graft-orc table — batch (`df.write
  * .format("graft-orc")`) and streaming (`df.writeStream
  * .format("graft-orc")`), extending A14 (the writer the reference stubs,
  * src/file_format.rs:268-274 returns not_impl) to the connector itself.
  *
  * Protocol: every task writes ONE ORC file under
  * `<table>/_staging/<writeId>/` (a per-query UUID subtree, so concurrent
  * writers to one table never touch each other's staged files) with a
  * globally unique name; the driver's commit stamps staged files with
  * strictly increasing mtimes (the streaming source's watermark
  * contract), then publishes each partition suffix as ONE atomic
  * directory rename into `<table>[/<k=v>]/w-<commitId>/` — O(partitions)
  * driver RPCs, not O(files) — and drops this write's staging subtree.
  * Readers never observe a partial WAVE; a crash between wave renames
  * can expose a partial COMMIT — the same no-transaction-log tradeoff as
  * the reference's directory tables, where the listing defines the
  * table. (On S3A-style stores a "rename" is a copy; a real deployment
  * would point staging at the same bucket and rely on the store's
  * server-side rename.) Both caveats are closed by the opt-in manifest
  * mode (`.option("graft.manifest", "true")`, [[GraftOrcManifest]]):
  * commits then become visible only at ONE atomic snapshot rename, and
  * a crash at any point leaves invisible garbage, never a partial
  * commit. Task retries are safe: an
  * aborted or orphaned attempt's staged file is filtered out of its wave
  * before the rename, and unique names mean a retry never collides with
  * the original.
  *
  * Streaming uses the identical machinery per epoch; Spark's checkpoint
  * tracking makes committed epochs never re-execute, so appends are
  * effectively exactly-once under normal recovery (a crash BETWEEN the
  * sink commit and the checkpoint write replays one epoch — at-least-once,
  * like any file sink without a metadata log).
  *
  * Row encoding delegates to Spark's `OrcOutputWriter` through the same
  * `private[sql]` seam as the read side (GraftOrcShims.orcWriteSupport) —
  * the point of the rebuild is the connector protocol, not a slower
  * re-implementation of the ORC serializer.
  */
class GraftOrcWriteBuilder(paths: Seq[String], info: LogicalWriteInfo,
                           partitionCols: Seq[String] = Nil)
    extends WriteBuilder with SupportsTruncate {
  private var truncateOnCommit = false
  override def truncate(): WriteBuilder = { truncateOnCommit = true; this }

  override def build(): Write = {
    require(paths.size == 1,
      s"graft-orc: write requires exactly one path, got ${paths.size}")
    val opts = info.options().asCaseSensitiveMap().asScala.toMap
    // effective partition spec, in precedence order:
    //  1. `graft.partition_spec` option ("days(ts), bucket(16, id), c")
    //     — the only way a PATH write declares transform partitioning;
    //  2. declared columns (partitionBy / the table's transforms, already
    //     canonical);
    //  3. a persisted TRANSFORM spec on the target manifest table —
    //     partitioning is a TABLE property in this model, so a plain
    //     optionless append inherits it (identity-only layouts keep the
    //     classic explicit-partitionBy contract unchanged).
    val optSpec = opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("graft.partition_spec") =>
        GraftOrcPartitionSpec.parseOption(v) }
    val effective: Seq[String] = optSpec match {
      case Some(spec) =>
        require(partitionCols.isEmpty ||
            partitionCols == spec.map(_.canonical),
          "graft-orc: graft.partition_spec conflicts with the declared " +
            "partitioning — drop partitionBy(...) or the option")
        spec.map(_.canonical)
      case None if partitionCols.nonEmpty => partitionCols
      case None =>
        val p = new Path(paths.head)
        val persisted = try {
          val conf = SparkSession.active.sparkContext.hadoopConfiguration
          GraftOrcManifest.readSnapshot(p.getFileSystem(conf), p)
            .flatMap(_.meta).map(_.parts).getOrElse(Nil)
        } catch { case scala.util.control.NonFatal(_) => Nil }
        if (GraftOrcPartitionSpec.hasTransforms(persisted)) persisted
        else Nil
    }
    // ACCEPT_ANY_SCHEMA turns off Spark's output resolution (needed because
    // a first write targets an empty listing whose inferred schema is
    // empty), so appends to a NON-empty table validate here instead — a
    // mismatched append would otherwise poison every later read with a
    // schema-merge failure.
    if (!truncateOnCommit) {
      // write-path schema evolution (Delta mergeSchema / Iceberg
      // merge-schema posture): opt-in via the write option, or as a
      // table default via TBLPROPERTIES('graft.merge_schema'='true')
      val mergeOpt = opts.collectFirst {
        case (k, v) if k.equalsIgnoreCase("graft.merge_schema") =>
          GraftOrcDataSource.parseBooleanOption("graft.merge_schema", v) }
      require(!(mergeOpt.contains(true) && opts.keys.exists(
          _.equalsIgnoreCase("graft.branch"))),
        "graft-orc: graft.merge_schema is not supported on branch " +
          "appends — schema evolution commits to the MAIN lineage, " +
          "which a staged branch write must not mutate; evolve the " +
          "table first, then stage")
      GraftOrcWrite.validateAppend(paths.head, info.schema(), effective,
        mergeSchema = mergeOpt)
    }
    new GraftOrcWrite(paths.head, info.schema(), opts, truncateOnCommit,
      effective)
  }
}

/** `replaceScanned`: row-level-operation mode (UPDATE/MERGE rewrites) —
  * evaluated at COMMIT time, it yields the files the operation's scan
  * planned; the commit then swaps exactly those files for this write's
  * output in one snapshot (instead of appending).
  */
class GraftOrcWrite(path: String, schema: StructType,
                    options: Map[String, String], truncate: Boolean,
                    partitionCols: Seq[String] = Nil,
                    replaceScanned: () => Option[Set[String]] = () => None,
                    rowLevelMode: Boolean = false)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  // ---- writer-requested distribution / ordering ---------------------
  // The 100 TB failure mode this closes: a partitioned INSERT from T
  // tasks writes up to T x P files (every task holds rows of every
  // partition) — a 1000-task job into a 365-partition table floods the
  // table with ~365k small files per batch, and compaction pays to undo
  // it. `graft.distribution_mode=hash` asks Spark to CLUSTER rows by the
  // partition columns before the write (the Iceberg
  // write.distribution-mode=hash posture): each partition value lands in
  // exactly one task, so a batch writes exactly one file per partition.
  // `graft.write_sort=c1,c2` additionally requests a within-task sort —
  // written stripes then carry tight min/max ranges on those columns, so
  // the layout feeds the A3/A9 stripe-statistics pruning with zero extra
  // passes. `graft.advisory_partition_bytes` sizes AQE's shuffle
  // partitions (= output files) toward a target, the knob that turns
  // "shuffle partitions" into "file size" at scale. All default OFF:
  // plans are byte-identical to before unless asked.
  private val distributionMode: String = {
    val m = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("graft.distribution_mode") =>
        v.trim.toLowerCase(java.util.Locale.ROOT)
    }.getOrElse("none")
    require(m == "none" || m == "hash",
      s"graft-orc: invalid value '$m' for option " +
        "'graft.distribution_mode', must be none or hash")
    require(m == "none" || partitionCols.nonEmpty,
      "graft-orc: graft.distribution_mode=hash requires a partitioned " +
        "table (it clusters rows by the partition columns)")
    m
  }
  private val writeSortCols: Seq[String] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("graft.write_sort") =>
      v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
  }.getOrElse(Nil)
  writeSortCols.foreach { c =>
    require(schema.fields.exists(_.name.equalsIgnoreCase(c)),
      s"graft-orc: graft.write_sort column $c not in ${schema.simpleString}")
  }
  private val advisoryBytes: Long = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("graft.advisory_partition_bytes") =>
      val n = try org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(v) catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"Invalid value '$v' for option " +
            "'graft.advisory_partition_bytes', must be a size (e.g. 128m)")
      }
      require(n > 0, "graft.advisory_partition_bytes must be positive")
      n
  }.getOrElse(0L)
  // Open-writer budget per task. An ORC writer holds a file handle AND a
  // stripe buffer, so a write that keeps one writer per seen directory
  // dies on fd exhaustion / executor memory once the layout is wide
  // (days() over years of data x bucket(n)). Above the budget the
  // oldest open writer closes and a reappearing directory simply opens
  // a FRESH staged file there — correctness never depends on the cap,
  // only file counts do. Transform-partitioned writes are auto-sorted
  // by their source columns (requiredOrdering), so directories emit as
  // runs and evictions only close finished ones: one file per
  // task x directory at any layout width.
  private val maxOpenWriters: Int = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("graft.max_open_writers") =>
      val n = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"Invalid value '$v' for option 'graft.max_open_writers', " +
            "must be a positive int")
      }
      require(n > 0, "graft.max_open_writers must be positive")
      n
  }.getOrElse(64)

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.distributions.Distributions
    import org.apache.spark.sql.connector.expressions.Expressions
    if (distributionMode == "hash")
      Distributions.clustered(partitionCols.toArray.map(c =>
        Expressions.identity(c)
          : org.apache.spark.sql.connector.expressions.Expression))
    else Distributions.unspecified()
  }

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    // under hash distribution the partition columns lead the ordering, so
    // each task emits its partitions as contiguous runs (one open file at
    // a time in the splitter, not P)
    val lead = if (distributionMode == "hash") partitionCols else Nil
    // TRANSFORM-partitioned writes always get a within-task sort on the
    // spec's source columns (the Iceberg fanout posture): a days() x
    // bucket(n) layout over years of data has thousands of directories,
    // and unsorted rows would hold one open ORC writer (fd + stripe
    // buffer) per directory per task. Time transforms lead the sort —
    // day runs emit contiguously, so the active writer set is ~the
    // bucket count and maxOpenWriters evictions only ever close
    // FINISHED runs (no reopens, still one file per task x directory).
    // Identity-only layouts keep byte-identical plans as before.
    val auto =
      if (distributionMode != "hash" && specFields.exists(!_.isIdentity)) {
        val rank = Map("day" -> 0, "month" -> 0, "year" -> 0, "hour" -> 0,
          "trunc" -> 1, "identity" -> 2, "bucket" -> 3)
        specFields.sortBy(f => rank.getOrElse(f.transform, 4)).map(_.source)
      } else Nil
    (lead ++ auto ++ writeSortCols)
      .foldLeft(Vector.empty[String])((acc, c) =>
        if (acc.exists(_.equalsIgnoreCase(c))) acc else acc :+ c)
      .toArray.map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING))
  }

  override def advisoryPartitionSizeInBytes(): Long = advisoryBytes

  // Group-based row-level rewrites (UPDATE/MERGE) deliver rows with a
  // leading __row_operation metadata column that `schema` does NOT
  // carry (Spark only strips it for connectors with required metadata
  // attributes) — every schema ordinal shifts by one, and the file
  // writer must always project (never pass the raw row through).
  private val fieldBase = if (rowLevelMode) 1 else 0

  // hive layout: partition columns live in the PATH, not in the data
  // files (the reader re-materializes them from k=v segments) — the file
  // schema is the query schema minus partition columns, and each
  // partition column carries (index in the incoming row, type) for the
  // task-side splitter
  // `partitionCols` are CANONICAL spec forms ([[PartField.canonical]]):
  // bare names = identity hive partitioning (exactly the old behavior),
  // `src:day` / `src:bucket:16` / `src:trunc:4` = hidden transforms
  private val specFields: Seq[PartField] = {
    val fs = GraftOrcPartitionSpec.parseCanonical(partitionCols)
    GraftOrcPartitionSpec.validate(schema, fs)
    // the schema's casing drives the directory key
    fs.map(f => f.copy(source = schema.fields(schema.fields
      .indexWhere(_.name.equalsIgnoreCase(f.source))).name))
  }
  // identity sources move into the path and OUT of the data files;
  // transform sources stay IN the files (hidden partitioning — the
  // derived directory only bounds them)
  private val partSet = specFields.filter(_.isIdentity)
    .map(_.source.toLowerCase).toSet
  private val fileSchema = StructType(
    schema.fields.filterNot(f => partSet(f.name.toLowerCase)))
  private val partSpecs: Array[GraftPartCol] = specFields.map { f =>
    val i = schema.fields.indexWhere(_.name.equalsIgnoreCase(f.source))
    GraftPartCol(f.dirName, i + fieldBase, schema.fields(i).dataType,
      f.transform, f.param)
  }.toArray
  if (specFields.exists(!_.isIdentity)) {
    require(distributionMode == "none",
      "graft-orc: graft.distribution_mode=hash over transform " +
        "partitions is not supported yet — repartition on the source " +
        "columns before the write instead")
    // the spec must be PERSISTED to drive reads (pruning needs to know
    // ts_day derives from ts) — that lives in the manifest table meta
    // (read the option directly: the `wantManifest` val initializes
    // further down this class body)
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val optedIn = options.exists { case (k, v) =>
      k.equalsIgnoreCase("graft.manifest") &&
        GraftOrcDataSource.parseBooleanOption("graft.manifest", v) }
    require(optedIn ||
      GraftOrcManifest.readSnapshot(p.getFileSystem(conf), p).isDefined,
      "graft-orc: transform partitioning (graft.partition_spec) " +
        "requires a manifest table — add .option(\"graft.manifest\", " +
        "\"true\") on the first write")
  }

  // per-query staging subtree: concurrent writers to the same table never
  // see (or delete) each other's staged files
  private val writeId = UUID.randomUUID().toString
  // opt-in manifest commit; once the table HAS a manifest every commit
  // updates it regardless of this option (see publish)
  private val wantManifest: Boolean = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("graft.manifest") =>
      GraftOrcDataSource.parseBooleanOption("graft.manifest", v)
  }.getOrElse(false)
  // snapshots (and the data files only they reference) retained for time
  // travel. An EXPLICIT option (re)sets the table's persisted policy;
  // absent, the commit inherits the policy from the current snapshot's
  // header (so an optionless append or a compact never shrinks history).
  private val manifestRetain: Option[Int] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("graft.manifest.retain") =>
      val n = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"Invalid value '$v' for option 'graft.manifest.retain', must " +
            "be a positive int")
      }
      require(n >= 1,
        s"graft.manifest.retain must be >= 1, got $n")
      n
  }
  /** Blind-upsert mode (`graft.upsert_keys=k1,k2`): every commit —
    * batch append or STREAMING epoch — also publishes one equality
    * sidecar of the batch's key tuples ([[GraftOrcEqDelete]]), so older
    * rows with the same keys read as deleted. The CDC-apply sink shape:
    * per-key newest-wins semantics at a 100 TB target with ZERO target
    * reads per batch. Keys must be data columns of exact-equality types.
    */
  private val upsertKeys: Seq[String] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("graft.upsert_keys") =>
      v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
  }.getOrElse(Nil)
  /** Branch target (`graft.branch=name`): the commit lands on the named
    * branch lineage — invisible to main readers until `fastForward`
    * publishes it (write-audit-publish). Append-only by design: the
    * audit loop stages additions; row-level rewrites publish through
    * main after the audit.
    */
  private val branch: Option[String] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("graft.branch") => v.trim
  }.filter(_.nonEmpty)
  if (branch.isDefined) {
    require(!truncate,
      "graft-orc: graft.branch writes are append-only (an overwrite " +
        "publishes through main after the audit)")
    require(upsertKeys.isEmpty,
      "graft-orc: graft.upsert_keys and graft.branch are mutually " +
        "exclusive (apply the upsert after fast-forward)")
  }
  if (upsertKeys.nonEmpty) {
    GraftOrcEqDelete.validateKeys(fileSchema, upsertKeys)
    require(!truncate,
      "graft-orc: graft.upsert_keys applies to appends; an overwrite " +
        "replaces the table and needs no delete sidecar")
  }

  private val fileFieldIdx: Array[Int] = schema.fields.zipWithIndex
    .filterNot { case (f, _) => partSet(f.name.toLowerCase) }
    .map(_._2 + fieldBase)

  /** Shared factory construction: prepareWrite mutates a fresh job conf
    * (compression codec, output schema string) which must travel to the
    * executors alongside the factory.
    */
  private def taskFactory(): GraftOrcWriterFactory = {
    val spark = SparkSession.active
    // honor the writer option the batch helper exposes; default matches
    // the reference fixtures (alltypes.snappy.orc). All `orc.*` options
    // pass through to the ORC writer conf — the load-bearing one at
    // scale is `orc.bloom.filter.columns`: row-group bloom filters on
    // high-cardinality columns give point lookups (`WHERE id = x`)
    // row-group skipping where min/max ranges are too wide to decide,
    // and stripe-copy compaction preserves them byte-for-byte.
    val writeOptions = Map(
      "compression" -> options.getOrElse("compression", "snappy")) ++
      options.filter(_._1.toLowerCase(java.util.Locale.ROOT)
        .startsWith("orc."))
    val (owf, conf) = GraftOrcShims.orcWriteSupport(spark, writeOptions, fileSchema)
    GraftOrcWriterFactory(path, fileSchema, owf,
      GraftOrcConfShipping.broadcast(spark.sparkContext, conf), partSpecs, fileFieldIdx, writeId,
      alwaysProject = rowLevelMode, maxOpenWriters = maxOpenWriters)
  }

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
      taskFactory()
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      GraftOrcWrite.publish(path, writeId, messages, truncate, wantManifest,
        manifestRetain, replaceScanned(), partitionCols,
        writeSchema = Some(schema), upsertKeys = upsertKeys,
        branch = branch)

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      GraftOrcWrite.discard(path, writeId, messages)
  }

  override def toStreaming: StreamingWrite = {
    // epochs append; truncate (Complete output mode) would need per-epoch
    // overwrite semantics this sink does not promise — reject up front
    // (mirrors FileStreamSink) instead of silently re-appending each epoch
    if (truncate) throw new UnsupportedOperationException(
      "graft-orc: the streaming sink supports Append/Update output modes " +
        "only; Complete mode would re-write the full result every epoch")
    new StreamingWrite {
      override def createStreamingWriterFactory(
          i: PhysicalWriteInfo): StreamingDataWriterFactory = taskFactory()
      override def commit(epochId: Long,
                          messages: Array[WriterCommitMessage]): Unit =
        GraftOrcWrite.publish(path, writeId, messages,
          truncateExisting = false, wantManifest = wantManifest,
          retain = manifestRetain, writerPartitionCols = partitionCols,
          writeSchema = Some(schema),
          upsertKeys = upsertKeys, branch = branch)
      override def abort(epochId: Long,
                         messages: Array[WriterCommitMessage]): Unit =
        GraftOrcWrite.discard(path, writeId, messages)
    }
  }
}

object GraftOrcWrite {
  private[v2] val StagingDir = "_staging"

  /** Partition column types whose hive path text round-trips through
    * read-side partition-type inference without changing type or value.
    */
  private[v2] def supportedPartitionType(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType => true
      case _ => false
    }
  }

  /** Append-side schema validation (ACCEPT_ANY_SCHEMA disables Spark's):
    * an append to a non-empty table must carry the same partition layout
    * and the same data columns (names + types, nullability ignored) as the
    * existing files, or every later read would fail schema merge.
    *
    * With `mergeSchema` (the `graft.merge_schema` write option, or the
    * table property of the same name as the default), a SUPERSET batch
    * auto-evolves the table instead of erroring: each new column becomes
    * an ADD COLUMN and each widenable type difference
    * ([[GraftOrcSchema.canWiden]]) a widening, all applied as ONE
    * metadata DDL commit through the same optimistic loop as explicit
    * DDL — old files read the new columns as null via their field-ID
    * resolution, zero data moves. Missing columns and non-widenable
    * type changes still refuse (the reader cannot synthesize a column a
    * CURRENT-version file physically lacks). Reference-adjacent: the
    * reference's own multi-file `Schema::try_merge`
    * (/root/reference/src/file_format.rs:146-161) generalized from read
    * inference to the write path.
    */
  private[v2] def validateAppend(table: String, incoming: StructType,
                                 partitionCols: Seq[String],
                                 mergeSchema: Option[Boolean] = None): Unit = {
    val spark = SparkSession.active
    val index = try {
      new GraftOrcFileIndex(
        spark.sparkContext.hadoopConfiguration, Seq(table))
    } catch { case _: java.io.FileNotFoundException => return }
    val existing =
      try index.entries
      catch { case _: java.io.FileNotFoundException => return }
    if (existing.isEmpty) return

    val declared = GraftOrcPartitionSpec.parseCanonical(partitionCols)
    index.tableMeta.map(_.parts).filter(p =>
        p.nonEmpty || partitionCols.nonEmpty) match {
      case Some(persisted) =>
        // spec tables: the PERSISTED spec is the contract — the physical
        // union of directory keys can legitimately span evolved specs,
        // and a same-key different-parameter drift (bucket count,
        // truncate width) would silently corrupt pruning
        require(persisted.map(_.toLowerCase) ==
            partitionCols.map(_.toLowerCase),
          s"graft-orc: append partition spec (${declared.map(_.describe)
            .mkString(", ")}) does not match the table's persisted spec " +
            s"(${GraftOrcPartitionSpec.parseCanonical(persisted)
              .map(_.describe).mkString(", ")}) at $table")
      case None =>
        // layout-discovered tables compare by DIRECTORY keys
        val tableParts = index.partitionColumnNames.map(_.toLowerCase)
        val newParts = declared.map(_.dirName.toLowerCase)
        if (tableParts != newParts) throw new IllegalArgumentException(
          s"graft-orc: append partitioned by (${newParts.mkString(", ")}) " +
            s"does not match the table's layout " +
            s"(${tableParts.mkString(", ")}) at " +
            s"$table; use overwrite to change the partition layout")
    }

    // only IDENTITY fields move out of the data files (hidden transform
    // sources stay in them and must be present in the incoming rows)
    val identityCols = declared.filter(_.isIdentity)
      .map(_.source.toLowerCase).toSet
    // the persisted table schema (catalog / post-DDL manifest tables)
    // wins: footer samples of an EVOLVED table carry pre-rename names
    // and would reject a correctly-shaped append. Fallback: data-file
    // schema from a bounded sample of footers (newest files are listed
    // last; take from both ends to catch drift cheaply)
    val fileSchema = index.tableMeta.map(m =>
      StructType(m.schema.fields.filterNot(f =>
        identityCols(f.name.toLowerCase)))).getOrElse {
      val sample =
        (existing.take(4) ++ existing.takeRight(4)).map(_.path).distinct
      graft.sources.OrcTables.mergeFooterSchemas(spark, sample,
        ignoreCorrupt = false)
    }
    val wantByName = fileSchema.fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    val incomingData =
      incoming.fields.filterNot(f => identityCols(f.name.toLowerCase))
    val gotNames = incomingData.map(_.name.toLowerCase).toSet
    val missing = wantByName.keySet -- gotNames
    val extra = gotNames -- wantByName.keySet
    val mergeOn = mergeSchema.getOrElse(index.tableMeta.exists(
      _.props.get("graft.merge_schema").exists(_.equalsIgnoreCase("true"))))
    if (missing.nonEmpty || (extra.nonEmpty && !mergeOn))
      throw new IllegalArgumentException(
        s"graft-orc: append schema does not match the table at $table — " +
          s"missing columns: [${missing.toSeq.sorted.mkString(", ")}], " +
          s"unexpected columns: [${extra.toSeq.sorted.mkString(", ")}]" +
          (if (extra.nonEmpty)
            "; set .option(\"graft.merge_schema\", \"true\") to add new " +
              "columns as a metadata commit"
           else ""))
    val widens = incomingData.filter { f =>
      wantByName.get(f.name.toLowerCase).exists(w =>
        w.catalogString != f.dataType.catalogString &&
          mergeOn && GraftOrcSchema.canWiden(w, f.dataType))
    }
    incomingData.foreach { f =>
      val want = wantByName.get(f.name.toLowerCase)
      if (want.exists(w => w.catalogString != f.dataType.catalogString) &&
          !widens.exists(_.name.equalsIgnoreCase(f.name)))
        throw new IllegalArgumentException(
          s"graft-orc: append column ${f.name} has type " +
            s"${f.dataType.catalogString} but the table at $table has " +
            s"${want.get.catalogString}")
    }
    if (mergeOn && (extra.nonEmpty || widens.nonEmpty)) {
      // ONE DDL commit carrying every add + widening, through the same
      // optimistic loop explicit DDL uses (bootstraps meta-less
      // manifest tables; refuses directory tables with its typed
      // error). The change function must be IDEMPOTENT against a rival
      // merge-append that raced the same evolution in (the alter retry
      // re-applies it on the winner's state): an add whose column
      // already exists at the same type, or a widening the rival
      // already applied, is skipped — a same-name different-type
      // collision still fails typed via addColumn.
      val adds = incoming.fields.filter(f => extra(f.name.toLowerCase))
      GraftOrcSchema.alter(
          spark.sparkContext.hadoopConfiguration, table) { meta =>
        val added = adds.foldLeft(meta)((m, f) =>
          if (m.schema.fields.exists(x =>
              x.name.equalsIgnoreCase(f.name) &&
                x.dataType.catalogString == f.dataType.catalogString)) m
          else GraftOrcSchema.addColumn(m, f.name, f.dataType))
        widens.foldLeft(added)((m, f) =>
          if (m.schema.fields.exists(x =>
              x.name.equalsIgnoreCase(f.name) &&
                x.dataType.catalogString == f.dataType.catalogString)) m
          else GraftOrcSchema.widenColumn(m, f.name, f.dataType))
      }
    }
  }

  // Published files get driver-assigned, strictly increasing mtimes: a
  // rename(2) preserves the source's mtime, so without this a streaming
  // reader's (mtime, path) watermark — advanced from a listing taken
  // between two sequential renames of one commit — could pass a
  // not-yet-renamed file carrying an older creation mtime and skip it
  // forever. Strict monotonicity (not just "now") also covers two files of
  // one commit landing in the same millisecond, where the path tiebreak
  // can order the later rename below an already-consumed watermark.
  private val lastPublishStamp = new java.util.concurrent.atomic.AtomicLong(0L)
  private[v2] def nextPublishStamp(): Long =
    lastPublishStamp.updateAndGet(prev =>
      math.max(prev + 1, System.currentTimeMillis()))

  /** The in-JVM counter alone is per-driver: it resets on restart, and a
    * large commit pushes stamps ahead of the wall clock (~1ms/file), so a
    * restarted (or second) driver could otherwise publish files with
    * mtimes at or below a streaming reader's already-consumed
    * (mtime, path) watermark — skipped forever. Seeding from the max
    * mtime already published in the target table (one listing per commit,
    * `_`-prefixed staging skipped by the index) restores cross-JVM
    * monotonicity; concurrent drivers committing to ONE table in the same
    * instant remain out of scope (a metadata log would be needed).
    * Seeded once per (JVM, table) — within a JVM the counter itself is
    * monotonic, and re-listing a large sink table every streaming epoch
    * would be O(files) of pure overhead.
    */
  private val seededTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[v2] def seedPublishStamp(
      conf: org.apache.hadoop.conf.Configuration, table: String): Unit =
    // synchronized so a concurrent first committer cannot stamp before
    // the seed lands; the table is marked seeded only AFTER a successful
    // listing — a transient listing failure must fail THIS commit loudly,
    // not silently disable seeding for the JVM's lifetime
    seededTables.synchronized {
      if (seededTables.contains(table)) return
      val maxPublished =
        try new GraftOrcFileIndex(conf, Seq(table))
          .entries.foldLeft(0L)((m, e) => math.max(m, e.mtime))
        catch {
          // genuinely nothing published yet
          case _: java.io.FileNotFoundException => 0L
        }
      lastPublishStamp.updateAndGet(prev => math.max(prev, maxPublished))
      seededTables.add(table)
    }

  /** Raise the stamp counter to at least `observedMax` — for callers that
    * already hold a FRESH listing of the table (compaction). The memoized
    * per-(JVM, table) seed is not enough there: files published by a
    * DIFFERENT JVM after this JVM's seed can carry higher mtimes than the
    * counter, and compacted files stamped below the inputs they replace
    * would break the (mtime, path) total order compaction itself requires.
    */
  private[v2] def bumpPublishStamp(observedMax: Long): Unit = {
    lastPublishStamp.updateAndGet(prev => math.max(prev, observedMax))
    ()
  }

  /** Re-stamp already-published (but still unmanifested => invisible)
    * files with fresh publish stamps — the commit-retry path when a
    * rival's outputs landed at or above this commit's stamps (see
    * commitSwap's `entriesBelow` validation). Preserves the callers'
    * intra-commit order: stamp sidecars first, data after.
    */
  private[v2] def restampEntries(fs: org.apache.hadoop.fs.FileSystem,
                                 entries: Seq[OrcFileEntry])
      : Seq[OrcFileEntry] =
    entries.map { e =>
      val s = nextPublishStamp()
      fs.setTimes(new org.apache.hadoop.fs.Path(e.path), s, -1)
      e.copy(mtime = s)
    }

  /** Hive-style path escaping for partition values — the inverse of
    * [[GraftOrcFileIndex.unescapePathName]] (%XX for separators, glob
    * metacharacters and control chars).
    */
  private[v2] def escapePathName(s: String): String = {
    val special = "\"#%'*/:=?\\{[]^"
    val sb = new StringBuilder
    s.foreach { c =>
      if (c < ' ' || c == '\u007F' || special.indexOf(c) >= 0)
        sb.append('%').append(f"${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  /** Driver-side commit: move every staged file into the table directory
    * (keeping any k=v subpath it was staged under), truncating the
    * previous contents first when overwriting. Truncation removes
    * top-level data files AND k=v partition directories — a full static
    * overwrite — but leaves other subdirectories (checkpoints, metadata a
    * user placed next to the data) alone.
    */
  /** Wave commit: instead of renaming files one by one (O(files) serial
    * driver RPCs — minutes at a 100k-file partitioned commit), each
    * partition suffix publishes as ONE atomic directory rename of its
    * staged subtree into `<table>[/<suffix>]/w-<commitId>/`. The
    * per-file work that remains — orphan filtering and mtime stamping —
    * runs bounded-parallel while the files are still under `_staging/`
    * (invisible: listings skip `_`-prefixed directories), so readers only
    * ever observe whole waves. Wave renames run sequentially in stamp
    * order, keeping the streaming source's (mtime, path) watermark
    * contract: a listing between two renames sees a stamp-prefix of the
    * commit, never a later-stamped file before an earlier one.
    */
  private[v2] def publish(table: String, writeId: String,
                      messages: Array[WriterCommitMessage],
                      truncateExisting: Boolean,
                      wantManifest: Boolean = false,
                      retain: Option[Int] = None,
                      replacePaths: Option[Set[String]] = None,
                      writerPartitionCols: Seq[String] = Nil,
                      deltaDeletes: Seq[String] = Nil,
                      deltaRefs: Option[Set[String]] = None,
                      writeSchema: Option[StructType] = None,
                      upsertKeys: Seq[String] = Nil,
                      branch: Option[String] = None,
                      consolidateAfter: Option[Int] = None): Unit = {
    val dir = new Path(table)
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val qdir = fs.makeQualified(dir)
    seedPublishStamp(conf, table)
    // branch commits extend an EXISTING branch lineage of a manifest
    // table. Appends AND row-level rewrites (replacePaths / deltaRefs —
    // UPDATE/MERGE/DELETE against a branch handle) are allowed: the
    // operation's scan read the BRANCH state and the swap below commits
    // against that same lineage, so WAP can stage destructive changes
    // and quality-gate them before fast_forward. Truncate stays refused
    // (an overwrite publishes through main after the audit), as does
    // blind upsert (builder guard).
    branch.foreach { b =>
      require(GraftOrcManifest.exists(fs, qdir),
        s"graft-orc: graft.branch requires a manifest table, but $table " +
          s"has no ${GraftOrcManifest.Dir}")
      require(GraftOrcManifest.branchExists(fs, qdir, b),
        s"graft-orc: no branch '$b' on $table — create it first " +
          "(GraftOrcManifest.createBranch or CALL <cat>.system" +
          ".create_branch)")
      require(!truncateExisting,
        "graft-orc: branch commits cannot truncate — an overwrite " +
          "publishes through main after the audit")
    }
    // Manifest state BEFORE any mutation. Once the table has a manifest,
    // EVERY commit updates it — manifest readers see nothing else, so an
    // optionless append to a manifest table must not strand its files.
    // The option only matters for establishing one (bootstrapping any
    // pre-manifest files through one last BFS listing).
    val manifestBefore = GraftOrcManifest.readSnapshot(fs, qdir, branch)
    val manifestActive = manifestBefore.isDefined || wantManifest
    // row-level rewrite (UPDATE/MERGE): the commit REPLACES the files
    // the operation's scan read — manifest tables only, because the
    // replace must be one atomic metadata operation
    require((replacePaths.isEmpty && deltaRefs.isEmpty) || manifestActive,
      s"graft-orc: UPDATE/MERGE requires a manifest table, but $table " +
        s"has no ${GraftOrcManifest.Dir} (write with " +
        ".option(\"graft.manifest\", \"true\") to establish one)")
    val priorEntries: Seq[OrcFileEntry] =
      if (truncateExisting || !manifestActive) Nil
      else manifestBefore.map(_.entries).getOrElse(
        new GraftOrcFileIndex(conf, Seq(table)).entries)
    // persisted table metadata (schema evolution, [[GraftOrcSchema]]):
    // carried forward on append/replace/delta; REPLACED on a truncate
    // whose schema differs (overwrite-with-new-schema — old retained
    // snapshots keep reading through their own persisted meta). It is
    // NEVER established implicitly here: only a DDL
    // ([[GraftOrcSchema.alter]] bootstrap) or the catalog's createTable
    // persists a schema, so plain manifest tables keep inferring exactly
    // as before (same column order, zero behavior change).
    def sameCols(a: StructType, b: StructType): Boolean =
      a.fields.length == b.fields.length &&
        a.fields.zip(b.fields).forall { case (x, y) =>
          x.name.equalsIgnoreCase(y.name) && x.dataType == y.dataType }
    val metaBefore = manifestBefore.flatMap(_.meta)
    var chosenMeta: Option[GraftOrcManifest.TableMeta] =
      (metaBefore, writeSchema) match {
        case (Some(m), Some(ws)) if truncateExisting &&
            (!sameCols(ws, m.schema) ||
              m.parts.map(_.toLowerCase) !=
                writerPartitionCols.map(_.toLowerCase)) =>
          Some(GraftOrcManifest.TableMeta(m.schemaV + 1,
            GraftOrcSchema.assignIds(ws), writerPartitionCols, m.props))
        case (None, Some(ws)) if (wantManifest || manifestActive) &&
            GraftOrcPartitionSpec.hasTransforms(writerPartitionCols) =>
          // hidden partitioning needs its spec persisted (the scan's
          // transform pruning reads it): establish the table meta on the
          // FIRST transform-spec write. Identity-only tables keep the
          // meta-less footer inference exactly as before.
          Some(GraftOrcManifest.TableMeta(1L,
            GraftOrcSchema.assignIds(ws), writerPartitionCols, Map.empty))
        case (m, _) => m
      }
    // every file of this commit was written under the CURRENT schema
    val stampV: Long = chosenMeta.map(_.schemaV).getOrElse(0L)
    // what a manifest truncate deletes LAST: the previous snapshot's
    // files, or — when this truncate is establishing the manifest — the
    // pre-manifest files a BFS still sees (listed now, before any rename)
    val truncateVictims: Seq[OrcFileEntry] =
      if (!truncateExisting || !manifestActive) Nil
      else manifestBefore.map(s => s.entries ++ s.deletes).getOrElse(
        new GraftOrcFileIndex(conf, Seq(table)).entries)
    if (truncateExisting) {
      // GC staging subtrees orphaned by crashed drivers (dropStaging only
      // removes a write's OWN subtree, so a driver that died before
      // commit/abort leaks its staging forever — invisible to readers but
      // unbounded on disk). A truncate is replacing the table's contents,
      // so stale sibling writeIds are safe to sweep; the age threshold
      // spares a concurrent writer mid-stage.
      sweepOrphanedStaging(fs, dir, exceptWriteId = writeId,
        olderThanMs = OrphanStagingMaxAgeMs)
      // physical truncation happens HERE only on directory tables. A
      // manifest truncate instead flips the snapshot first and deletes
      // the old files LAST (see below): a crash then leaves invisible
      // garbage, never a snapshot pointing at deleted files.
      if (!manifestActive)
        fs.listStatus(dir).filter { st =>
          (st.isFile && st.getPath.getName.endsWith(".orc")) ||
            (st.isDirectory && (st.getPath.getName.contains("=") ||
              st.getPath.getName.startsWith("w-")))
        }.foreach(st => fs.delete(st.getPath, st.isDirectory))
    }
    // delta commits (merge-on-read UPDATE/MERGE/DELETE): move each staged
    // position sidecar into `_graft_deletes/` (stamped, invisible to BFS
    // listings) BEFORE wave processing — staged under `__deletes/`, they
    // must not ride a wave rename or be swept as wave orphans. Visible to
    // readers only once the snapshot below references them.
    val addedDeletes: Seq[OrcFileEntry] = deltaDeletes.map { s =>
      val src = new Path(s)
      val delDir = new Path(qdir, GraftOrcMor.DeletesDir)
      fs.mkdirs(delDir)
      val len = fs.getFileStatus(src).getLen
      val stamp = nextPublishStamp()
      fs.setTimes(src, stamp, -1)
      val dest = new Path(delDir, s"dv-${UUID.randomUUID()}.bin")
      if (!fs.rename(src, dest))
        throw new java.io.IOException(
          s"graft-orc delta: failed to publish delete sidecar $src")
      OrcFileEntry(fs.makeQualified(dest).toString, len, Map.empty, stamp)
    }
    // lastIndexOf: a table path that itself contains "/_staging/" must not
    // shift the split point
    val stagingMarker = "/" + StagingDir + "/" + writeId + "/"
    val staged: Seq[String] = messages.toSeq.flatMap {
      case GraftOrcCommitMessage(s, _) => s
      case other =>
        throw new IllegalStateException(s"graft-orc: foreign message $other")
    }
    // blind upsert (graft.upsert_keys): ONE equality sidecar of this
    // commit's key tuples rides the same snapshot as its data files —
    // stamped FIRST, so the batch's own rows order ABOVE the sidecar
    // and survive their own delete (the Iceberg sequence-number rule)
    val upsertSidecars: Seq[OrcFileEntry] =
      if (upsertKeys.isEmpty || staged.isEmpty) Nil
      else {
        require(manifestActive,
          s"graft-orc: graft.upsert_keys requires a manifest table, " +
            s"but $table has no ${GraftOrcManifest.Dir} (add " +
            ".option(\"graft.manifest\", \"true\") to establish one)")
        val keysDf = SparkSession.active.read.orc(staged: _*)
          .select(upsertKeys.map(c =>
            org.apache.spark.sql.functions.col(s"`$c`")): _*)
          .distinct()
        Seq(GraftOrcEqDelete.publishSidecar(SparkSession.active, fs,
          qdir, keysDf, nextPublishStamp()))
      }
    // footer-stat sidecars by staged file name (names are unique per
    // write: part-<epoch>-<partition>-<uuid>)
    val sidecars: Map[String, String] = messages.toSeq.flatMap {
      case GraftOrcCommitMessage(_, st) => st
      case _ => Nil
    }.toMap
    val newEntries = Seq.newBuilder[OrcFileEntry]
    if (staged.nonEmpty) {
      val stagingSub = new Path(new Path(dir, StagingDir), writeId)
      // group staged files by partition suffix ("" when unpartitioned)
      val bySuffix: Seq[(String, Seq[Path])] = staged.map { s =>
        val at = s.lastIndexOf(stagingMarker)
        require(at >= 0, s"graft-orc: staged path $s is outside " +
          s"this write's staging subtree $stagingMarker")
        val rel = s.substring(at + stagingMarker.length)
        val cut = rel.lastIndexOf('/')
        (if (cut < 0) "" else rel.substring(0, cut)) -> new Path(s)
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
      // wave source dirs may carry files NOT in the commit messages (a
      // task attempt that died without abort); they must not ride along
      // on the directory rename — the old per-file protocol's
      // orphans-never-published guarantee, kept wave-wise. The same
      // listing yields staged lengths for the manifest (by unique file
      // name), so the manifest costs no extra metadata RPCs.
      val stagedLen: Map[String, Long] =
        GraftOrcFileIndex.parallelMap(bySuffix) { case (suffix, files) =>
          val src = if (suffix.isEmpty) stagingSub else new Path(stagingSub, suffix)
          val keep = files.map(_.getName).toSet
          val (keepSt, orphans) =
            fs.listStatus(src).partition(st => keep(st.getPath.getName))
          orphans.foreach(st => fs.delete(st.getPath, true))
          keepSt.map(st => st.getPath.getName -> st.getLen).toSeq
        }.flatten.toMap
      // stamp files while still staged (invisible), strictly increasing
      // with suffix groups contiguous in wave-rename order
      val stamped = bySuffix.flatMap(_._2.sortBy(_.getName))
        .map(p => p -> nextPublishStamp())
      GraftOrcFileIndex.parallelMap(stamped) { case (p, t) =>
        fs.setTimes(p, t, -1)
      }
      val stampOf: Map[String, Long] =
        stamped.map { case (p, t) => p.getName -> t }.toMap
      // one atomic rename per partition suffix, sequential in stamp order
      val commitId = UUID.randomUUID().toString
      bySuffix.foreach { case (suffix, files) =>
        val src = if (suffix.isEmpty) stagingSub else new Path(stagingSub, suffix)
        val destParent = if (suffix.isEmpty) dir else new Path(dir, suffix)
        fs.mkdirs(destParent)
        val dest = new Path(destParent, s"w-$commitId")
        if (!fs.rename(src, dest))
          throw new java.io.IOException(
            s"graft-orc: commit failed to publish wave $src into $dest")
        files.foreach { p =>
          val rel = (if (suffix.isEmpty) "" else suffix + "/") +
            s"w-$commitId/${p.getName}"
          // a committed file absent from the staging listing is an
          // inconsistency — re-stat the published copy rather than
          // record a permanently wrong length 0 in the manifest (skews
          // split planning + sizeInBytes); a missing file fails the
          // commit here, which is the correct loud outcome
          val len = stagedLen.getOrElse(p.getName,
            fs.getFileStatus(new Path(dest, p.getName)).getLen)
          newEntries += GraftOrcManifest.entryOf(qdir, rel,
            len, stampOf(p.getName), sidecars.get(p.getName))
            .copy(schemaV = stampV)
        }
      }
    }
    if (manifestActive) {
      // THE commit point for manifest tables: one atomic snapshot rename.
      // An APPEND that loses a same-seq race RETRIES on top of the winner
      // (optimistic concurrency, the Iceberg commit loop): its waves are
      // already published but invisible to manifest readers until a
      // snapshot references them, so the retry is metadata-only — re-read
      // the winner's state and re-commit the union at the next seq.
      // Concurrent appends to one table thereby serialize instead of
      // failing. A TRUNCATE keeps the loud failure: silently re-running
      // it would physically delete rows a concurrent commit just
      // published, which needs a human (or at least an explicit retry).
      var added = newEntries.result()
      var curUpsertSides = upsertSidecars
      val replaced = replacePaths.getOrElse(Set.empty)
      // positions against a file a CONCURRENT compaction/rewrite already
      // replaced would be inert — the delete would silently vanish.
      // Fail loudly instead; the caller re-runs the operation against
      // the new state. (Re-checked after every same-seq race retry.)
      def validateDeltaRefs(entries: Seq[OrcFileEntry]): Unit =
        deltaRefs.foreach { refs =>
          val live = entries.map(e =>
            GraftOrcManifest.relativize(qdir, e.path)).toSet
          val gone = refs.diff(live)
          if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
            s"graft-orc delta: commit deletes rows of files no longer in " +
              s"the table (concurrently compacted or rewritten): " +
              s"${gone.take(3).mkString(", ")} — re-run the operation")
        }
      validateDeltaRefs(priorEntries)
      // a row-level rewrite of a hive-DISCOVERED layout would write its
      // rows without k=v placement (partition values would read back
      // null) — refuse unless the table declared its partitioning so
      // this write splits by it
      if ((replaced.nonEmpty || (deltaRefs.isDefined && added.nonEmpty)) &&
          writerPartitionCols.isEmpty) {
        val part = priorEntries.find(e =>
          (replaced(e.path) || deltaRefs.isDefined) &&
            e.partitionValues.nonEmpty)
        require(part.isEmpty,
          "graft-orc: UPDATE/MERGE on a hive-partitioned table requires " +
            "the partitioning to be DECLARED (CREATE TABLE ... " +
            "PARTITIONED BY ...) so the rewrite keeps the layout; " +
            s"discovered-only partitions on ${part.map(_.path).orNull}")
      }
      def minusReplaced(es: Seq[OrcFileEntry]) =
        if (replaced.isEmpty) es else es.filterNot(e => replaced(e.path))
      var base = minusReplaced(priorEntries)
      // live position-delete sidecars (merge-on-read DELETE) carry
      // forward through EVERY non-truncate commit — an append or a
      // row-level rewrite that dropped them from the snapshot would
      // silently RESURRECT the deleted rows of every untouched file.
      // (Positions referencing files this commit replaces are inert, the
      // same contract as commitSwap; the rewrite's scan already
      // subtracted them from the rows it re-wrote.) A truncate replaces
      // the table's contents, so its sidecars retire with its data
      // files (both are in truncateVictims).
      var baseDeletes: Seq[OrcFileEntry] =
        if (truncateExisting) Nil
        else manifestBefore.map(_.deletes).getOrElse(Nil)
      var next = manifestBefore.map(_.seq + 1).getOrElse(1L)
      // branch commits prefer the branch's pinned retention depth
      // (createBranch retain) over the inherited header policy
      val branchRetain = branch.flatMap(b =>
        GraftOrcManifest.branchRetain(fs, qdir, b))
      var chosenRetain = retain.orElse(branchRetain)
        .orElse(manifestBefore.flatMap(_.retain))
        .getOrElse(GraftOrcManifest.RetainSnapshots)
      var attempt = 0
      var committed = false
      // segment carry: base entries pass through untouched from the
      // prior snapshot (minusReplaced only FILTERS), so its segments
      // carry by identity — the writer's append is O(adds + segments)
      var carrySnap = manifestBefore
      while (!committed) {
        try {
          GraftOrcManifest.writeSnapshot(fs, qdir, next, base ++ added,
            chosenRetain,
            deletes = baseDeletes ++ addedDeletes ++ curUpsertSides,
            op = if (truncateExisting) "truncate"
                 else if (replacePaths.isDefined) "replace"
                 else if (deltaRefs.isDefined) "delta"
                 else if (upsertSidecars.nonEmpty) "upsert"
                 else "append",
            meta = chosenMeta, branch = branch, carryFrom = carrySnap)
          committed = true
        } catch {
          case e: java.util.ConcurrentModificationException
              if !truncateExisting && attempt < ManifestCommitRetries =>
            attempt += 1
            val winner = GraftOrcManifest.readSnapshot(fs, qdir, branch)
              .getOrElse(GraftOrcManifest.Snapshot(0L, Nil))
            // a row-level rewrite is only valid against the state its
            // scan read: if the winner no longer references some file
            // this commit replaces (concurrent compact/delete), retrying
            // would resurrect or double rows — rethrow
            if (replaced.nonEmpty &&
                !replaced.subsetOf(winner.entries.map(_.path).toSet))
              throw e
            validateDeltaRefs(winner.entries)
            // blind-upsert commits: a rival's outputs stamped at/above
            // our equality sidecar (compacted byte copies of the
            // upserted keys' old versions) would ESCAPE the delete —
            // re-stamp the sidecar, then the data files, above the
            // winner's state (all still unmanifested => invisible)
            if (curUpsertSides.nonEmpty) {
              val minSide = curUpsertSides.map(_.mtime).min
              if (minusReplaced(winner.entries).exists(_.mtime >= minSide)) {
                bumpPublishStamp((winner.entries ++ winner.deletes)
                  .map(_.mtime).foldLeft(0L)(math.max))
                curUpsertSides = restampEntries(fs, curUpsertSides)
                added = restampEntries(fs, added)
              }
            }
            base = minusReplaced(winner.entries)
            baseDeletes = winner.deletes
            carrySnap = Some(winner)
            next = winner.seq + 1
            // an explicit retain option still wins; otherwise inherit
            // the policy the WINNER persisted (it is the newest state)
            chosenRetain = retain.orElse(branchRetain)
              .orElse(winner.retain)
              .getOrElse(GraftOrcManifest.RetainSnapshots)
            // a concurrent DDL's meta is newer than ours — inherit it
            // (this commit's files keep their own stamp: they WERE
            // written under the older schema version, which is exactly
            // what per-file resolution needs)
            chosenMeta = winner.meta.orElse(chosenMeta)
        }
      }
      if (truncateExisting)
        GraftOrcManifest.deleteUnreferenced(fs, qdir, truncateVictims)
      if (replaced.nonEmpty)
        GraftOrcManifest.deleteUnreferenced(fs, qdir,
          priorEntries.filter(e => replaced(e.path)))
      // graft.consolidate_after: a delta commit (MoR UPDATE/MERGE/
      // untranslatable DELETE) that added sidecars keeps the live count
      // bounded without a scheduler
      if (addedDeletes.nonEmpty)
        GraftOrcMor.maybeAutoConsolidate(SparkSession.active, fs, qdir,
          branch, explicit = consolidateAfter)
      // graft.compact_after: a commit that added data files keeps the
      // small-file count bounded the same way (zorder via
      // graft.compact_zorder keeps a keyed ingest table stat-prunable)
      if (added.nonEmpty)
        GraftOrcCompact.maybeAutoCompact(SparkSession.active, fs, qdir,
          branch)
    }
    dropStaging(fs, dir, writeId)
  }

  /** Same-seq race retries before an append commit gives up — each retry
    * re-reads the winner and re-commits at the next seq, so this bounds
    * pathological contention, not correctness.
    */
  private[graft] val ManifestCommitRetries = 5

  private[v2] def discard(table: String, writeId: String,
                      messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(table)
    val fs = dir.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    // this write's staging subtree only; a concurrent writer's staged
    // files live under its own writeId and stay untouched
    dropStaging(fs, dir, writeId)
  }

  /** Staging subtrees older than this are presumed orphaned (their driver
    * died before commit/abort) and are swept by truncate commits. One hour
    * comfortably exceeds any staging-to-commit window while sparing a
    * concurrent writer actively staging into the same table.
    */
  private[graft] val OrphanStagingMaxAgeMs: Long = 60L * 60 * 1000

  /** Delete sibling `_staging/<writeId>` subtrees whose NEWEST entry is
    * older than the threshold. Called on truncate/overwrite commits only —
    * an append must not guess about concurrent writers' progress. Age is
    * judged from the newest mtime anywhere in the subtree, not the
    * subtree root's: a long-running partitioned write creates its suffix
    * directories early and then streams files for potentially hours, so
    * the root mtime alone would misread a LIVE writer as an orphan (and
    * object stores report no directory mtime at all). The walk costs no
    * more than the delete it gates.
    */
  private[v2] def sweepOrphanedStaging(fs: org.apache.hadoop.fs.FileSystem,
                                       dir: Path, exceptWriteId: String,
                                       olderThanMs: Long): Unit = {
    val root = new Path(dir, StagingDir)
    val cutoff = System.currentTimeMillis() - olderThanMs
    def newestIn(p: Path): Long =
      try {
        fs.listStatus(p).foldLeft(fs.getFileStatus(p).getModificationTime) {
          (m, st) =>
            math.max(m, if (st.isDirectory) newestIn(st.getPath)
                        else st.getModificationTime)
        }
      } catch { case _: java.io.IOException => Long.MaxValue } // can't tell: keep
    try {
      fs.listStatus(root).foreach { st =>
        if (st.isDirectory && st.getPath.getName != exceptWriteId &&
          newestIn(st.getPath) < cutoff) fs.delete(st.getPath, true)
      }
    } catch {
      case _: java.io.FileNotFoundException => // no staging root: nothing staged
      case _: java.io.IOException => // best-effort GC; never fail the commit
    }
  }

  /** Remove this write's staging subtree, then the shared `_staging` root
    * if (and only if) no other writer is still staging under it.
    */
  private def dropStaging(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                          writeId: String): Unit = {
    // this write's subtree ONLY. The empty `_staging` root is left in
    // place deliberately: deleting it when it "looks empty" races a
    // concurrent writer's staged-dir mkdirs (exists(_staging) check ->
    // root deleted -> child mkdir fails => "Mkdirs failed to create"),
    // caught by the concurrent-committer stress. One empty `_`-prefixed
    // dir per table is invisible to every listing and costs nothing.
    fs.delete(new Path(dir, s"$StagingDir/$writeId"), true)
  }
}

/** One staged file per non-empty task (empty tasks stage nothing).
  * `stats` maps staged file NAME -> footer-statistics sidecar
  * ([[OrcStatsEval.sidecarOf]]), read executor-side from the just-written
  * file (a local-disk footer hit at write time) so manifest entries carry
  * plan-time statistics for free.
  */
case class GraftOrcCommitMessage(staged: Seq[String],
                                 stats: Map[String, String] = Map.empty)
    extends WriterCommitMessage

/** One partition field of the incoming rows: `name` is the DIRECTORY
  * key (`ts_day` for a transform, the column name for identity),
  * `index`/`dataType` locate the SOURCE column in the row, and
  * `transform`/`param` are the [[PartField]] transform ("identity" for
  * classic hive partitioning).
  */
case class GraftPartCol(name: String, index: Int,
                        dataType: org.apache.spark.sql.types.DataType,
                        transform: String = "identity", param: Int = 0)

/** Serializable per-task writer factory for both batch and streaming.
  * `schema` is the FILE schema (partition columns excluded);
  * `fileFieldIdx` maps file fields to ordinals in the incoming row;
  * `conf` is the prepared write conf as a shared, read-only broadcast
  * ([[GraftOrcConfShipping]]).
  */
case class GraftOrcWriterFactory(table: String, schema: StructType,
                                 owf: OutputWriterFactory,
                                 conf: Broadcast[SerializableConfiguration],
                                 partSpecs: Array[GraftPartCol] = Array.empty,
                                 fileFieldIdx: Array[Int] = Array.empty,
                                 writeId: String = "adhoc",
                                 alwaysProject: Boolean = false,
                                 maxOpenWriters: Int = 64)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftOrcDataWriter(this, partitionId, taskId, epochId = 0L)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftOrcDataWriter(this, partitionId, taskId, epochId)
}

class GraftOrcDataWriter(f: GraftOrcWriterFactory, partitionId: Int,
                         taskId: Long, epochId: Long)
    extends DataWriter[InternalRow] {

  // the context copies the shared shipped conf into its own JobConf
  private val context = new TaskAttemptContextImpl(f.conf.value.value,
    new TaskAttemptID(new TaskID(
      new org.apache.hadoop.mapreduce.JobID("graft-orc", epochId.toInt),
      TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt))

  // one open writer per partition-directory suffix ("" when unpartitioned);
  // lazily opened on the first row so empty partitions publish no file.
  // Capped at maxOpenWriters: each writer holds a file handle + stripe
  // buffer, so an unsorted write into a high-cardinality layout would
  // otherwise exhaust fds/memory — the oldest-opened writer closes
  // (its staged file is simply done) and a reappearing suffix opens a
  // fresh file in the same directory; clustered input never evicts
  private val writers =
    collection.mutable.LinkedHashMap.empty[String, (OutputWriter, Path)]
  // staged files already closed by eviction (committed alongside)
  private val finished = collection.mutable.ArrayBuffer.empty[Path]

  private def writerFor(suffix: String): OutputWriter =
    writers.getOrElse(suffix, {
      if (writers.size >= f.maxOpenWriters) {
        val (oldSuffix, (w, p)) = writers.head
        w.close()
        finished += p
        writers.remove(oldSuffix)
      }
      val name = s"part-$epochId-$partitionId-${UUID.randomUUID()}" +
        f.owf.getFileExtension(context)
      val base = new Path(new Path(f.table, GraftOrcWrite.StagingDir), f.writeId)
      val stagedDir = if (suffix.isEmpty) base else new Path(base, suffix)
      val staged = new Path(stagedDir, name)
      val fs = staged.getFileSystem(f.conf.value.value)
      fs.mkdirs(staged.getParent)
      val tuple = (f.owf.newInstance(staged.toString, f.schema, context),
        staged)
      writers.update(suffix, tuple)
      tuple
    })._1

  /** Hive path value for one partition column (reader parity:
    * GraftOrcFileIndex unescapes and maps the null marker back).
    */
  private def pathValue(row: InternalRow, c: GraftPartCol): String = {
    import org.apache.spark.sql.types._
    if (row.isNullAt(c.index)) return GraftOrcFileIndex.HiveDefaultPartition
    // hidden-partition transforms derive the directory value from the
    // source column ([[GraftOrcPartitionSpec.dirValue]]); the source
    // itself stays IN the data file (unlike identity, which moves it
    // into the path)
    if (c.transform != "identity")
      return GraftOrcWrite.escapePathName(GraftOrcPartitionSpec.dirValue(
        PartField(c.name, c.transform, c.param),
        row.get(c.index, c.dataType), c.dataType))
    val raw = c.dataType match {
      case DateType =>
        java.time.LocalDate.ofEpochDay(row.getInt(c.index).toLong).toString
      case TimestampType =>
        // micros since epoch → "uuuu-MM-dd HH:mm:ss[.SSSSSS]" in UTC (the
        // zone the reader's partition-value cast uses); raw micros would
        // read back as bigint, silently changing type AND value
        val micros = row.getLong(c.index)
        val secs = Math.floorDiv(micros, 1000000L)
        val frac = Math.floorMod(micros, 1000000L)
        val ldt = java.time.LocalDateTime.ofEpochSecond(
          secs, frac.toInt * 1000, java.time.ZoneOffset.UTC)
        val base = ldt.format(java.time.format.DateTimeFormatter
          .ofPattern("uuuu-MM-dd HH:mm:ss"))
        if (frac == 0L) base else f"$base.$frac%06d"
      case StringType => row.getUTF8String(c.index).toString
      case dt => row.get(c.index, dt).toString
    }
    GraftOrcWrite.escapePathName(raw)
  }

  // projects partition columns OUT of the written row (they live in the
  // path; the reader re-materializes them) — one codegen'd UnsafeProjection
  // per writer, zero per-row allocation/boxing (the returned row is a
  // reused buffer; the ORC serializer consumes it before the next call)
  private lazy val fileProj =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      f.fileFieldIdx.zip(f.schema.fields).map { case (ordinal, field) =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          ordinal, field.dataType, field.nullable)
      }.toIndexedSeq)

  override def write(record: InternalRow): Unit = {
    // alwaysProject: row-level rewrites carry metadata columns the file
    // schema excludes, so even unpartitioned writes must project
    if (f.partSpecs.isEmpty && !f.alwaysProject) writerFor("").write(record)
    else {
      val suffix =
        if (f.partSpecs.isEmpty) ""
        else f.partSpecs
          .map(c => c.name + "=" + pathValue(record, c)).mkString("/")
      writerFor(suffix).write(fileProj(record))
    }
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_._1.close())
    val stagedPaths = finished.toSeq ++ writers.values.map(_._2)
    val staged = stagedPaths.map(_.toString)
    // footer-stat sidecars for the manifest: the footer was just written
    // by this task, so reading it back is a local hit — the cheapest
    // point in the file's life to capture statistics (best-effort: a
    // capture failure costs a plan-time footer read later, never the
    // commit)
    val stats = stagedPaths.flatMap { staged =>
      try {
        val r = org.apache.orc.OrcFile.createReader(staged,
          org.apache.orc.OrcFile.readerOptions(f.conf.value.value))
        try OrcStatsEval.sidecarOf(r).map(staged.getName -> _)
        finally r.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }.toMap
    writers.clear()
    finished.clear()
    GraftOrcCommitMessage(staged, stats)
  }

  override def abort(): Unit = {
    writers.values.foreach { case (w, _) => try w.close() catch {
      case _: Throwable => } }
    (finished.toSeq ++ writers.values.map(_._2)).foreach { staged =>
      staged.getFileSystem(f.conf.value.value).delete(staged, false)
    }
    writers.clear()
    finished.clear()
  }

  override def close(): Unit = {
    writers.values.foreach(_._1.close())
    // keep staged paths: close() after commit() sees an empty map; close()
    // without commit is followed by abort(), which deletes them
  }
}
