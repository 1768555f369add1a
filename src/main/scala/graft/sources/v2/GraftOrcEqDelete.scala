package graft.sources.v2

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** EQUALITY deletes + blind UPSERT for manifest tables — the Iceberg-v2
  * equality-delete shape, and the piece that makes streaming CDC apply
  * scale: an upsert batch commits its new rows PLUS one tiny sidecar of
  * the affected keys, and never reads the target at all.
  *
  * Contrast with the position machinery ([[GraftOrcMor]]): a position
  * delete knows (file, row) — precise, but producing it requires
  * SCANNING the target to find the rows (an UPDATE/MERGE plan). For a
  * CDC feed applying "key 42 changed" at a 100 TB target, that scan per
  * batch is the whole cost. An equality delete instead records just the
  * KEY TUPLES under `_graft_deletes/e-<uuid>.orc` (schema = the key
  * columns); readers drop any matching row from every data file OLDER
  * than the sidecar. Applicability is by the strict publish-stamp order
  * the write protocol already guarantees: the sidecar is stamped BEFORE
  * the batch's own data files, so the new row versions survive their
  * own delete — exactly Iceberg's sequence-number rule, carried by the
  * existing monotonic mtimes.
  *
  * Read-side application lives in the same row-wise wrapper as position
  * deletes (the scan flips off pure-columnar while sidecars are live);
  * the wrapper force-reads the key columns when the query did not
  * project them and drops them before emitting. [[GraftOrcMor.purge]] —
  * and therefore every compaction — rewrites the affected files and
  * retires the sidecars, restoring the vectorized path; rewrites stamp
  * fresh mtimes, so their outputs are no longer subject to the retired
  * deletes by construction.
  *
  * Key columns are restricted to exactly-comparable types (integer
  * family, string, boolean, date) — a float/double/decimal key would
  * make "equality" depend on representation. A null key never matches
  * (SQL equality semantics): CDC keys are non-null by contract, and a
  * null-keyed upsert row simply appends.
  */
object GraftOrcEqDelete {

  /** Typed per-task failure when the union key-tuple set of the live
    * equality sidecars exceeds the configured budget: an unbounded set
    * would surface as an executor OOM deep in a scan — this names the
    * cause (sidecar accumulation) and the fix (purge/compact) instead.
    */
  class EqDeleteBudgetExceeded(msg: String) extends RuntimeException(msg)

  /** Default per-task key-tuple budget (rows). ~100 bytes/tuple puts
    * the worst case near 1 GB of task heap — far above any healthy
    * purge cadence, low enough to fail before the executor dies.
    */
  val DefaultBudgetRows: Long = 10000000L

  /** Equality sidecars are `e-*.orc`; position sidecars `dv-*.bin`. */
  def isEqualitySidecar(path: String): Boolean =
    path.substring(path.lastIndexOf('/') + 1).startsWith("e-")

  private[v2] def supportedKeyType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         BooleanType | DateType => true
    case _ => false
  }

  private[v2] def validateKeys(schema: StructType,
                               keys: Seq[String]): Seq[StructField] = {
    require(keys.nonEmpty, "graft-orc upsert: no key columns")
    keys.map { k =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"graft-orc upsert: key column $k not in ${schema.simpleString}"))
      require(supportedKeyType(f.dataType),
        s"graft-orc upsert: unsupported key type " +
          s"${f.dataType.catalogString} for $k — supported: " +
          "byte/short/int/long/string/boolean/date (exact equality " +
          "types only)")
      f
    }
  }

  /** Stage `keys` (already projected to the key columns, distinct) and
    * publish it under `_graft_deletes/e-*.orc` with stamp `stamp`;
    * returns the manifest entry (the caller commits it).
    */
  private[v2] def publishSidecar(spark: SparkSession, fs: FileSystem,
                                 table: Path, keys: DataFrame,
                                 stamp: Long): OrcFileEntry = {
    val staging = new Path(table,
      s"${GraftOrcWrite.StagingDir}/eq-${UUID.randomUUID()}")
    graft.sources.OrcTables.write(keys.coalesce(1), staging.toString)
    val delDir = new Path(table, GraftOrcMor.DeletesDir)
    fs.mkdirs(delDir)
    val staged = fs.listStatus(staging)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".orc"))
    require(staged.length == 1,
      s"graft-orc upsert: expected one staged key sidecar, got " +
        staged.length)
    val src = staged.head.getPath
    fs.setTimes(src, stamp, -1)
    val dest = new Path(delDir, s"e-${UUID.randomUUID()}.orc")
    if (!fs.rename(src, dest))
      throw new java.io.IOException(
        s"graft-orc upsert: failed to publish equality sidecar $src")
    val len = staged.head.getLen
    fs.delete(staging, true)
    OrcFileEntry(fs.makeQualified(dest).toString, len, Map.empty, stamp)
  }

  /** Blind UPSERT: commit `df`'s rows as new data files plus ONE
    * equality sidecar of their key tuples, in one atomic snapshot —
    * the target is never read. Per-key semantics: the newest version
    * wins everywhere (older rows with the same key read as deleted).
    * Partitioned tables are supported when the partition columns are
    * in `df` (rows land in their hive directories); key and partition
    * columns must resolve in the TABLE schema.
    */
  def upsert(spark: SparkSession, table: String, df: DataFrame,
             keyCols: Seq[String] = Nil): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val qt = fs.makeQualified(p)
    val snap = GraftOrcManifest.readSnapshot(fs, qt).getOrElse(
      throw new IllegalArgumentException(
        s"graft-orc: upsert requires a manifest table, but $table has " +
          s"no ${GraftOrcManifest.Dir} (write with " +
          ".option(\"graft.manifest\", \"true\") to establish one)"))
    // empty keys: resolve the table's persisted row identity
    // (TBLPROPERTIES graft.key — same contract as the paired changelog)
    val keys: Seq[String] =
      if (keyCols.nonEmpty) keyCols
      else snap.meta.map(_.props).flatMap(_.collectFirst {
        case (k, v) if k.equalsIgnoreCase(GraftOrcChangelog.KeyProp) =>
          v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }).getOrElse(throw new IllegalArgumentException(
        s"graft-orc upsert: no key columns — pass them, or persist " +
          s"TBLPROPERTIES('${GraftOrcChangelog.KeyProp}'='k1,k2') on " +
          s"$table"))
    val partCols: Seq[String] = snap.meta.map(_.parts).getOrElse(
      snap.entries.map(_.partitionValues.keys.toSeq)
        .maxByOption(_.length).getOrElse(Nil))
    // spec-EVOLVED tables: the upsert writes under the CURRENT spec
    // (its files stamp schemaV = curV, resolving the current layout) —
    // nothing special to do; transform-partitioned layouts are
    // supported since round 13 (publishPartitioned derives the
    // directory values with writer-exact expressions)
    // Keys must resolve in the DATA-FILE schema: the read path matches
    // sidecar key columns against raw file columns, so a partition
    // column (hive-encoded in the path, absent from every file) as a
    // key would poison every later read of the table. Mirror the
    // graft.upsert_keys writer-option validation.
    keys.foreach(k => require(
      !partCols.exists(_.equalsIgnoreCase(k)),
      s"graft-orc upsert: key column $k is a partition column — " +
        "equality keys must be data-file columns (partition values " +
        "live in directory names, not in the files the sidecar is " +
        "matched against)"))
    validateKeys(StructType(df.schema.fields.filterNot(f =>
      partCols.exists(_.equalsIgnoreCase(f.name)))), keys)
    // every spec SOURCE must be in the batch (identity values place the
    // rows; transform sources both place them and stay in the files)
    GraftOrcPartitionSpec.parseCanonical(partCols).map(_.source)
      .foreach(c => require(
        df.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"graft-orc upsert: partition source column $c missing from " +
          "the input"))
    // the batch must be shaped like an append: mismatched columns would
    // poison every later read with a schema-merge failure
    GraftOrcWrite.validateAppend(table, df.schema, partCols)
    GraftOrcWrite.bumpPublishStamp(
      (snap.entries ++ snap.deletes).map(_.mtime).foldLeft(0L)(math.max))
    // sidecar stamped FIRST: it must order BELOW this commit's own data
    // files so the new row versions survive their own delete
    val sidecar = publishSidecar(spark, fs, qt,
      df.select(keys.map(c => col(s"`$c`")): _*).distinct(),
      GraftOrcWrite.nextPublishStamp())
    val curV = snap.meta.map(_.schemaV).getOrElse(0L)
    // data files: unpartitioned batches reuse the rewrite publisher;
    // partitioned batches run as ONE hash-distributed partitioned write
    // (a batch touching 500 partitions is one Spark job, not 500)
    val added: Seq[OrcFileEntry] =
      if (partCols.isEmpty)
        GraftOrcDelete.publishGroupRewrite(spark, fs, qt, Map.empty, df,
          "ups", schemaV = curV)
      else publishPartitioned(spark, fs, qt, df, partCols, curV)
    // Commit with sequence validation: `entriesBelow` fails the commit
    // if a rival (compact/purge/rewrite) concurrently published files
    // stamped AT OR ABOVE our sidecar — byte copies of the upserted
    // keys' old versions would escape the equality delete (they are not
    // "older than the sidecar" any more). The retry re-stamps sidecar
    // then data above the rival's state (all still unmanifested, so
    // re-stamping is invisible) and tries again — the same effect as
    // Iceberg assigning sequence numbers at commit time.
    var curSidecar = sidecar
    var curAdded = added
    var attempt = 0
    var committed = false
    while (!committed) {
      try {
        GraftOrcManifest.commitSwap(fs, qt, remove = Set.empty,
          add = curAdded, addDeletes = Seq(curSidecar), op = "upsert",
          entriesBelow = Some(curSidecar.mtime))
        committed = true
      } catch {
        case e: java.util.ConcurrentModificationException
            if attempt < GraftOrcWrite.ManifestCommitRetries =>
          attempt += 1
          val winner = GraftOrcManifest.readSnapshot(fs, qt)
            .getOrElse(GraftOrcManifest.Snapshot(0L, Nil))
          GraftOrcWrite.bumpPublishStamp(
            (winner.entries ++ winner.deletes)
              .map(_.mtime).foldLeft(0L)(math.max))
          curSidecar = GraftOrcWrite
            .restampEntries(fs, Seq(curSidecar)).head
          curAdded = GraftOrcWrite.restampEntries(fs, curAdded)
      }
    }
  }

  /** One transform field's DIRECTORY value as a Column, matching
    * [[GraftOrcPartitionSpec.dirValue]] byte-for-byte so upsert-staged
    * directories round-trip identically to writer-produced ones:
    * time transforms via tz-free epoch arithmetic (no session-zone
    * dependence), bucket via Spark's `hash()` (the same murmur3 with
    * seed 42 as `bucketOf`), truncate via prefix/floor-multiple. NULL
    * sources yield NULL (partitionBy then writes the hive default
    * marker, like the writer). TIMESTAMP_NTZ sources are refused —
    * unlike the writer's InternalRow path, there is no zone-free
    * Column route to their micros; use MERGE INTO for those tables.
    */
  private def transformDirCol(f: PartField,
                              c: org.apache.spark.sql.Column,
                              dt: DataType): org.apache.spark.sql.Column = {
    def unsupported(): Nothing = throw new IllegalArgumentException(
      s"graft-orc upsert: ${f.describe} over ${dt.catalogString} is " +
        "not supported in blind upsert — use MERGE INTO")
    def pad(cc: org.apache.spark.sql.Column, n: Int) =
      lpad(cc.cast("string"), n, "0")
    lazy val dateOf = dt match {
      case DateType => c
      case TimestampType =>
        val us = unix_micros(c)
        date_from_unix_date(
          ((us - pmod(us, lit(86400000000L))) / 86400000000L).cast("int"))
      case _ => unsupported()
    }
    val v = f.transform match {
      case "day" => dateOf.cast("string")
      case "month" =>
        concat(pad(year(dateOf), 4), lit("-"), pad(month(dateOf), 2))
      case "year" => pad(year(dateOf), 4)
      case "hour" =>
        if (dt != TimestampType) unsupported()
        val us = unix_micros(c)
        val secs = ((us - pmod(us, lit(1000000L))) / 1000000L).cast("long")
        val tod = pmod(secs, lit(86400L))
        val d = date_from_unix_date(((secs - tod) / 86400L).cast("int"))
        concat(pad(year(d), 4), lit("-"), pad(month(d), 2), lit("-"),
          pad(dayofmonth(d), 2), lit("-"),
          pad((tod / 3600).cast("int"), 2))
      case "bucket" =>
        pmod(hash(c), lit(f.param)).cast("string")
      case "trunc" => dt match {
        case StringType => substring(c, 1, f.param)
        case ByteType | ShortType | IntegerType | LongType =>
          (c.cast("long") - pmod(c.cast("long"), lit(f.param.toLong)))
            .cast("string")
        case _ => unsupported()
      }
      case _ => unsupported()
    }
    when(c.isNull, lit(null).cast("string")).otherwise(v)
  }

  /** Publish a partitioned upsert batch as ONE Spark job: the batch is
    * hash-repartitioned on the partition columns (every partition's
    * rows land in one task => one file per touched partition, no
    * small-file spray) and written hive-laid under `_staging/`; the
    * driver then stamps, sidecar-stats, and renames each produced file
    * into `<partition>/w-ups-<wave>/` — metadata-only work ∝ files, not
    * rows. Replaces the per-partition filter+write loop that ran one
    * Spark job per touched partition (500-partition batch = 500 jobs).
    */
  private[v2] def publishPartitioned(spark: SparkSession, fs: FileSystem,
                                     table: Path, df: DataFrame,
                                     partCols: Seq[String],
                                     schemaV: Long): Seq[OrcFileEntry] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val specFields = GraftOrcPartitionSpec.parseCanonical(partCols)
    val idCols = specFields.filter(_.isIdentity).map(_.source)
    // canonical partition-column names (the table's casing drives the
    // directory layout, whatever case the batch arrived with)
    val canon = df.select(df.schema.fields.toSeq.map { f =>
      idCols.find(_.equalsIgnoreCase(f.name)) match {
        case Some(p) if p != f.name => col(s"`${f.name}`").as(p)
        case _ => col(s"`${f.name}`")
      }
    }: _*)
    // Spark's partitionBy formats TIMESTAMP directory values in the
    // SESSION timezone, but graft writes and parses identity timestamp
    // directories as UTC (GraftOrcDataWriter.pathValue /
    // internalPartitionValue's Cast(..., "UTC")) — under a non-UTC
    // session the staged dirs would land on shifted values, splitting
    // logical partitions and re-materializing wrong ts on read.
    // Pre-render those columns to pathValue's exact UTC string
    // ("uuuu-MM-dd HH:mm:ss" + zero-padded ".SSSSSS" only when the
    // micro fraction is nonzero) with tz-free epoch arithmetic — a
    // string partition column passes through partitionBy verbatim, so
    // the directories round-trip identically to writer-produced ones.
    // (DATE/TIMESTAMP_NTZ are wall-clock types: partitionBy already
    // renders them zone-independently.)
    val utcCanon = idCols.foldLeft(canon) { (acc, p) =>
      acc.schema.fields.find(_.name == p) match {
        case Some(f) if f.dataType ==
            org.apache.spark.sql.types.TimestampType =>
          val ts = col(s"`$p`")
          val us = unix_micros(ts)
          val frac = pmod(us, lit(1000000L))
          val secs = ((us - frac) / 1000000L).cast("long")
          val tod = pmod(secs, lit(86400L))
          val d = date_from_unix_date(
            ((secs - tod) / 86400L).cast("int"))
          def pad2(c: org.apache.spark.sql.Column) =
            lpad(c.cast("int").cast("string"), 2, "0")
          val base = concat(d.cast("string"), lit(" "),
            pad2(tod / 3600), lit(":"), pad2(pmod(tod, lit(3600L)) / 60),
            lit(":"), pad2(pmod(tod, lit(60L))))
          acc.withColumn(p,
            when(ts.isNull, lit(null).cast("string"))
              .when(frac === 0L, base)
              .otherwise(concat(base, lit("."),
                lpad(frac.cast("string"), 6, "0"))))
        case _ => acc
      }
    }
    // hidden-partition transforms: derive each transform's DIRECTORY
    // value as a STRING column named by its dirName, matching
    // GraftOrcPartitionSpec.dirValue byte-for-byte (day/month/year/hour
    // via tz-free epoch arithmetic, bucket via Spark's hash() — the
    // same murmur3/seed-42 as bucketOf — truncate via prefix/floor).
    // partitionBy then drops identity sources AND the derived dir
    // columns from file content while transform SOURCES stay in the
    // files, exactly the writer's layout contract.
    val withDirs = specFields.filterNot(_.isIdentity)
      .foldLeft(utcCanon) { (acc, f) =>
        val src = acc.schema.fields
          .find(_.name.equalsIgnoreCase(f.source)).getOrElse(
            throw new IllegalArgumentException(
              s"graft-orc upsert: transform source ${f.source} missing " +
                "from the input"))
        acc.withColumn(f.dirName,
          transformDirCol(f, col(s"`${src.name}`"), src.dataType))
      }
    val byCols = specFields.map(f =>
      if (f.isIdentity)
        withDirs.schema.fieldNames
          .find(_.equalsIgnoreCase(f.source)).getOrElse(f.source)
      else f.dirName)
    val staging = new Path(table,
      s"${GraftOrcWrite.StagingDir}/ups-${UUID.randomUUID()}")
    withDirs.repartition(byCols.map(c => col(s"`$c`")): _*)
      .write.mode("overwrite").option("compression", "snappy")
      .partitionBy(byCols: _*).orc(staging.toString)
    // walk the staged hive tree; every *.orc file publishes under its
    // partition's wave dir with a fresh stamp + footer-stat sidecar
    val wave = s"w-ups-${UUID.randomUUID()}"
    val out = Seq.newBuilder[OrcFileEntry]
    def walk(dir: Path, parts: Map[String, String], rel: Seq[String]): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          GraftOrcFileIndex.parsePartitionSegment(name) match {
            case Some((k, v)) =>
              walk(st.getPath, parts + (k -> v), rel :+ name)
            case None => // _temporary etc. — spark cleans these itself
          }
        } else if (name.endsWith(".orc")) {
          val stamp = GraftOrcWrite.nextPublishStamp()
          fs.setTimes(st.getPath, stamp, -1)
          val sidecar =
            try {
              val r = org.apache.orc.OrcFile.createReader(st.getPath,
                org.apache.orc.OrcFile.readerOptions(conf))
              try OrcStatsEval.sidecarOf(r) finally r.close()
            } catch { case scala.util.control.NonFatal(_) => None }
          val waveDir = new Path(table, (rel :+ wave).mkString("/"))
          fs.mkdirs(waveDir)
          val dest = new Path(waveDir, name)
          if (!fs.rename(st.getPath, dest))
            throw new java.io.IOException(
              s"graft-orc upsert: failed to publish ${st.getPath}")
          out += OrcFileEntry(fs.makeQualified(dest).toString, st.getLen,
            parts, stamp, sidecar, schemaV = schemaV)
        }
      }
    walk(staging, Map.empty, Nil)
    fs.delete(staging, true)
    out.result()
  }

  // ---- key-range pruning (plan/purge-time) -----------------------------

  /** The per-key-column value ranges of an equality sidecar, read from
    * its OWN ORC footer (already written — one footer read, no data).
    * Empty map = unknown (callers must treat every file as affected).
    */
  def keyRangesOf(conf: Configuration,
                  sidecarPath: String): Map[String, OrcStatsEval.StatRange] =
    try {
      val r = org.apache.orc.OrcFile.createReader(new Path(sidecarPath),
        org.apache.orc.OrcFile.readerOptions(conf))
      try OrcStatsEval.sidecarOf(r).flatMap(OrcStatsEval.decodeSidecar)
        .map(_._2.collect { case (n, (Some(rg), _)) => n -> rg })
        .getOrElse(Map.empty[String, OrcStatsEval.StatRange])
      finally r.close()
    } catch { case scala.util.control.NonFatal(_) =>
      Map.empty[String, OrcStatsEval.StatRange] }

  private def overlaps(a: OrcStatsEval.StatRange,
                       b: OrcStatsEval.StatRange): Boolean = {
    val aBelowB = for { am <- a.max; bm <- b.min;
                        c <- OrcStatsEval.cmp(am, bm) } yield c < 0
    val bBelowA = for { bm <- b.max; am <- a.min;
                        c <- OrcStatsEval.cmp(bm, am) } yield c < 0
    !(aBelowB.contains(true) || bBelowA.contains(true))
  }

  /** Can a data file with manifest stat sidecar `stats` hold any key
    * tuple inside `kr`? False only on PROOF of disjointness: every key
    * column must have intersecting ranges (an all-null column on either
    * side matches nothing — null keys never delete); missing stats or
    * an unknown sidecar range degrade to "may hold".
    */
  def mayHoldKeys(stats: Option[String],
                  kr: Map[String, OrcStatsEval.StatRange]): Boolean =
    kr.isEmpty || (stats.flatMap(OrcStatsEval.decodeSidecar) match {
      case None => true
      case Some((_, cols)) =>
        kr.forall { case (k, sr) =>
          sr.hasValues && (cols.get(k).flatMap(_._1) match {
            case Some(fr) => fr.hasValues && overlaps(fr, sr)
            case None => true
          })
        }
    })

  // ---- executor-side key-set application -------------------------------

  /** The union of key tuples from every equality sidecar APPLICABLE to a
    * data file of mtime `fileMtime` (sidecar strictly newer), keyed by
    * the canonical tuple encoding of [[tupleOf]]. Sidecars are small by
    * construction (rows changed since the last purge), read whole per
    * task like the position sets.
    */
  def keySetFor(conf: Configuration,
                sidecars: Seq[(String, Long)],
                keyFields: Array[StructField],
                fileMtime: Long,
                budgetRows: Long = DefaultBudgetRows)
      : java.util.HashSet[String] = {
    val out = new java.util.HashSet[String]()
    def checkBudget(): Unit =
      if (out.size() > budgetRows)
        throw new EqDeleteBudgetExceeded(
          s"graft-orc: live equality-delete sidecars hold more than " +
            s"$budgetRows key tuples per task — the table needs a " +
            "purge (GraftOrcMor.purge / compaction) to materialize " +
            "them; raise graft.eq_delete_budget_rows only if the " +
            "executor heap is sized for the larger set")
    sidecars.foreach { case (side, mtime) =>
      if (mtime > fileMtime) {
        val reader = org.apache.orc.OrcFile.createReader(new Path(side),
          org.apache.orc.OrcFile.readerOptions(conf))
        try {
          val names = reader.getSchema.getFieldNames.asScala.toSeq
          val idx = keyFields.map(f =>
            names.indexWhere(_.equalsIgnoreCase(f.name)))
          // a sidecar missing one of the key columns applies to nothing
          // (written under different keys — should not happen, but a
          // silent full-table delete must be impossible)
          if (idx.forall(_ >= 0)) {
            val rows = reader.rows()
            try {
              val batch = reader.getSchema.createRowBatch()
              while (rows.nextBatch(batch)) {
                var i = 0
                while (i < batch.size) {
                  val sb = new StringBuilder
                  var ok = true
                  var k = 0
                  while (k < idx.length && ok) {
                    val cv = batch.cols(idx(k))
                    val j = if (cv.isRepeating) 0 else i
                    if (!cv.noNulls && cv.isNull(j)) ok = false
                    else {
                      cv match {
                        case lc: org.apache.hadoop.hive.ql.exec.vector
                            .LongColumnVector => sb.append(lc.vector(j))
                        case bc: org.apache.hadoop.hive.ql.exec.vector
                            .BytesColumnVector => sb.append(bc.toString(j))
                        case other => throw new IllegalStateException(
                          s"graft-orc: unsupported equality sidecar " +
                            s"vector ${other.getClass.getSimpleName}")
                      }
                      sb.append('\u0000')
                    }
                    k += 1
                  }
                  if (ok) out.add(sb.toString)
                  i += 1
                }
                checkBudget()
              }
            } finally rows.close()
          }
        } finally reader.close()
      }
    }
    out
  }

  /** Canonical tuple encoding of one ROW's key values, matching
    * [[keySetFor]]'s: integer family and dates as decimal longs,
    * booleans as 0/1, strings verbatim, NUL-separated. None when any
    * key is null (a null key never matches a delete).
    */
  def tupleOf(row: org.apache.spark.sql.catalyst.InternalRow,
              ordinals: Array[Int],
              types: Array[DataType]): Option[String] = {
    val sb = new StringBuilder
    var k = 0
    while (k < ordinals.length) {
      val o = ordinals(k)
      if (row.isNullAt(o)) return None
      types(k) match {
        case ByteType => sb.append(row.getByte(o).toLong)
        case ShortType => sb.append(row.getShort(o).toLong)
        case IntegerType | DateType => sb.append(row.getInt(o).toLong)
        case LongType => sb.append(row.getLong(o))
        case BooleanType => sb.append(if (row.getBoolean(o)) 1L else 0L)
        case StringType => sb.append(row.getUTF8String(o).toString)
        case other => throw new IllegalStateException(
          s"graft-orc: unsupported equality key type $other")
      }
      sb.append('\u0000')
      k += 1
    }
    Some(sb.toString)
  }
}
