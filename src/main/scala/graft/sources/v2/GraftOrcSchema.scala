package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Field-ID schema evolution for graft-orc MANIFEST tables — the Iceberg
  * capability directory tables cannot have: rename / add / drop / widen a
  * column as a METADATA-ONLY commit, with every already-written data file
  * still read correctly afterwards.
  *
  * Why name-matching alone is not enough at 100 TB: a rename would orphan
  * every old file's column (reads suddenly null), and dropping then
  * re-adding a name would RESURRECT the dropped data from old files. Both
  * are silent-corruption shapes. Iceberg solves this with per-field IDs
  * resolved against per-file ID mappings; this module keeps the same
  * semantics with a cheaper encoding:
  *
  *  - The TABLE schema is persisted in the manifest snapshot header
  *    ([[GraftOrcManifest.TableMeta]]) together with a monotonically
  *    increasing `schemaV` (bumped by every DDL commit).
  *  - Every DATA FILE entry records the `schemaV` it was written under
  *    (`"v"` in the snapshot line; 0 = pre-evolution bootstrap).
  *  - Every FIELD carries, in its `StructField.metadata`:
  *      - `graft.id`       — stable field ID (never reused),
  *      - `graft.added_v`  — schema version that introduced the field,
  *      - `graft.renames`  — rename history entries `"V:oldName"`,
  *        meaning "before schema version V this field was called
  *        oldName" (newest last),
  *      - `graft.widened_v` — version of the last type widening (absent
  *        when the type never changed).
  *
  * Reading file F (written under version v) resolves each table field
  * EXACTLY — not by alias guessing: the field's physical name in F is the
  * name it had at version v ([[nameAt]]), and a field added after v reads
  * as null ([[visibleIn]]). Name swaps (a->b, b->a) resolve correctly
  * because resolution is per-version, and a dropped-then-readded name
  * never resurrects because the new field's `added_v` postdates the old
  * files. Type widenings keep the file's narrower physical type; the ORC
  * reader's own schema evolution converts at decode time (the same
  * int->long / float->double promotions Iceberg allows).
  *
  * All DDL commits are one snapshot write: same file entries, new header
  * — atomic, time-travelable (reading an old snapshot uses ITS schema),
  * and conflict-checked by the manifest's same-seq race detection.
  */
object GraftOrcSchema {

  private[v2] val IdKey = "graft.id"
  private[v2] val AddedVKey = "graft.added_v"
  private[v2] val RenamesKey = "graft.renames"
  private[v2] val WidenedVKey = "graft.widened_v"
  // Spark's own default-value metadata keys
  // (ResolveDefaultColumns.CURRENT_DEFAULT/EXISTS_DEFAULT): CURRENT is
  // what INSERTs missing the column get (Spark's analyzer fills it —
  // the catalog advertises SUPPORT_COLUMN_DEFAULT_VALUE); EXISTS is the
  // Iceberg-v3 "initial default" files WRITTEN BEFORE the column
  // existed read back (frozen at ADD COLUMN time — a later SET DEFAULT
  // changes only CURRENT). Stored as the folded literal's SQL text.
  private[v2] val CurrentDefaultKey = "CURRENT_DEFAULT"
  private[v2] val ExistsDefaultKey = "EXISTS_DEFAULT"

  // ---- field metadata accessors ----------------------------------------

  private def metaLong(f: StructField, key: String): Option[Long] =
    if (f.metadata.contains(key)) Some(f.metadata.getLong(key)) else None

  def fieldId(f: StructField): Option[Long] = metaLong(f, IdKey)
  def addedV(f: StructField): Long = metaLong(f, AddedVKey).getOrElse(1L)
  def widenedV(f: StructField): Option[Long] = metaLong(f, WidenedVKey)

  /** The SQL text of the field's initial default, when one was declared
    * at ADD COLUMN time — what pre-add files read instead of NULL.
    */
  def existsDefaultSql(f: StructField): Option[String] =
    if (f.metadata.contains(ExistsDefaultKey))
      Some(f.metadata.getString(ExistsDefaultKey)) else None

  /** Driver-side: the initial default as an EXTERNAL JVM value of the
    * field's current type (String, java.sql.Timestamp, ...) — the form
    * [[OrcStatsEval.valueRange]] and the classification lookups consume.
    */
  def existsDefaultExternal(f: StructField): Option[Any] =
    existsDefaultValue(f).map(v =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(v, f.dataType))

  /** Executor-usable: the initial default as a Catalyst INTERNAL value
    * of the field's CURRENT type (UTF8String for strings, epoch micros
    * for timestamps, ...). The stored text is a folded literal, so the
    * parse+eval is constant work per file open; a non-foldable text
    * fails loudly at read (the DDL path refuses it earlier).
    */
  def existsDefaultValue(f: StructField): Option[Any] =
    existsDefaultSql(f).map { sql =>
      val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(sql)
      require(e.foldable,
        s"graft-orc: default for column ${f.name} is not a constant: $sql")
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          e.eval(null), e.dataType),
        f.dataType, Some("UTC")).eval(null)
    }

  /** Rename history as (version, oldName), ascending by version: before
    * `version` the field was called `oldName`.
    */
  def renames(f: StructField): Seq[(Long, String)] =
    if (!f.metadata.contains(RenamesKey)) Nil
    else f.metadata.getStringArray(RenamesKey).toSeq.map { s =>
      val i = s.indexOf(':')
      (s.substring(0, i).toLong, s.substring(i + 1))
    }.sortBy(_._1)

  /** The field's physical column name in a file written under schema
    * version `fileV`: the oldName of the EARLIEST rename newer than
    * `fileV`, or the current name when no later rename exists.
    */
  def nameAt(f: StructField, fileV: Long): String =
    renames(f).collectFirst { case (v, old) if v > fileV => old }
      .getOrElse(f.name)

  /** Whether the field existed when a file of version `fileV` was
    * written. Bootstrap files (v=0) predate evolution entirely and carry
    * every original (added_v <= 1) field.
    */
  def visibleIn(f: StructField, fileV: Long): Boolean =
    addedV(f) <= math.max(fileV, 1L)

  /** True when any field of `schema` carries evolution history a reader
    * must resolve (renames, post-bootstrap additions, widenings). False
    * for directory tables and never-altered manifest tables — the common
    * case, where the read path stays byte-identical to before.
    */
  def hasEvolution(schema: StructType): Boolean =
    schema.fields.exists(f =>
      f.metadata.contains(RenamesKey) || addedV(f) > 1L ||
        f.metadata.contains(WidenedVKey))

  /** Whether name-keyed per-file statistics (manifest stat sidecars, the
    * footer aggregate kernel) of a file written under `fileV` can be
    * consumed for this field without translation: same name, field
    * existed, type never widened since. Used to GATE aggregate pushdown
    * — stats-answered aggregates must be byte-identical to a real read.
    */
  def statsSafe(f: StructField, fileV: Long): Boolean = {
    val v = math.max(fileV, 1L)
    visibleIn(f, v) && nameAt(f, v) == f.name &&
      widenedV(f).forall(_ <= v)
  }

  // ---- per-file resolution for the read path ---------------------------

  /** Physical-name substitute guaranteed absent from any ORC file: fields
    * not yet added when the file was written map here, so the column-id
    * mapping yields -1 and the reader null-fills — the same machinery
    * plain name-based schema merge already uses for missing columns.
    */
  private def absentName(f: StructField): String =
    s"__graft_absent_${fieldId(f).getOrElse(0L)}"

  /** Translate a schema to the physical column names of one file. */
  def resolveSchema(schema: StructType, fileV: Long): StructType =
    StructType(schema.fields.map { f =>
      if (!visibleIn(f, fileV)) f.copy(name = absentName(f))
      else f.copy(name = nameAt(f, math.max(fileV, 1L)))
    })

  /** Table-name -> physical-name map for one file version (identity
    * entries omitted); invisible fields map to their absent substitute.
    */
  def renameMap(schema: StructType, fileV: Long): Map[String, String] =
    schema.fields.iterator.map { f =>
      val phys =
        if (!visibleIn(f, fileV)) absentName(f)
        else nameAt(f, math.max(fileV, 1L))
      f.name.toLowerCase -> phys
    }.filter { case (k, v) => k != v.toLowerCase }.toMap

  /** Rewrite a pushed filter's attribute references table-name ->
    * physical-name. None when the filter (or a nested piece) references
    * a field with no physical presence worth pushing — dropping a pushed
    * filter is always sound here because every graft-orc filter is also
    * residual (the A9 inexact-pushdown contract).
    */
  def translateFilter(f: Filter, m: Map[String, String]): Option[Filter] = {
    def n(a: String): String = m.getOrElse(a.toLowerCase, a)
    f match {
      case EqualTo(a, v) => Some(EqualTo(n(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(n(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(n(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(n(a), v))
      case LessThan(a, v) => Some(LessThan(n(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(n(a), v))
      case In(a, vs) => Some(In(n(a), vs))
      case IsNull(a) => Some(IsNull(n(a)))
      case IsNotNull(a) => Some(IsNotNull(n(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(n(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(n(a), v))
      case StringContains(a, v) => Some(StringContains(n(a), v))
      case And(l, r) =>
        (translateFilter(l, m), translateFilter(r, m)) match {
          case (Some(a), Some(b)) => Some(And(a, b))
          // a conjunction survives losing one side (weaker => sound)
          case (Some(a), None) => Some(a)
          case (None, Some(b)) => Some(b)
          case _ => None
        }
      case Or(l, r) =>
        for { a <- translateFilter(l, m); b <- translateFilter(r, m) }
          yield Or(a, b)
      case Not(c) => translateFilter(c, m).map(Not)
      case _ => None
    }
  }

  /** Project a frame read from RAW data files of version `fileV` (so
    * physical names and pre-widening types) onto the CURRENT data
    * schema: current names, current types (widenings cast), typed nulls
    * for fields the files predate. `extraCols` (e.g. metadata-column
    * aliases) ride along unchanged. Row-level rewrites run through this,
    * so a rewrite always UPGRADES its files to the current schema.
    */
  def projectToCurrent(df: org.apache.spark.sql.DataFrame,
                       dataFields: Seq[StructField], fileV: Long,
                       extraCols: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = math.max(fileV, 1L)
    val sel = dataFields.map { f =>
      if (!visibleIn(f, fileV))
        // a column added WITH DEFAULT back-fills the default, not NULL —
        // a CoW rewrite/purge of old files materializes exactly what a
        // read of them serves
        existsDefaultSql(f) match {
          case Some(sql) => org.apache.spark.sql.functions.expr(sql)
            .cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      else {
        val c = col("`" + nameAt(f, v) + "`")
        (if (widenedV(f).exists(_ > v)) c.cast(f.dataType) else c).as(f.name)
      }
    } ++ extraCols.map(c => col("`" + c + "`"))
    df.select(sel: _*)
  }

  // ---- DDL operations --------------------------------------------------

  private def requireNoField(schema: StructType, name: String): Unit =
    require(!schema.fields.exists(_.name.equalsIgnoreCase(name)),
      s"graft-orc: column $name already exists in ${schema.simpleString}")

  private def fieldIndex(schema: StructType, name: String): Int = {
    val i = schema.fields.indexWhere(_.name.equalsIgnoreCase(name))
    require(i >= 0,
      s"graft-orc: no column $name in ${schema.simpleString}")
    i
  }

  private def maxId(schema: StructType): Long =
    schema.fields.flatMap(fieldId(_)).foldLeft(0L)(math.max)

  private def withMeta(f: StructField)(
      b: MetadataBuilder => MetadataBuilder): StructField =
    f.copy(metadata =
      b(new MetadataBuilder().withMetadata(f.metadata)).build())

  /** Initial evolution metadata for a table establishing its manifest
    * schema: ids 1..n, everything added at version 1 (so bootstrap v=0
    * files carry every field).
    */
  def assignIds(schema: StructType): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      if (fieldId(f).isDefined) f
      else withMeta(f)(_.putLong(IdKey, i + 1L).putLong(AddedVKey, 1L))
    })

  /** The widenings the ORC reader's own schema evolution converts
    * losslessly at decode time (ConvertTreeReaderFactory): the integral
    * chain and float->double. Decimal/others stay rejected — a widening
    * this check refuses fails LOUDLY at DDL time, never at read time.
    */
  def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** `at` is the requested INSERTION INDEX (ADD COLUMN ... FIRST = 0,
    * AFTER x = fieldIndex(x)+1; default end). Column order is purely
    * presentational under field-ID resolution — files resolve columns by
    * name/ID per their own version, never by position — so honoring the
    * position is a free part of the same metadata commit.
    */
  def addColumn(meta: GraftOrcManifest.TableMeta, name: String,
                dt: DataType, comment: Option[String] = None,
                at: Option[Int] = None,
                default: Option[String] = None)
      : GraftOrcManifest.TableMeta = {
    requireNoField(meta.schema, name)
    val v = meta.schemaV + 1
    val mb = new MetadataBuilder()
      .putLong(IdKey, maxId(meta.schema) + 1).putLong(AddedVKey, v)
    // validate eagerly: a bad default must fail the DDL, never a read
    default.foreach { sql =>
      val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(sql)
      require(e.foldable,
        s"graft-orc: DEFAULT for column $name must be a constant " +
          s"expression, got: $sql")
      require(org.apache.spark.sql.catalyst.expressions.Cast
          .canCast(e.dataType, dt),
        s"graft-orc: DEFAULT $sql (type ${e.dataType.catalogString}) " +
          s"cannot cast to column type ${dt.catalogString}")
      mb.putString(CurrentDefaultKey, sql)
      mb.putString(ExistsDefaultKey, sql)
    }
    var f = StructField(name, dt, nullable = true, metadata = mb.build())
    comment.foreach(c => f = f.withComment(c))
    val fields = meta.schema.fields
    val idx = at.getOrElse(fields.length)
    require(idx >= 0 && idx <= fields.length,
      s"graft-orc: ADD COLUMN position $idx out of range " +
        s"(0..${fields.length})")
    meta.copy(schemaV = v, schema =
      StructType((fields.take(idx) :+ f) ++ fields.drop(idx)))
  }

  def renameColumn(meta: GraftOrcManifest.TableMeta, from: String,
                   to: String): GraftOrcManifest.TableMeta = {
    val i = fieldIndex(meta.schema, from)
    requireNoField(meta.schema, to)
    require(!GraftOrcPartitionSpec.sources(meta.parts)
        .exists(_.equalsIgnoreCase(from)),
      s"graft-orc: cannot rename partition column $from — partition " +
        "values live in directory paths, which a metadata commit cannot " +
        "rewrite")
    val v = meta.schemaV + 1
    val old = meta.schema.fields(i)
    val hist = (if (old.metadata.contains(RenamesKey))
      old.metadata.getStringArray(RenamesKey) else Array.empty[String]) :+
      s"$v:${old.name}"
    val renamed = withMeta(old.copy(name = to))(
      _.putStringArray(RenamesKey, hist))
    meta.copy(schemaV = v,
      schema = StructType(meta.schema.fields.updated(i, renamed)))
  }

  def dropColumn(meta: GraftOrcManifest.TableMeta, name: String)
      : GraftOrcManifest.TableMeta = {
    val i = fieldIndex(meta.schema, name)
    require(!GraftOrcPartitionSpec.sources(meta.parts)
        .exists(_.equalsIgnoreCase(name)),
      s"graft-orc: cannot drop partition column $name")
    require(meta.schema.fields.length > 1,
      s"graft-orc: cannot drop the only column $name")
    meta.copy(schemaV = meta.schemaV + 1,
      schema = StructType(
        meta.schema.fields.take(i) ++ meta.schema.fields.drop(i + 1)))
  }

  def widenColumn(meta: GraftOrcManifest.TableMeta, name: String,
                  to: DataType): GraftOrcManifest.TableMeta = {
    val i = fieldIndex(meta.schema, name)
    val f = meta.schema.fields(i)
    require(!GraftOrcPartitionSpec.sources(meta.parts)
        .exists(_.equalsIgnoreCase(name)),
      s"graft-orc: cannot change the type of partition column $name")
    require(canWiden(f.dataType, to),
      s"graft-orc: cannot change column $name from " +
        s"${f.dataType.catalogString} to ${to.catalogString}; supported " +
        "widenings: byte->short->int->long, float->double")
    val v = meta.schemaV + 1
    val widened = withMeta(f.copy(dataType = to))(_.putLong(WidenedVKey, v))
    meta.copy(schemaV = v,
      schema = StructType(meta.schema.fields.updated(i, widened)))
  }

  // ---- DDL commit ------------------------------------------------------

  /** Apply `change` to the table's persisted schema and commit the result
    * as the next manifest snapshot (metadata-only: same files, same
    * deletes, same retention). A table whose manifest predates schema
    * persistence bootstraps its meta from the current file schema first
    * (ids assigned, schemaV=1) in the SAME commit. Same-seq commit races
    * surface as ConcurrentModificationException like any other commit;
    * the caller retries on fresh state.
    */
  /** Partition-spec EVOLUTION (Iceberg's partition evolution as one
    * atomic metadata commit): replace the current spec; files written
    * before keep resolving — and PRUNING — by their own layout
    * ([[GraftOrcPartitionSpec.specForVersion]]), so no data is ever
    * rewritten. The IDENTITY column set must not change: identity
    * values live in directory paths, not data files, so adding or
    * removing one would force a rewrite — refused with a typed error;
    * transform fields (bucket/days/truncate) add, drop and
    * re-parameterize freely, which is where evolution earns its keep
    * (bucket(8) -> bucket(64) as the table grows 100x).
    */
  def setPartitionSpec(meta: GraftOrcManifest.TableMeta,
                       newParts: Seq[String])
      : GraftOrcManifest.TableMeta = {
    import GraftOrcPartitionSpec.{HistoryProp, SinceProp}
    val newSpec = GraftOrcPartitionSpec.parseCanonical(newParts)
    GraftOrcPartitionSpec.validate(meta.schema, newSpec)
    val canon = newSpec.map(_.canonical)
    require(meta.parts.map(_.toLowerCase) != canon.map(_.toLowerCase),
      s"graft-orc: the partition spec is already " +
        s"(${newSpec.map(_.describe).mkString(", ")})")
    val oldId = GraftOrcPartitionSpec.parseCanonical(meta.parts)
      .filter(_.isIdentity).map(_.source.toLowerCase).toSet
    val newId = newSpec.filter(_.isIdentity).map(_.source.toLowerCase).toSet
    require(oldId == newId,
      "graft-orc: partition-spec evolution cannot add or remove " +
        "IDENTITY fields (their values live in paths, not data files — " +
        s"that change needs a rewrite); identity before: " +
        s"[${oldId.toSeq.sorted.mkString(", ")}], after: " +
        s"[${newId.toSeq.sorted.mkString(", ")}]. Transform fields " +
        "(bucket/days/truncate/...) evolve freely")
    val v = meta.schemaV + 1
    val hist = GraftOrcPartitionSpec.decodeHistory(meta.props) :+
      ((meta.props.get(SinceProp).map(_.toLong).getOrElse(0L), meta.parts))
    meta.copy(schemaV = v, parts = canon,
      props = meta.props +
        (SinceProp -> v.toString) +
        (HistoryProp -> GraftOrcPartitionSpec.encodeHistory(hist)))
  }

  /** Path-level entry: `setPartitionSpec` through the same optimistic
    * DDL commit loop as every other metadata change.
    */
  def setPartitionSpec(conf: Configuration, table: String,
                       spec: String): GraftOrcManifest.TableMeta =
    alter(conf, table)(m => setPartitionSpec(m,
      GraftOrcPartitionSpec.parseOption(spec).map(_.canonical)))

  def alter(conf: Configuration, table: String)(
      change: GraftOrcManifest.TableMeta => GraftOrcManifest.TableMeta)
      : GraftOrcManifest.TableMeta = {
    // a DDL losing a same-seq race to a concurrent APPEND retries on the
    // winner's state — the change function is pure, so re-applying it is
    // exactly the optimistic commit loop every other committer runs
    var attempt = 0
    while (true) {
      try return alterOnce(conf, table, change)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= GraftOrcWrite.ManifestCommitRetries) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def alterOnce(conf: Configuration, table: String,
      change: GraftOrcManifest.TableMeta => GraftOrcManifest.TableMeta)
      : GraftOrcManifest.TableMeta = {
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val qt = fs.makeQualified(p)
    val snap = GraftOrcManifest.readSnapshot(fs, qt).getOrElse(
      throw new IllegalArgumentException(
        s"graft-orc: schema evolution requires a manifest table, but " +
          s"$table has no ${GraftOrcManifest.Dir} (write with " +
          ".option(\"graft.manifest\", \"true\") to establish one)"))
    val cur = snap.meta.getOrElse(bootstrapMeta(conf, table))
    val next = change(cur)
    // NON-ADDITIVE changes (rename / drop / widen) are refused while
    // EQUALITY-delete sidecars are live: the sidecars are keyed by the
    // write-time column names/types ([[GraftOrcEqDelete]]), and a
    // rename under them would break the key resolution at read time.
    // Purge materializes the deletes and clears the restriction; plain
    // ADD COLUMN stays allowed (it cannot be a key).
    if (snap.deletes.exists(e => GraftOrcEqDelete.isEqualitySidecar(e.path))) {
      val newById = next.schema.fields
        .flatMap(f => fieldId(f).map(_ -> f)).toMap
      val nonAdditive = cur.schema.fields.exists { f =>
        fieldId(f).forall { id =>
          newById.get(id).forall(nf =>
            nf.name != f.name || nf.dataType != f.dataType) }
      }
      require(!nonAdditive,
        s"graft-orc: $table has live equality-delete (upsert) sidecars " +
          "keyed by column name — run GraftOrcMor.purge(spark, table) " +
          "to materialize them before renaming, dropping, or widening " +
          "columns (ADD COLUMN is always allowed)")
    }
    GraftOrcManifest.writeSnapshot(fs, qt, snap.seq + 1, snap.entries,
      snap.retain.getOrElse(GraftOrcManifest.RetainSnapshots),
      deletes = snap.deletes, op = "alter-schema", meta = Some(next),
      // a DDL touches only meta: every entry carries by identity, so a
      // 100k-file ALTER is an O(segments) commit
      carryFrom = Some(snap))
    next
  }

  /** Meta for a manifest table that predates schema persistence: current
    * inferred schema, ids assigned, version 1 (all existing files read
    * every field).
    */
  private def bootstrapMeta(conf: Configuration, table: String)
      : GraftOrcManifest.TableMeta = {
    val spark = org.apache.spark.sql.SparkSession.active
    val index = new GraftOrcFileIndex(conf, Seq(table))
    val schema =
      if (index.entries.isEmpty) new StructType()
      else graft.sources.OrcTables.inferSchema(spark, index, ignoreCorrupt = false)
    require(schema.nonEmpty,
      s"graft-orc: cannot bootstrap schema metadata for EMPTY table " +
        s"$table — write data first, or create it through the catalog")
    GraftOrcManifest.TableMeta(1L, assignIds(schema),
      index.partitionColumnNames, Map.empty)
  }
}
