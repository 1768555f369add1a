package graft.sources.v2

import java.util.{Iterator => JIterator}

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-maintenance stored procedures (`ProcedureCatalog`), the SQL
  * face of the lakehouse housekeeping machinery:
  *
  * {{{
  *   CALL gcat.system.compact(table => 'db.t', zorder_by => 'a,b')
  *   CALL gcat.system.purge_deletes('db.t')    -- retire MoR sidecars
  *   CALL gcat.system.vacuum('db.t')           -- remove orphan files
  *   CALL gcat.system.expire_snapshots('db.t', retain => 5)
  *   CALL gcat.system.rollback('db.t', version => 3)
  *   CALL gcat.system.create_tag('db.t', 'v1')
  *   CALL gcat.system.drop_tag('db.t', 'v1')
  *   CALL gcat.system.repair('db.t')           -- heal crashed compacts
  * }}}
  *
  * The reference ships its maintenance knobs as binary flags
  * (/root/reference/src/bin/tpcds_bench.rs:277-295); a lakehouse table
  * needs them at SQL level so schedulers and operators can run
  * housekeeping without linking the library. Iceberg's
  * `CALL cat.system.*` procedures are the public vocabulary; each body
  * here delegates to the already-proven primitive (compact / purge /
  * vacuum / rollback / tags / retention), so the procedure layer adds
  * parsing and receipts, never new commit semantics.
  *
  * `table` accepts a catalog identifier (`db.t`) or — containing `/` — a
  * raw directory path, so path tables (no catalog) get the same
  * maintenance surface. Procedures resolve in any namespace of the
  * catalog (catalog-global, like [[GraftOrcFunctions]]); `system` is the
  * documented convention. Every procedure returns a one-row receipt, the
  * scheduler-facing contract: counts a cron job can alert on, priced at
  * driver-side metadata cost only.
  *
  * Scale shape: all bodies are snapshot/metadata work plus the
  * already-bounded data jobs of the primitive they call — `compact`
  * stripe-copies (never decodes) per bin, `purge_deletes` rewrites only
  * sidecar-affected files, `vacuum` is one manifest-blind listing diffed
  * against retained state, and `expire_snapshots`/`rollback`/tags are
  * single snapshot commits regardless of table size.
  */
object GraftOrcProcedures {

  /** name -> (builder taking the table-path resolver). */
  private[v2] def all(resolve: String => String)
      : Map[String, UnboundProcedure] = Seq(

    proc("compact",
      "bin-pack small files (stripe-copy merge); optional z-order " +
        "rewrite",
      Array(
        in("table", StringType),
        inDef("target_mb", IntegerType, "128"),
        inDef("small_file_mb", IntegerType, "32"),
        inDef("zorder_by", StringType, "CAST(NULL AS STRING)")),
      StructType(Seq(
        StructField("files_compacted", IntegerType),
        StructField("files_written", IntegerType),
        StructField("bins", IntegerType),
        StructField("bytes_compacted", LongType)))) { (spark, args) =>
      val table = resolve(str(args, 0))
      val zorder = if (args.isNullAt(3)) Nil
        else str(args, 3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val st = GraftOrcCompact.compact(spark, table,
        targetBytes = args.getInt(1).toLong << 20,
        smallFileBytes = args.getInt(2).toLong << 20,
        zorderCols = zorder)
      row(st.filesCompacted, st.filesOut, st.bins, st.bytesCompacted)
    },

    proc("purge_deletes",
      "rewrite files under live MoR delete sidecars and retire the " +
        "sidecars (restores the vectorized read path)",
      Array(in("table", StringType)),
      StructType(Seq(StructField("files_rewritten", IntegerType)))) {
      (spark, args) =>
        row(GraftOrcMor.purge(spark, resolve(str(args, 0))))
    },

    proc("consolidate_deletes",
      "union all live position-delete sidecars into " +
        "minimal deletion vectors — pure metadata + sidecar bytes, no " +
        "data rewritten; the cheap step between purges",
      Array(in("table", StringType)),
      StructType(Seq(
        StructField("sidecars_retired", IntegerType),
        StructField("sidecars_written", IntegerType)))) { (spark, args) =>
      val (retired, written) =
        GraftOrcMor.consolidate(spark, resolve(str(args, 0)))
      row(retired, written)
    },

    proc("vacuum",
      "physically delete files no lineage references (crashed " +
        "commits, lost races, dropped branches); older_than spares " +
        "another driver's in-flight staged files",
      Array(
        in("table", StringType),
        inDef("older_than", TimestampType, "CAST(NULL AS TIMESTAMP)")),
      StructType(Seq(StructField("orphans_deleted", IntegerType)))) {
      (spark, args) =>
        val cutoff =
          if (args.isNullAt(1)) Long.MaxValue else args.getLong(1) / 1000L
        row(GraftOrcManifest.vacuum(
          spark.sparkContext.hadoopConfiguration, resolve(str(args, 0)),
          cutoff))
    },

    proc("repair",
      "finish or roll back compaction groups interrupted mid-publish",
      Array(in("table", StringType)),
      StructType(Seq(StructField("groups_healed", IntegerType)))) {
      (spark, args) =>
        row(GraftOrcCompact.repair(spark, resolve(str(args, 0))))
    },

    proc("rollback",
      "restore a retained snapshot's contents (and schema) as a NEW " +
        "commit; history stays time-travelable",
      Array(in("table", StringType), in("version", LongType)),
      StructType(Seq(
        StructField("previous_version", LongType),
        StructField("current_version", LongType)))) { (spark, args) =>
      val table = resolve(str(args, 0))
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(table)
      val fs = p.getFileSystem(conf)
      val before = currentSeq(fs, p)
      GraftOrcManifest.rollback(conf, table, args.getLong(1))
      row(before, currentSeq(fs, p))
    },

    proc("expire_snapshots",
      "count-based: set the retention depth (a policy commit) and " +
        "expire beyond it; older_than: sweep snapshots committed " +
        "before the timestamp, no new commit (with branch: sweep that " +
        "branch's lineage — its max-age knob). Tagged snapshots and " +
        "other-lineage-referenced files stay pinned either way",
      Array(
        in("table", StringType),
        inDef("retain", IntegerType, "3"),
        inDef("older_than", TimestampType, "CAST(NULL AS TIMESTAMP)"),
        inDef("branch", StringType, "CAST(NULL AS STRING)")),
      StructType(Seq(
        StructField("expired", IntegerType),
        StructField("remaining", IntegerType),
        StructField("current_version", LongType)))) { (spark, args) =>
      val table = resolve(str(args, 0))
      val p = new Path(table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val branch = if (args.isNullAt(3)) None else Some(str(args, 3))
      require(branch.isEmpty || !args.isNullAt(2),
        "graft-orc: expire_snapshots(branch => ...) is the time-based " +
          "sweep — pass older_than (the count policy is per-commit: " +
          "pin it at create_branch with retain)")
      val countBefore = GraftOrcManifest.listSnapshots(fs, p, branch)
        .map(_.size).getOrElse(0)
      if (!args.isNullAt(2)) {
        // Spark hands TIMESTAMP as epoch micros
        val n = GraftOrcManifest.expireOlderThan(fs, p,
          args.getLong(2) / 1000L, branch)
        row(n, countBefore - n,
          GraftOrcManifest.readSnapshot(fs, p, branch)
            .map(_.seq).getOrElse(0L))
      } else {
        val retain = args.getInt(1)
        require(retain >= 1,
          s"graft-orc: expire_snapshots retain must be >= 1, got " +
            retain)
        // a no-change commit carrying the new PERSISTED retention: the
        // commit's own expiry pass trims history beyond it, and every
        // later commit inherits the policy from the snapshot header
        GraftOrcManifest.commitSwap(fs, p, remove = Set.empty, add = Nil,
          retain = Some(retain), op = "expire")
        val after = GraftOrcManifest.listSnapshots(fs, p)
          .map(_.size).getOrElse(0)
        // the policy commit itself joins the history it just trimmed
        row(countBefore + 1 - after, after, currentSeq(fs, p))
      }
    },

    proc("set_partition_spec",
      "partition-spec EVOLUTION: replace the table's transform spec as " +
        "one metadata commit — existing files keep pruning by their own " +
        "layout, new writes use the new one (no rewrite); identity " +
        "fields cannot change",
      Array(
        in("table", StringType),
        in("spec", StringType)),
      StructType(Seq(
        StructField("spec", StringType),
        StructField("schema_version", LongType)))) { (spark, args) =>
      val table = resolve(str(args, 0))
      val meta = GraftOrcSchema.setPartitionSpec(
        spark.sparkContext.hadoopConfiguration, table, str(args, 1))
      row(UTF8String.fromString(GraftOrcPartitionSpec
          .parseCanonical(meta.parts).map(_.describe).mkString(", ")),
        meta.schemaV)
    },

    proc("create_tag",
      "pin a retained snapshot under a name, exempt from expiry until " +
        "dropped (reproducible-run handle)",
      Array(
        in("table", StringType),
        in("tag", StringType),
        inDef("version", LongType, "CAST(NULL AS BIGINT)")),
      StructType(Seq(
        StructField("tag", StringType),
        StructField("version", LongType)))) { (spark, args) =>
      val table = resolve(str(args, 0))
      val p = new Path(table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val seq =
        if (args.isNullAt(2)) currentSeq(fs, p) else args.getLong(2)
      GraftOrcManifest.createTag(fs, p, str(args, 1), seq)
      row(UTF8String.fromString(str(args, 1)), seq)
    },

    proc("drop_tag",
      "drop a snapshot tag; the snapshot re-enters ordinary retention",
      Array(in("table", StringType), in("tag", StringType)),
      StructType(Seq(StructField("existed", BooleanType)))) {
      (spark, args) =>
        val p = new Path(resolve(str(args, 0)))
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        row(GraftOrcManifest.dropTag(fs, p, str(args, 1)))
    },

    proc("create_branch",
      "fork a branch lineage from the current (or given) snapshot — " +
        "the write-audit-publish staging target; retain pins a " +
        "PER-BRANCH retention depth (a long-lived audit branch under " +
        "an aggressive main policy)",
      Array(
        in("table", StringType),
        in("branch", StringType),
        inDef("version", LongType, "CAST(NULL AS BIGINT)"),
        inDef("retain", IntegerType, "CAST(NULL AS INT)")),
      StructType(Seq(
        StructField("branch", StringType),
        StructField("fork_version", LongType)))) { (spark, args) =>
      val p = new Path(resolve(str(args, 0)))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val from = if (args.isNullAt(2)) None
        else Some(GraftOrcManifest.Selector.ById(args.getLong(2)))
      val retain = if (args.isNullAt(3)) None else Some(args.getInt(3))
      val seq = GraftOrcManifest.createBranch(fs, p, str(args, 1), from,
        retain)
      row(UTF8String.fromString(str(args, 1)), seq)
    },

    proc("drop_branch",
      "drop a branch lineage; its unpublished files become vacuumable",
      Array(in("table", StringType), in("branch", StringType)),
      StructType(Seq(StructField("existed", BooleanType)))) {
      (spark, args) =>
        val p = new Path(resolve(str(args, 0)))
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        row(GraftOrcManifest.dropBranch(fs, p, str(args, 1)))
    },

    proc("fast_forward",
      "publish a branch head as main's next commit and drop the " +
        "branch; typed error when main diverged past the fork point",
      Array(in("table", StringType), in("branch", StringType)),
      StructType(Seq(
        StructField("fork_version", LongType),
        StructField("published_version", LongType)))) { (spark, args) =>
      val (base, pub) = GraftOrcManifest.fastForward(
        spark.sparkContext.hadoopConfiguration,
        resolve(str(args, 0)), str(args, 1))
      // the published head carries every position sidecar the branch's
      // DML staged (branch commits deliberately skip auto-consolidation)
      // — they are MAIN-lineage state now, so run the same property-
      // gated consolidation any main delete commit runs; without this
      // the sidecar count a long DML-heavy branch accumulated would sit
      // unbounded on main until its NEXT delete
      val p = new Path(resolve(str(args, 0)))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the publish + dropBranch above already COMMITTED: housekeeping
      // must never fail the CALL after the fact (a retry would then hit
      // 'no branch' and read as a failed publish) — same never-fail-the-
      // commit posture as writeSnapshot's expiry
      try GraftOrcMor.maybeAutoConsolidate(spark, fs, fs.makeQualified(p))
      catch { case scala.util.control.NonFatal(_) => }
      row(base, pub)
    },

    proc("cherry_pick",
      "publish a branch's net additions onto the CURRENT main state " +
        "(divergence-tolerant publish of an append-only branch)",
      Array(in("table", StringType), in("branch", StringType)),
      StructType(Seq(
        StructField("published_version", LongType),
        StructField("files_added", IntegerType)))) { (spark, args) =>
      val (pub, n) = GraftOrcManifest.cherryPick(
        spark.sparkContext.hadoopConfiguration,
        resolve(str(args, 0)), str(args, 1))
      row(pub, n)
    }

  ).map(u => u.name() -> u).toMap

  // ---- plumbing --------------------------------------------------------

  private def currentSeq(fs: org.apache.hadoop.fs.FileSystem,
                         table: Path): Long =
    GraftOrcManifest.readSnapshot(fs, fs.makeQualified(table))
      .map(_.seq).getOrElse(throw new IllegalArgumentException(
        s"graft-orc: $table is not a manifest table"))

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def inDef(name: String, dt: DataType,
                    default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def str(args: InternalRow, i: Int): String =
    args.getUTF8String(i).toString

  private def row(values: Any*): Array[InternalRow] =
    Array(new GenericInternalRow(values.toArray))

  private def proc(procName: String, desc: String,
                   params: Array[ProcedureParameter], out: StructType)(
      body: (SparkSession, InternalRow) => Array[InternalRow])
      : UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params
      // side-effecting: never cache/reuse a call's result plan
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): JIterator[Scan] = {
        val receipt = body(SparkSession.active, input)
        java.util.Collections.singletonList[Scan](new LocalScan {
          override def readSchema(): StructType = out
          override def rows(): Array[InternalRow] = receipt
        }).iterator()
      }
    }
}
