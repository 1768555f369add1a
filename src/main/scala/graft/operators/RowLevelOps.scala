package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** SQL row-level mutations (DELETE / UPDATE / MERGE INTO) under the
  * driver's full hash oracle.
  *
  * The reference's directory tables are read-only (its writer is a stub,
  * src/physical_exec.rs); this connector's manifest tables support the
  * full SQL mutation surface, and these queries put that surface under
  * the same DuckDB hash-compare as every read operator: each one
  * materializes a fresh single-use manifest-table COPY of `customer`
  * under the JVM tmpdir, mutates it through a real `spark.sql` command
  * (file classification, copy-on-write rewrite, atomic snapshot commit —
  * the whole path), and returns the table's final content. The oracle is
  * the equivalent pure SELECT over the original parquet — so what gets
  * hash-checked is the MUTATION'S semantics, including SQL three-valued
  * predicate logic over a NULL-bearing column (a DELETE predicate that
  * evaluates NULL must KEEP the row; see the round-10/11 tri-state NOT
  * hazard in [[graft.sources.v2.OrcStatsEval]]).
  *
  * Scale shape: the mutated copy is small here, but every step is the
  * scale path — classification is metadata-only over manifest stat
  * sidecars, untouched files keep their identity (never rewritten), and
  * only predicate-intersecting files pay copy-on-write.
  */
object RowLevelOps {

  /** The seeded copy: (c_custkey, seg, bal) with bal NULL on every 7th
    * key, so three-valued predicate semantics are actually exercised.
    */
  private def seeded(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey"),
      col("c_mktsegment").as("seg"),
      when(col("c_custkey") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("c_acctbal")).as("bal"))

  private val seededSql =
    """SELECT c_custkey, c_mktsegment AS seg,
      |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
      |FROM customer""".stripMargin

  /** Write `src` as a fresh manifest table and register it under a
    * run-unique catalog name; returns (dir, tableName).
    */
  private def freshTable(s: SparkSession, src: DataFrame, tag: String,
                         tblProps: String = "", retain: Int = 3)
      : (String, String) = {
    val dir = TempDirs.create(s"graft-rl-$tag")
    src.repartition(4).write.format("graft-orc")
      .option("graft.manifest", "true")
      .option("graft.manifest.retain", retain.toString)
      .mode("append").save(dir)
    val name = s"g_rl_${tag}_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s.sql(s"CREATE TABLE $name USING `graft-orc` LOCATION '$dir'" +
      (if (tblProps.isEmpty) "" else s" TBLPROPERTIES($tblProps)"))
    (dir, name)
  }

  /** Final table content, path-read (independent of the catalog entry,
    * which is dropped before this plan runs).
    */
  private def finalState(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft-orc").load(dir)
      .select(col("c_custkey"), col("seg"), col("bal"))
      .orderBy(col("c_custkey"))

  // ---------------------------------------------------------- DELETE
  private def deleteDef(name: String, tag: String, tblProps: String,
                        afterDrop: (SparkSession, String) => Unit =
                          (_, _) => ()): QueryDef =
    QueryDef(name,
      (s, d) => {
        val (dir, t) = freshTable(s, seeded(s, d), tag, tblProps)
        try s.sql(s"DELETE FROM $t WHERE seg <> 'BUILDING' AND bal < 5000")
        finally s.sql(s"DROP TABLE IF EXISTS $t")
        afterDrop(s, dir)
        finalState(s, dir)
      },
      Some(s"""SELECT c_custkey, seg, bal FROM ($seededSql)
              |WHERE seg = 'BUILDING' OR bal >= 5000 OR bal IS NULL
              |ORDER BY c_custkey""".stripMargin))

  // ---------------------------------------------------------- UPDATE
  private def updateDef(name: String, tag: String,
                        tblProps: String): QueryDef =
    QueryDef(name,
      (s, d) => {
        val (dir, t) = freshTable(s, seeded(s, d), tag, tblProps)
        try s.sql(s"UPDATE $t SET seg = 'PRIME' WHERE bal > 7500")
        finally s.sql(s"DROP TABLE IF EXISTS $t")
        finalState(s, dir)
      },
      Some(s"""SELECT c_custkey,
              |  CASE WHEN bal > 7500 THEN 'PRIME' ELSE seg END AS seg, bal
              |FROM ($seededSql)
              |ORDER BY c_custkey""".stripMargin))

  // -------------------------------------------------- MERGE / UPSERT
  /** The upsert pair every MERGE and blind-upsert query applies: target
    * = even keys; source = keys divisible by 3 with a new segment and
    * doubled balance.
    */
  private def upsertSides(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val all = seeded(s, d)
    (all.filter(col("c_custkey") % 2 === 0),
      all.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), lit("MERGED").as("seg"),
          (col("bal") * 2).as("bal")))
  }

  /** Final state of any upsert of [[upsertSides]]: the FULL OUTER JOIN
    * of the two sides, source values winning on matched keys.
    */
  private val upsertOracle =
    Some(s"""WITH seeded AS ($seededSql),
            |t AS (SELECT * FROM seeded WHERE c_custkey % 2 = 0),
            |s AS (SELECT c_custkey, 'MERGED' AS seg, bal * 2 AS bal
            |      FROM seeded WHERE c_custkey % 3 = 0)
            |SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
            |  CASE WHEN s.c_custkey IS NOT NULL THEN s.seg ELSE t.seg
            |    END AS seg,
            |  CASE WHEN s.c_custkey IS NOT NULL THEN s.bal ELSE t.bal
            |    END AS bal
            |FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey
            |ORDER BY c_custkey""".stripMargin)

  private def mergeDef(name: String, tag: String,
                       tblProps: String): QueryDef =
    QueryDef(name,
      (s, d) => {
        val (target, src) = upsertSides(s, d)
        val (dir, t) = freshTable(s, target, tag, tblProps)
        val srcView = t + "_src"
        src.createOrReplaceTempView(srcView)
        try s.sql(
          s"""MERGE INTO $t t USING $srcView s
             |ON t.c_custkey = s.c_custkey
             |WHEN MATCHED THEN UPDATE SET seg = s.seg, bal = s.bal
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        finally {
          s.sql(s"DROP TABLE IF EXISTS $t")
          s.catalog.dropTempView(srcView)
        }
        finalState(s, dir)
      },
      upsertOracle)

  // ------------------------------------------------------------- CDC
  /** The three-commit change flow every CDC query reads: a MoR DELETE
    * (seq 2) and a MoR UPDATE (seq 3) run here; `changes` gets the
    * table dir and the seq-4 append, runs that append where its read
    * protocol needs it, and returns the change rows. The seq-3 UPDATE
    * reads back as the `preimage`/`postimage` change-type pair.
    */
  private def cdcDef(name: String, tag: String,
                     preimage: String, postimage: String)(
      changes: (SparkSession, String, () => Unit) => DataFrame)
      : QueryDef =
    QueryDef(name,
      (s, d) => {
        val (dir, t) = freshTable(s, seeded(s, d), tag,
          "'graft.delete_mode'='mor','graft.update_mode'='mor'",
          retain = 10)
        val appendSeq4 = () =>
          seeded(s, d).filter(col("c_custkey") % 97 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              lit("NEW").as("seg"), lit(1.0).as("bal"))
            .write.format("graft-orc").mode("append").save(dir)
        val chg =
          try {
            s.sql(s"DELETE FROM $t WHERE bal < 2000")            // seq 2
            s.sql(s"UPDATE $t SET seg = 'PRIME' WHERE bal > 7500") // seq 3
            changes(s, dir, appendSeq4)
          } finally s.sql(s"DROP TABLE IF EXISTS $t")
        chg.select(col("c_custkey"), col("seg"), col("bal"),
            col("_change_type"), col("_change_seq"))
          .orderBy(col("_change_seq"), col("_change_type"),
            col("c_custkey"))
      },
      Some(s"""WITH seeded AS ($seededSql),
              |chg AS (
              |  SELECT c_custkey, seg, bal, 'delete' AS _change_type,
              |    CAST(2 AS BIGINT) AS _change_seq
              |  FROM seeded WHERE bal < 2000
              |  UNION ALL
              |  SELECT c_custkey, seg, bal, '$preimage', CAST(3 AS BIGINT)
              |  FROM seeded WHERE bal > 7500
              |  UNION ALL
              |  SELECT c_custkey, 'PRIME', bal, '$postimage',
              |    CAST(3 AS BIGINT)
              |  FROM seeded WHERE bal > 7500
              |  UNION ALL
              |  SELECT c_custkey + 1000000, 'NEW', CAST(1.0 AS DOUBLE),
              |    'insert', CAST(4 AS BIGINT)
              |  FROM seeded WHERE c_custkey % 97 = 0)
              |SELECT * FROM chg
              |ORDER BY _change_seq, _change_type, c_custkey""".stripMargin))

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------- DELETE (CoW / MoR)
    // The predicate deletes a row only when it is TRUE: `seg <> 'X'`
    // reaches the connector as Not(EqualTo) — the exact shape of the
    // tri-state NOT hazard — and a NULL bal makes the conjunction NULL,
    // so those rows must all SURVIVE. Survivors are therefore
    // seg = 'BUILDING' OR bal >= 5000 OR bal IS NULL.
    deleteDef("rl_delete_cow", "del", ""),

    // The SAME tri-state DELETE under graft.delete_mode=mor: nothing is
    // rewritten — the commit adds position-delete sidecars and the READ
    // path subtracts them (row-wise scan, per-file sorted position sets).
    // Hash-identical final state to the CoW form is exactly the
    // merge-on-read contract. Scale shape: DELETE cost ∝ rows deleted
    // (sidecar bytes), not bytes rewritten — the right trade for sparse
    // deletes across a 100 TB table; a purge compaction later restores
    // the vectorized path.
    deleteDef("rl_delete_mor", "mord", "'graft.delete_mode'='mor'"),

    // The maintenance half of the contract: purge rewrites exactly the
    // sidecar-affected files without their deleted rows, retires every
    // sidecar in one snapshot, and the table reads vectorized again —
    // with the same hash as the un-purged MoR read.
    deleteDef("rl_delete_mor_purge", "morp", "'graft.delete_mode'='mor'",
      (s, dir) => graft.sources.v2.GraftOrcMor.purge(s, dir)),

    // ------------------------------------------------- UPDATE (CoW / MoR)
    // Group-based copy-on-write UPDATE: only files whose stat range
    // intersects the condition are replaced; a NULL bal is not > 7500,
    // so those rows keep their segment.
    updateDef("rl_update_cow", "upd", ""),

    // The SAME UPDATE as a position-DELTA (SupportsDelta,
    // graft.update_mode=mor): the plan reads ONLY the matching rows and
    // commits position-delete sidecars for their old copies plus new
    // data files holding the updated values — no pre-existing file is
    // rewritten. Hash-identical to the CoW form is the merge-on-read
    // contract; at 100 TB this turns "update 0.01% of rows" from a
    // table rewrite into work ∝ rows changed.
    updateDef("rl_update_mor", "updm", "'graft.update_mode'='mor'"),

    // --------------------------------------------- MERGE INTO (CoW / MoR)
    // Upsert: target = even keys, source = keys divisible by 3 with
    // doubled balance and a new segment. Matched rows take the source
    // values; unmatched source rows insert.
    mergeDef("rl_merge_cow", "mrg", ""),

    // The SAME upsert as a position-delta (graft.merge_mode=mor):
    // matched rows become (position-delete, insert) pairs, unmatched
    // source rows plain inserts — MERGE cost ∝ rows changed, and the
    // final state hashes identically to the CoW plan's.
    mergeDef("rl_merge_mor", "mrgm", "'graft.merge_mode'='mor'"),

    // ------------------------------------------- blind UPSERT (equality)
    // The SAME upsert as rl_merge_* but through GraftOrcEqDelete.upsert:
    // the target is NEVER read — the commit is the new rows plus one
    // equality sidecar of their keys, and readers resolve newest-wins
    // per key. Hash-identical to the MERGE plans' final state is the
    // whole contract: at 100 TB this turns CDC apply from a per-batch
    // target scan into work ∝ the batch.
    QueryDef("rl_upsert_eq",
      (s, d) => {
        val (target, src) = upsertSides(s, d)
        val (dir, t) = freshTable(s, target, "upse")
        try graft.sources.v2.GraftOrcEqDelete.upsert(s, dir, src,
          Seq("c_custkey"))
        finally s.sql(s"DROP TABLE IF EXISTS $t")
        finalState(s, dir)
      },
      upsertOracle),

    // --------------------------------- upsert x hidden partitioning
    // Blind upsert into a bucket(8, c_custkey)-partitioned table
    // (round 13): the CDC-apply path composes with the transform
    // layout — the staging derives each row's bucket directory with
    // the writer's exact murmur3, so the new versions land where the
    // scan's bucket pruning expects them, and the per-key point
    // lookups the oracle's final state implies all resolve through
    // pruned reads. Scale shape: one hash-distributed staged write +
    // one key sidecar, the target is never read; the layout keeps key
    // equality prunable afterwards (the reason to bucket a CDC target
    // at 100 TB at all).
    QueryDef("rl_upsert_hidden",
      (s, d) => {
        val (target, src) = upsertSides(s, d)
        val dir = TempDirs.create("graft-rl-upsh")
        target.repartition(4)
          .write.format("graft-orc")
          .option("graft.manifest", "true")
          .option("graft.partition_spec", "bucket(8, c_custkey)")
          .mode("append").save(dir)
        graft.sources.v2.GraftOrcEqDelete.upsert(s, dir, src,
          Seq("c_custkey"))
        finalState(s, dir)
      },
      upsertOracle),

    // ------------------------------------------------- CDC changelog
    // Row-level change feed between snapshots (GraftOrcChangelog): a MoR
    // DELETE (seq 2), a MoR UPDATE (seq 3 — delete of the old image +
    // insert of the new), then an append (seq 4), read back as the
    // table's columns + _change_type/_change_seq. The oracle constructs
    // the expected change rows from the base data directly — what gets
    // hash-checked is the reconstruction: appends as inserts, sidecars
    // as deletes, and the snapshot attribution. Scale shape: each
    // snapshot's changes are read from only the files that snapshot
    // touched — the changelog never scans the table.
    cdcDef("rl_cdc_changelog", "cdc", "delete", "insert") {
      (s, dir, appendSeq4) =>
        appendSeq4()
        graft.sources.v2.GraftOrcChangelog.between(s, dir, 1L)
    },

    // --------------------------------------- CDC changelog, update-paired
    // The SAME flow read through betweenPaired keyed on c_custkey (a
    // table can persist its identity via TBLPROPERTIES graft.key — see
    // GraftOrcChangelogSpec for that path): the seq-3
    // UPDATE's delete+insert images relabel as
    // update_preimage/update_postimage (one delete + one insert per
    // key), while the seq-2 pure deletes and seq-4 pure appends keep
    // their raw vocabulary. The oracle constructs the paired rows
    // directly — what gets hash-checked is the pairing rule itself.
    cdcDef("rl_cdc_changelog_upd", "cdcu",
        "update_preimage", "update_postimage") {
      (s, dir, appendSeq4) =>
        appendSeq4()
        graft.sources.v2.GraftOrcChangelog
          .betweenPaired(s, dir, 1L, keys = Seq("c_custkey"))
    },

    // ------------------------------------------------ CDC change FEED
    // The checkpointed consumption loop (GraftOrcChangelog.feed): two
    // polls — the first covers the DELETE+UPDATE snapshots and commits
    // its checkpoint, the second covers only the later append — and
    // their union must equal the full paired changelog. What gets
    // hash-checked is the checkpoint arithmetic: no change delivered
    // twice, none skipped, across independent polls.
    cdcDef("rl_cdc_feed", "cdcf", "update_preimage", "update_postimage") {
      (s, dir, appendSeq4) =>
        // the frames never read the checkpoint (only feed() does)
        val ckptDir = TempDirs.create("graft-feed")
        val ckpt = ckptDir + "/seq"
        try {
          val f1 = graft.sources.v2.GraftOrcChangelog.feed(
            s, dir, ckpt, pairKeys = Seq("c_custkey"),
            initialSeq = 1L).get
          f1.commit()
          appendSeq4()
          val f2 = graft.sources.v2.GraftOrcChangelog.feed(
            s, dir, ckpt, pairKeys = Seq("c_custkey")).get
          f2.commit()
          f1.df.unionByName(f2.df)
        } finally TempDirs.remove(ckptDir)
    },

    // ------------------------------------- write-audit-publish (branch)
    // The WAP loop under the hash oracle: fork an `ingest` branch, stage
    // an append THERE (`graft.branch` write), audit it with a real query
    // while main provably still reads the pre-publish state, then
    // fastForward — one atomic main commit carrying the audited batch.
    // What gets hash-checked is the composition: isolation before
    // publish + exactly-the-branch-state after. Scale shape: the fork is
    // one snapshot copy (metadata only), branch commits cost what an
    // append costs, the audit prices as any read, and publish is ONE
    // snapshot write regardless of staged bytes — no data moves at any
    // step.
    QueryDef("rl_wap_publish",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        import graft.sources.v2.GraftOrcManifest
        val (dir, t) = freshTable(s, seeded(s, d), "wap")
        try {
          val conf = s.sparkContext.hadoopConfiguration
          val fs = new Path(dir).getFileSystem(conf)
          GraftOrcManifest.createBranch(fs, new Path(dir), "ingest")
          seeded(s, d).filter(col("c_custkey") % 5 === 0)
            .select((col("c_custkey") + 500000).as("c_custkey"),
              lit("STAGED").as("seg"), (col("bal") / 2).as("bal"))
            .repartition(2)
            .write.format("graft-orc").option("graft.branch", "ingest")
            .mode("append").save(dir)
          // audit on the branch; main must still read pre-publish state
          val staged = s.read.format("graft-orc")
            .option("graft.branch", "ingest").load(dir)
            .filter(col("seg") === "STAGED").count()
          require(staged > 0, "audit read must see the staged batch")
          val liveBefore = s.read.format("graft-orc").load(dir)
            .filter(col("seg") === "STAGED").count()
          require(liveBefore == 0,
            "staged rows leaked to main before publish")
          GraftOrcManifest.fastForward(conf, dir, "ingest")
        } finally s.sql(s"DROP TABLE IF EXISTS $t")
        finalState(s, dir)
      },
      Some(s"""WITH seeded AS ($seededSql)
              |SELECT c_custkey, seg, bal FROM seeded
              |UNION ALL
              |SELECT c_custkey + 500000, 'STAGED', bal / 2
              |FROM seeded WHERE c_custkey % 5 = 0
              |ORDER BY c_custkey""".stripMargin)))
}
