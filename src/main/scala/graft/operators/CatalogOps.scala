package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Schema evolution + the graft-orc `TableCatalog`, under the driver's
  * full hash oracle.
  *
  * `ev_schema_evolution` drives the [[graft.sources.v2.GraftOrcSchema]]
  * DDL surface against a fresh manifest-table copy of `customer`:
  * rename / widen / add as METADATA-ONLY snapshot commits, an append
  * under the evolved schema, and a final read that must resolve every
  * pre-DDL file per its own schema version (renames follow the data,
  * widened columns decode through ORC conversion, added columns
  * null-fill). `cat_sql_pipeline` runs the same class of flow end-to-end
  * through pure SQL against the catalog (`CREATE TABLE` → `INSERT` →
  * `DELETE` → `ALTER` → `INSERT` → `UPDATE` → final `SELECT`) — what
  * gets hash-checked is the composition of every mutation's semantics.
  *
  * Scale shape: every DDL is one snapshot write regardless of table
  * size (no data touched); the post-DDL read path translates names
  * per-file from metadata already in the snapshot — zero extra I/O.
  */
object CatalogOps {

  /** Seed: (c_custkey, seg, bal, score) — an int score column so the
    * int->bigint widening is actually exercised.
    */
  private def seeded(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey"),
      col("c_mktsegment").as("seg"),
      col("c_acctbal").as("bal"),
      (col("c_custkey") % 100).cast("int").as("score"))

  private def freshDir(tag: String): String =
    TempDirs.create(s"graft-cat-$tag")

  /** One warehouse per JVM (Spark caches catalog instances with their
    * init-time options, so the warehouse cannot rotate per query);
    * per-invocation uniqueness comes from the table names.
    */
  private lazy val warehouse: String = freshDir("wh")

  private def catalogName(s: SparkSession): String = {
    s.conf.set("spark.sql.catalog.gverify",
      "graft.sources.v2.GraftOrcCatalog")
    s.conf.set("spark.sql.catalog.gverify.warehouse", warehouse)
    "gverify"
  }

  private def uniq(tag: String): String =
    tag + "_" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------- schema evolution (API)
    // rename seg->segment, widen score int->bigint, add bonus — three
    // metadata-only commits — then an append WITH bonus, then one read
    // spanning pre-DDL files (old physical names, narrow score, no
    // bonus column) and the post-DDL file. The oracle reconstructs the
    // same final state from the parquet source.
    QueryDef("ev_schema_evolution",
      (s, d) => {
        import graft.sources.v2.GraftOrcSchema
        val dir = freshDir("evo")
        seeded(s, d).repartition(4).write.format("graft-orc")
          .option("graft.manifest", "true").mode("append").save(dir)
        val conf = s.sparkContext.hadoopConfiguration
        GraftOrcSchema.alter(conf, dir)(
          GraftOrcSchema.renameColumn(_, "seg", "segment"))
        GraftOrcSchema.alter(conf, dir)(
          GraftOrcSchema.widenColumn(_, "score",
            org.apache.spark.sql.types.LongType))
        GraftOrcSchema.alter(conf, dir)(
          GraftOrcSchema.addColumn(_, "bonus",
            org.apache.spark.sql.types.DoubleType))
        // POSITIONED add (round 13): gen lands FIRST in the presented
        // order — purely metadata, old files null-fill it like any add
        GraftOrcSchema.alter(conf, dir)(
          GraftOrcSchema.addColumn(_, "gen",
            org.apache.spark.sql.types.LongType, at = Some(0)))
        seeded(s, d).filter(col("c_custkey") % 10 === 0)
          .select((col("c_custkey") + 2000000).as("c_custkey"),
            lit("EVOLVED").as("segment"), col("bal"),
            col("score").cast("bigint").as("score"),
            (col("bal") / 10).as("bonus"), lit(2L).as("gen"))
          .repartition(2)
          .write.format("graft-orc").mode("append").save(dir)
        val back = s.read.format("graft-orc").load(dir)
        require(back.schema.fieldNames.head == "gen",
          s"positioned add must lead the presented order, got " +
            back.schema.fieldNames.mkString(","))
        back.select(col("c_custkey"), col("segment"), col("bal"),
            col("score"), col("bonus"), col("gen"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH seeded AS (
             |  SELECT c_custkey, c_mktsegment AS segment,
             |    c_acctbal AS bal,
             |    CAST(c_custkey % 100 AS BIGINT) AS score
             |  FROM customer)
             |SELECT c_custkey, segment, bal, score,
             |  CAST(NULL AS DOUBLE) AS bonus,
             |  CAST(NULL AS BIGINT) AS gen FROM seeded
             |UNION ALL
             |SELECT c_custkey + 2000000, 'EVOLVED', bal, score,
             |  bal / 10 AS bonus, CAST(2 AS BIGINT) AS gen
             |FROM seeded WHERE c_custkey % 10 = 0
             |ORDER BY c_custkey""".stripMargin)),

    // -------------------------------- write-path schema evolution (merge)
    // Delta mergeSchema / Iceberg merge-schema shape on the WRITE path:
    // the second crawl generation arrives WIDER (a provenance column and
    // a quality score) and `graft.merge_schema=true` evolves the table
    // as ONE field-ID metadata commit instead of erroring — old files
    // null-fill the new columns at read, nothing is rewritten. This is
    // the first thing a pipeline operator hits in production (a crawler
    // adds a field); without it every schema drift is a manual DDL.
    // Scale shape: the evolution cost is one snapshot write at any
    // table size; the append itself is a plain append.
    QueryDef("ev_write_schema_merge",
      (s, d) => {
        val dir = freshDir("wsm")
        val base = Tables.customer(s, d).select(
          col("c_custkey"), col("c_mktsegment").as("seg"),
          col("c_acctbal").as("bal"))
        base.repartition(4).write.format("graft-orc")
          .option("graft.manifest", "true").mode("append").save(dir)
        base.filter(col("c_custkey") % 5 === 0)
          .select((col("c_custkey") + 3000000).as("c_custkey"),
            lit("MERGED").as("seg"), col("bal"),
            lit("crawl2").as("src"), (col("bal") / 100).as("q"))
          .repartition(2).write.format("graft-orc")
          .option("graft.merge_schema", "true").mode("append").save(dir)
        s.read.format("graft-orc").load(dir)
          .select(col("c_custkey"), col("seg"), col("bal"),
            col("src"), col("q"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH seeded AS (
             |  SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
             |  FROM customer)
             |SELECT c_custkey, seg, bal, CAST(NULL AS VARCHAR) AS src,
             |  CAST(NULL AS DOUBLE) AS q FROM seeded
             |UNION ALL
             |SELECT c_custkey + 3000000, 'MERGED', bal, 'crawl2',
             |  bal / 100 FROM seeded WHERE c_custkey % 5 = 0
             |ORDER BY c_custkey""".stripMargin)),

    // --------------------------- MERGE INTO schema evolution (round 14)
    // Spark 4's `MERGE ... WITH SCHEMA EVOLUTION` surface on the
    // merge-on-read DELTA path: the CDC batch arrives carrying a NEW
    // provenance column, the analyzer routes it through
    // GraftOrcCatalog.alterTable as ONE ADD COLUMN metadata commit
    // (the table reports AUTOMATIC_SCHEMA_EVOLUTION), and the MERGE
    // then runs under the evolved schema — matched rows update in
    // place (position delete + re-insert), unmatched rows insert, and
    // every untouched pre-evolution row null-fills the new column via
    // field-ID resolution. This is the CDC twin of
    // ev_write_schema_merge's plain-append evolution: a crawler adds a
    // field and the upsert pipeline keeps flowing with zero manual DDL
    // and zero data rewritten for the evolution itself. Scale shape:
    // the evolution is one snapshot write at any table size; the MERGE
    // itself pays the delta plan (rows changed, not bytes they sit in).
    QueryDef("ev_merge_schema_dml",
      (s, d) => {
        val cat = catalogName(s)
        val t = uniq("msd")
        val qt = s"$cat.default.$t"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val srcView = uniq("msd_src")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            col("c_acctbal").as("bal"))
          .createOrReplaceTempView(srcView)
        s.sql(s"CREATE TABLE $qt (c_custkey BIGINT, seg STRING, " +
          "bal DOUBLE) TBLPROPERTIES('graft.merge_mode'='mor')")
        try {
          s.sql(s"INSERT INTO $qt SELECT /*+ REPARTITION(4) */ * " +
            s"FROM $srcView")
          s.sql(
            s"""MERGE WITH SCHEMA EVOLUTION INTO $qt t
               |USING (SELECT c_custkey, seg, bal, 'gen2' AS src
               |       FROM $srcView WHERE c_custkey % 7 = 0
               |       UNION ALL
               |       SELECT c_custkey + 4000000, 'NEWDOC', bal, 'gen2'
               |       FROM $srcView WHERE c_custkey % 50 = 0) s
               |ON t.c_custkey = s.c_custkey
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          s.sql(s"SELECT c_custkey, seg, bal, src FROM $qt " +
            "ORDER BY c_custkey")
        } finally s.catalog.dropTempView(srcView)
      },
      Some("""WITH seeded AS (
             |  SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
             |  FROM customer)
             |SELECT c_custkey, seg, bal,
             |  CASE WHEN c_custkey % 7 = 0 THEN 'gen2'
             |       ELSE CAST(NULL AS VARCHAR) END AS src
             |FROM seeded
             |UNION ALL
             |SELECT c_custkey + 4000000, 'NEWDOC', bal, 'gen2'
             |FROM seeded WHERE c_custkey % 50 = 0
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------- partition-spec evolution (API)
    // Iceberg partition evolution: half of orders lands under
    // bucket(4, o_custkey); ONE metadata commit re-specs the table to
    // bucket(8, o_custkey) + years(o_orderdate); the other half lands
    // under the new layout. The final read filters on the raw source
    // columns across BOTH generations — old files prune by their own
    // bucket(4) dirs (and are never pruned by the year field they
    // predate), new files by bucket(8) x year. No data was rewritten
    // at any point; at 100 TB this is how a table re-partitions as it
    // grows without a multi-day rewrite job. years(), not days():
    // time granularity must match row density (~30 rows/day here — a
    // days() layout would make one near-empty file per directory, the
    // small-files antipattern partitioning guides warn about; years()
    // keeps ~1.3k rows per file at this scale factor)
    // (GraftOrcSpecEvolutionSpec pins the per-generation planned file
    // counts; this entry pins the results under the oracle).
    QueryDef("ev_partition_evolution",
      (s, d) => {
        import graft.sources.v2.GraftOrcSchema
        val dir = freshDir("pevo")
        val o = Tables.orders(s, d).select(col("o_orderkey"),
          col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        o.filter(col("o_orderkey") % 2 === 0).repartition(2)
          .write.format("graft-orc").option("graft.manifest", "true")
          .option("graft.partition_spec", "bucket(4, o_custkey)")
          .mode("append").save(dir)
        GraftOrcSchema.setPartitionSpec(
          s.sparkContext.hadoopConfiguration, dir,
          "bucket(8, o_custkey), years(o_orderdate)")
        // transform writes auto-sort by their source columns, so each
        // task emits year runs under the open-writer cap
        o.filter(col("o_orderkey") % 2 === 1).repartition(2)
          .write.format("graft-orc").mode("append").save(dir)
        s.read.format("graft-orc").load(dir)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01") &&
            col("o_custkey") % 10 === 7)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |  AND o_custkey % 10 = 7
             |ORDER BY o_orderkey""".stripMargin)),

    // ---------------------------------------------- catalog SQL (DDL+DML)
    // The whole lakehouse loop in pure SQL against the catalog. DELETE
    // runs BEFORE the rename (classification under the original name),
    // UPDATE after (predicate + assignment under the evolved schema,
    // old and new files mixed).
    QueryDef("cat_sql_pipeline",
      (s, d) => {
        val cat = catalogName(s)
        val t = s"$cat.default.${uniq("pipe")}"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val srcView = uniq("cust_src")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"),
            col("c_acctbal").as("bal"))
          .createOrReplaceTempView(srcView)
        s.sql(s"CREATE TABLE $t (c_custkey BIGINT, segment STRING, " +
          "bal DOUBLE)")
        try {
          s.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(4) */ * " +
            s"FROM $srcView")
          s.sql(s"DELETE FROM $t WHERE bal < 1000")
          s.sql(s"ALTER TABLE $t RENAME COLUMN segment TO seg")
          s.sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
          s.sql(s"INSERT INTO $t SELECT c_custkey + 3000000, 'NEW', " +
            s"bal, 'tagged' FROM $srcView WHERE c_custkey % 50 = 0")
          s.sql(s"UPDATE $t SET tag = 'hot' WHERE bal > 9000")
          // the table is NOT dropped: the returned plan executes lazily
          // (and possibly repeatedly, under bench iterations) against
          // the resolved path — run-unique names + the JVM-exit sweep
          // of the warehouse handle cleanup
          s.sql(s"SELECT c_custkey, seg, bal, tag FROM $t " +
            "ORDER BY c_custkey")
        } finally s.catalog.dropTempView(srcView)
      },
      Some("""WITH src AS (
             |  SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
             |  FROM customer),
             |survivors AS (
             |  SELECT c_custkey, seg, bal, CAST(NULL AS STRING) AS tag
             |  FROM src WHERE bal >= 1000
             |  UNION ALL
             |  SELECT c_custkey + 3000000, 'NEW', bal, 'tagged'
             |  FROM src WHERE c_custkey % 50 = 0)
             |SELECT c_custkey, seg, bal,
             |  CASE WHEN bal > 9000 THEN 'hot' ELSE tag END AS tag
             |FROM survivors
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------ atomic CTAS/RTAS
    // StagingTableCatalog end-to-end under the hash oracle: a CTAS
    // (staged invisible build + one-rename publish), then a REPLACE
    // TABLE AS SELECT over it (staged data moved in + ONE truncate
    // snapshot swapping contents and schema), then the final read. The
    // oracle reconstructs the post-replace state straight from the
    // source — what gets hash-checked is that the two staged commits
    // compose to exactly the declared result. Scale shape: the publish
    // is one rename / one snapshot write regardless of data size, and a
    // failure at ANY point leaves either the old table or no table —
    // never a half-written one.
    QueryDef("cat_ctas",
      (s, d) => {
        val cat = catalogName(s)
        val t = s"$cat.default.${uniq("ctas")}"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val srcView = uniq("ctas_src")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            col("c_acctbal").as("bal"))
          .createOrReplaceTempView(srcView)
        try {
          s.sql(s"CREATE TABLE $t AS SELECT /*+ REPARTITION(4) */ " +
            s"c_custkey, seg, bal FROM $srcView WHERE bal >= 0")
          // decimal-sum convention (see Relational.dsum): double sums
          // disagree across engines on addition order
          s.sql(s"REPLACE TABLE $t AS " +
            s"SELECT seg, count(*) AS n, CAST(sum(CAST(bal AS " +
            s"DECIMAL(18,2))) AS DOUBLE) AS total FROM $t GROUP BY seg")
          s.sql(s"SELECT seg, n, total FROM $t ORDER BY seg")
        } finally s.catalog.dropTempView(srcView)
      },
      Some("""WITH src AS (
             |  SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
             |  FROM customer WHERE c_acctbal >= 0)
             |SELECT seg, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM src GROUP BY seg
             |ORDER BY seg""".stripMargin)),

    // ----------------------------------------------- catalog functions
    // The FunctionCatalog surface under the hash oracle: pure SQL calls
    // cat.default.graft_cosine over the embeddings pairs (bounded id
    // range like dd_embed_cosine) — what gets checked is that the
    // catalog-resolved kernel computes the same pair set as DuckDB's
    // list_cosine_similarity. The threshold sits far from any pair's
    // score, so float-vs-double cannot flip membership.
    QueryDef("cat_fn_cosine",
      (s, d) => {
        val cat = catalogName(s)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val v = uniq("emb")
        Tables.embeddings(s, d).filter(col("vec_id") < 1000)
          .createOrReplaceTempView(v)
        try s.sql(
          s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id
             |FROM $v a JOIN $v b ON a.vec_id < b.vec_id
             |WHERE $cat.default.graft_cosine(a.embedding, b.embedding)
             |  >= 0.45
             |ORDER BY a_id, b_id""".stripMargin)
        finally { /* temp view swept with the session */ }
      },
      Some("""SELECT a.vec_id AS a_id, b.vec_id AS b_id
             |FROM embeddings a, embeddings b
             |WHERE a.vec_id < 1000 AND b.vec_id < 1000
             |  AND a.vec_id < b.vec_id
             |  AND list_cosine_similarity(a.embedding, b.embedding)
             |      >= 0.45
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---------------------------------------- partitions metadata table
    // `t.partitions` answered purely from manifest state: per-partition
    // row counts come from the per-file stat sidecars — the oracle is
    // the full GROUP BY over the source, so what gets hash-checked is
    // that a ZERO-data-read metadata query equals the real aggregation.
    // At 100 TB this is "which partitions are skewed/missing" priced as
    // one log read instead of a table scan.
    QueryDef("q104_partitions_metadata",
      (s, d) => {
        val dir = freshDir("pmeta")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_acctbal").as("bal"),
            col("c_mktsegment").as("seg"))
          .repartition(4).write.format("graft-orc")
          .option("graft.manifest", "true")
          .partitionBy("seg").mode("append").save(dir)
        graft.sources.v2.GraftOrcMetadata.partitions(s, dir)
          .select(col("seg"), col("row_count"))
          .orderBy(col("seg"))
      },
      Some("""SELECT c_mktsegment AS seg,
             |  CAST(COUNT(*) AS BIGINT) AS row_count
             |FROM customer GROUP BY c_mktsegment
             |ORDER BY seg""".stripMargin)),

    // ------------------------------------------------ snapshot tag pin
    // Reproducibility contract under the hash oracle: tag the pristine
    // snapshot, run destructive mutations (a DELETE and an append),
    // then read THROUGH THE TAG — the result must hash-equal the
    // original source even though the live table moved on, and even
    // though retention would have expired the snapshot without the
    // tag. This is "pin the corpus a training run used".
    QueryDef("rl_snapshot_tag",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        val dir = freshDir("tagpin")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            col("c_acctbal").as("bal"))
          .repartition(4).write.format("graft-orc")
          .option("graft.manifest", "true")
          .option("graft.manifest.retain", "1")
          .mode("append").save(dir)                               // seq 1
        val fs = new Path(dir).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        graft.sources.v2.GraftOrcManifest.createTag(
          fs, new Path(dir), "pristine", 1L)
        val t = "g_tagpin_" + java.util.UUID.randomUUID().toString
          .replace("-", "").take(8)
        s.sql(s"CREATE TABLE $t USING `graft-orc` LOCATION '$dir'")
        try {
          s.sql(s"DELETE FROM $t WHERE bal < 5000")               // seq 2
          Tables.customer(s, d).limit(10)
            .select((col("c_custkey") + 900000).as("c_custkey"),
              lit("X").as("seg"), lit(0.0).as("bal"))
            .write.format("graft-orc").mode("append").save(dir)   // seq 3
        } finally s.sql(s"DROP TABLE IF EXISTS $t")
        s.read.format("graft-orc").option("graft.tag", "pristine")
          .load(dir)
          .select(col("c_custkey"), col("seg"), col("bal"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // -------------------------------------- maintenance procedures (SQL)
    // The ProcedureCatalog surface under the hash oracle: a merge-on-read
    // DELETE leaves sidecars + fragmented files, then the whole
    // housekeeping loop runs as `CALL gcat.system.*` — purge_deletes
    // (sidecars retired, affected files rewritten), compact (bin-packed
    // stripe-copy merge), expire_snapshots (history trimmed to 1),
    // vacuum (orphans swept). What gets hash-checked is maintenance
    // INVARIANCE: after four physical-layout mutations the table must
    // equal the plain declarative pipeline. The receipts are asserted
    // non-vacuous so the procedures provably did work rather than
    // no-oping. Scale shape: each CALL is the already-bounded primitive
    // (purge ∝ affected files, compact stripe-copies without decoding,
    // expire/vacuum are metadata + unreferenced-file deletes).
    QueryDef("cat_maintenance",
      (s, d) => {
        val cat = catalogName(s)
        val t = uniq("maint")
        val qt = s"$cat.default.$t"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val srcView = uniq("maint_src")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            col("c_acctbal").as("bal"))
          .createOrReplaceTempView(srcView)
        s.sql(s"CREATE TABLE $qt (c_custkey BIGINT, seg STRING, " +
          "bal DOUBLE) TBLPROPERTIES('graft.delete_mode'='mor')")
        try {
          s.sql(s"INSERT INTO $qt SELECT /*+ REPARTITION(6) */ * " +
            s"FROM $srcView")
          s.sql(s"DELETE FROM $qt WHERE bal < 3000")
          val purged = s.sql(
            s"CALL $cat.system.purge_deletes('default.$t')")
            .collect()(0).getInt(0)
          require(purged > 0, "purge_deletes must rewrite files here")
          // two post-purge micro-batches leave real fragments for the
          // compact step (the purge rewrite itself now merges its group
          // into one file — deletion-vector-era plans coalesce the keep
          // frame — so the pre-delete REPARTITION(6) fragments no
          // longer survive to here)
          s.sql(s"INSERT INTO $qt SELECT /*+ REPARTITION(1) */ " +
            s"c_custkey + 7000000, 'LATE1', bal FROM $srcView " +
            "WHERE c_custkey % 50 = 0")
          s.sql(s"INSERT INTO $qt SELECT /*+ REPARTITION(1) */ " +
            s"c_custkey + 8000000, 'LATE2', bal FROM $srcView " +
            "WHERE c_custkey % 50 = 0")
          val compacted = s.sql(
            s"CALL $cat.system.compact(table => 'default.$t')")
            .collect()(0).getInt(0)
          require(compacted > 1, "compact must merge the fragments")
          s.sql(s"CALL $cat.system.expire_snapshots('default.$t', " +
            "retain => 1)").collect()
          s.sql(s"CALL $cat.system.vacuum('default.$t')").collect()
          s.sql(s"SELECT seg, count(*) AS n, CAST(sum(CAST(bal AS " +
            s"DECIMAL(18,2))) AS DOUBLE) AS total FROM $qt " +
            "GROUP BY seg ORDER BY seg")
        } finally s.catalog.dropTempView(srcView)
      },
      Some("""SELECT seg, n, total FROM (
             |  SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             |      AS total
             |  FROM customer WHERE c_acctbal >= 3000
             |  GROUP BY c_mktsegment
             |  UNION ALL
             |  SELECT 'LATE1', CAST(count(*) AS BIGINT),
             |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM customer WHERE c_custkey % 50 = 0
             |  UNION ALL
             |  SELECT 'LATE2', CAST(count(*) AS BIGINT),
             |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM customer WHERE c_custkey % 50 = 0
             |) ORDER BY seg""".stripMargin)),

    // ------------------------------------------ branch DML (round 13)
    // Full DML against a branch ref — the reason branches exist once a
    // pipeline needs to QUALITY-GATE destructive changes, not just
    // appends: DELETE + UPDATE + MERGE run against `t.branch_stage`,
    // commit to the branch lineage (CoW rewrites swap branch state;
    // main's files and snapshot are untouched), the audit reads the
    // gated result, and fast_forward publishes it as one commit. The
    // oracle reconstructs the same final state relationally. Scale
    // shape: each staged op pays only its own touched files (group
    // rewrite on the branch), publish is a snapshot rename.
    QueryDef("rl_branch_dml",
      (s, d) => {
        val cat = catalogName(s)
        val t = uniq("brdml")
        val qt = s"$cat.default.$t"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val srcView = uniq("brdml_src")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            col("c_acctbal").as("bal"))
          .createOrReplaceTempView(srcView)
        s.sql(s"CREATE TABLE $qt (c_custkey BIGINT, seg STRING, " +
          "bal DOUBLE)")
        try {
          s.sql(s"INSERT INTO $qt SELECT /*+ REPARTITION(4) */ * " +
            s"FROM $srcView")
          s.sql(s"CALL $cat.system.create_branch('default.$t', " +
            "'stage')").collect()
          val bref = s"$qt.branch_stage"
          // stage the destructive edits on the branch
          s.sql(s"DELETE FROM $bref WHERE bal < 0")
          s.sql(s"UPDATE $bref SET seg = 'GATED' WHERE bal >= 9000")
          s.sql(s"""MERGE INTO $bref t
            USING (SELECT c_custkey + 5000000 AS c_custkey,
                     'MERGED' AS seg, bal FROM $srcView
                   WHERE c_custkey % 100 = 0) s
            ON t.c_custkey = s.c_custkey
            WHEN NOT MATCHED THEN INSERT *""")
          // audit: main must still be the pre-stage state
          val mainNeg = s.sql(
            s"SELECT count(*) FROM $qt WHERE bal < 0")
            .collect()(0).getLong(0)
          require(mainNeg > 0, "main saw the staged DELETE before publish")
          s.sql(s"CALL $cat.system.fast_forward('default.$t', " +
            "'stage')").collect()
          s.sql(s"SELECT c_custkey, seg, bal FROM $qt " +
            "ORDER BY c_custkey")
        } finally s.catalog.dropTempView(srcView)
      },
      Some("""WITH seeded AS (
             |  SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
             |  FROM customer)
             |SELECT c_custkey,
             |  CASE WHEN bal >= 9000 THEN 'GATED' ELSE seg END AS seg,
             |  bal
             |FROM seeded WHERE bal >= 0
             |UNION ALL
             |SELECT c_custkey + 5000000, 'MERGED', bal
             |FROM seeded WHERE c_custkey % 100 = 0
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------ CHECK constraints (round 14)
    // Enforced data-quality gates that live in the TABLE
    // (SUPPORT_TABLE_CONSTRAINT): after `ADD CONSTRAINT ... CHECK`,
    // Spark's write analysis rejects any INSERT/UPDATE/MERGE row
    // violating the predicate — here a junk batch (short documents)
    // fails the whole statement while the clean batch lands, and an
    // UPDATE that would push a row below the floor is refused. What
    // gets hash-checked is the final state: exactly the rows the gate
    // admitted, with the refused statements leaving zero trace (the
    // staged-write protocol means a failed statement publishes
    // nothing). Scale shape: the ADD validates existing rows in one
    // scan (Spark-side); per-write enforcement is a row-local predicate
    // inside the write stage, zero extra passes.
    QueryDef("cat_check_constraint",
      (s, d) => {
        val cat = catalogName(s)
        val t = uniq("ck")
        val qt = s"$cat.default.$t"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val srcView = uniq("ck_src")
        Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).as("n_tokens"))
          .createOrReplaceTempView(srcView)
        s.sql(s"CREATE TABLE $qt (doc_id BIGINT, n_tokens BIGINT)")
        try {
          s.sql(s"INSERT INTO $qt SELECT /*+ REPARTITION(4) */ * " +
            s"FROM $srcView")
          s.sql(s"ALTER TABLE $qt ADD CONSTRAINT min_len " +
            "CHECK (n_tokens >= 10)")
          // the junk batch must fail the WHOLE statement
          val failed =
            try { s.sql(s"INSERT INTO $qt SELECT doc_id + 1000000, " +
              s"3 FROM $srcView WHERE doc_id % 100 = 1"); false }
            catch { case _: Exception => true }
          require(failed, "the constraint must reject the junk batch")
          // the clean batch lands
          s.sql(s"INSERT INTO $qt SELECT doc_id + 2000000, n_tokens " +
            s"FROM $srcView WHERE doc_id % 50 = 0")
          // an UPDATE below the floor is refused too
          val updFailed =
            try { s.sql(s"UPDATE $qt SET n_tokens = 1 " +
              "WHERE doc_id = 0"); false }
            catch { case _: Exception => true }
          require(updFailed, "the constraint must reject the update")
          s.sql(s"SELECT doc_id, n_tokens FROM $qt ORDER BY doc_id")
        } finally s.catalog.dropTempView(srcView)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
             |      AS n_tokens
             |  FROM documents)
             |SELECT doc_id, n_tokens FROM toks
             |UNION ALL
             |SELECT doc_id + 2000000, n_tokens FROM toks
             |WHERE doc_id % 50 = 0
             |ORDER BY doc_id""".stripMargin)),

    // -------------------------------- column DEFAULT values (round 14)
    // Iceberg-v3 initial defaults / Spark's default-column framework,
    // end to end under the hash oracle: the seed lands WITHOUT the
    // column; `ADD COLUMN src STRING DEFAULT 'legacy'` is ONE metadata
    // commit after which every pre-add file reads 'legacy' (served from
    // the scan's constant vectors — zero data rewritten, the EXISTS
    // default frozen at add time); an INSERT omitting the column gets
    // the CURRENT default (Spark fills it — the catalog advertises
    // SUPPORT_COLUMN_DEFAULT_VALUE); `SET DEFAULT 'v2'` then changes
    // only what FUTURE inserts get while the old rows keep reading
    // 'legacy'. A SECOND column (`tier`) carries a CREATE-time default
    // ('std') that later MOVES ('gold') — the round-15 generation: a
    // default declared in the CREATE column list fills omitted inserts
    // from day one and SET DEFAULT repoints it like any other. What
    // gets hash-checked is that three generations of rows carry exactly
    // the defaults their write time implies, across BOTH columns.
    QueryDef("ev_default_values",
      (s, d) => {
        val cat = catalogName(s)
        val t = uniq("dflt")
        val qt = s"$cat.default.$t"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val srcView = uniq("dflt_src")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_acctbal").as("bal"))
          .createOrReplaceTempView(srcView)
        s.sql(s"CREATE TABLE $qt (c_custkey BIGINT, bal DOUBLE, " +
          "tier STRING DEFAULT 'std')")
        try {
          s.sql(s"INSERT INTO $qt (c_custkey, bal) " +
            s"SELECT /*+ REPARTITION(4) */ * FROM $srcView")
          s.sql(s"ALTER TABLE $qt ADD COLUMN src STRING " +
            "DEFAULT 'legacy'")
          s.sql(s"INSERT INTO $qt (c_custkey, bal, src) " +
            s"SELECT c_custkey + 4000000, bal, " +
            s"'crawl2' FROM $srcView WHERE c_custkey % 20 = 0")
          s.sql(s"ALTER TABLE $qt ALTER COLUMN src SET DEFAULT 'v2'")
          s.sql(s"ALTER TABLE $qt ALTER COLUMN tier SET DEFAULT 'gold'")
          s.sql(s"INSERT INTO $qt (c_custkey, bal) " +
            s"SELECT c_custkey + 8000000, bal FROM $srcView " +
            "WHERE c_custkey % 50 = 0")
          s.sql(s"SELECT c_custkey, bal, src, tier FROM $qt " +
            "ORDER BY c_custkey")
        } finally s.catalog.dropTempView(srcView)
      },
      Some("""WITH seeded AS (
             |  SELECT c_custkey, c_acctbal AS bal FROM customer)
             |SELECT c_custkey, bal, 'legacy' AS src, 'std' AS tier
             |FROM seeded
             |UNION ALL
             |SELECT c_custkey + 4000000, bal, 'crawl2', 'std'
             |FROM seeded WHERE c_custkey % 20 = 0
             |UNION ALL
             |SELECT c_custkey + 8000000, bal, 'v2', 'gold'
             |FROM seeded WHERE c_custkey % 50 = 0
             |ORDER BY c_custkey""".stripMargin)),

    // ----------------------------- CDC feed on a branch (round 14)
    // The checkpointed change feed pointed at a BRANCH lineage — the
    // WAP audit loop's streaming half: destructive edits stage on the
    // branch (MoR DELETE, MoR UPDATE, an append), and the feed polls
    // the BRANCH's commits with the same at-least-once checkpoint
    // arithmetic the main feed has, while main's own history never
    // enters the feed. Two polls split the staged edits; their union
    // must equal the full paired branch changelog. Snapshot seqs are
    // reported RELATIVE to the fork (step), so the oracle is
    // deterministic regardless of how many commits preceded the fork.
    // Scale shape: each poll reads only the files its branch snapshots
    // touched — never the table.
    QueryDef("rl_cdc_feed_branch",
      (s, d) => {
        val cat = catalogName(s)
        val t = uniq("cdcb")
        val qt = s"$cat.default.$t"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val srcView = uniq("cdcb_src")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            col("c_acctbal").as("bal"))
          .createOrReplaceTempView(srcView)
        s.sql(s"CREATE TABLE $qt (c_custkey BIGINT, seg STRING, " +
          "bal DOUBLE) TBLPROPERTIES('graft.delete_mode'='mor'," +
          "'graft.update_mode'='mor'," +
          "'graft.manifest.retain'='10')")
        // the frames never read the checkpoint (only feed() does)
        val ckptDir = TempDirs.create("graft-feed-branch")
        val ckpt = ckptDir + "/seq"
        try {
          s.sql(s"INSERT INTO $qt SELECT /*+ REPARTITION(4) */ * " +
            s"FROM $srcView")
          val dir = s"$warehouse/default/$t"
          val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
            s.sparkContext.hadoopConfiguration)
          val forkSeq = graft.sources.v2.GraftOrcManifest.readSnapshot(
            fs, new org.apache.hadoop.fs.Path(dir)).get.seq
          s.sql(s"CALL $cat.system.create_branch('default.$t', " +
            "'stage')").collect()
          val bref = s"$qt.branch_stage"
          s.sql(s"DELETE FROM $bref WHERE bal < 2000")      // fork + 1
          val f1 = graft.sources.v2.GraftOrcChangelog.feed(
            s, dir, ckpt, pairKeys = Seq("c_custkey"),
            initialSeq = forkSeq, branch = Some("stage")).get
          f1.commit()
          s.sql(s"UPDATE $bref SET seg = 'PRIME' WHERE bal > 7500") // +2
          Tables.customer(s, d).filter(col("c_custkey") % 97 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              lit("NEW").as("seg"), lit(1.0).as("bal"))
            .write.format("graft-orc").option("graft.branch", "stage")
            .mode("append").save(dir)                       // fork + 3
          val f2 = graft.sources.v2.GraftOrcChangelog.feed(
            s, dir, ckpt, pairKeys = Seq("c_custkey"),
            branch = Some("stage")).get
          f2.commit()
          f1.df.unionByName(f2.df)
            .select(col("c_custkey"), col("seg"), col("bal"),
              col("_change_type"),
              (col("_change_seq") - lit(forkSeq)).as("step"))
            .orderBy(col("step"), col("_change_type"), col("c_custkey"))
        } finally {
          s.catalog.dropTempView(srcView)
          TempDirs.remove(ckptDir)
        }
      },
      Some("""WITH seeded AS (
             |  SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
             |  FROM customer),
             |chg AS (
             |  SELECT c_custkey, seg, bal, 'delete' AS _change_type,
             |    CAST(1 AS BIGINT) AS step
             |  FROM seeded WHERE bal < 2000
             |  UNION ALL
             |  SELECT c_custkey, seg, bal, 'update_preimage',
             |    CAST(2 AS BIGINT)
             |  FROM seeded WHERE bal > 7500
             |  UNION ALL
             |  SELECT c_custkey, 'PRIME', bal, 'update_postimage',
             |    CAST(2 AS BIGINT)
             |  FROM seeded WHERE bal > 7500
             |  UNION ALL
             |  SELECT c_custkey + 1000000, 'NEW', CAST(1.0 AS DOUBLE),
             |    'insert', CAST(3 AS BIGINT)
             |  FROM seeded WHERE c_custkey % 97 = 0)
             |SELECT * FROM chg
             |ORDER BY step, _change_type, c_custkey""".stripMargin)),

    // ------------------------- WAP gate via branch DELETE (round 13)
    // The pp_wap_quality_gate flow with the gate expressed as a STAGED
    // DELETE instead of drop-and-restage: the dirty crawl lands on the
    // branch once, the audit finds the junk, a branch-scoped DELETE
    // removes exactly the failing rows (committed to the branch
    // lineage), the re-audit proves the stage clean, and fast_forward
    // publishes. Same final state as the drop-and-restage form (the
    // oracle is identical); the difference at scale is cost — the
    // clean 99%+ of the crawl is staged ONCE, not re-written, and the
    // DELETE pays only the files holding junk.
    QueryDef("pp_wap_gate_dml",
      (s, d) => {
        val cat = catalogName(s)
        val t = uniq("wapdml")
        val qt = s"$cat.default.$t"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val docs = Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).as("n_tokens"))
        val corpusView = uniq("wapdml_corpus")
        val crawlView = uniq("wapdml_crawl")
        docs.filter(col("doc_id") % 2 === 0)
          .createOrReplaceTempView(corpusView)
        docs.filter(col("doc_id") % 2 === 1).unionByName(
          docs.filter(col("doc_id") % 100 === 1)
            .select((col("doc_id") + 1000000).as("doc_id"),
              lit(3L).as("n_tokens")))
          .createOrReplaceTempView(crawlView)
        s.sql(s"CREATE TABLE $qt (doc_id BIGINT, n_tokens BIGINT)")
        try {
          s.sql(s"INSERT INTO $qt SELECT /*+ REPARTITION(4) */ * " +
            s"FROM $corpusView")
          s.sql(s"CALL $cat.system.create_branch('default.$t', " +
            "'ingest')").collect()
          s.sql(s"INSERT INTO $qt.branch_ingest " +
            s"SELECT /*+ REPARTITION(2) */ * FROM $crawlView")
          // audit on the branch: the junk is present in the stage
          val junk = s.sql(s"SELECT count(*) FROM $qt.branch_ingest " +
            "WHERE doc_id % 2 = 1 AND n_tokens < 10")
            .collect()(0).getLong(0)
          require(junk > 0, "the gate demo must actually catch junk")
          // the gate: a branch-scoped DELETE of exactly the junk
          s.sql(s"DELETE FROM $qt.branch_ingest WHERE n_tokens < 10")
          val still = s.sql(s"SELECT count(*) FROM $qt.branch_ingest " +
            "WHERE n_tokens < 10").collect()(0).getLong(0)
          require(still == 0, "the staged DELETE missed junk")
          val dirty = s.sql(s"SELECT count(*) FROM $qt " +
            "WHERE n_tokens < 10").collect()(0).getLong(0)
          require(dirty == 0, "main saw a junk row before publish")
          s.sql(s"CALL $cat.system.fast_forward('default.$t', " +
            "'ingest')").collect()
          s.sql(s"SELECT doc_id, n_tokens FROM $qt ORDER BY doc_id")
        } finally {
          s.catalog.dropTempView(corpusView)
          s.catalog.dropTempView(crawlView)
        }
      },
      Some("""SELECT doc_id, n_tokens FROM (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
             |      AS n_tokens
             |  FROM documents) t
             |WHERE doc_id % 2 = 0 OR n_tokens >= 10
             |ORDER BY doc_id""".stripMargin)),

    // --------------------------------- WAP quality gate (documents)
    // The INTENDED use of branches in a training-data pipeline, under
    // the hash oracle: the live corpus (even doc_ids) takes a new crawl
    // (odd doc_ids) through write-audit-publish — the crawl stages on
    // an `ingest` branch, the AUDIT is a real quality gate (token-count
    // threshold) run against the branch, and because junk is present
    // the branch is DROPPED and only the clean subset re-stages and
    // publishes. Main provably never sees a junk row at any point —
    // that is the property the oracle checks (final state = corpus +
    // clean crawl only). Scale shape: fork/drop/publish are snapshot
    // metadata; the gate prices as one branch-scoped scan; the dirty
    // batch never touches the live table's read path.
    QueryDef("pp_wap_quality_gate",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        import graft.sources.v2.GraftOrcManifest
        val dir = freshDir("wapgate")
        val docs = Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).as("n_tokens"))
        docs.filter(col("doc_id") % 2 === 0)
          .repartition(4).write.format("graft-orc")
          .option("graft.manifest", "true").mode("append").save(dir)
        val conf = s.sparkContext.hadoopConfiguration
        val fs = new Path(dir).getFileSystem(conf)
        // the crawl carries deterministic INJECTED junk (the driver's
        // documents are all long-form, so without it the gate would be
        // vacuous — same trick as pp_pii_redact): truncated fetches at
        // 3 tokens, one per 50 crawl docs, on a disjoint id range
        val crawl = docs.filter(col("doc_id") % 2 === 1).unionByName(
          docs.filter(col("doc_id") % 100 === 1)
            .select((col("doc_id") + 1000000).as("doc_id"),
              lit(3L).as("n_tokens")))
        GraftOrcManifest.createBranch(fs, new Path(dir), "ingest")
        crawl.repartition(2).write.format("graft-orc")
          .option("graft.branch", "ingest").mode("append").save(dir)
        // audit on the branch: junk = staged docs under the threshold
        val junk = s.read.format("graft-orc")
          .option("graft.branch", "ingest").load(dir)
          .filter(col("doc_id") % 2 === 1 && col("n_tokens") < 10)
          .count()
        require(junk > 0, "the gate demo must actually catch junk")
        // gate FAILS: discard the staging, re-stage only clean docs
        GraftOrcManifest.dropBranch(fs, new Path(dir), "ingest")
        GraftOrcManifest.createBranch(fs, new Path(dir), "ingest")
        crawl.filter(col("n_tokens") >= 10)
          .repartition(2).write.format("graft-orc")
          .option("graft.branch", "ingest").mode("append").save(dir)
        val dirty = s.read.format("graft-orc").load(dir)
          .filter(col("n_tokens") < 10).count()
        require(dirty == 0, "main saw a junk row before publish")
        GraftOrcManifest.fastForward(conf, dir, "ingest")
        s.read.format("graft-orc").load(dir)
          .select(col("doc_id"), col("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, n_tokens FROM (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
             |      AS n_tokens
             |  FROM documents) t
             |WHERE doc_id % 2 = 0 OR n_tokens >= 10
             |ORDER BY doc_id""".stripMargin)),

    // ----------------- streaming dedup ingestion (round 16)
    // The continuous form of dd_incremental: a graft-orc CRAWL table
    // receives append commits carrying re-deliveries (a recrawl hands
    // out NEW doc_ids for already-seen text), and a checkpointed
    // micro-batch stream MERGEs each batch into a clean catalog table
    // with keep-min semantics (graft.streaming.IngestDedup). Keep-min
    // is order-free and idempotent, so the final state is exactly the
    // batch dedup of everything ever delivered — regardless of batch
    // boundaries, the stop/restart between the two waves below, or
    // foreachBatch replays. Three delivery commits: every doc's TRUE id
    // arrives in its doc_id%3 commit; %5 docs are pre-delivered in
    // commit 1 under id+2M ('c1x') and %4 docs re-delivered in commit 2
    // under id+1M ('c2x') — so the MERGE exercises insert,
    // matched-no-update (variant after true), AND matched-update
    // (true after variant, winner payload follows).
    // Scale shape: per-batch work is batch-bounded (8-byte fp keys,
    // MoR-delta MERGE touches only matching files); history is never
    // re-clustered. The stream between waves restarts from its
    // checkpoint — wave 2 reads only the unconsumed commit.
    QueryDef("rl_stream_dedup_ingest",
      (s, d) => {
        val cat = catalogName(s)
        val t = uniq("sdi")
        val qt = s"$cat.default.$t"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val crawlDir = freshDir("sdicrawl")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("n_chars"))
        def deliver(df: DataFrame): Unit =
          df.select(col("doc_id"), col("text"), col("n_chars"), col("src"))
            .repartition(2).write.format("graft-orc")
            .option("graft.manifest", "true").mode("append").save(crawlDir)
        def redeliver(m: Int, off: Long, tag: String): DataFrame =
          docs.filter(col("doc_id") % m === 0)
            .select((col("doc_id") + off).as("doc_id"), col("text"),
              col("n_chars"), lit(tag).as("src"))
        // fpb = the explicit fingerprint-bucket partition column: each
        // batch's MERGE restricts its target scan to the batch's bucket
        // set (static IN pushdown — merge-on-read MERGEs get no runtime
        // group filtering, see GraftOrcMergePruneSpec), so the history
        // side stays sublinear at scale. Not selected below: derived
        // state, engine-hash-keyed, invisible to the oracle.
        s.sql(s"CREATE TABLE $qt (fp BIGINT, doc_id BIGINT, src STRING, " +
          "n_chars BIGINT, fpb INT) PARTITIONED BY (fpb) " +
          "TBLPROPERTIES('graft.merge_mode'='mor', " +
          "'graft.distribution_mode'='hash')")
        val ckpt = freshDir("sdickpt") + "/ckpt"
        deliver(docs.filter(col("doc_id") % 3 === 0)
          .withColumn("src", lit("c1"))
          .unionByName(redeliver(5, 2000000L, "c1x")))
        deliver(docs.filter(col("doc_id") % 3 === 1)
          .withColumn("src", lit("c2"))
          .unionByName(redeliver(4, 1000000L, "c2x")))
        graft.streaming.IngestDedup.ingest(s, crawlDir, qt, ckpt,
          buckets = Some(16))
        // wave 2 lands while the stream is DOWN; the resumed stream
        // consumes only this commit
        deliver(docs.filter(col("doc_id") % 3 === 2)
          .withColumn("src", lit("c3")))
        graft.streaming.IngestDedup.ingest(s, crawlDir, qt, ckpt,
          buckets = Some(16))
        s.sql(s"SELECT fp, doc_id, src, n_chars FROM $qt ORDER BY fp")
      },
      Some("""WITH del AS (
             |  SELECT doc_id, text,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'c1'
             |         WHEN 1 THEN 'c2' ELSE 'c3' END AS src, n_chars
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id + 2000000, text, 'c1x', n_chars
             |  FROM documents WHERE doc_id % 5 = 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, text, 'c2x', n_chars
             |  FROM documents WHERE doc_id % 4 = 0),
             |f AS (
             |  SELECT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
             |      AS fp,
             |    doc_id, src, n_chars
             |  FROM del)
             |SELECT fp, min(doc_id) AS doc_id,
             |  arg_min(src, doc_id) AS src,
             |  arg_min(n_chars, doc_id) AS n_chars
             |FROM f GROUP BY fp ORDER BY fp""".stripMargin)),

    // --------------- streaming corpus accounting (round 16)
    // Exactly-once incremental AGGREGATE maintenance: per-language
    // doc/char counters accumulated over the crawl stream
    // (graft.streaming.CorpusStats). Counters are not idempotent like
    // keep-min, so each stats row remembers the last batch id that
    // touched it and the MERGE accumulates only when b.batch_id >
    // t.batch_id — a replayed batch (foreachBatch's at-least-once
    // within one checkpoint) is a guarded no-op
    // (GraftOrcStreamIngestSpec pins the replay arithmetic). Per-batch
    // work: one map-side-combined aggregation to a language-cardinality
    // frame + a dim-sized MERGE — batch-bounded, never corpus-bounded.
    QueryDef("rl_stream_corpus_stats",
      (s, d) => {
        val cat = catalogName(s)
        val t = uniq("scs")
        val qt = s"$cat.default.$t"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val crawlDir = freshDir("scscrawl")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        def deliver(m: Int): Unit =
          docs.filter(col("doc_id") % 3 === m).repartition(2)
            .write.format("graft-orc").option("graft.manifest", "true")
            .mode("append").save(crawlDir)
        s.sql(s"CREATE TABLE $qt (key STRING, docs BIGINT, " +
          "chars BIGINT, batch_id BIGINT) " +
          "TBLPROPERTIES('graft.merge_mode'='mor')")
        val ckpt = freshDir("scsckpt") + "/ckpt"
        deliver(0); deliver(1)
        graft.streaming.CorpusStats.maintain(s, crawlDir, qt, ckpt,
          keyCol = "lang", charsCol = col("n_chars"))
        deliver(2) // lands while the stream is down; resume consumes it
        graft.streaming.CorpusStats.maintain(s, crawlDir, qt, ckpt,
          keyCol = "lang", charsCol = col("n_chars"))
        // an idle resume (nothing new) must change nothing
        graft.streaming.CorpusStats.maintain(s, crawlDir, qt, ckpt,
          keyCol = "lang", charsCol = col("n_chars"))
        s.sql(s"SELECT key AS lang, docs, chars FROM $qt ORDER BY lang")
      },
      Some("""SELECT coalesce(lang, '<null>') AS lang,
             |  count(*) AS docs,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents
             |GROUP BY 1 ORDER BY lang""".stripMargin)),

    // --------------- streaming NEAR-dup ingestion (round 17)
    // The minhash companion to rl_stream_dedup_ingest: a crawl stream
    // is banded (the md5-deterministic 8x4 minhash banding shared with
    // dd_minhash_lsh_det), each batch drops every doc that shares a
    // band key with ANY earlier-delivered doc — kept or dropped, so
    // near-dup chains collapse to the first survivor — and survivors
    // land in the clean table while ALL the batch's band keys land in
    // the bucket-partitioned signature table (the corpus-awareness the
    // next batch prunes its history join with). Under ascending-id
    // delivery the final clean table is exactly "docs with no
    // smaller-id band collider" — the oracle below recomputes the whole
    // banding + collider set in DuckDB. graft.streaming.NearDupIngest;
    // replay/boundary/chain semantics pinned in
    // GraftOrcStreamIngestSpec.
    QueryDef("rl_stream_neardup_ingest",
      (s, d) => {
        val cat = catalogName(s)
        val qt = s"$cat.default.${uniq("snd")}"
        val sig = s"$cat.default.${uniq("sndsig")}"
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
        val crawlDir = freshDir("sndcrawl")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"),
            col("source").as("src"), col("n_chars"))
        def deliver(df: DataFrame): Unit =
          df.select(col("doc_id"), col("text"), col("src"), col("n_chars"))
            .repartition(2).write.format("graft-orc")
            .option("graft.manifest", "true").mode("append").save(crawlDir)
        // distribution_mode=hash: each MERGE writes ~one file per
        // partition dir instead of tasks x dirs — the write-amplification
        // fix that keeps a continuously-ingesting table compactable
        s.sql(s"CREATE TABLE $qt (doc_id BIGINT, src STRING, " +
          "n_chars BIGINT, db INT) PARTITIONED BY (db) " +
          "TBLPROPERTIES('graft.merge_mode'='mor', " +
          "'graft.distribution_mode'='hash')")
        s.sql(s"CREATE TABLE $sig (band INT, key BIGINT, doc_id BIGINT, " +
          "kb INT) PARTITIONED BY (kb) " +
          "TBLPROPERTIES('graft.merge_mode'='mor', " +
          "'graft.distribution_mode'='hash')")
        val ckpt = freshDir("sndckpt") + "/ckpt"
        // ascending-id waves (the crawl contract): wave 1 = lower half;
        // wave 2 = upper half + exact re-crawls of every 5th doc under
        // ids past the corpus (guaranteed banding collisions)
        val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
        deliver(docs.filter(col("doc_id") <= mid))
        graft.streaming.NearDupIngest.ingest(s, crawlDir, qt, sig, ckpt)
        deliver(docs.filter(col("doc_id") > mid)
          .unionByName(docs.filter(col("doc_id") % 5 === 0).select(
            (col("doc_id") + 100000L).as("doc_id"), col("text"),
            lit("recrawl").as("src"), col("n_chars"))))
        graft.streaming.NearDupIngest.ingest(s, crawlDir, qt, sig, ckpt)
        // idle resume (nothing new) must change nothing
        graft.streaming.NearDupIngest.ingest(s, crawlDir, qt, sig, ckpt)
        s.sql(s"SELECT doc_id, src, n_chars FROM $qt ORDER BY doc_id")
      },
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, text, source AS src, n_chars
              |  FROM documents
              |  UNION ALL
              |  SELECT doc_id + 100000, text, 'recrawl', n_chars
              |  FROM documents WHERE doc_id % 5 = 0),
              |d AS (
              |  SELECT doc_id, string_split(text, ' ') AS toks
              |  FROM corpus),
              |sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    CASE WHEN len(toks) >= 3
              |      THEN list_transform(range(1, len(toks) - 1),
              |             i -> array_to_string(toks[i:i+2], ' '))
              |      ELSE [array_to_string(toks, ' ')] END)) AS shingle
              |  FROM d),
              |ph AS (
              |  SELECT doc_id, p, min(${graft.functions.TextHashFunctions
                   .md5Key60Sql(
                     "CAST(p AS VARCHAR) || chr(1) || shingle")}) AS mh
              |  FROM sh, range(0, 32) t(p)
              |  GROUP BY doc_id, p),
              |sig AS (
              |  SELECT doc_id, list(mh ORDER BY p) AS sig
              |  FROM ph GROUP BY doc_id),
              |bands AS (
              |  SELECT doc_id, b, ${graft.functions.TextHashFunctions
                   .md5Key60Sql(
                     "array_to_string(list_transform(range(1, 5), " +
                       "r -> CAST(sig[CAST(b * 4 + r AS INT)] AS " +
                       "VARCHAR)), ',')")} AS key
              |  FROM sig, range(0, 8) t(b)),
              |coll AS (
              |  SELECT DISTINCT r.doc_id AS doc_id
              |  FROM bands l JOIN bands r
              |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id)
              |SELECT c.doc_id, c.src, c.n_chars FROM corpus c
              |WHERE c.doc_id NOT IN (SELECT doc_id FROM coll)
              |ORDER BY c.doc_id""".stripMargin)))
}
