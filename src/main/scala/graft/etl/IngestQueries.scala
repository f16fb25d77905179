package graft.etl

import graft.{Parity, Query, Tables}
import graft.functions.{Hashing, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Additional ingestion + composite-pipeline queries (SURVEY §2.7). */
object IngestQueries {

  private val documentsSchemaJson =
    """{"fields": [
      |  {"name": "doc_id",  "type": "INTEGER", "mode": "REQUIRED"},
      |  {"name": "text",    "type": "STRING"},
      |  {"name": "lang",    "type": "STRING"},
      |  {"name": "source",  "type": "STRING"},
      |  {"name": "n_chars", "type": "INTEGER"}
      |]}""".stripMargin

  val entries: Seq[(String, Query)] = Seq(

    // JSON-lines round-trip: documents -> jsonl -> schema'd read. Green
    // iff the jsonl path is lossless and typed; oracle is the straight
    // parquet projection.
    "etl_ingest_jsonl" -> Query(
      (s, d) => {
        val dir = TmpDirs.dir(s"jsonl_${Bucketing.dirTag(d)}")
        Tables.documents(s, d).write.mode("overwrite").json(dir)
        s.read.schema(Schemas.fromBigQueryJson(documentsSchemaJson)).json(dir)
          .select(col("doc_id"), md5(col("text")).as("text_md5"),
            col("lang"), col("source"), col("n_chars"))
      },
      Some("""SELECT doc_id, md5(text) AS text_md5, lang, source,
             |       CAST(n_chars AS BIGINT) AS n_chars
             |FROM documents""".stripMargin)
    ),

    // ORC round-trip: the second columnar warehouse format Spark ships
    // natively (splittable, predicate-pushdown-capable like parquet).
    // Green iff the ORC path preserves types and values losslessly;
    // oracle is the straight parquet projection.
    "etl_ingest_orc" -> Query(
      (s, d) => {
        val dir = TmpDirs.dir(s"orc_${Bucketing.dirTag(d)}")
        Tables.documents(s, d).write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .select(col("doc_id"), md5(col("text")).as("text_md5"),
            col("lang"), col("source"), col("n_chars"))
      },
      Some("SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars FROM documents")
    ),

    // Dead-letter CSV ingestion — the reference's closest real-world
    // failure mode (a malformed line inside ReadFromText's per-line
    // parse, reference dataflow_pipeline.py:57-99) as an ORACLE-CHECKED
    // path, not just a spec: customers re-serialize to CSV with a
    // DETERMINISTIC corruption (keys ≡3 mod 97 get a non-numeric
    // nationkey), CsvIngest.readWithCorrupt captures each failing line
    // verbatim in _corrupt_record, and deadLetterSplit routes the two
    // branches. The checked projection is per-branch counts, key sums
    // (PERMISSIVE still parses the intact leading fields of a bad row,
    // so the quarantine key_sum proves partial-parse capture), and an
    // md5 digest of the exact line text — good rows digest their
    // canonical re-serialization, quarantine rows digest the RAW
    // captured line, so a parser that mangles, trims, or re-quotes the
    // dead-letter payload fails the hash. One parse pass feeds both
    // branches (deadLetterSplit caches); at 100 TB this is a splittable
    // CSV scan + one 2-group partial agg, and the quarantine branch is
    // exactly what a production pipeline ships to its review sink.
    "etl_dead_letter" -> Query(
      (s, d) => {
        // dirTag (basename + abs-path hash), not the bare leaf: two
        // same-leaf data dirs exercised concurrently in one JVM must not
        // race on a shared overwrite dir
        val dir = TmpDirs.dir(s"deadletter_${Bucketing.dirTag(d)}")
        val line = concat(
          col("c_custkey").cast("string"), lit(","),
          col("c_name"), lit(","),
          when(col("c_custkey") % 97 === 3, concat(lit("r"), col("c_nationkey").cast("string")))
            .otherwise(col("c_nationkey").cast("string")))
        Tables.customer(s, d).select(line.as("value"))
          .write.mode("overwrite").text(dir)
        val schema = new org.apache.spark.sql.types.StructType()
          .add("custkey", org.apache.spark.sql.types.LongType)
          .add("name", org.apache.spark.sql.types.StringType)
          .add("nationkey", org.apache.spark.sql.types.LongType)
        val (good, bad) = CsvIngest.deadLetterSplit(
          CsvIngest.readWithCorrupt(s, dir, schema, header = false))
        def digest(c: Column): Column =
          sum(conv(substring(md5(c), 1, 8), 16, 10).cast("long")).cast("bigint")
        val goodLine = concat(col("custkey").cast("string"), lit(","),
          col("name"), lit(","), col("nationkey").cast("string"))
        good.agg(count(lit(1)).as("n_rows"),
            sum(col("custkey")).cast("bigint").as("key_sum"),
            digest(goodLine).as("line_digest"))
          .select(lit("good").as("branch"), col("n_rows"), col("key_sum"),
            col("line_digest"))
          .unionAll(
            bad.agg(count(lit(1)).as("n_rows"),
                sum(col("custkey")).cast("bigint").as("key_sum"),
                digest(col("_corrupt_record")).as("line_digest"))
              .select(lit("quarantine").as("branch"), col("n_rows"),
                col("key_sum"), col("line_digest")))
      },
      Some("""WITH src AS (SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nk,
             |               c_custkey % 97 = 3 AS bad FROM customer),
             |l AS (SELECT k, bad,
             |        concat(CAST(k AS VARCHAR), ',', nm, ',',
             |               CASE WHEN bad THEN concat('r', CAST(nk AS VARCHAR))
             |                    ELSE CAST(nk AS VARCHAR) END) AS line FROM src)
             |SELECT CASE WHEN bad THEN 'quarantine' ELSE 'good' END AS branch,
             |  COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS key_sum,
             |  CAST(SUM(CAST('0x' || substr(md5(line), 1, 8) AS BIGINT)) AS BIGINT)
             |    AS line_digest
             |FROM l GROUP BY 1""".stripMargin)
    ),

    // Parquet LAYOUT audit — the round-12 scale lesson as a first-class
    // operator. A parquet ROW GROUP is the scan-split unit: a
    // single-row-group file caps every scan of it at ONE task no matter
    // the cluster size (measured: the same 600k-row lineitem bytes
    // re-chunked from 1 to 12 row groups ran scan-bound aggregations
    // 2.1x faster on 32 cores; on 1000 executors the gap is the
    // cluster). This audit reads ONLY footers — O(files) work, zero
    // data pages — distributed one footer per task; at 100 TB the file
    // list comes from the catalog and millions of footers fan out
    // across the cluster. It is the preflight a lakehouse runs before
    // blaming query plans for layout sins. comp_bytes sums the
    // total_compressed_size footer field both engines read verbatim, so
    // the hash pins byte-exact footer agreement; single_task_risk is
    // the verdict column (one row group AND enough rows to matter).
    // The oracle pins the correctness-gate dir (fixed by TESTDATA.md —
    // the one oracle that cannot be expressed over the table views,
    // because the subject is the FILES, not the rows); the Spark side
    // audits whatever dir it is handed.
    "etl_rowgroup_audit" -> Query(
      (s, d) => {
        import s.implicits._
        // List through the Hadoop FS layer, not java.io.File: the audit's
        // whole point is footer-only preflight on a LAKE path, and
        // FileSystem.get resolves hdfs:// and s3a:// the same as file://
        // (proven over an explicit file:-URI in IngestSpec).
        val root = new org.apache.hadoop.fs.Path(d)
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        val files = fs.listStatus(root)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString).toSeq.sorted
        require(files.nonEmpty, s"etl_rowgroup_audit: no parquet files under $d")
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          s.sparkContext.hadoopConfiguration)
        s.createDataset(files).repartition(files.size)
          .mapPartitions { it =>
            import scala.jdk.CollectionConverters._
            it.map { f =>
              val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f), hconf.value)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try {
                val blocks = r.getFooter.getBlocks.asScala.toSeq
                val name = f.substring(f.lastIndexOf('/') + 1).stripSuffix(".parquet")
                (name, blocks.size.toLong,
                  blocks.map(_.getRowCount).sum,
                  if (blocks.isEmpty) 0L else blocks.map(_.getRowCount).max,
                  blocks.flatMap(_.getColumns.asScala).map(_.getTotalSize).sum)
              } finally r.close()
            }
          }
          .toDF("table_name", "n_row_groups", "n_rows", "max_rg_rows", "comp_bytes")
          .withColumn("single_task_risk",
            (col("n_row_groups") === 1L && col("n_rows") >= 50000L).cast("long"))
      },
      Some(s"""WITH m AS (SELECT regexp_extract(file_name, '([^/]+)[.]parquet$$', 1) AS table_name,
             |         row_group_id, ANY_VALUE(row_group_num_rows) AS rg_rows,
             |         SUM(total_compressed_size) AS cb
             |       FROM parquet_metadata('${graft.Gate.dir}/*.parquet')
             |       GROUP BY 1, 2)
             |SELECT table_name, CAST(COUNT(*) AS BIGINT) AS n_row_groups,
             |  CAST(SUM(rg_rows) AS BIGINT) AS n_rows,
             |  CAST(MAX(rg_rows) AS BIGINT) AS max_rg_rows,
             |  CAST(SUM(cb) AS BIGINT) AS comp_bytes,
             |  CAST(COUNT(*) = 1 AND SUM(rg_rows) >= 50000 AS BIGINT) AS single_task_risk
             |FROM m GROUP BY 1""".stripMargin)
    ),

    // COMPACTION executed through the oracle gate (round 13 — VERDICT
    // r12 Next #5; the write-side half of the sink contract, previously
    // ScalaTest-only): plant a fragmented table (32 small files — the
    // debris a streaming/incremental append leaves), run Sinks.compact,
    // and gate-check the survivors: row count, key sum and a
    // per-row-text md5 digest of the COMPACTED files (so a compaction
    // that drops, duplicates or mangles rows fails the hash), plus a
    // files_merged verdict the oracle asserts as literal 1: the plant
    // actually fragmented (before > after) and compaction converged to
    // ONE file (after == 1) — deliberately NOT `before == 32`, because
    // the plant width is a write-path detail (round-robin repartition
    // only writes non-empty tasks), not the contract under test.
    // The etl_dead_letter write-then-read recipe; rollback safety is
    // EtlSpec's half (failed promote restores the original).
    "etl_compact_exec" -> Query(
      (s, d) => {
        val dir = TmpDirs.dir(s"compact_${Bucketing.dirTag(d)}")
        Tables.documents(s, d).select(col("doc_id"), col("text"), col("source"))
          .repartition(32).write.mode("overwrite").parquet(dir)
        val (before, after) = Sinks.compact(s, dir, maxRecordsPerFile = 10000000L)
        s.read.parquet(dir)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("doc_id")).cast("bigint").as("key_sum"),
            sum(conv(substring(md5(concat_ws("|", col("doc_id"), col("text"),
              col("source"))), 1, 8), 16, 10).cast("long")).cast("bigint")
              .as("row_digest"))
          .select(col("n_rows"), col("key_sum"), col("row_digest"),
            lit(if (before > after && after == 1) 1L else 0L).as("files_merged"))
      },
      Some("""SELECT COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS key_sum,
             |  CAST(SUM(CAST('0x' || substr(md5(concat_ws('|',
             |    CAST(doc_id AS VARCHAR), text, source)), 1, 8) AS BIGINT)) AS BIGINT)
             |    AS row_digest,
             |  CAST(1 AS BIGINT) AS files_merged
             |FROM documents""".stripMargin)
    ),

    // PARTITION BACKFILL executed through the oracle gate (the second
    // write-side half of Next #5): write documents partitioned by
    // source, then backfill ONE partition with a transformed patch
    // (n_chars + 1000) — TWICE, because the contract under test is
    // idempotent reprocessing (dynamic partition overwrite: re-running
    // yesterday's load must neither truncate the table nor
    // double-count). The read-back aggregates per branch; an append
    // bug doubles the patched branch's counts and a truncate bug
    // empties the untouched one — either fails the hash.
    "etl_backfill_exec" -> Query(
      (s, d) => {
        val dir = TmpDirs.dir(s"backfill_${Bucketing.dirTag(d)}")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"), col("source"))
        Sinks.parquet(docs, dir, Sinks.Truncate, partitionBy = Seq("source"))
        val patch = docs.filter(col("source") === "src3")
          .withColumn("n_chars", col("n_chars") + 1000L)
        Sinks.backfillPartitions(patch, dir, Seq("source"))
        Sinks.backfillPartitions(patch, dir, Seq("source")) // idempotent re-run
        s.read.parquet(dir)
          .select(when(col("source") === "src3", "replaced")
            .otherwise("untouched").as("branch"),
            col("doc_id"), col("n_chars"))
          .groupBy(col("branch"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("doc_id")).cast("bigint").as("key_sum"),
            sum(col("n_chars")).cast("bigint").as("chars_sum"))
      },
      Some("""SELECT CASE WHEN source = 'src3' THEN 'replaced' ELSE 'untouched' END
             |    AS branch,
             |  COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS key_sum,
             |  CAST(SUM(CASE WHEN source = 'src3' THEN n_chars + 1000
             |                ELSE n_chars END) AS BIGINT) AS chars_sum
             |FROM documents GROUP BY 1""".stripMargin)
    ),

    // Snapshot RECONCILIATION diff: the added/removed/changed audit
    // between two table versions — what a warehouse runs after every
    // backfill or CDC replay to prove the delta is the intended one.
    // Both snapshots derive deterministically from orders (old drops
    // keys ≡3 mod 89; new drops ≡5 mod 89 and bumps totalprice on keys
    // ≡7 mod 83), rows compare by md5 over a canonical field encoding
    // (doubles via DECIMAL(18,2) strings — engine-identical), and the
    // diff is ONE full-outer hash join on the key: O(n) shuffle, no
    // sort, unchanged rows dropped before the emit so the output is
    // the audit, not the table.
    "etl_snapshot_diff" -> Query(
      (s, d) => {
        def rowHash(price: org.apache.spark.sql.Column) =
          md5(concat_ws("|", col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), price.cast("decimal(18,2)").cast("string"),
            col("o_orderdate"), col("o_orderpriority")))
        val o = Tables.orders(s, d)
        val old = o.filter(col("o_orderkey") % 89 =!= 3)
          .select(col("o_orderkey"), rowHash(col("o_totalprice")).as("h_old"))
        val neu = o.filter(col("o_orderkey") % 89 =!= 5)
          .select(col("o_orderkey"),
            rowHash(when(col("o_orderkey") % 83 === 7, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice"))).as("h_new"))
        old.join(neu, Seq("o_orderkey"), "full_outer")
          .withColumn("verdict",
            when(col("h_old").isNull, "added")
              .when(col("h_new").isNull, "removed")
              .when(col("h_old") =!= col("h_new"), "changed")
              .otherwise("unchanged"))
          .filter(col("verdict") =!= "unchanged")
          .select(col("o_orderkey"), col("verdict"), col("h_old"), col("h_new"))
      },
      Some("""WITH old AS (
             |  SELECT o_orderkey, md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
             |    o_orderdate, o_orderpriority)) AS h_old
             |  FROM orders WHERE o_orderkey % 89 <> 3),
             |neu AS (
             |  SELECT o_orderkey, md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
             |    CAST(CAST(CASE WHEN o_orderkey % 83 = 7 THEN o_totalprice + 1.0
             |              ELSE o_totalprice END AS DECIMAL(18,2)) AS VARCHAR),
             |    o_orderdate, o_orderpriority)) AS h_new
             |  FROM orders WHERE o_orderkey % 89 <> 5),
             |j AS (SELECT COALESCE(old.o_orderkey, neu.o_orderkey) AS o_orderkey,
             |        h_old, h_new,
             |        CASE WHEN h_old IS NULL THEN 'added'
             |             WHEN h_new IS NULL THEN 'removed'
             |             WHEN h_old <> h_new THEN 'changed'
             |             ELSE 'unchanged' END AS verdict
             |      FROM old FULL OUTER JOIN neu ON old.o_orderkey = neu.o_orderkey)
             |SELECT o_orderkey, verdict, h_old, h_new FROM j
             |WHERE verdict <> 'unchanged'""".stripMargin)
    ),

    // Content-integrity MANIFEST: per-source row counts, id spans, and
    // two order-independent content digests (sum + xor of row hashes)
    // — the fixity record a data platform publishes with every dataset
    // drop so a consumer can prove a copy is complete and uncorrupted
    // without re-reading the source. One map-side partial agg over the
    // scan; every digest is commutative, so the manifest is identical
    // under any partitioning or row order.
    "etl_checksum_manifest" -> Query(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"), col("n_chars"),
            Hashing.md5Long32(col("text")).as("h32"),
            Hashing.md5Long60(col("text")).as("h60"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
            sum(col("n_chars")).as("n_chars_total"),
            sum(col("h32")).as("content_sum"),
            expr("bit_xor(h60)").as("content_xor")),
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
             |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
             |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT) AS content_sum,
             |  BIT_XOR(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)) AS content_xor
             |FROM documents GROUP BY source""".stripMargin)
    ),

    // DATA-QUALITY RULE ENGINE: a declarative rule set evaluated in one
    // pass per table — referential integrity (orphan lineitems), range
    // gates, cross-table temporal consistency (ship date before order
    // date — which FIRES on this data), field self-consistency, and
    // time-bound checks. Emits the audit every warehouse publishes with
    // a load: (rule, table, n_checked, n_violations, pass). Each rule
    // is a conditional aggregate over its table's scan (the referential
    // and temporal rules ride one orderkey equi-join); zero driver-side
    // evaluation, so the same rule set audits 100 TB unchanged.
    "etl_dq_rules" -> Query(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val docs = Tables.documents(s, d)
        val ev = Tables.events(s, d)
        // both lineitem rules ride ONE scan + ONE orderkey join: the agg
        // computes every rule's violation sum, then explodes to rows
        val liRules = li.select(col("l_orderkey"), col("l_shipdate"))
          .join(o.select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"), "left_outer")
          .agg(
            count(lit(1)).as("n_checked"),
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("orphans"),
            sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
              .as("shipbad"))
          .select(explode(array(
            struct(lit("r1_li_orphans").as("rule"), lit("lineitem").as("tbl"),
              col("n_checked"), col("orphans").as("n_violations")),
            struct(lit("r2_ship_before_order").as("rule"), lit("lineitem").as("tbl"),
              col("n_checked"), col("shipbad").as("n_violations")))).as("r"))
          .select(col("r.rule").as("rule"), col("r.tbl").as("tbl"),
            col("r.n_checked").as("n_checked"), col("r.n_violations").as("n_violations"))
        val r3 = o.agg(
          count(lit(1)).as("n_checked"),
          sum(when(col("o_totalprice") <= 0 || col("o_totalprice").isNull, 1L)
            .otherwise(0L)).as("n_violations"))
          .select(lit("r3_price_positive").as("rule"), lit("orders").as("tbl"),
            col("n_checked"), col("n_violations"))
        val r4 = docs.agg(
          count(lit(1)).as("n_checked"),
          sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
            .as("n_violations"))
          .select(lit("r4_nchars_consistent").as("rule"), lit("documents").as("tbl"),
            col("n_checked"), col("n_violations"))
        val r5 = ev.agg(
          count(lit(1)).as("n_checked"),
          sum(when(expr("(ts div 1000)") < lit(1704067200000000L) ||
              expr("(ts div 1000)") >= lit(1706745600000000L), 1L)
            .otherwise(0L)).as("n_violations"))
          .select(lit("r5_ts_in_window").as("rule"), lit("events").as("tbl"),
            col("n_checked"), col("n_violations"))
        liRules.unionAll(r3).unionAll(r4).unionAll(r5)
          .withColumn("pass", (col("n_violations") === 0).cast("long"))
      },
      Some("""SELECT * FROM (
             |SELECT 'r1_li_orphans' AS rule, 'lineitem' AS tbl,
             |  COUNT(*) AS n_checked,
             |  CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
             |  CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS BIGINT) AS pass
             |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
             |UNION ALL
             |SELECT 'r2_ship_before_order', 'lineitem', COUNT(*),
             |  CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) = 0 AS BIGINT)
             |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
             |UNION ALL
             |SELECT 'r3_price_positive', 'orders', COUNT(*),
             |  CAST(SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL THEN 1 ELSE 0 END) = 0 AS BIGINT)
             |FROM orders
             |UNION ALL
             |SELECT 'r4_nchars_consistent', 'documents', COUNT(*),
             |  CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) = 0 AS BIGINT)
             |FROM documents
             |UNION ALL
             |SELECT 'r5_ts_in_window', 'events', COUNT(*),
             |  CAST(SUM(CASE WHEN epoch_us(ts) < 1704067200000000 OR epoch_us(ts) >= 1706745600000000
             |                THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(SUM(CASE WHEN epoch_us(ts) < 1704067200000000 OR epoch_us(ts) >= 1706745600000000
             |                THEN 1 ELSE 0 END) = 0 AS BIGINT)
             |FROM events)""".stripMargin)
    ),

    // DOMAIN-MIXTURE REBALANCING: compute per-language sampling rates
    // that flatten a skewed corpus toward a uniform language mix (the
    // multilingual-pretraining rebalance; same machinery rebalances any
    // domain/source axis), then apply them with deterministic
    // hash-threshold sampling. Rates are INTEGER basis points
    // (min(10000, total·10000 div (nlang·cnt))) so no float ratio ever
    // crosses the oracle boundary, and the keep decision hashes only
    // the doc_id — reproducible under any partitioning, stable across
    // corpus refreshes. Two tiny aggs broadcast onto one scan.
    "etl_language_mix" -> Query(
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("nlang"))
        val rates = counts.crossJoin(broadcast(tot))
          .select(col("lang"),
            least(lit(10000L), expr("(total * 10000) div (nlang * cnt)")).as("rate_bp"))
        docs.join(broadcast(rates), "lang")
          .select(col("doc_id"), col("lang"), col("rate_bp"),
            (Hashing.md5Long32(concat(lit("mix_"), col("doc_id").cast("string"))) % 10000
              < col("rate_bp")).cast("long").as("keep"))
      },
      Some("""WITH counts AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
             |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS nlang FROM counts),
             |rates AS (SELECT lang,
             |            LEAST(10000, (total * 10000) // (nlang * cnt)) AS rate_bp
             |          FROM counts CROSS JOIN tot)
             |SELECT d.doc_id, d.lang, r.rate_bp,
             |  CAST(CAST('0x' || substr(md5('mix_' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000
             |       < r.rate_bp AS BIGINT) AS keep
             |FROM documents d JOIN rates r USING (lang)""".stripMargin)
    ),

    // Deterministic stratified corpus subsampling: hash-threshold
    // sampling (keep iff md5(doc_id) mod rate == 0) with a per-stratum
    // rate — hot sources downsampled 1:10, the rest 1:5. Unlike seeded
    // random sampling this is reproducible in ANY engine and stable
    // under re-partitioning/re-runs — the property a 100 TB corpus
    // refresh needs (adding new files never changes which old docs are
    // kept). One scan, no shuffle.
    "etl_stratified_sample" -> Query(
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("rate",
            when(col("source").isin("src0", "src1"), 10L).otherwise(5L))
          .filter(
            Hashing.md5Long60(concat(lit("sample_"), col("doc_id").cast("string")))
              % col("rate") === 0)
          .select(col("doc_id"), col("source"), col("rate")),
      Some("""SELECT doc_id, source, rate FROM (
             |  SELECT doc_id, source,
             |    CASE WHEN source IN ('src0', 'src1') THEN CAST(10 AS BIGINT)
             |         ELSE CAST(5 AS BIGINT) END AS rate,
             |    CAST('0x' || substr(md5('sample_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
             |  FROM documents)
             |WHERE h % rate = 0""".stripMargin)
    ),

    // Partition-pruned scan: events re-laid-out hive-partitioned by
    // epoch-day, then read back with a 7-day filter. At 100 TB this is
    // THE data-skipping lever — the filter resolves against directory
    // metadata so the scan never opens files outside the week
    // (PlanSpec pins PartitionFilters + the pruned partition count).
    // Day arithmetic is integer epoch-µs division on both engines.
    "etl_partition_prune" -> Query(
      (s, d) => {
        val dir = TmpDirs.dir(s"ppart_${Bucketing.dirTag(d)}")
        Tables.events(s, d)
          .withColumn("di", expr("(ts div 1000) div 86400000000"))
          .write.mode("overwrite").partitionBy("di").parquet(dir)
        // partition-column values are directory names; Spark re-infers
        // them as INT — cast back to BIGINT for cross-engine schema parity
        s.read.parquet(dir)
          .filter(col("di") >= 19725 && col("di") < 19732)
          .groupBy(col("di").cast("bigint").as("di"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      },
      Some("""SELECT epoch_us(ts) // 86400000000 AS di, event_type,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE epoch_us(ts) // 86400000000 >= 19725
             |  AND epoch_us(ts) // 86400000000 <  19732
             |GROUP BY 1, 2""".stripMargin)
    ),

    // Bucketed fact-fact join: orders and lineitem written as managed
    // tables bucketed (and sorted) on the order key, then joined and
    // aggregated. The bucketing IS the shuffle, paid once at write time —
    // every later join/agg on the key reads co-located buckets with no
    // Exchange (PlanSpec pins the shuffle-free plan; EtlSpec proves the
    // same for ad-hoc tables). This is how a 100 TB fact table amortizes
    // its join shuffle across the daily query load.
    "etl_bucketed_join" -> Query(
      (s, d) => {
        val tag = Bucketing.dirTag(d)
        val ot = s"g_bk_orders_$tag"; val lt = s"g_bk_lineitem_$tag"
        Bucketing.writeBucketed(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus")), ot, "o_orderkey", 8)
        Bucketing.writeBucketed(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice")), lt, "l_orderkey", 8)
        s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("sum_price"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_lines,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1""".stripMargin)
    ),

    // CDC changelog apply (MERGE / upsert-delete compaction): events as
    // an ordered per-key op stream — 'error' is a tombstone, everything
    // else an upsert — folded to the final table state: the latest op
    // wins per user, tombstoned keys disappear. One window on the key
    // (high cardinality, grows with the data) + at-most-once emit per
    // key; this is the snapshot-compaction half of a streaming CDC sink.
    "etl_cdc_apply" -> Query(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // order on the µs value, not raw ns: DuckDB reads parquet ns
        // timestamps µs-truncated, so ns-precision ordering could pick a
        // different "latest" row on a same-µs tie (event_id breaks ties)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), expr("ts div 1000").as("ts_us"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n_ops", count(lit(1)).over(
            Window.partitionBy(col("user_id"))))
          .filter(col("rn") === 1 && col("event_type") =!= "error")
          .select(col("user_id"), col("event_type").as("last_op"),
            col("value").as("last_value"), col("ts_us").as("last_ts_us"),
            col("n_ops"))
      },
      Some("""SELECT user_id, event_type AS last_op, value AS last_value,
             |  epoch_us(ts) AS last_ts_us, n_ops
             |FROM (SELECT user_id, event_type, value, ts,
             |        ROW_NUMBER() OVER (PARTITION BY user_id
             |          ORDER BY ts DESC, event_id DESC) AS rn,
             |        COUNT(*) OVER (PARTITION BY user_id) AS n_ops
             |      FROM events)
             |WHERE rn = 1 AND event_type <> 'error'""".stripMargin)
    ),

    // End-to-end corpus curation composite: quality filter -> exact
    // dedup (min doc_id survivor) -> near-dup drop (SimHash band
    // collision with a better-quality doc) -> clean corpus stats per
    // source. Chains the engine's text + dedup stages the way a real
    // curation run would; the oracle mirrors the FULL chain stage by
    // stage (quality formula, dedup window, SimHash votes, band join,
    // anti-join, stats) in one DuckDB statement.
    // INCREMENTAL curation: the day's batch (doc_id % 10 == 0) judged
    // against the standing corpus (the rest) — the shape a production
    // training-data pipeline actually runs daily. Each batch doc gets
    // ONE verdict with fixed precedence: low_quality (integer
    // repetition gates, text_repetition_filter's exact rules) >
    // exact_dup (content hash seen in the corpus, or an earlier batch
    // doc) > near_dup (shares a MinHash band with any corpus doc —
    // dedup_incremental's equi-join, used here as a drop filter) >
    // kept. Every stage is a bucket-key equi-join or a map-side
    // combinable agg; nothing is all-pairs, and every threshold is
    // integer arithmetic.
    "pipeline_incremental_curation" -> Query(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val batch = docs.filter(col("doc_id") % 10 === 0)
        val lines = filter(split(col("text"), "\n"), l => trim(l) =!= "")
        val toks = TextFunctions.cleanTokens(col("text"))
        val base = batch.select(col("doc_id"), col("source"),
          size(lines).cast("long").as("nl"),
          (size(lines) - size(array_distinct(lines))).cast("long").as("dl"),
          size(toks).cast("long").as("nt"),
          (size(toks) - size(array_distinct(toks))).cast("long").as("dt"),
          md5(col("text")).as("h"))
        val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val bstat = batch.select(col("doc_id"), posexplode(toks).as(Seq("pos", "t")))
          .select(col("doc_id"), col("t"), lead(col("t"), 1).over(wd).as("t2"))
          .filter(col("t2").isNotNull)
          .select(col("doc_id"), concat_ws(" ", col("t"), col("t2")).as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("nb"))
          .groupBy(col("doc_id")).agg(max(col("nb")).as("tb"), sum(col("nb")).as("nbg"))
        val corpusH = docs.filter(col("doc_id") % 10 =!= 0)
          .select(md5(col("text")).as("h")).distinct()
          .withColumn("in_corpus", lit(1L))
        val bands = graft.Caches.scoped(graft.dedup.DedupQueries.bandTable(s, d))
        val near = bands.filter(col("doc_id") % 10 === 0).as("n")
          .join(bands.filter(col("doc_id") % 10 =!= 0).as("c"),
            col("n.band_idx") === col("c.band_idx") && col("n.bkey") === col("c.bkey"))
          .select(col("n.doc_id").as("doc_id")).distinct()
          .withColumn("near", lit(1L))
        base
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("h")).orderBy(col("doc_id"))))
          .join(corpusH, Seq("h"), "left")
          .join(bstat, Seq("doc_id"), "left")
          .join(near, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            when(!(col("dl") * 10 <= col("nl") * 3 &&
                   col("dt") * 2 <= col("nt") &&
                   coalesce(col("tb"), lit(0L)) * 5 <= coalesce(col("nbg"), lit(0L)) &&
                   col("nt") >= 3), "low_quality")
              .when(col("in_corpus").isNotNull || col("rn") > 1, "exact_dup")
              .when(col("near").isNotNull, "near_dup")
              .otherwise("kept").as("verdict"))
      },
      Some(s"""WITH ${graft.dedup.DedupQueries.bandsCteSql},
             |near AS (SELECT DISTINCT n.doc_id FROM bd n JOIN bd c
             |           ON n.band_idx = c.band_idx AND n.bkey = c.bkey
             |         WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0),
             |b AS (SELECT doc_id, source,
             |        list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
             |        list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk2,
             |        md5(text) AS h
             |      FROM documents WHERE doc_id % 10 = 0),
             |bgx AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk2) - 1),
             |          i -> concat_ws(' ', tk2[i], tk2[i+1]))) AS bg
             |        FROM b WHERE len(tk2) >= 2),
             |bc2 AS (SELECT doc_id, bg, COUNT(*) AS nb FROM bgx GROUP BY 1, 2),
             |bstat AS (SELECT doc_id, MAX(nb) AS tb, SUM(nb) AS nbg FROM bc2 GROUP BY 1),
             |ch AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0),
             |rnk AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM b)
             |SELECT b.doc_id, b.source,
             |  CASE WHEN NOT ((len(lines) - len(list_distinct(lines))) * 10 <= len(lines) * 3
             |             AND (len(tk2) - len(list_distinct(tk2))) * 2 <= len(tk2)
             |             AND COALESCE(tb, 0) * 5 <= COALESCE(nbg, 0)
             |             AND len(tk2) >= 3) THEN 'low_quality'
             |       WHEN b.h IN (SELECT h FROM ch) OR rnk.rn > 1 THEN 'exact_dup'
             |       WHEN b.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
             |       ELSE 'kept' END AS verdict
             |FROM b JOIN rnk USING (doc_id) LEFT JOIN bstat USING (doc_id)""".stripMargin)
    ),

    "pipeline_corpus_curation" -> Query(
      (s, d) => {
        val toks = TextFunctions.cleanTokens(col("text"))
        val scored = Tables.documents(s, d)
          .withColumn("quality", TextFunctions.qualityScore(col("text")))
          .filter(col("quality") >= 0.3 && size(toks) >= 3)
        // persisted: feeds the SimHash pass AND the final anti-join —
        // without it the tokenize+hash+window dedup runs twice
        // (cache ownership via graft.Caches: caller releases)
        val exact = graft.Caches.scoped(scored
          .withColumn("h", md5(col("text")))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
              .orderBy(col("doc_id"))))
          .filter(col("rn") === 1).drop("rn", "h"))
        val sims = exact.select(col("doc_id"), col("quality"))
          .join(graft.dedup.SimHash.relational(
            exact.select(col("doc_id"), col("text")), "doc_id", "text"), Seq("doc_id"))
        val bands = graft.Caches.scoped(sims
          .select(col("doc_id"), col("quality"), col("sim"),
            explode(array((0 until 4).map(b =>
              struct(lit(b).as("bi"), Hashing.simHashBand(col("sim"), b).as("bk"))): _*)).as("bd"))
          .select(col("doc_id"), col("quality"), col("sim"),
            col("bd.bi").as("bi"), col("bd.bk").as("bk"))) // both sides of the loser self-join below
        // drop any doc that band-collides with a strictly better one
        val losers = bands.as("a").join(bands.as("b"),
            col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") &&
              (col("b.quality") > col("a.quality") ||
               (col("b.quality") === col("a.quality") && col("b.doc_id") < col("a.doc_id"))) &&
              Hashing.hamming60(col("a.sim"), col("b.sim")) <= 20)
          .select(col("a.doc_id").as("doc_id")).distinct()
        val clean = exact.join(losers, Seq("doc_id"), "left_anti")
        // decimal-sum mean, not avg(double): double summation order is
        // partition-dependent, the decimal sum is exact in any order
        clean.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            round(sum(col("quality").cast("decimal(18,12)")).cast("double")
              / count(lit(1)), 4).as("avg_quality"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text, source, n_chars,
             |    LEAST(length(text)/500.0, 1.0) * 0.4
             |      + GREATEST(1.0 - (CASE WHEN length(text) > 0
             |          THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / length(text)
             |          ELSE 0.0 END) * 5, 0.0) * 0.4
             |      + LEAST((CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) > 0
             |          THEN CAST(len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''),
             |                 x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'for', 'on'], x))) AS DOUBLE)
             |               / len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''))
             |          ELSE 0.0 END) * 5, 1.0) * 0.2 AS quality,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
             |  FROM documents),
             |filt AS (SELECT * FROM base WHERE quality >= 0.3 AND len(tk) >= 3),
             |ex AS (SELECT * FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |    FROM filt) WHERE rn = 1),
             |th AS (SELECT doc_id, CAST('0x' || substr(md5(u.tn), 1, 15) AS BIGINT) AS h
             |       FROM (SELECT doc_id, unnest(tk) AS tn FROM ex) u),
             |bitsum AS (SELECT doc_id, jj.j AS j,
             |             SUM(CASE WHEN (h >> jj.j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
             |           FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) jj
             |           GROUP BY doc_id, jj.j),
             |sh AS (SELECT doc_id,
             |         CAST(SUM(CASE WHEN vote >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sim
             |       FROM bitsum GROUP BY doc_id),
             |bands AS (SELECT e.doc_id, e.quality, s.sim, bb.b AS bi, (s.sim >> (15*bb.b)) & 32767 AS bk
             |          FROM ex e JOIN sh s ON e.doc_id = s.doc_id
             |          CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb),
             |losers AS (SELECT DISTINCT a.doc_id
             |           FROM bands a JOIN bands b ON a.bi = b.bi AND a.bk = b.bk
             |             AND (b.quality > a.quality OR (b.quality = a.quality AND b.doc_id < a.doc_id))
             |             AND bit_count(xor(a.sim, b.sim)) <= 20),
             |clean AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers))
             |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 4) AS avg_quality
             |FROM clean GROUP BY source""".stripMargin)
    ),

    // Small-file compaction PLANNER — the defrag pass every long-lived
    // 100 TB table needs: streaming ingest leaves millions of KB-sized
    // files whose per-file open/seek overhead dominates scan time.
    // Documents stand in for data files (n_chars = file bytes); within
    // each source, files are packed id-ordered into ~256 KiB output
    // bins by bucketing the exclusive running sum of sizes — greedy
    // sequential packing, the same contract as a writer's
    // maxRecordsPerFile roll. One shuffle on source; a bin overshoots
    // the target by at most one file, and the id-ordered pack keeps
    // any id-range file-pruning property the table had. The output IS
    // the compaction manifest: (bin, file span, byte total) per
    // rewrite task. Hot-source caveat: one source's plan is sequential
    // (a per-source window) — at extreme skew, split the source by id
    // range first, exactly like the salted-agg pattern.
    "etl_compaction_plan" -> Query(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("cum_before", coalesce(sum(col("n_chars")).over(w), lit(0L)))
          .withColumn("bin", expr("cum_before div 262144"))
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_files"),
            sum(col("n_chars")).as("bin_bytes"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
      },
      Some("""WITH f AS (SELECT source, doc_id, n_chars,
             |    COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
             |  FROM documents)
             |SELECT source, CAST(cum_before // 262144 AS BIGINT) AS bin,
             |  COUNT(*) AS n_files, CAST(SUM(n_chars) AS BIGINT) AS bin_bytes,
             |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM f GROUP BY 1, 2""".stripMargin)
    ),

    // Data-mixture planner — the sampling schedule every multi-source
    // training corpus needs: given observed per-source sizes and a
    // target mixture weight, emit each source's sampling ratio and
    // epoch count (how many passes over the source fill its share of
    // a one-corpus-sized token budget). Ratios > 1 mean upsampling
    // (repeat the source), < 1 mean downsampling — feed the ratio to
    // etl_stratified_sample's hash-threshold keeper. Two tiny
    // aggregates; the 1-row corpus total rides a broadcast, so the
    // plan is O(sources) regardless of corpus size.
    "etl_mixture_plan" -> Query(
      (s, d) => {
        val per = Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        val tot = per.agg(sum(col("sum_chars")).as("total_chars"))
        per.crossJoin(broadcast(tot))
          .withColumn("target_w",
            when(col("source") === "src0", lit(0.15))
              .when(col("source") === "src1", lit(0.10))
              .otherwise(lit(0.75 / 18)))
          .select(col("source"), col("n_docs"), col("sum_chars"),
            round(col("sum_chars").cast("double") / col("total_chars").cast("double"), 4)
              .as("obs_share"),
            round(col("target_w"), 4).as("target_share"),
            round(col("target_w") * col("total_chars").cast("double")
              / col("sum_chars").cast("double"), 4).as("sample_ratio"),
            ceil(col("target_w") * col("total_chars").cast("double")
              / col("sum_chars").cast("double")).cast("long").as("epochs"))
      },
      Some("""WITH per AS (SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(SUM(sum_chars) AS BIGINT) AS total_chars FROM per),
             |wt AS (SELECT *, CASE WHEN source = 'src0' THEN CAST(0.15 AS DOUBLE)
             |                      WHEN source = 'src1' THEN CAST(0.10 AS DOUBLE)
             |                      ELSE CAST(0.75 AS DOUBLE) / 18 END AS w
             |       FROM per CROSS JOIN tot)
             |SELECT source, n_docs, sum_chars,
             |  ROUND(CAST(sum_chars AS DOUBLE) / CAST(total_chars AS DOUBLE), 4) AS obs_share,
             |  ROUND(w, 4) AS target_share,
             |  ROUND(w * CAST(total_chars AS DOUBLE) / CAST(sum_chars AS DOUBLE), 4) AS sample_ratio,
             |  CAST(CEIL(w * CAST(total_chars AS DOUBLE) / CAST(sum_chars AS DOUBLE)) AS BIGINT) AS epochs
             |FROM wt""".stripMargin)
    ),

    // Deterministic stratified train/val/test split manifest: each doc
    // lands in a split by hash bucket (md5 of the doc id, mod 100 —
    // 90/5/5), so membership is a pure function of the id: stable
    // under re-partitioning, re-runs, and corpus growth (new docs
    // never move old ones between splits — the property that keeps a
    // held-out set HELD OUT across refreshes of a 100 TB corpus).
    // Row-local split assignment, one shuffle for the audit rollup.
    "etl_train_val_split" -> Query(
      (s, d) => {
        val h = Hashing.md5Long60(concat(lit("split_"), col("doc_id").cast("string"))) % 100
        Tables.documents(s, d)
          .withColumn("split",
            when(h < 90, "train").when(h < 95, "val").otherwise("test"))
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""WITH t AS (SELECT source, n_chars,
             |    CAST('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS h
             |  FROM documents)
             |SELECT source,
             |  CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
             |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |FROM t GROUP BY 1, 2""".stripMargin)
    ),

    // K-FOLD split audit — the cross-validation twin of
    // etl_train_val_split: deterministic fold assignment (md5 % 5 on
    // doc_id, so any engine reproduces membership without storing it)
    // plus the balance readout that decides whether hashed folds are
    // usable as-is: per (fold, lang) doc counts and the within-fold
    // share in basis points. A skewed share says "stratify instead".
    // One map-side agg + a broadcast per-fold total.
    "etl_kfold_split" -> Query(
      (s, d) => {
        val fold = Hashing.md5Long60(
          concat(lit("fold_"), col("doc_id").cast("string"))) % 5
        val g = Tables.documents(s, d)
          .groupBy(fold.as("fold"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        val ft = g.groupBy(col("fold").as("f")).agg(sum(col("n_docs")).as("fn"))
        g.join(broadcast(ft), col("fold") === col("f"))
          .select(col("fold"), col("lang"), col("n_docs"), col("sum_chars"),
            expr("n_docs * 10000 div fn").as("lang_share_bp"))
      },
      Some("""WITH t AS (SELECT lang, n_chars,
             |    CAST('0x' || substr(md5('fold_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 5 AS fold
             |  FROM documents),
             |g AS (SELECT fold, lang, COUNT(*) AS n_docs,
             |        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |      FROM t GROUP BY 1, 2),
             |ft AS (SELECT fold, SUM(n_docs) AS fn FROM g GROUP BY 1)
             |SELECT g.fold, g.lang, g.n_docs, g.sum_chars,
             |  CAST(g.n_docs * 10000 // ft.fn AS BIGINT) AS lang_share_bp
             |FROM g JOIN ft USING (fold)""".stripMargin)
    ),

    // Bloom-filter manifest — the EQUALITY twin of etl_zone_map's
    // range pruning: zone maps skip files by min/max, but a point
    // lookup on an unclustered key (o_custkey here) matches every
    // zone's range; a per-file bloom filter (4096 bits, 3 md5-derived
    // hashes per key) answers "might this file contain key k" with no
    // false negatives. The manifest is the DISTINCT (file, set-bit)
    // table — bounded by files x m regardless of data volume — and a
    // probe costs a 3-row broadcast join against it, never a data
    // read. Emits, per probe key, how many of the 16 synthetic file
    // partitions the bloom admits vs truly contain it; the gap is the
    // false-positive overhead a planner pays (and the zero-false-
    // negative invariant the row-level guarantee rests on, asserted in
    // QualitySpec). All integer arithmetic on md5 bits both engines
    // compute identically.
    "etl_bloom_manifest" -> Query(
      (s, d) => {
        val m = 4096
        def bloomBit(k: org.apache.spark.sql.Column,
                     h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          conv(substring(md5(concat(k.cast("string"), lit(":"), h.cast("string"))),
            1, 15), 16, 10).cast("long") % m
        val hs = array(lit(1), lit(2), lit(3))
        val files = Tables.orders(s, d)
          .select((col("o_orderkey") % 16).as("pid"), col("o_custkey"))
        val bits = files
          .select(col("pid"), col("o_custkey"), explode(hs).as("h"))
          .select(col("pid"), bloomBit(col("o_custkey"), col("h")).as("bit"))
          .distinct()
        val probes = Tables.customer(s, d).filter(col("c_custkey") <= 40)
          .select(col("c_custkey").as("probe_key"))
        val pbits = probes
          .select(col("probe_key"), explode(hs).as("h"))
          .select(col("probe_key"), col("h"), bloomBit(col("probe_key"), col("h")).as("bit"))
        val bloomHits = bits.join(broadcast(pbits), Seq("bit"))
          .groupBy(col("probe_key"), col("pid"))
          .agg(countDistinct(col("h")).as("nh"))
          .filter(col("nh") === 3)
          .groupBy(col("probe_key")).agg(count(lit(1)).as("n_parts_bloom"))
        val trueHits = files
          .join(broadcast(probes.withColumnRenamed("probe_key", "o_custkey")),
            Seq("o_custkey"), "left_semi")
          .select(col("o_custkey").as("probe_key"), col("pid")).distinct()
          .groupBy(col("probe_key")).agg(count(lit(1)).as("n_parts_true"))
        probes.join(bloomHits, Seq("probe_key"), "left")
          .join(trueHits, Seq("probe_key"), "left")
          .select(col("probe_key"),
            coalesce(col("n_parts_bloom"), lit(0L)).as("n_parts_bloom"),
            coalesce(col("n_parts_true"), lit(0L)).as("n_parts_true"),
            (coalesce(col("n_parts_bloom"), lit(0L))
              - coalesce(col("n_parts_true"), lit(0L))).as("n_false_pos"))
      },
      Some("""WITH b0 AS (SELECT o_orderkey % 16 AS pid, o_custkey AS k FROM orders),
             |hs AS (SELECT unnest(generate_series(1, 3)) AS h),
             |bits AS (SELECT DISTINCT pid,
             |    CAST('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(h AS VARCHAR)), 1, 15)
             |         AS BIGINT) % 4096 AS bit
             |  FROM b0 CROSS JOIN hs),
             |probes AS (SELECT c_custkey AS probe_key FROM customer WHERE c_custkey <= 40),
             |pb AS (SELECT probe_key, h,
             |    CAST('0x' || substr(md5(CAST(probe_key AS VARCHAR) || ':' || CAST(h AS VARCHAR)), 1, 15)
             |         AS BIGINT) % 4096 AS bit
             |  FROM probes CROSS JOIN hs),
             |bh AS (SELECT probe_key, pid FROM pb JOIN bits USING (bit)
             |       GROUP BY probe_key, pid HAVING COUNT(DISTINCT h) = 3),
             |bhc AS (SELECT probe_key, COUNT(*) AS n FROM bh GROUP BY 1),
             |th AS (SELECT k AS probe_key, COUNT(DISTINCT pid) AS n FROM b0
             |       WHERE k IN (SELECT probe_key FROM probes) GROUP BY 1)
             |SELECT p.probe_key,
             |  CAST(COALESCE(bhc.n, 0) AS BIGINT) AS n_parts_bloom,
             |  CAST(COALESCE(th.n, 0) AS BIGINT) AS n_parts_true,
             |  CAST(COALESCE(bhc.n, 0) - COALESCE(th.n, 0) AS BIGINT) AS n_false_pos
             |FROM probes p LEFT JOIN bhc ON p.probe_key = bhc.probe_key
             |LEFT JOIN th ON p.probe_key = th.probe_key""".stripMargin)
    ),

    // Zone-map manifest — file-level min/max statistics, the data-
    // skipping layer under every lakehouse format: lineitem laid out
    // date-clustered (a "file" = a 32-day shipdate bin), and the zone
    // map records each file's row count and min/max of the clustered
    // and secondary columns. `skip` pre-evaluates a Q6-style
    // three-month predicate against the zone: a planner consults THIS
    // manifest (KB) instead of opening files (TB) — at 100 TB it is
    // the difference between a scan and a lookup. Integer epoch-day
    // binning; one map-side-combinable shuffle on the bin key.
    "etl_zone_map" -> Query(
      (s, d) => {
        val day = datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
        Tables.lineitem(s, d)
          .withColumn("zone", (day.cast("long") / 32).cast("long"))
          .groupBy(col("zone"))
          .agg(count(lit(1)).as("n_rows"),
            min(Parity.dateStr(col("l_shipdate"))).as("min_ship"),
            max(Parity.dateStr(col("l_shipdate"))).as("max_ship"),
            min(col("l_orderkey")).as("min_okey"),
            max(col("l_orderkey")).as("max_okey"))
          .withColumn("skip",
            when(col("max_ship") < "1995-06-01" || col("min_ship") >= "1995-09-01", 1L)
              .otherwise(0L))
      },
      Some("""WITH z AS (SELECT
             |    CAST((CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 32 AS BIGINT) AS zone,
             |    strftime(l_shipdate, '%Y-%m-%d') AS ship, l_orderkey
             |  FROM lineitem)
             |SELECT zone, COUNT(*) AS n_rows,
             |  MIN(ship) AS min_ship, MAX(ship) AS max_ship,
             |  MIN(l_orderkey) AS min_okey, MAX(l_orderkey) AS max_okey,
             |  CASE WHEN MAX(ship) < '1995-06-01' OR MIN(ship) >= '1995-09-01'
             |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS skip
             |FROM z GROUP BY 1""".stripMargin)
    ),

    // Join-key skew probe — the diagnostic you run BEFORE a 100 TB
    // join: per-key frequency of the join column, top-10 heaviest keys
    // with their share of all rows and an integer-exact hot flag
    // (share > 1%). Hot keys get salted (join_skew_salted) or the dim
    // side broadcast; everything else shuffles normally. The heavy-key
    // scan is one map-side-combinable agg + a TakeOrderedAndProject
    // top-k (plan-pinned) — no global sort, no collect.
    "etl_skew_probe" -> Query(
      (s, d) => {
        val per = Tables.events(s, d)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        val tot = Tables.events(s, d).agg(count(lit(1)).as("total"))
        per.crossJoin(broadcast(tot))
          .select(col("user_id"), col("n_events"),
            round(col("n_events").cast("double") / col("total").cast("double"), 6)
              .as("share"),
            when(col("n_events") * 100 > col("total"), 1L).otherwise(0L).as("hot"))
          .orderBy(col("n_events").desc, col("user_id"))
          .limit(10)
      },
      Some("""WITH per AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS total FROM events)
             |SELECT user_id, n_events,
             |  ROUND(CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
             |  CASE WHEN n_events * 100 > total THEN CAST(1 AS BIGINT)
             |       ELSE CAST(0 AS BIGINT) END AS hot
             |FROM per CROSS JOIN tot
             |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin)
    ),

    // Feed-freshness audit — the staleness monitor over a multi-feed
    // ingest (each event type stands in for an upstream feed): per
    // feed, row count, latest event time, lag behind the freshest
    // feed, and an integer-exact stale flag (> 12 h behind). All
    // map-side-combinable MAX/COUNT aggs; the 1-row global watermark
    // rides a broadcast. Epoch-µs integer arithmetic end to end
    // (events.parquet stores ns; both engines compare µs exactly).
    "etl_freshness_audit" -> Query(
      (s, d) => {
        val per = Tables.events(s, d)
          .select(col("event_type"), expr("ts div 1000").as("us"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"), max(col("us")).as("max_ts_us"))
        val gmax = per.agg(max(col("max_ts_us")).as("watermark_us"))
        per.crossJoin(broadcast(gmax))
          .select(col("event_type"), col("n_events"), col("max_ts_us"),
            (col("watermark_us") - col("max_ts_us")).as("lag_us"),
            when(col("watermark_us") - col("max_ts_us") > 43200000000L, 1L)
              .otherwise(0L).as("stale"))
      },
      Some("""WITH per AS (SELECT event_type, COUNT(*) AS n_events,
             |    MAX(epoch_us(ts)) AS max_ts_us
             |  FROM events GROUP BY 1),
             |g AS (SELECT MAX(max_ts_us) AS watermark_us FROM per)
             |SELECT event_type, n_events, max_ts_us,
             |  watermark_us - max_ts_us AS lag_us,
             |  CASE WHEN watermark_us - max_ts_us > 43200000000
             |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS stale
             |FROM per CROSS JOIN g""".stripMargin)
    ),

    // Z-ORDER clustering manifest — multi-dimensional data skipping:
    // interleave the low 16 bits of (orderkey, partkey) into a Morton
    // key, bin rows by Morton range ("files" of a Z-order-clustered
    // rewrite), and record each bin's min/max of BOTH columns plus
    // pre-evaluated skip flags for one predicate per dimension.
    // Z-order keeps BOTH ranges bounded per bin, so either predicate
    // prunes — the property a single-column sort gives only its own
    // column. The Morton key is 32 static shift/mask terms folded by
    // codegen (no HOF, no UDF); one map-side-combinable shuffle on
    // the bin key.
    "etl_zorder_cluster" -> Query(
      (s, d) => {
        val z = (0 until 16).map { i =>
          shiftleft(shiftright(col("l_orderkey"), i).bitwiseAND(1), 2 * i) +
            shiftleft(shiftright(col("l_partkey"), i).bitwiseAND(1), 2 * i + 1)
        }.reduce(_ + _)
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), z.as("zkey"))
          .withColumn("zbin", expr("zkey div 4194304"))
          .groupBy(col("zbin"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
            min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"))
          .withColumn("skip_ok_pred",
            when(col("max_ok") < 1000 || col("min_ok") >= 2000, 1L).otherwise(0L))
          .withColumn("skip_pk_pred",
            when(col("max_pk") < 500 || col("min_pk") >= 600, 1L).otherwise(0L))
      },
      Some("""WITH z AS (SELECT l_orderkey, l_partkey,
             |    CAST(list_sum(list_transform(generate_series(0, 15),
             |      i -> (((l_orderkey >> i) & 1) << (2*i)) +
             |           (((l_partkey  >> i) & 1) << (2*i + 1)))) AS BIGINT) AS zkey
             |  FROM lineitem)
             |SELECT CAST(zkey // 4194304 AS BIGINT) AS zbin, COUNT(*) AS n_rows,
             |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
             |  MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
             |  CASE WHEN MAX(l_orderkey) < 1000 OR MIN(l_orderkey) >= 2000
             |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS skip_ok_pred,
             |  CASE WHEN MAX(l_partkey) < 500 OR MIN(l_partkey) >= 600
             |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS skip_pk_pred
             |FROM z GROUP BY 1""".stripMargin)
    ),

    // RETENTION / TTL PURGE manifest — the deletion planner a
    // compliance-bound event store runs nightly: per event-day
    // partition, row/user counts and the retention action (keep the
    // last 14 days, archive to 21, purge beyond) relative to the
    // corpus watermark. All integer day arithmetic against a broadcast
    // 1-row max; the manifest is metadata-sized (one map-side agg), so
    // the plan is identical whether the table holds 1 GB or 100 TB —
    // the actual delete then targets whole partitions
    // (Sinks.backfillPartitions-style), never row scans.
    "etl_retention_purge" -> Query(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("di"))
        val mx = ev.agg(max(col("di")).as("maxd"))
        ev.groupBy(col("di"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("user_id")).as("n_users"))
          .crossJoin(broadcast(mx))
          .select(col("di").as("day"), col("n_rows"), col("n_users"),
            (col("maxd") - col("di")).as("age_days"),
            when(col("maxd") - col("di") <= 14, "keep")
              .when(col("maxd") - col("di") <= 21, "archive")
              .otherwise("purge").as("action"))
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS di FROM events),
             |mx AS (SELECT MAX(di) AS maxd FROM ev)
             |SELECT di AS day, COUNT(*) AS n_rows,
             |  COUNT(DISTINCT user_id) AS n_users,
             |  CAST(maxd - di AS BIGINT) AS age_days,
             |  CASE WHEN maxd - di <= 14 THEN 'keep'
             |       WHEN maxd - di <= 21 THEN 'archive'
             |       ELSE 'purge' END AS action
             |FROM ev CROSS JOIN mx
             |GROUP BY di, maxd""".stripMargin)
    ),

    // COLUMN-PROFILING manifest — the auto-profiler every catalog runs
    // on ingest (null rates, cardinalities, value spans per column).
    // One row per profiled column via a union of single-column aggs:
    // each leg's scan is pruned to ITS column (the realistic shape on
    // a columnar store — profiling cost is one pass per column, all
    // map-side-combinable). Min/max ship as strings with engine-proof
    // formatting: integers verbatim, doubles through DECIMAL(18,2),
    // timestamps through a fixed date format.
    "etl_profile_columns" -> Query(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        def leg(name: String, minS: Column, maxS: Column): org.apache.spark.sql.DataFrame =
          li.agg(count(lit(1)).as("n_rows"),
              sum(col(name).isNull.cast("long")).as("n_null"),
              countDistinct(col(name)).as("n_distinct"),
              minS.as("min_s"), maxS.as("max_s"))
            .select(lit(name).as("column"), col("n_rows"), col("n_null"),
              col("n_distinct"), col("min_s"), col("max_s"))
        def intLeg(name: String) =
          leg(name, min(col(name)).cast("string"), max(col(name)).cast("string"))
        def dblLeg(name: String) =
          leg(name, min(col(name)).cast("decimal(18,2)").cast("string"),
            max(col(name)).cast("decimal(18,2)").cast("string"))
        def strLeg(name: String) =
          leg(name, min(col(name)), max(col(name)))
        def tsLeg(name: String) =
          leg(name, date_format(min(col(name)), "yyyy-MM-dd HH:mm:ss"),
            date_format(max(col(name)), "yyyy-MM-dd HH:mm:ss"))
        Seq(intLeg("l_orderkey"), intLeg("l_partkey"), intLeg("l_suppkey"),
          intLeg("l_linenumber"), dblLeg("l_quantity"), dblLeg("l_extendedprice"),
          strLeg("l_returnflag"), tsLeg("l_shipdate"))
          .reduce(_ unionAll _)
      },
      Some {
        def leg(name: String, minS: String, maxS: String) =
          s"""SELECT '$name' AS "column", COUNT(*) AS n_rows,
             |  CAST(SUM(CAST($name IS NULL AS BIGINT)) AS BIGINT) AS n_null,
             |  COUNT(DISTINCT $name) AS n_distinct,
             |  $minS AS min_s, $maxS AS max_s
             |FROM lineitem""".stripMargin
        def intLeg(n: String) =
          leg(n, s"CAST(MIN($n) AS VARCHAR)", s"CAST(MAX($n) AS VARCHAR)")
        def dblLeg(n: String) =
          leg(n, s"CAST(CAST(MIN($n) AS DECIMAL(18,2)) AS VARCHAR)",
            s"CAST(CAST(MAX($n) AS DECIMAL(18,2)) AS VARCHAR)")
        def strLeg(n: String) = leg(n, s"MIN($n)", s"MAX($n)")
        def tsLeg(n: String) =
          leg(n, s"strftime(MIN($n), '%Y-%m-%d %H:%M:%S')",
            s"strftime(MAX($n), '%Y-%m-%d %H:%M:%S')")
        Seq(intLeg("l_orderkey"), intLeg("l_partkey"), intLeg("l_suppkey"),
          intLeg("l_linenumber"), dblLeg("l_quantity"), dblLeg("l_extendedprice"),
          strLeg("l_returnflag"), tsLeg("l_shipdate"))
          .mkString("\nUNION ALL\n")
      }
    ),

    // REFERENTIAL-INTEGRITY audit — the FK-orphan counts a warehouse
    // checks after every load (and the first thing that breaks when an
    // upstream partial-delivers): per declared relationship, total
    // child rows and how many reference a missing parent. Each leg is
    // one LEFT equi-join + count; dimension parents (part, supplier,
    // customer, documents) broadcast, and the one fact-fact leg
    // (lineitem->orders) shuffles on the join key only. Parents are
    // primary keys by schema, so the left join cannot fan out. Output
    // is O(#relationships) rows regardless of data volume.
    "etl_fk_orphans" -> Query(
      (s, d) => {
        def audit(rel: String, child: DataFrame, key: String,
                  parent: DataFrame, pk: String): DataFrame =
          child.select(col(key).as("k"))
            .join(parent.select(col(pk).as("k")).withColumn("hit", lit(1L)),
              Seq("k"), "left")
            .agg(count(lit(1)).as("n_rows"),
              sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
            .select(lit(rel).as("rel"), col("n_rows"), col("n_orphans"))
        val li = Tables.lineitem(s, d)
        audit("lineitem.l_orderkey->orders.o_orderkey",
            li, "l_orderkey", Tables.orders(s, d), "o_orderkey")
          .unionByName(audit("lineitem.l_partkey->part.p_partkey",
            li, "l_partkey", broadcast(Tables.part(s, d)), "p_partkey"))
          .unionByName(audit("lineitem.l_suppkey->supplier.s_suppkey",
            li, "l_suppkey", broadcast(Tables.supplier(s, d)), "s_suppkey"))
          .unionByName(audit("orders.o_custkey->customer.c_custkey",
            Tables.orders(s, d), "o_custkey",
            broadcast(Tables.customer(s, d)), "c_custkey"))
          .unionByName(audit("embeddings.vec_id->documents.doc_id",
            Tables.embeddings(s, d), "vec_id",
            broadcast(Tables.documents(s, d)), "doc_id"))
      },
      Some("""SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS rel,
             |  COUNT(*) AS n_rows,
             |  CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_orphans
             |FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
             |UNION ALL
             |SELECT 'lineitem.l_partkey->part.p_partkey', COUNT(*),
             |  CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
             |UNION ALL
             |SELECT 'lineitem.l_suppkey->supplier.s_suppkey', COUNT(*),
             |  CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |UNION ALL
             |SELECT 'orders.o_custkey->customer.c_custkey', COUNT(*),
             |  CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
             |UNION ALL
             |SELECT 'embeddings.vec_id->documents.doc_id', COUNT(*),
             |  CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |FROM embeddings e LEFT JOIN documents d ON d.doc_id = e.vec_id""".stripMargin)
    ),

    // EVAL/ANNOTATION batch sampler — a FIXED quota per stratum (2 docs
    // per source x lang cell), drawn deterministically by salted-md5
    // order so reruns pick the identical batch and no stratum is
    // starved (the complement of etl_stratified_sample's rate-based
    // draw, which keeps proportions but not minimums). One window over
    // the stratum key; output is O(strata) rows at any corpus size.
    "etl_eval_sample" -> Query(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, d)
          .withColumn("h",
            Hashing.md5Long60(concat(lit("eval_"), col("doc_id").cast("string"))))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("source"), col("lang"))
              .orderBy(col("h"), col("doc_id"))).cast("long"))
          .filter(col("rn") <= 2)
          .select(col("doc_id"), col("source"), col("lang"), col("rn"))
      },
      Some("""SELECT doc_id, source, lang, CAST(rn AS BIGINT) AS rn FROM (
             |  SELECT doc_id, source, lang,
             |    ROW_NUMBER() OVER (PARTITION BY source, lang
             |      ORDER BY CAST('0x' || substr(md5('eval_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
             |        doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 2""".stripMargin)
    )
  )
}
