package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed managed tables — the pre-shuffle that makes repeated joins
  * and aggregations on the same key shuffle-free at read time.
  *
  * At 100 TB the dominant cost of fact⋈fact joins is the shuffle; a
  * table bucketed (and sorted) on the join key is hash-partitioned on
  * disk once, so every later join/agg on that key reads co-located
  * buckets with NO Exchange in the plan (verified in EtlSpec).
  */
object Bucketing {

  /** Bucket count for a materialized index whose downstream work is
    * JOIN-dominated, derived from the index's estimated row volume and
    * clamped by the session's parallelism (r18).
    *
    * A bucketed scan schedules exactly ONE task per bucket, and every
    * exchange-free operator downstream of it (the co-bucketed
    * self-join, the pair aggregation above it) inherits that
    * partitioning — so the bucket count IS the parallelism ceiling of
    * the whole shuffle-free chain. The former constant 8 capped the
    * 10x shingle-index self-join at 8 of 32 cores (measured: the one
    * family member whose cost is join-dominated rather than
    * build-dominated, dedup_ngram_jaccard, got SLOWER when it moved
    * onto the 8-bucket index — 10.2 → 13.2 s in the r18 sf1 block
    * sweep — while its build-dominated siblings improved).
    *
    * Buckets must track the DATA, not just cores: a parallelism-only
    * rule (max(8, slots) = 32 here, measured first) HURT the
    * small-corpus bench — iterative consumers reschedule the
    * bucket-count tasks every iteration (graph_katz +1.4 s at sf0.1)
    * and queries that rebuild an index in their timed body pay a
    * 4x-wider bucketed write (dedup_incremental +2.9 s) — so only the
    * indexes whose consumers are single-pass heavy self-joins use this
    * rule, sized by estimated rows, and everything else keeps the
    * measured-fine constant 8. Floor 8 (a tiny local[2] probe session
    * must not write a 2-bucket index a later 32-core session would be
    * stuck with); cap at `defaultParallelism` (more buckets than slots
    * buys nothing locally and shrinks files). Production at 100 TB
    * wants buckets >> slots so each bucket file lands in the
    * 128 MB-1 GB range (guide §6), which this slot-capped rule does
    * not give; it keeps the bench comparable at every core count it
    * runs.
    */
  def adaptiveBuckets(s: org.apache.spark.sql.SparkSession,
                      estRows: Long, rowsPerBucket: Long): Int = {
    val byData = math.ceil(estRows.toDouble / rowsPerBucket).toInt
    math.max(8, math.min(s.sparkContext.defaultParallelism, byData))
  }

  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, sorted: Boolean = true): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }

  /** Unique managed-table suffix for a data dir: sanitized basename
    * (readable) + first 8 md5 hex chars of the ABSOLUTE path (unique).
    * Basename alone collides: two dirs with the same leaf name — or
    * names differing only in non-word chars (`data-1` vs `data_1`) —
    * would share a table, and the second build would silently serve
    * the first dir's queries the second dir's rows.
    */
  def dirTag(d: String): String = {
    val abs = new java.io.File(d).getAbsolutePath
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new java.io.File(d).getName.replaceAll("\\W", "_") + "_" +
      digest.take(4).map(b => f"$b%02x").mkString
  }

  /** Memoized bucketed materialization with a PER-SESSION catalog
    * guard: the memo map is JVM-global, but managed tables live in a
    * SparkSession's catalog — a fresh session in the same JVM (new
    * warehouse, new catalog) hits the memo yet lacks the table, so
    * rebuild instead of failing with TABLE_OR_VIEW_NOT_FOUND (or
    * silently reading a stale table from a prior warehouse).
    */
  // Per-memoKey lock objects. The Spark write must NOT run inside a
  // ConcurrentHashMap.compute: the CHM contract requires computations
  // to be short and to never re-enter the map, and a long saveAsTable
  // job under a bin lock stalls unrelated keys (or deadlocks if the
  // fresh-body ever touches the same memo). computeIfAbsent here only
  // allocates a lock object — trivially short — and the whole
  // check-then-write critical section runs under that per-key monitor.
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  // Bucket-count staleness (r18 ADVICE): a FRESH JVM always rebuilds
  // (memo miss => writeBucketed regardless of a pre-existing table, in
  // Overwrite mode), so a warehouse left by an older build or an A/B
  // leg with a different bucket rule cannot leak its layout across JVM
  // invocations. The only skip path is a same-JVM memo hit, where the
  // bucket count is deterministic per (data dir, parallelism); two
  // SESSIONS with different core counts in one JVM would share the
  // first session's layout — benign (layout only, never rows) and only
  // reachable from test harnesses.
  def memoBucketed(s: org.apache.spark.sql.SparkSession,
                   memo: java.util.concurrent.ConcurrentHashMap[String, String],
                   memoKey: String, table: String, key: String,
                   buckets: Int)(fresh: => DataFrame): DataFrame = {
    val lock = locks.computeIfAbsent(memoKey, _ => new AnyRef)
    // Two threads in a fresh session (memo hit, table absent) must not
    // race concurrent Overwrite saveAsTable calls on the same table
    // name, so existence check + write are one critical section.
    val tbl = lock.synchronized {
      val prev = memo.get(memoKey)
      val target = if (prev == null) table else prev
      if (prev == null || !s.catalog.tableExists(target))
        writeBucketed(fresh, target, key, buckets)
      memo.put(memoKey, target)
      target
    }
    s.table(tbl)
  }
}
