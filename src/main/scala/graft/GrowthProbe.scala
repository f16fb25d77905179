package graft

import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate-VOLUME growth probe for the capped families (round 15 —
  * VERDICT r14 Next #5): sf1 proved 10x, the claim is 100 TB, so this
  * main measures one decade further (tools/gen_decade.py corpora) and
  * asserts the thing the cap contracts actually promise — bounded
  * CANDIDATE growth, not wall time on a laptop-shaped box.
  *
  * Every metric here is an AGGREGATE over bucket/key sizes
  * (sum c·(c−1)/2 per bucket): the candidate pair count of an
  * equi-join is computable without materializing a single pair row,
  * so the probe itself is O(n) at any scale. Families:
  *
  *  - docs <dir>…: per corpus — MinHash band-bucket candidates
  *    (8 bands × 2 rows, the dedup_minhash_lsh/jaccard/containment
  *    twin index), SimHash 15-bit-band candidates pre- and post-
  *    SimhashBandCap, and exact shingle-intersection candidates pre-
  *    and post- the df>100 stop-shingle cap (the dedup_ngram_jaccard /
  *    dedup_containment join volume).
  *  - vecs <dir>…: per corpus — trained-IVF cell-assignment profile
  *    (max/avg cell size) and the capped candidate-pair count from the
  *    SHARED generator every embedding consumer uses
  *    (graft.similarity.Ivf.candidatePairs).
  *  - graph <dir>…: per corpus — co-purchase edges, Σdeg² (what an
  *    id-oriented wedge join pays), the (degree,id)-oriented wedge
  *    volume (what graph_triangles/clustering_coeff pay), and the
  *    HubCap-guarded common-neighbor volume (what adamic_adar /
  *    link_predict / reach_2hop pay).
  *
  * Output: one JSON line per (family, dir), numbers formatted in
  * Locale.ROOT so the line parses under any default locale. Diagnostic
  * main — not a gate entry; the committed artifact is
  * growth_probe_r15.json and the SURVEY §5 decade table derived from
  * it.
  */
object GrowthProbe {

  private def pairsPerBucket(df: DataFrame, keys: Seq[String]): Long =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)))
      .first().getLong(0)

  /** `x` with `places` decimals and a '.' separator whatever the
    * default locale — JSON has no other decimal mark.
    */
  private def dec(x: Double, places: Int): String =
    s"%.${places}f".formatLocal(Locale.ROOT, x)

  def main(args: Array[String]): Unit = {
    val family = args.head
    val dirs = args.tail.toSeq
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    dirs.foreach { d =>
      println(line(spark, family, d))
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** The JSON line of one (family, dir) measurement. */
  def line(spark: SparkSession, family: String, d: String): String =
    family match {
      case "docs" =>
        val nDocs = Tables.documents(spark, d).count()
        val bands = graft.dedup.DedupQueries.bandTable(spark, d)
        val bandCand = pairsPerBucket(bands, Seq("band_idx", "bkey"))
        // bucket profile: does candidate mass sit in a few DEGENERATE
        // buckets (a band cap would fix it) or spread across small
        // buckets (true near-dup structure — output-shaped)?
        val bprof = bands.groupBy(col("band_idx"), col("bkey"))
          .agg(count(lit(1)).as("c"))
          .agg(coalesce(max(col("c")), lit(0L)).as("mx"),
            coalesce(sum(expr(
              "CASE WHEN c <= 64 THEN c * (c - 1) div 2 ELSE 0 END")),
              lit(0L)).as("small"))
          .first()
        // simhash banding: same construction as dedup_simhash
        val sims = graft.dedup.SimHash.relational(
          Tables.documents(spark, d), "doc_id", "text")
        val bandStructs = (0 until 4).map { b =>
          struct(lit(b).as("band_idx"),
            graft.functions.Hashing.simHashBand(col("sim"), b).as("bkey"))
        }
        val sb = sims
          .select(col("doc_id"), explode(array(bandStructs: _*)).as("bd"))
          .select(col("bd.band_idx").as("band_idx"), col("bd.bkey").as("bkey"))
          .groupBy(col("band_idx"), col("bkey")).agg(count(lit(1)).as("c"))
          .agg(
            coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("pre"),
            coalesce(sum(expr(
              s"CASE WHEN c <= ${graft.dedup.DedupQueries.SimhashBandCap} " +
                "THEN c * (c - 1) div 2 ELSE 0 END")), lit(0L)).as("post"))
          .first()
        // exact shingle-intersection volume (ngram_jaccard/containment)
        val sh = graft.dedup.DedupQueries.shingleHash60Rows(spark, d)
          .groupBy(col("shh")).agg(count(lit(1)).as("df"))
          .agg(
            coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)).as("pre"),
            coalesce(sum(expr(
              "CASE WHEN df <= 100 THEN df * (df - 1) div 2 ELSE 0 END")),
              lit(0L)).as("post"))
          .first()
        s"""{"family":"docs","dir":"$d","n_docs":$nDocs,""" +
          s""""minhash_band_cand":$bandCand,""" +
          s""""minhash_max_bucket":${bprof.getLong(0)},"minhash_cand_le64":${bprof.getLong(1)},""" +
          s""""simhash_cand_precap":${sb.getLong(0)},"simhash_cand_postcap":${sb.getLong(1)},""" +
          s""""shingle_cand_precap":${sh.getLong(0)},"shingle_cand_postcap":${sh.getLong(1)}}"""
      case "vecs" =>
        val nVecs = Tables.embeddings(spark, d).count()
        val asg = graft.similarity.Ivf.pairAssignments(spark, d)
          .groupBy(col("cid")).agg(countDistinct(col("vec_id")).as("c"))
          .agg(coalesce(max(col("c")), lit(0L)).as("mx"),
            coalesce(avg(col("c")), lit(0.0)).as("av"),
            coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("pre"),
            coalesce(sum(expr(
              s"CASE WHEN c <= ${graft.similarity.Ivf.CellCap} " +
                "THEN c * (c - 1) div 2 ELSE 0 END")), lit(0L)).as("post"))
          .first()
        val capped = graft.similarity.Ivf.candidatePairs(spark, d).count()
        s"""{"family":"vecs","dir":"$d","n_vecs":$nVecs,""" +
          s""""max_cell":${asg.getLong(0)},"avg_cell":${dec(asg.getDouble(1), 1)},""" +
          s""""cell_cand_precap":${asg.getLong(2)},"cell_cand_postcap":${asg.getLong(3)},""" +
          s""""capped_candidate_pairs":$capped}"""
      case "probe_query" =>
        // per-probe CANDIDATE growth for the QUERY regime (r18 —
        // VERDICT r17 Next #1's ladder claim): the flat trained-IVF
        // path probes ivfNprobe of kmeansK FIXED cells, so per-probe
        // candidate volume is nprobe·n/k — LINEAR in the corpus; the
        // hier (cid, fid) key space grows with the corpus
        // (kc × data-proportional kf), so per-probe candidates stay
        // ~bounded. Both measured as aggregates over the SAME
        // assignment tables the registered queries use (trained
        // k=128 flat; hierAssignments at the shipped 4×2 probe
        // widths) — no candidate rows materialized.
        val nVecs = Tables.embeddings(spark, d).count()
        val cents = graft.similarity.Ivf.trainedCentroids(spark, d)
        val e = Tables.embeddings(spark, d)
          .withColumn("qv", graft.similarity.Ivf.quantCol)
        val fasg = e.select(col("vec_id"),
          graft.similarity.Ivf.centroidRanks(cents, 1).getItem(0).as("cid"))
        val fsizes = fasg.groupBy(col("cid")).agg(count(lit(1)).as("c"))
        val fprobes = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"),
            explode(graft.similarity.Ivf.centroidRanks(
              cents, graft.similarity.Ivf.ivfNprobe)).as("cid"))
        val flat = fprobes.join(fsizes, Seq("cid"))
          .groupBy(col("qid")).agg(sum(col("c")).as("cand"))
          .agg(coalesce(avg(col("cand")), lit(0.0)).as("av"),
            coalesce(max(col("cand")), lit(0L)).as("mx"))
          .first()
        val h = graft.similarity.Ivf.hierAssignments(spark, d)
        val hsizes = h.groupBy(col("cid"), col("fid")).agg(count(lit(1)).as("c"))
        val hier = h.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("cid"), col("fid"))
          .join(hsizes, Seq("cid", "fid"))
          .groupBy(col("qid")).agg(sum(col("c")).as("cand"))
          .agg(coalesce(avg(col("cand")), lit(0.0)).as("av"),
            coalesce(max(col("cand")), lit(0L)).as("mx"))
          .first()
        s"""{"family":"probe_query","dir":"$d","n_vecs":$nVecs,""" +
          s""""flat_k":${graft.similarity.Ivf.kmeansK},""" +
          s""""flat_nprobe":${graft.similarity.Ivf.ivfNprobe},""" +
          s""""flat_cand_per_probe_avg":${dec(flat.getDouble(0), 1)},""" +
          s""""flat_cand_per_probe_max":${flat.getLong(1)},""" +
          s""""hier_kc":${graft.similarity.Ivf.hierKc},""" +
          s""""hier_kf":${graft.similarity.Ivf.hierKf(spark, d)},""" +
          s""""hier_nprobe":"${graft.similarity.Ivf.hierNprobe}x${graft.similarity.Ivf.hierFineNprobe}",""" +
          s""""hier_cand_per_probe_avg":${dec(hier.getDouble(0), 1)},""" +
          s""""hier_cand_per_probe_max":${hier.getLong(1)}}"""
      case "vecs_hier" =>
        // flat vs hierarchical A/B at the SAME corpus (r16 — VERDICT
        // r15 #2): candidate volume per regime from the aggregate
        // bucket profile (no pair rows materialized), plus the
        // assignment scans' wall seconds — the quantity that makes
        // flat-k superlinear past its ceiling is the O(k·dim)
        // per-row assignment, so it is measured here too.
        // SPARK_GRAFT_GROWTH_LEGS=hier skips the flat leg (r18,
        // VERDICT r17 Next #7: flat is already measured superlinear
        // at 256k — don't pay 300 s per decade to reconfirm it).
        val legs = sys.env.getOrElse("SPARK_GRAFT_GROWTH_LEGS", "both")
        val nVecs = Tables.embeddings(spark, d).count()
        val flatK = graft.similarity.Ivf.graphK(spark, d)
        // each regime is timed COLD (first call: model training +
        // assignment — the stand-up cost of the index) and then WARM
        // (models memoized: the pure per-scan assignment cost). Both
        // matter at scale: training is once per corpus version,
        // assignment is every query. The r16 committed artifact's
        // headline numbers are the COLD ones; the warm split was
        // added after review so future artifacts separate them.
        val flatStats = if (legs == "hier") None else Some {
          val t0 = System.nanoTime()
          val flatAsg = graft.similarity.Ivf.pairAssignments(spark, d)
          val flatRows = flatAsg.count()
          val flatSec = (System.nanoTime() - t0) / 1e9
          val t0w = System.nanoTime()
          graft.similarity.Ivf.pairAssignments(spark, d).count(): Unit
          val flatWarmSec = (System.nanoTime() - t0w) / 1e9
          // rows of the assignment table are distinct (vec_id, cid) /
          // (vec_id, cid, fid) keys by construction, so the per-bucket
          // row count IS the member count
          (flatRows, flatSec, flatWarmSec, pairsPerBucket(flatAsg, Seq("cid")))
        }
        val kf = graft.similarity.Ivf.hierKf(spark, d)
        val t1 = System.nanoTime()
        val hierAsg = graft.similarity.Ivf.hierAssignments(spark, d)
        val hierRows = hierAsg.count()
        val hierSec = (System.nanoTime() - t1) / 1e9
        val t1w = System.nanoTime()
        graft.similarity.Ivf.hierAssignments(spark, d).count(): Unit
        val hierWarmSec = (System.nanoTime() - t1w) / 1e9
        val hierCand = pairsPerBucket(hierAsg, Seq("cid", "fid"))
        val flatJson = flatStats.map { case (rows, sec, warm, cand) =>
          s""""flat_k":$flatK,"flat_assign_rows":$rows,""" +
            s""""flat_train_plus_assign_sec":${dec(sec, 2)},""" +
            s""""flat_assign_warm_sec":${dec(warm, 2)},"flat_cand":$cand,"""
        }.getOrElse("")
        s"""{"family":"vecs_hier","dir":"$d","n_vecs":$nVecs,""" +
          flatJson +
          s""""hier_kc":${graft.similarity.Ivf.hierKc},"hier_kf":$kf,""" +
          s""""hier_assign_rows":$hierRows,""" +
          s""""hier_train_plus_assign_sec":${dec(hierSec, 2)},""" +
          s""""hier_assign_warm_sec":${dec(hierWarmSec, 2)},"hier_cand":$hierCand}"""
      case "edges" =>
        // decideEdgeShape inputs one decade further (r17 — VERDICT
        // r16 Next #7): the pairs↔star threshold (pair volume <= 8x
        // star volume) was set from three corpora; this family
        // recomputes the decision aggregate on any docs corpus —
        // including target/sfdx100, the 5M-doc dup-chain decade —
        // so the artifact shows whether the regimes still separate
        // (shallow ~1-2x, deep >= 50x in the r16 measurements) or
        // the threshold needs to become a measured crossover.
        // Aggregate-only, no pair rows materialized.
        val nDocs = Tables.documents(spark, d).count()
        val r = graft.dedup.DedupQueries.bandTable(spark, d)
          .groupBy(col("band_idx"), col("bkey")).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("pairs"),
            coalesce(sum(expr("c - 1")), lit(0L)).as("stars"),
            coalesce(max(col("c")), lit(0L)).as("mx"))
          .first()
        val ratio = r.getLong(0).toDouble / math.max(1L, r.getLong(1))
        // derive the decision from the aggregate just computed —
        // decideEdgeShape would re-run the same full band-table
        // pass a second time in this one diagnostic (r17 ADVICE)
        val decision = graft.dedup.DedupQueries
          .decideEdgeShapeFromVolumes(r.getLong(0), r.getLong(1))
        s"""{"family":"edges","dir":"$d","n_docs":$nDocs,""" +
          s""""pair_volume":${r.getLong(0)},"star_volume":${r.getLong(1)},""" +
          s""""max_bucket":${r.getLong(2)},"depth_ratio":${dec(ratio, 2)},""" +
          s""""threshold":${graft.dedup.DedupQueries.PairDepthThreshold},""" +
          s""""decision":"$decision"}"""
      case "graph" =>
        val edges = graft.operators.GraphEdges.pairs(spark, d).count()
        val degAgg = graft.operators.GraphEdges.deg(spark, d)
          .agg(coalesce(sum(expr("deg * deg")), lit(0L)).as("d2"),
            coalesce(sum(expr(
              s"CASE WHEN deg <= ${graft.operators.GraphEdges.HubCap} " +
                "THEN deg * (deg - 1) div 2 ELSE 0 END")), lit(0L)).as("capped"),
            coalesce(sum(expr(
              s"CASE WHEN deg > ${graft.operators.GraphEdges.HubCap} " +
                "THEN 1 ELSE 0 END")), lit(0L)).as("hubs"),
            coalesce(max(col("deg")), lit(0L)).as("mx"))
          .first()
        val oriented = graft.operators.GraphEdges.fwdByDegree(spark, d)
          .groupBy(col("s")).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)))
          .first().getLong(0)
        s"""{"family":"graph","dir":"$d","edges":$edges,""" +
          s""""max_deg":${degAgg.getLong(3)},"sum_deg2":${degAgg.getLong(0)},""" +
          s""""oriented_wedges":$oriented,"hubcap_wedges":${degAgg.getLong(1)},""" +
          s""""hubs_gt_cap":${degAgg.getLong(2)}}"""
      case other => sys.error(
        s"unknown family: $other (docs|vecs|vecs_hier|probe_query|edges|graph)")
    }
}
