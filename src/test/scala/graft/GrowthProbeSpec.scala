package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.Locale
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GrowthProbe's JSON lines feed the growth ladders, so they must parse
  * whatever the JVM's default locale: a comma-decimal locale formats
  * `%.1f` as "12,5", which breaks the line as JSON.
  */
class GrowthProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A small corpus dir: 300 embeddings and 60 documents, each of 20
    * texts three times so the band buckets hold candidate pairs.
    */
  private lazy val dir: String = {
    val d = graft.etl.TmpDirs.dir("growthprobe_locale")
    spark.range(300)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), i -> CAST(sin(id * 64 + i) AS FLOAT))")
          .as("embedding"),
        (col("id") % 10).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    spark.range(60)
      .select(col("id").as("doc_id"),
        expr("concat_ws(' ', transform(sequence(0, 40), " +
          "i -> concat('w', CAST(((id % 20) * 7 + i * i) % 29 AS STRING))))").as("text"),
        lit("en").as("lang"), lit("web").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private val decimals = Map(
    "vecs" -> Seq("avg_cell"),
    "probe_query" -> Seq("flat_cand_per_probe_avg", "hier_cand_per_probe_avg"),
    "vecs_hier" -> Seq("flat_train_plus_assign_sec", "flat_assign_warm_sec",
      "hier_train_plus_assign_sec", "hier_assign_warm_sec"),
    "edges" -> Seq("depth_ratio"))

  test("every decimal-bearing family emits valid JSON under a de-DE default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("de-DE"))
    try {
      // the locale really binds: default-locale formatting uses a comma
      assert(f"${12.5}%.1f" === "12,5")
      val json = new ObjectMapper()
      for ((family, fields) <- decimals) {
        val line = GrowthProbe.line(spark, family, dir)
        val node = json.readTree(line)
        assert(node.get("family").asText === family, line)
        fields.foreach { f =>
          assert(node.get(f) != null && node.get(f).isNumber, s"$f in $line")
        }
      }
    } finally {
      Locale.setDefault(saved)
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }
}
