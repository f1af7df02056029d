package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.functions.Text
import graft.operators._

/** The curation probe: the LLM-data-pipeline layers, run once at the end of
  * a traced text-index run over a generated curation corpus. It copies the
  * corpus to a fresh directory (a new input path, so every artifact and
  * driver-side model cache builds), builds the dedup/ANN artifact set and
  * runs one pass of consumer queries, writing each result as parquet next
  * to the matching `SparkEntry.oracleSql` entries. `run.py` hash-checks the
  * results against their DuckDB twins. */
final class Curation(inputDir: String, workDir: String, t: Tracer) {
  val segments: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "docFeatures" -> ((s, d) => TextQueries.docFeatures(s, d).count()),
    "shingles" -> ((s, d) => DedupQueries.shingles(s, d).count()),
    "spanFeatures" -> ((s, d) => DedupQueries.spanFeatures(s, d).count()),
    "signatures" -> ((s, d) => DedupQueries.signatures(s, d).count()),
    "clusterLabels" -> ((s, d) => DedupQueries.clusterLabels(s, d).count()),
    "suffixShared" -> ((s, d) => SuffixQueries.suffixShared(s, d).count()),
    "kmeansCodebook" ->
      ((s, d) => SimilarityQueries.kmeansCodebook(s, d).size),
    "pqIndex" -> ((s, d) => ProductQuantization.pqIndex(s, d).count()))

  val consumers: Seq[String] = Seq(
    "q15_exact_dedup", "q18_minhash_lsh", "q19_ngram_jaccard", "q20_simhash",
    "q21_embedding_neardup", "q22_ann_lsh", "q48_simhash_pairs",
    "q57_ann_ivf_kmeans", "q77_ann_ivf_pq", "q88_dup_spans",
    "q114_suffix_repeats", "q50_corpus_curation", "q154_suffix_refresh")

  private val in = s"$workDir/in"
  private val out = s"$workDir/out"

  def run(spark: SparkSession): Map[String, Any] = {
    Files.createDirectories(Paths.get(in))
    Seq("documents.parquet", "embeddings.parquet").foreach { f =>
      Files.copy(Paths.get(inputDir, f), Paths.get(in, f),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (k, _) =>
        consumers.contains(k) }))
    val docs = Tables.documents(spark, in)
    t.span("functions.shingle", "functions") {
      Text.shingleRows(docs, "doc_id", "text", 3)
        .write.format("noop").mode("overwrite").save()
    }
    t.span("Artifacts.build", "Artifacts") {
      segments.foreach { case (seg, build) =>
        t.span(s"Artifacts.$seg", "Artifacts") { build(spark, in) }
      }
    }
    t.span("operators.consumers", "operators") {
      consumers.foreach { q =>
        t.span(s"operators.$q", "operators") {
          SparkEntry.queries(q)(spark, in).coalesce(1).write
            .mode("overwrite").parquet(s"$out/$q")
        }
      }
    }
    Map("check_in" -> in, "check_out" -> out)
  }
}
