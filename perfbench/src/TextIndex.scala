package perfbench

import org.apache.spark.sql.SparkSession

import graft.api.{MRJob, SampleJobs}
import graft.functions.Text
import graft.operators.ReferenceQueries

/** text-index: the reference's own workload. Each pass builds the inverted
  * index of the generated corpus twice, writing each output: once through
  * `MRJob.runToText(SampleJobs.invertedIndex)` over the 16 text files (the
  * reference CLI shape) and once through `ReferenceQueries.q2InvertedIndex`
  * over the `documents` table. `run.py` checks every written index against
  * the generator's expected index. A traced run also runs the tokenizer
  * and [[Curation]] probes over the corpus and `curationInput`. */
final class TextIndex(ctx: Ctx, curationInput: String) extends Workload {
  private val t = ctx.tracer
  private val files = new java.io.File(ctx.inputDir, "text").listFiles()
    .map(_.getPath).filter(_.endsWith(".txt")).sorted.toSeq

  private def buildMr(spark: SparkSession, out: String): Unit =
    t.span("api.MRJob.invertedIndex", "api") {
      MRJob.runToText(spark, SampleJobs.invertedIndex,
        MRJob.textInput(spark, files), out)
    }

  private def buildQ2(spark: SparkSession, out: String): Unit =
    t.span("operators.q2", "operators") {
      ReferenceQueries.q2InvertedIndex(spark, ctx.inputDir)
        .select("line").write.mode("overwrite").text(out)
    }

  def setup(spark: SparkSession, round: Int): Unit = ()

  def warmup(spark: SparkSession): Unit = {
    buildMr(spark, s"${ctx.workDir}/warm/mr")
    buildQ2(spark, s"${ctx.workDir}/warm/q2")
  }

  def pass(spark: SparkSession, i: Int): Unit = {
    buildMr(spark, s"${ctx.workDir}/out/mr/$i")
    buildQ2(spark, s"${ctx.workDir}/out/q2/$i")
  }

  private var curation = Map.empty[String, Any]

  /** A scan-only tokenizer pass over the documents table, then the
    * curation probe. */
  def probes(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.col
    t.span("functions.tokenize", "functions") {
      graft.Tables.documents(spark, ctx.inputDir)
        .select(Text.explodedTokens(col("text")))
        .write.format("noop").mode("overwrite").save()
    }
    curation = new Curation(curationInput, s"${ctx.workDir}/curation", t)
      .run(spark)
  }

  def finish(spark: SparkSession): Map[String, Any] = curation
}
