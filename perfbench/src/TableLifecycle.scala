package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{GraftCatalog, ManifestTable}
import graft.streaming.ManifestSink

/** table-lifecycle: a keyed manifest table (bounds column `k`, bloom column
  * `b`) under a generated op sequence that puts writes beside reads. Each
  * pass runs one round of the sequence; every op's result digest and the
  * table version it leaves are recorded, and `run.py` compares them with
  * the generator's in-memory model of the same sequence. */
final class TableLifecycle(ctx: Ctx) extends Workload {
  private val t = ctx.tracer
  private val mapper = new ObjectMapper()
  private val ops: IndexedSeq[JsonNode] = {
    val src = scala.io.Source.fromFile(s"${ctx.inputDir}/ops.jsonl")
    try src.getLines().map(mapper.readTree).toIndexedSeq finally src.close()
  }
  private val rounds: Map[Int, IndexedSeq[(JsonNode, Int)]] =
    ops.zipWithIndex.groupBy(_._1.get("round").asInt)
  private val meta = mapper.readTree(
    new java.io.File(s"${ctx.inputDir}/meta.json"))
  private val files = meta.get("params").get("files").asInt

  val schema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("b", LongType),
    StructField("v", LongType), StructField("qty", IntegerType),
    StructField("flag", StringType)))

  // the table under test: its manifest root (served to SQL as `pb.lc.t`
  // by a catalog over its warehouse) and its upsert stream's next batch id
  private var root = ""
  private var batchId = 0L
  private var executed = -1

  /** Each set-up round writes a fresh table from the base rows. */
  def setup(spark: SparkSession, round: Int): Unit = {
    val warehouse = s"${ctx.workDir}/lc$round"
    root = s"$warehouse/lc/t"
    batchId = 0L
    val base = spark.read.parquet(s"${ctx.inputDir}/base.parquet")
    t.span("sources.overwrite", "sources") {
      ManifestTable.overwrite(spark, root,
        base.repartitionByRange(files, col("k")).sortWithinPartitions("k"),
        boundsCol = Some("k"), bloomCols = Seq("b"))
    }
    GraftCatalog.register(spark, "pb", warehouse)
  }

  /** Round 0 of the op sequence; measured pass i runs round i + 1. */
  def warmup(spark: SparkSession): Unit = runRound(spark, 0)

  override def hasPass(i: Int): Boolean = rounds.contains(i + 1)

  def pass(spark: SparkSession, i: Int): Unit = runRound(spark, i + 1)

  private def runRound(spark: SparkSession, r: Int): Unit =
    rounds(r).foreach { case (op, idx) =>
      exec(spark, op)("op_index") = idx
      executed = idx
    }

  def probes(spark: SparkSession): Unit = ()

  private def rowsOf(spark: SparkSession, op: JsonNode): DataFrame = {
    val rows = op.get("rows").elements().asScala.map { r =>
      Row(r.get(0).asLong, r.get(1).asLong, r.get(2).asLong, r.get(3).asInt,
        r.get(4).asText)
    }.toSeq
    spark.createDataFrame(rows.asJava, schema)
  }

  private def between(op: JsonNode): Column =
    col("k") >= op.get("lo").asLong && col("k") < op.get("hi").asLong

  /** (count, sum k, sum b, sum v, sum qty, count flag = 'R'). */
  private def digest(rows: Array[Row]): Seq[Long] = Seq(rows.length.toLong,
    rows.map(_.getLong(0)).sum, rows.map(_.getLong(1)).sum,
    rows.map(_.getLong(2)).sum, rows.map(_.getInt(3).toLong).sum,
    rows.count(_.getString(4) == "R").toLong)

  private def digestOf(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum("k"), sum("b"), sum("v"), sum("qty"),
      sum(when(col("flag") === "R", 1).otherwise(0))).head()
    (0 until 6).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Run one op inside its span; returns the span's attributes. Reads and
    * writes are timed with their result materialised; the version and
    * file-count bookkeeping around them is not part of the op's span. */
  private def exec(spark: SparkSession,
                   op: JsonNode): mutable.Map[String, Any] = {
    val a = mutable.Map.empty[String, Any]
    def read(name: String)(df: => DataFrame): Unit = {
      var plan: DataFrame = null
      t.span(s"sources.$name", "sources", a) {
        plan = df
        a("digest") = digest(plan.collect())
      }
      if (t.tracing) {
        a("files_read") = plan.inputFiles.length
        a("table_files") = ManifestTable.fileStats(spark, root).size
      }
    }
    def rewrite(name: String)(body: => (Int, Int, Int)): Unit =
      t.span(s"sources.$name", "sources", a) {
        val (_, carried, rewritten) = body
        a("carried") = carried
        a("rewritten") = rewritten
      }
    op.get("op").asText match {
      case "append" =>
        val df = rowsOf(spark, op)
        t.span("sources.append", "sources", a) {
          ManifestTable.append(spark, root, df, boundsCol = Some("k"))
        }
      case "mergeCoW" =>
        val ups = rowsOf(spark, op)
        val removes = spark.createDataFrame(
          op.get("remove").elements().asScala
            .map(k => Row(k.asLong)).toSeq.asJava,
          StructType(Seq(StructField("k", LongType))))
        rewrite("mergeCoW") {
          ManifestTable.mergeCoW(spark, root, "k", removes, ups)
        }
      case "deleteWhere" =>
        rewrite("deleteWhere") {
          ManifestTable.deleteWhere(spark, root, between(op))
        }
      case "updateWhere" =>
        rewrite("updateWhere") {
          ManifestTable.updateWhere(spark, root, between(op),
            Seq("v" -> (col("v") + 1)))
        }
      case "upsertBatch" =>
        val df = rowsOf(spark, op)
        t.span("streaming.upsert_batch", "streaming", a) {
          a("applied") = ManifestSink.upsertBatch(spark, root, "k",
            "perfbench", df, batchId)
        }
        batchId += 1
      case "point" =>
        read("readWherePointEquals") {
          ManifestTable.readWherePointEquals(spark, root, "b",
            op.get("b").asLong)
        }
      case "range" =>
        read("readWhereKeyBetween") {
          ManifestTable.readWhereKeyBetween(spark, root, "k",
            op.get("lo").asLong, op.get("hi").asLong)
        }
      case "sql_where" =>
        read("sql_where") {
          spark.sql("SELECT k, b, v, qty, flag FROM pb.lc.t " +
            s"WHERE k = ${op.get("k").asLong}")
        }
      case "readAt" =>
        t.span("sources.readAt", "sources", a) {
          a("digest") = digestOf(
            ManifestTable.readAt(spark, root, op.get("version").asInt))
        }
      case "vacuum" =>
        val before = if (t.tracing) Du(root) else 0L
        t.span("sources.vacuum", "sources", a) {
          a("deleted_files") = ManifestTable.vacuum(spark, root,
            op.get("retain").asInt)
        }
        if (t.tracing) a("reclaimed_bytes") = before - Du(root)
    }
    a("version") = ManifestTable.currentVersion(spark, root).getOrElse(-1)
    a
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val live = ManifestTable.read(spark, root)
    val fresh = s"${ctx.workDir}/fresh/lc/t"
    ManifestTable.overwrite(spark, fresh,
      live.repartitionByRange(files, col("k")).sortWithinPartitions("k"),
      boundsCol = Some("k"), bloomCols = Seq("b"))
    Map("final_digest" -> digestOf(live),
      "last_op" -> executed, "table_bytes" -> Du(root),
      "fresh_bytes" -> Du(fresh))
  }
}

/** Bytes of the regular files under a directory. */
object Du {
  def apply(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  }
}
