package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's driver program. `run.py` generates the inputs, starts
  * this main once per run and turns the records it writes into metrics.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace>
  *        <cores> <setups> <recordFile> <curationInputDir>
  *
  * A run sets up `setups` times (each time: a fresh session, the workload's
  * one-off set-up and a warm-up), runs one untimed settling pass, then runs
  * passes of the workload's op cycle in a closed loop with one client
  * thread until `seconds` have elapsed. With `trace` = 1 the passes
  * alternate untraced and traced, so the record carries both and the
  * tracing overhead is their difference; the per-layer probes run after
  * the measured passes. A failing op ends the measurement; the record
  * still gets written, with the failure in it. */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 9, "usage: perfbench.Main <workload> <inputDir> " +
      "<workDir> <seconds> <trace> <cores> <setups> <recordFile> " +
      "<curationInputDir>")
    val Array(name, inputDir, workDir, secs, trace, cores, setups, out,
      curationInput) = args
    val tracer = new Tracer(System.nanoTime())
    val listener = new JobListener
    val ctx = Ctx(inputDir, workDir, cores.toInt, tracer)
    val w: Workload = name match {
      case "text-index" => new TextIndex(ctx, curationInput)
      case "table-lifecycle" => new TableLifecycle(ctx)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    val traced = trace == "1"
    var spark: SparkSession = null
    var pass = 0
    var finish = Map.empty[String, Any]
    val originMs = System.currentTimeMillis() - tracer.now() / 1000000L

    for (round <- 1 to setups.toInt) {
      if (spark != null) spark.stop()
      tracer.phase = "setup"
      tracer.pass = round
      tracer.span("setup", "bench") {
        spark = tracer.span("GraftSession.create", "GraftSession") {
          GraftSession.create(appName = "perfbench",
            master = Some(s"local[${ctx.cores}]"),
            shufflePartitions = ctx.cores)
        }
        tracer.sc = Some(spark.sparkContext)
        tracer.span("setup.oneoff", "bench") { w.setup(spark, round) }
        tracer.phase = "warmup"
        tracer.span("GraftSession.warmup", "GraftSession") { w.warmup(spark) }
        tracer.phase = "setup"
      }
    }

    // the listener is attached only while a traced pass or probe runs, so
    // untraced passes pay nothing for it
    def withListener(on: Boolean)(body: => Unit): Unit = {
      tracer.tracing = on
      if (on) spark.sparkContext.addSparkListener(listener)
      try body finally if (on) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        tracer.tracing = false
      }
    }
    val failure = try {
      // one untimed pass first: the first pass after set-up still runs
      // measurably slower, and belongs to neither set-up nor measurement
      tracer.phase = "settle"
      tracer.pass = pass
      tracer.span("pass", "bench") { w.pass(spark, pass) }
      pass += 1
      tracer.phase = "measure"
      val deadline = tracer.now() + (secs.toDouble * 1e9).toLong
      // a trace run alternates untraced and traced passes (untraced
      // first), and always completes at least one of each
      while (tracer.now() < deadline || (traced && pass < 3) || pass < 2) {
        if (!w.hasPass(pass)) throw new IllegalStateException(
          s"the inputs hold too few passes for $secs s")
        tracer.pass = pass
        val attrs = mutable.Map.empty[String, Any]
        val cpu0 = cpuNanos()
        withListener(traced && pass % 2 == 0) {
          tracer.span("pass", "bench", attrs) { w.pass(spark, pass) }
        }
        attrs("cpu_s") = (cpuNanos() - cpu0) / 1e9
        pass += 1
      }
      if (traced) {
        tracer.phase = "probe"
        tracer.pass = -1
        withListener(true) { w.probes(spark) }
      }
      tracer.phase = "check"
      finish = w.finish(spark)
      ""
    } catch {
      case e: Exception => s"${e.getClass.getName}: ${e.getMessage}"
    }
    Report.write(Paths.get(out), Map(
      "workload" -> name, "cores" -> ctx.cores, "passes" -> pass,
      "origin_ms" -> originMs, "peak_rss_kb" -> vmHwmKb(),
      "finish" -> finish, "failure" -> failure), tracer, listener)
    spark.stop()
  }

  /** CPU time this JVM has used, all threads. */
  def cpuNanos(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  /** Peak resident set of this JVM (`VmHWM`), in kB. */
  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }
}

final case class Ctx(inputDir: String, workDir: String, cores: Int,
                     tracer: Tracer)

/** One workload: what a set-up round, a warm-up, a pass and the trace-only
  * probes do. Every call into graft sits inside a `tracer.span`. */
trait Workload {
  def setup(spark: SparkSession, round: Int): Unit
  def warmup(spark: SparkSession): Unit
  def hasPass(i: Int): Boolean = true
  def pass(spark: SparkSession, i: Int): Unit
  def probes(spark: SparkSession): Unit
  /** Untimed end-of-run facts the checks need. */
  def finish(spark: SparkSession): Map[String, Any]
}

/** A minimal JSON writer for the record file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => string(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Product => apply(p.productIterator.toSeq)
    case other => apply(other.toString)
  }

  def string(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

object Report {
  def write(path: java.nio.file.Path, meta: Map[String, Any], tracer: Tracer,
            l: JobListener): Unit = {
    val spans = tracer.spans.sortBy(_.id).map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "phase" -> s.phase,
        "pass" -> s.pass, "traced" -> s.traced, "t0" -> s.t0 / 1e9,
        "t1" -> s.t1 / 1e9, "ok" -> s.ok, "error" -> s.error,
        "attrs" -> s.attrs)
    }
    val origin = meta("origin_ms").asInstanceOf[Long]
    def sec(ms: Long): Any = if (ms < 0) null else (ms - origin) / 1e3
    val (jobs, stages) = l.synchronized {
      (l.jobs.values.map(j => Map("id" -> j.jobId, "group" -> j.group,
        "t0" -> sec(j.start), "t1" -> sec(j.end),
        "stages" -> j.stageIds)).toSeq,
       l.stages.values.map(s => Map("id" -> s.stageId, "name" -> s.name,
        "t0" -> sec(s.submitted), "t1" -> sec(s.completed),
        "tasks" -> s.tasks, "tasks_failed" -> s.tasksFailed,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "fetch_wait_ms" -> s.fetchWaitMs,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_write_records" -> s.shuffleWriteRecords,
        "spill_bytes" -> s.spillBytes, "output_bytes" -> s.outputBytes,
        "task_ms" -> s.taskMs.toSeq)).toSeq)
    }
    val json = Json(Map("meta" -> meta, "spans" -> spans, "jobs" -> jobs,
      "stages" -> stages))
    Files.writeString(path, json)
    ()
  }
}
