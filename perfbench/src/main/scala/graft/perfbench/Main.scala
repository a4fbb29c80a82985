package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options, as `run.py` passes them. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, traceOut: Path, cpus: Int)

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, opts: Opts, sessionStartS: Double) {
  def runId: String = s"${opts.workload}-seed${opts.seed}-${ProcessHandle.current().pid()}"
}

final case class Metric(name: String, value: Double, unit: String)

/** One run's outcome: the metrics for the requested mode plus human
  * readable detail lines printed before the result. */
final case class Result(outcomes: Outcomes, endToEnd: Seq[Metric],
                        perLayer: Map[String, Double], detail: Seq[String])

/** Metric names and units; `BENCHMARK.json` lists the same names. */
object Metrics {
  val Calls: Seq[String] = Seq(
    "ingest.readPages", "ingest.flattenPages", "llm.embed", "vector.search",
    "metrics.classificationReport", "llm.extract", "pipeline.confirmRoute")

  val CallMeasures: Seq[(String, String)] = Seq(
    "construct_s" -> "s", "execute_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "executor_run_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "rows_out" -> "rows")

  val Others: Seq[(String, String)] = Seq(
    "streaming.gate.batch_ms" -> "ms",
    "streaming.gate.add_batch_ms" -> "ms",
    "streaming.gate.query_planning_ms" -> "ms",
    "streaming.gate.get_batch_ms" -> "ms",
    "streaming.gate.latest_offset_ms" -> "ms",
    "streaming.gate.wal_commit_ms" -> "ms",
    "streaming.gate.jobs_per_batch" -> "count",
    "streaming.gate.state_files" -> "count",
    "streaming.gate.state_bytes" -> "bytes",
    "streaming.gate.generator_late_ms" -> "ms",
    "llm.extract.model_calls" -> "calls/doc",
    "vector.search.comparisons" -> "count",
    "core.cached_bytes_peak" -> "bytes",
    "trace_overhead_s" -> "s",
    "failed_frac" -> "ratio",
    "latency_tail_pct" -> "%",
    "latency_samples" -> "count")

  /** Every per-layer metric, in order. A call a workload never makes
    * reads 0: it ran no jobs and took no time there. */
  val PerLayer: Seq[(String, String)] =
    Calls.flatMap(c => CallMeasures.map { case (m, u) => s"$c.$m" -> u }) ++ Others

  /** The end-to-end metrics every workload reports: latencies of its
    * timed operations in ms, and its document and page rates. */
  def endToEnd(setupS: Double, opsMs: Seq[Double], docsPerS: Double,
               pagesPerS: Double): (Seq[Metric], Stats.Tail) = {
    val tail = if (opsMs.isEmpty) Stats.Tail(0.0, 0.0, 0) else Stats.tail(opsMs)
    (Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pages_per_s", pagesPerS, "pages/s"),
      Metric("docs_per_s", docsPerS, "docs/s"),
      Metric("latency_p50_ms", if (opsMs.isEmpty) 0.0 else Stats.median(opsMs), "ms"),
      Metric("latency_tail_ms", tail.value, "ms"),
      Metric("peak_rss_mb", peakRssMb(), "MB")), tail)
  }

  /** This JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}

object Main {

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val opts = Opts(
      workload = a("workload"), seed = a("seed").toLong, seconds = a("seconds").toInt,
      trace = a("trace") == "1", work = Paths.get(a("work")).toAbsolutePath,
      traceOut = Paths.get(a("trace-out")).toAbsolutePath, cpus = a("cpus").toInt)
    require(Seq("doc_pipeline", "ingest_gate").contains(opts.workload),
      s"unknown workload ${opts.workload}")
    Files.createDirectories(opts.work)

    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.local(opts.cpus.toString, "perfbench")
    val ctx = Ctx(spark, opts, (System.nanoTime() - t0) / 1e9)

    val result = opts.workload match {
      case "doc_pipeline" => DocPipeline.run(ctx)
      case "ingest_gate" => IngestGate.run(ctx)
    }
    val out = result.outcomes
    val metrics =
      if (!opts.trace) result.endToEnd
      else Metrics.PerLayer.map { case (n, u) => Metric(n, result.perLayer.getOrElse(n, 0.0), u) }

    result.detail.foreach(d => println(s"# $d"))
    out.problems.foreach(p => println(s"# problem: $p"))
    val bad = metrics.filterNot(m => java.lang.Double.isFinite(m.value))
    val correct = out.failed == 0 && bad.isEmpty
    bad.foreach(m => println(s"# problem: ${m.name} is ${m.value}"))
    def num(v: Double) = if (java.lang.Double.isFinite(v)) v.toString else "0"
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""PERFBENCH_RESULT {"correct": $correct, "attempted": ${math.max(1L, out.attempted)}, """ +
      s""""failed": ${out.failed}, "metrics": {${ms.mkString(", ")}}}""")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}
