package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.Streams

/** The continuous-ingest dedup gate over a watched folder, driven open
  * loop: pre-staged parquet files are moved into the folder on a fixed
  * schedule from this thread, whatever the gate's progress, and each
  * file is timed from when it was due until the progress event of the
  * micro-batch that took it. */
object IngestGate {
  /** Documents per file. */
  val PerFile = 20
  /** One file is due every period. The gate's per-batch time is ~4.5 s
    * on 4 cores whatever the file size (it is fixed per-job cost) and
    * reaches ~8 s when the host is contended, so a 9 s period keeps it
    * below saturation: latency then reflects per-batch cost, not a
    * growing backlog. */
  val PeriodMs = 9000L
  /** Fewest scheduled files a run moves, however short `--seconds` is. */
  val MinFiles = 4
  /** Files moved in before the schedule starts. The first micro-batch
    * of a session is cold (~10 s); the second is the first to read
    * history state; the JIT is still warming on the second (~5 s). With
    * three, the scheduled batches differ by host noise and compaction,
    * not by how warm the JVM is. */
  val WarmFiles = 3
  /** Compaction every 4 batches: with the three warm-up batches it lands
    * on the second scheduled file, so every run measures exactly one
    * compaction, and that batch (~0.7 s slower) is the run's maximum. */
  val Options: Streams.GateOptions = Streams.GateOptions(compactEvery = 4)
  /** How long a run waits for the last micro-batch after its file was due. */
  val DrainS = 60

  /** Progress events of micro-batches that took input, with the time
    * each reached the listener. */
  final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) events.add(System.nanoTime() -> e.progress)
  }

  /** One measured gate query: `warmS` from its start until the warm-up
    * batches were done; `windows` holds each scheduled file's (due,
    * progress event) nanoTimes and `progress` its batch's progress. */
  final case class StreamRun(warmS: Double, windows: Seq[(Long, Long)], lateMs: Seq[Double],
                             progress: Seq[StreamingQueryProgress], docsPerS: Double,
                             stateFiles: Long, stateBytes: Long) {
    def latenciesMs: Seq[Double] = windows.map { case (due, recv) => (recv - due) / 1e6 }
  }

  private def sleepUntil(t: Long): Unit = {
    val ms = (t - System.nanoTime()) / 1000000L
    if (ms > 1) Thread.sleep(ms - 1)
    while (System.nanoTime() < t) Thread.onSpinWait()
  }

  /** Run one gate query over `files` (staged at `staged`) in fresh
    * directories under `runDir`. The first [[WarmFiles]] files are
    * moved in at once and awaited: they take the cold first batch and
    * give the scheduled files a history to screen against. The rest
    * are then moved in one every [[PeriodMs]]. */
  def stream(ctx: Ctx, out: Outcomes, tag: String, files: Seq[Inputs.GateFile],
             staged: Seq[Path], runDir: Path): StreamRun = {
    val spark = ctx.spark
    val watch = Files.createDirectories(runDir.resolve("watch"))
    val outDir = runDir.resolve("decisions").toString
    val histDir = runDir.resolve("history")
    val log = new ProgressLog
    spark.streams.addListener(log)
    val w0 = System.nanoTime()
    val q = Streams.dedupIngestGate(spark, watch.toString, Inputs.GateSchema, outDir,
      histDir.toString, maxFilesPerTrigger = 1, opts = Options)
    def move(p: Path): Unit =
      Files.move(p, watch.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
    def await(n: Int): Unit = {
      val deadline = System.nanoTime() + DrainS * 1000000000L
      while (log.events.size < n && System.nanoTime() < deadline && q.isActive) Thread.sleep(2)
    }
    try {
      staged.take(WarmFiles).foreach(move)
      await(WarmFiles)
      val warmS = Stats.secondsSince(w0)
      val t0 = System.nanoTime() + 100L * 1000000L
      val due = staged.indices.drop(WarmFiles).map(i => t0 + (i - WarmFiles) * PeriodMs * 1000000L)
      val late = staged.drop(WarmFiles).zip(due).map { case (p, d) =>
        sleepUntil(d)
        move(p)
        (System.nanoTime() - d) / 1e6
      }
      await(staged.length)
      val events = log.events.asScala.toSeq.sortBy(_._2.batchId)
      q.exception.foreach(e => out.problems += s"$tag: query failed: ${e.getMessage}")
      out.record(s"$tag micro-batches", staged.length, staged.length - events.length)
      out.check(s"$tag one file per micro-batch", events.collect {
        case (_, p) if p.numInputRows != PerFile => s"batch ${p.batchId} took ${p.numInputRows} rows"
      })
      val taken = files.take(events.length)
      out.check(s"$tag decisions", decisionProblems(
        Streams.readDecisionsLog(spark, outDir).select("doc_id", "status").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toSeq, taken))
      val scheduled = events.drop(WarmFiles)
      val windows = due.zip(scheduled.map(_._1))
      val span = windows.lastOption.map { case (_, recv) => (recv - due.head) / 1e9 }.getOrElse(0.0)
      val docs = taken.drop(WarmFiles).map(_.docs.length).sum
      val stateFiles = if (!Files.exists(histDir)) Nil
        else Files.walk(histDir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      StreamRun(warmS, windows, late, scheduled.map(_._2), if (span > 0) docs / span else 0.0,
        stateFiles.length.toLong, stateFiles.map(Files.size).sum)
    } finally {
      q.stop()
      spark.streams.removeListener(log)
    }
  }

  /** Every document that arrived has exactly one decision, no decision
    * names a document that never arrived, planted exact copies of
    * earlier files are history duplicates, and planted exact copies
    * within a file are batch duplicates. */
  def decisionProblems(decisions: Seq[(Long, String)], files: Seq[Inputs.GateFile]): Seq[String] = {
    val byId = decisions.groupBy(_._1)
    val arrived = files.flatMap(_.docs.map(_._1)).toSet
    def status(id: Long) = byId.get(id).map(_.head._2).getOrElse("none")
    arrived.toSeq.sorted.collect {
      case id if !byId.contains(id) => s"document $id has no decision"
      case id if byId(id).length > 1 => s"document $id has ${byId(id).length} decisions"
    } ++ (byId.keySet -- arrived).toSeq.sorted.map(id => s"decision for unknown document $id") ++
      files.flatMap(_.exactOfEarlier).sorted.collect {
        case id if status(id) != "dup_of_history" => s"exact copy $id labelled ${status(id)}"
      } ++ files.flatMap(_.dupInBatch).sorted.collect {
        case id if status(id) != "dup_in_batch" => s"in-file copy $id labelled ${status(id)}"
      }
  }

  private def pctl50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def run(ctx: Ctx): Result = {
    val out = new Outcomes
    val spark = ctx.spark
    val work = ctx.opts.work
    val nFiles = math.max(MinFiles, math.ceil(ctx.opts.seconds * 1000.0 / PeriodMs).toInt)
    val files = Inputs.gateFiles(ctx.opts.seed, WarmFiles + nFiles, PerFile)
    val gens = scala.collection.mutable.ArrayBuffer.empty[Double]
    def stage(dir: String): Seq[Path] = {
      val g0 = System.nanoTime()
      val ps = Inputs.writeGateFiles(spark, files, Files.createDirectories(work.resolve(dir)))
      gens += Stats.secondsSince(g0)
      ps
    }

    val timed = stream(ctx, out, "pass", files, stage("stage-pass"), work.resolve("pass"))
    val setupS = ctx.sessionStartS + timed.warmS + Stats.median(gens.toSeq)
    val (e2e, tail) = Metrics.endToEnd(setupS, timed.latenciesMs, timed.docsPerS, timed.docsPerS)
    val maxLate = if (timed.lateMs.isEmpty) 0.0 else timed.lateMs.max
    // the open loop is only valid while the schedule holds
    out.check("arrival schedule", if (maxLate > PeriodMs / 4.0)
      Seq(f"generator ran $maxLate%.1f ms late") else Nil)

    val perLayer =
      if (!ctx.opts.trace) Map.empty[String, Double]
      else {
        val tracedStaged = stage("stage-trace")
        val tr = new Tracer(spark, ctx.runId, enabled = true)
        val traced = tr.span("ingest_gate", "") {
          stream(ctx, out, "trace", files, tracedStaged, work.resolve("trace"))
        }
        traced.windows.zip(traced.progress).foreach { case ((due, recv), p) =>
          tr.spans += Span(s"streaming.gate.batch${p.batchId}", due, recv, "ingest_gate", tr.runId)
        }
        tr.write(ctx.opts.traceOut)
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        val perBatch = tr.listener.get.jobsPerBatch
        def dur(key: String) = pctl50(traced.progress.map(p =>
          Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
        Map(
          "streaming.gate.batch_ms" -> dur("triggerExecution"),
          "streaming.gate.add_batch_ms" -> dur("addBatch"),
          "streaming.gate.query_planning_ms" -> dur("queryPlanning"),
          "streaming.gate.get_batch_ms" -> dur("getBatch"),
          "streaming.gate.latest_offset_ms" -> dur("latestOffset"),
          "streaming.gate.wal_commit_ms" -> dur("walCommit"),
          "streaming.gate.jobs_per_batch" -> pctl50(traced.progress.map(p =>
            perBatch.getOrElse(p.batchId, 0L).toDouble)),
          "streaming.gate.state_files" -> traced.stateFiles.toDouble,
          "streaming.gate.state_bytes" -> traced.stateBytes.toDouble,
          "streaming.gate.generator_late_ms" -> maxLate,
          "core.cached_bytes_peak" -> spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum.toDouble,
          "trace_overhead_s" -> (pctl50(traced.latenciesMs) - pctl50(timed.latenciesMs)) / 1000.0,
          "failed_frac" -> out.failedFrac,
          "latency_tail_pct" -> tail.percentile,
          "latency_samples" -> tail.samples.toDouble)
      }

    val detail = Seq(
      f"setup: session ${ctx.sessionStartS}%.3f s, query start and warm-up batches ${timed.warmS}%.3f s, " +
        f"staging median ${Stats.median(gens.toSeq)}%.3f s over ${gens.length}",
      s"ingest_gate: $WarmFiles warm-up and $nFiles scheduled files of $PerFile documents, one due every $PeriodMs ms",
      s"latencies (ms): ${timed.latenciesMs.map(l => f"$l%.0f").mkString(" ")}",
      s"batch ms: ${timed.progress.map(_.durationMs.get("triggerExecution")).mkString(" ")}",
      f"latency tail: p${tail.percentile}%.1f over ${tail.samples} files; generator late max $maxLate%.2f ms",
      s"failed_frac: ${out.failed}/${out.attempted}") ++
      e2e.map(m => f"${m.name} = ${m.value}%.4f ${m.unit}")
    Result(out, e2e, perLayer, detail)
  }
}
