package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** One timed interval at a layer boundary. Spans of one run share
  * `runId`; `parent` names the span that caused this one. */
final case class Span(name: String, startNs: Long, endNs: Long,
                      parent: String, runId: String)

/** Job, task and shuffle totals per Spark job group, and job counts
  * per streaming micro-batch, collected by a listener the benchmark
  * registers. Read them only after [[org.apache.spark.perfbench.ListenerBus.drain]]. */
final class GroupListener extends SparkListener {
  final class Totals {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  private val byGroup = mutable.Map.empty[String, Totals]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val batchJobs = mutable.Map.empty[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    byGroup.getOrElseUpdate(group, new Totals).jobs += 1
    e.stageIds.foreach(stageGroup(_) = group)
    props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .foreach(b => batchJobs(b.toLong) = batchJobs.getOrElse(b.toLong, 0L) + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Totals)
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def totals(group: String): Totals = synchronized(byGroup.getOrElse(group, new Totals))
  def jobsPerBatch: Map[Long, Long] = synchronized(batchJobs.toMap)
}

/** Layer-boundary instrumentation, applied from outside the engine.
  *
  * Every layer call runs under its own Spark job group. With tracing
  * off that is all: the call returns its lazy DataFrame and the
  * workload's own actions execute it. With tracing on, the call's
  * construction is timed, its output is then materialized at the
  * boundary (an eager local checkpoint, timed as the call's
  * execution), and the checkpoint is handed downstream, so each
  * layer's jobs, tasks and time land in its own group. Spans stay in
  * memory until [[write]]. */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  import Tracer.CallSample
  private val sc = spark.sparkContext

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[CallSample]] =
    mutable.LinkedHashMap.empty
  val listener: Option[GroupListener] =
    if (enabled) { val l = new GroupListener; sc.addSparkListener(l); Some(l) } else None
  private val boundaryRdds = mutable.ArrayBuffer.empty[RDD[_]]
  private var cachedPeak = 0L

  /** Highest cached bytes seen at a call boundary, not counting the
    * tracer's own boundary checkpoints. */
  def cachedBytesPeak: Long = cachedPeak

  private def sampleCached(): Unit = if (enabled) {
    val own = boundaryRdds.map(_.id).toSet
    val bytes = sc.getRDDStorageInfo.filterNot(i => own(i.id))
      .map(i => i.memSize + i.diskSize).sum
    cachedPeak = math.max(cachedPeak, bytes)
  }

  /** Run `body` as span `name` under `parent` (traced runs only). */
  def span[T](name: String, parent: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans += Span(name, t0, System.nanoTime(), parent, runId)
    }

  /** One call into a layer, `name` = `<module>.<call>`. */
  def call(name: String, rep: String)(construct: => DataFrame): DataFrame = {
    sc.setJobGroup(s"$rep/$name", name, interruptOnCancel = false)
    try {
      if (!enabled) construct
      else {
        sampleCached()
        val t0 = System.nanoTime()
        val df = construct
        val t1 = System.nanoTime()
        val cp = df.localCheckpoint(eager = true)
        val t2 = System.nanoTime()
        cp.queryExecution.logical match {
          case l: LogicalRDD => boundaryRdds += l.rdd
          case _ => ()
        }
        sampleCached()
        sc.setJobGroup(s"$rep/bench", "bench", interruptOnCancel = false)
        val rows = cp.count()
        spans += Span(name, t0, t2, rep, runId)
        spans += Span(s"$name.construct", t0, t1, name, runId)
        spans += Span(s"$name.execute", t1, t2, name, runId)
        samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
          CallSample(rep, (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows)
        cp
      }
    } finally sc.clearJobGroup()
  }

  /** Drop the boundary checkpoints of the finished repetition. */
  def releaseBoundaries(): Unit = {
    boundaryRdds.foreach(r => r.unpersist(blocking = false))
    boundaryRdds.clear()
  }

  /** The eight per-call measures, each the median over traced
    * repetitions: `<call>.<measure>` → value. */
  def callMetrics(): Map[String, Double] = {
    listener.foreach(_ => org.apache.spark.perfbench.ListenerBus.drain(sc))
    samples.toSeq.flatMap { case (name, ss) =>
      val tot = ss.map(s => listener.get.totals(s"${s.rep}/$name"))
      def med(f: Int => Double) = Stats.median(ss.indices.map(f))
      Seq(
        "construct_s" -> med(i => ss(i).constructS),
        "execute_s" -> med(i => ss(i).executeS),
        "jobs" -> med(i => tot(i).jobs.toDouble),
        "tasks" -> med(i => tot(i).tasks.toDouble),
        "executor_run_s" -> med(i => tot(i).runMs / 1000.0),
        "shuffle_write_bytes" -> med(i => tot(i).shuffleWriteBytes.toDouble),
        "spill_bytes" -> med(i => tot(i).spillBytes.toDouble),
        "rows_out" -> med(i => ss(i).rowsOut.toDouble)
      ).map { case (m, v) => s"$name.$m" -> v }
    }.toMap
  }

  /** Write the spans as JSON lines. */
  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map { s =>
      s"""{"name":${q(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${q(s.parent)},"run_id":${q(s.runId)}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class CallSample(rep: String, constructS: Double, executeS: Double,
                              rowsOut: Long)
}
