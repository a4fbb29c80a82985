package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.llm.{EmbedStage, LlmPack, LlmStage}
import graft.metrics.Classification
import graft.pipeline.Lifecycles
import graft.sample.Sampling
import graft.vector.KnnJoin

/** The reference's document path over generated page files, closed
  * loop with one client: each pass consolidates the pages, embeds the
  * documents, kNN-classifies the test half against the train half,
  * scores the classification, extracts fields with the stub model and
  * JSON repair, and confirms and routes every document to STP or HITL;
  * the next pass starts when the previous one has finished. */
object DocPipeline {
  /** Documents per pass (about 3.5 pages each). */
  val Docs = 400
  /** The kNN index is the train half; the test half is classified. */
  val TrainFrac = 0.5
  /** Fewest timed passes a run makes, however short `--seconds` is. */
  val MinPasses = 3
  /** Untimed passes before timing starts: the first pass of a session
    * is cold (class loading, code generation, JIT), and the pass time
    * keeps falling over the next two (~7 s, ~6 s) as the JIT warms up. */
  val WarmPasses = 3

  final case class Out(routes: Seq[(Long, String)], report: Seq[Row])

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val input = Inputs.pageDocs(ctx.opts.seed, Docs)
    val pages = input.map(_.pages.length).sum
    val out = new Outcomes
    val gens = ArrayBuffer.empty[Double]
    val modelCalls = ArrayBuffer.empty[Double]
    val comparisons = ArrayBuffer.empty[Double]

    def pass(dir: Path, tr: Tracer, rep: String): Out = {
      val pageTable = tr.call("ingest.readPages", rep)(Ingest.readPages(spark, dir.toString))
      val flat = tr.call("ingest.flattenPages", rep)(
        Ingest.flattenPages(pageTable, col("fn"), col("PE_num"), col("text")))
      // the consolidated table is written once, as the reference's
      // consolidate stage writes its output, and read back downstream
      val consolidated = dir.resolve("consolidated.parquet").toString
      flat.select(
          regexp_extract(col("fn"), Inputs.FileNamePattern, 2).cast("long").as("doc_id"),
          regexp_extract(col("fn"), Inputs.FileNamePattern, 1).as("label"),
          col("full_text").as("text"))
        .write.parquet(consolidated)
      val docTable = spark.read.parquet(consolidated)

      val vectors = tr.call("llm.embed", rep)(Sampling.hashSplit(
        EmbedStage.embed(docTable, col("doc_id"), col("text"), new EmbedStage.HashingEmbedder())
          .join(docTable.select(col("doc_id").as("id"), col("label")), "id")
          .select(col("id").as("vec_id"), col("label"), col("embedding")),
        col("vec_id"), TrainFrac))
      val train = vectors.filter(col("split") === "train").drop("split")
      val test = vectors.filter(col("split") === "test").drop("split")
      if (tr.enabled) comparisons += train.count().toDouble * test.count()
      val hits = tr.call("vector.search", rep)(
        KnnJoin.search(spark, test, train, 1, KnnJoin.Exact, excludeSelf = false))
      val preds = hits.join(
        test.select(col("vec_id").as("query_id"), col("label").as("true_label")), "query_id")
      val report = tr.call("metrics.classificationReport", rep)(
        Classification.classificationReport(preds, col("true_label"), col("n_label"))).collect()

      val cached = LlmStage.ResultCache.size
      val extracted = tr.call("llm.extract", rep)(
        LlmPack.extractLongOn(docTable.select(col("doc_id"), col("text"))))
      if (tr.enabled) modelCalls += (LlmStage.ResultCache.size - cached).toDouble / Docs
      val routes = tr.call("pipeline.confirmRoute", rep)(Lifecycles.confirmRoute(extracted))
        .select(col("doc_id"), col("route")).collect()
      Out(routes.map(r => (r.getLong(0), r.getString(1))).toSeq, report.toSeq)
    }

    // Every pass gets freshly written inputs in a new directory, runs
    // under its own memo scope, and starts with an empty LLM result
    // cache; afterwards its memo entries, transient caches and cuts
    // are dropped. So every timed pass pays for its own work.
    def one(tag: String, tr: Tracer): (Option[Out], Double) = {
      val dir = ctx.opts.work.resolve(tag)
      val g0 = System.nanoTime()
      Inputs.writePageFiles(input, dir)
      gens += Stats.secondsSince(g0)
      graft.core.Artifacts.setScope(tag)
      LlmStage.ResultCache.clear()
      val t0 = System.nanoTime()
      val o = out.attempt(s"$tag pass")(tr.span(tag, "doc_pipeline")(pass(dir, tr, tag)))
      val wall = Stats.secondsSince(t0)
      graft.core.Artifacts.dropScope(tag)
      graft.core.Artifacts.setScope("")
      graft.core.Caches.releaseTransients()
      tr.releaseBoundaries()
      Inputs.deleteTree(dir)
      o.foreach(v => out.check(s"$tag output",
        routeProblems(v.routes, input.map(_.id)) ++ reportProblems(v.report)))
      (o, wall)
    }

    def loop(label: String, tr: Tracer): Seq[(Out, Double)] = {
      val done = ArrayBuffer.empty[(Out, Double)]
      var spent = 0.0
      var i = 0
      while (spent < ctx.opts.seconds || (done.length < MinPasses && i < 2 * MinPasses)) {
        val (o, wall) = one(s"$label$i", tr)
        o.foreach(v => done += (v -> wall))
        spent += wall
        i += 1
      }
      done.toSeq
    }

    val off = new Tracer(spark, ctx.runId, enabled = false)
    val w0 = System.nanoTime()
    (0 until WarmPasses).foreach(i => one(s"warm$i", off))
    val warmS = Stats.secondsSince(w0) - gens.sum

    val timed = loop("pass", off)
    timed.headOption.foreach { case (first, _) =>
      out.check("routes equal the parquet path", parquetPathProblems(spark, ctx.opts.work, input, first))
    }
    val setupS = ctx.sessionStartS + warmS + Stats.median(gens.toSeq)
    val walls = timed.map(_._2 * 1000.0)
    val p50S = if (walls.isEmpty) 0.0 else Stats.median(walls) / 1000.0
    def rate(n: Int) = if (p50S > 0) n / p50S else 0.0
    val (e2e, tail) = Metrics.endToEnd(setupS, walls, rate(Docs), rate(pages))

    val perLayer =
      if (!ctx.opts.trace) Map.empty[String, Double]
      else {
        val tr = new Tracer(spark, ctx.runId, enabled = true)
        val traced = loop("trace", tr)
        tr.write(ctx.opts.traceOut)
        def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
        tr.callMetrics() ++ Map(
          "llm.extract.model_calls" -> med(modelCalls),
          "vector.search.comparisons" -> med(comparisons),
          "core.cached_bytes_peak" -> tr.cachedBytesPeak.toDouble,
          "trace_overhead_s" -> (if (traced.isEmpty) 0.0 else med(traced.map(_._2)) - p50S),
          "failed_frac" -> out.failedFrac,
          "latency_tail_pct" -> tail.percentile,
          "latency_samples" -> tail.samples.toDouble)
      }

    val detail = Seq(
      f"setup: session ${ctx.sessionStartS}%.3f s, warm-up passes $warmS%.3f s, " +
        f"input generation median ${Stats.median(gens.toSeq)}%.3f s over ${gens.length}",
      s"doc_pipeline: $Docs documents, $pages pages per pass",
      s"pass walls (ms): ${walls.map(w => f"$w%.1f").mkString(" ")}",
      f"latency tail: p${tail.percentile}%.1f over ${tail.samples} passes",
      s"failed_frac: ${out.failed}/${out.attempted}") ++
      e2e.map(m => f"${m.name} = ${m.value}%.4f ${m.unit}") ++
      timed.lastOption.toSeq.flatMap { case (o, _) => Seq(
        s"routes: HITL ${o.routes.count(_._2 == "HITL")}, STP ${o.routes.count(_._2 == "STP")}",
        "classification: " + o.report.map(r =>
          f"${r.getString(0)} f1=${r.getDouble(3)}%.3f n=${r.getLong(4)}").mkString("; ")) }
    Result(out, e2e, perLayer, detail)
  }

  /** Every document routed exactly once, and HITL is exactly the stub
    * model's failure set: the stub returns NULL fields for every
    * document id divisible by 13, and only for those. */
  def routeProblems(routes: Seq[(Long, String)], ids: Seq[Long]): Seq[String] = {
    val counts = routes.groupBy(_._1).view.mapValues(_.length).toMap
    val expected = ids.toSet
    val missing = expected.filterNot(counts.contains)
    val twice = counts.filter(_._2 > 1).keys
    val unknown = counts.keySet -- expected
    val wrong = routes.filter { case (id, r) =>
      expected(id) && r != (if (id % 13 == 0) "HITL" else "STP") }
    (if (routes.length != ids.length) Seq(s"${routes.length} routes for ${ids.length} documents") else Nil) ++
      missing.take(3).map(id => s"document $id has no route") ++
      twice.take(3).map(id => s"document $id routed ${counts(id)} times") ++
      unknown.take(3).map(id => s"route for unknown document $id") ++
      wrong.take(3).map { case (id, r) => s"document $id routed $r" }
  }

  /** The report covers every test document once: the per-label
    * supports add up to the accuracy row's support. */
  def reportProblems(report: Seq[Row]): Seq[String] = {
    val (labels, summary) = report.partition(r => Inputs.Labels.contains(r.getString(0)))
    val acc = summary.find(_.getString(0) == "accuracy")
    val supports = labels.map(_.getLong(4)).sum
    if (acc.isEmpty) Seq("no accuracy row in the classification report")
    else if (acc.get.getLong(4) != supports || supports == 0)
      Seq(s"label supports add up to $supports, accuracy row says ${acc.get.getLong(4)}")
    else Nil
  }

  /** The page-file path must route exactly as the extraction artifact
    * path (`LlmPack.extractLong` → `confirmRoute`) does over the same
    * documents read from a parquet `documents` table. */
  private def parquetPathProblems(spark: SparkSession, work: Path,
                                  input: Seq[Inputs.PageDoc], first: Out): Seq[String] = {
    val dir = work.resolve("parquet-path")
    import spark.implicits._
    input.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    graft.core.Artifacts.setScope("parquet-path")
    val viaParquet = try {
      Lifecycles.confirmRoute(LlmPack.extractLong(spark, dir.toString))
        .select(col("doc_id"), col("route")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
    } finally {
      graft.core.Artifacts.dropScope("parquet-path")
      graft.core.Artifacts.setScope("")
      Inputs.deleteTree(dir)
    }
    val differ = first.routes.filter { case (id, r) => !viaParquet.get(id).contains(r) }
    (if (viaParquet.size != first.routes.size)
      Seq(s"parquet path routed ${viaParquet.size} documents, page path ${first.routes.size}")
    else Nil) ++ differ.take(5).map { case (id, r) =>
      s"document $id: page path $r, parquet path ${viaParquet.getOrElse(id, "none")}" }
  }
}
