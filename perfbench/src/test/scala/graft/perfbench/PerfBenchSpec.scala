package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

class PerfBenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.GraftSession.local("2", "perfbench-spec")

  override def afterAll(): Unit = spark.stop()

  /** Two fresh temporary directories, deleted after `body`. */
  private def twoDirs(body: (Path, Path) => Unit): Unit = {
    val (a, b) = (Files.createTempDirectory("perfbench-a"), Files.createTempDirectory("perfbench-b"))
    try body(a, b)
    finally { Inputs.deleteTree(a); Inputs.deleteTree(b) }
  }

  private def tree(root: Path): Map[String, Seq[Byte]] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  test("the same seed writes byte-identical page files")(twoDirs { (a, b) =>
    Inputs.writePageFiles(Inputs.pageDocs(7, 50), a)
    Inputs.writePageFiles(Inputs.pageDocs(7, 50), b)
    assert(tree(a).size == 50)
    assert(tree(a) == tree(b))
    assert(Inputs.pageDocs(8, 50) != Inputs.pageDocs(7, 50))
    val names = tree(a).keys.map(_.split('/').last)
    assert(names.forall(_.matches(Inputs.FileNamePattern)))
  })

  test("the same seed writes byte-identical gate files")(twoDirs { (a, b) =>
    Inputs.writeGateFiles(spark, Inputs.gateFiles(3, 4, 20), a)
    Inputs.writeGateFiles(spark, Inputs.gateFiles(3, 4, 20), b)
    assert(tree(a).keys.toSeq.sorted == Inputs.gateFiles(3, 4, 20).map(_.fileName))
    assert(tree(a) == tree(b))
    assert(Inputs.gateFiles(4, 4, 20) != Inputs.gateFiles(3, 4, 20))
  })

  test("gate files plant copies of fresh documents from earlier files") {
    val files = Inputs.gateFiles(5, 6, 20)
    val ids = files.flatMap(_.docs.map(_._1))
    assert(ids.distinct.length == ids.length && ids.max < 100000)
    val earlier = files.scanLeft(Set.empty[String])((seen, f) => seen ++ f.docs.map(_._2))
    files.zip(earlier).tail.foreach { case (f, seen) =>
      val text = f.docs.toMap
      assert(f.exactOfEarlier.size == 2 && f.exactOfEarlier.forall(id => seen(text(id))))
      assert(f.dupInBatch.forall(id => f.docs.count(_._2 == text(id)) == 2))
    }
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 30).map(_.toDouble).reverse
    val t = Stats.tail(xs)
    assert(t.value == 20.0 && xs.count(_ > t.value) == 10 && t.samples == 30)
    assert(math.abs(t.percentile - 100.0 * 20 / 30) < 1e-9)
    val t21 = Stats.tail((1 to 21).map(_.toDouble))
    assert(t21.value == 11.0 && t21.percentile > 50.0)
    // too few samples for a tail above the median: the maximum, at p100
    assert(Stats.tail(Seq(3.0, 9.0, 4.0)) == Stats.Tail(9.0, 100.0, 3))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Stats.Tail(20.0, 100.0, 20))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("failed_frac counts failed operations over attempted ones") {
    val o = new Outcomes
    assert(o.failedFrac == 0.0)
    assert(o.attempt("ok")(1).contains(1))
    assert(o.attempt("boom")(throw new IllegalStateException("x")).isEmpty)
    o.check("clean", Nil)
    o.check("dirty", Seq("a", "b"))
    o.record("batches", 6, 1)
    assert(o.attempted == 10 && o.failed == 3)
    assert(o.failedFrac == 0.3)
    assert(o.problems.exists(_.startsWith("boom")) && o.problems.exists(_.startsWith("dirty: a")))
  }

  test("a wrong route set is caught") {
    val ids = (0L until 40L)
    val good = ids.map(id => id -> (if (id % 13 == 0) "HITL" else "STP"))
    assert(DocPipeline.routeProblems(good, ids).isEmpty)
    assert(DocPipeline.routeProblems(good.tail, ids).exists(_.contains("39 routes for 40")))
    assert(DocPipeline.routeProblems(good :+ good.head, ids).exists(_.contains("routed 2 times")))
    val flipped = good.map { case (id, r) => if (id == 5) id -> "HITL" else id -> r }
    assert(DocPipeline.routeProblems(flipped, ids) == Seq("document 5 routed HITL"))
  }

  test("a wrong gate decision is caught") {
    val files = Inputs.gateFiles(9, 3, 10)
    val right = files.flatMap(f => f.docs.map { case (id, _) =>
      id -> (if (f.exactOfEarlier(id)) "dup_of_history"
             else if (f.dupInBatch(id)) "dup_in_batch" else "new") })
    assert(IngestGate.decisionProblems(right, files).isEmpty)
    val copy = files(1).exactOfEarlier.min
    val wrong = right.map { case (id, s) => if (id == copy) id -> "new" else id -> s }
    assert(IngestGate.decisionProblems(wrong, files) == Seq(s"exact copy $copy labelled new"))
    assert(IngestGate.decisionProblems(right.tail, files).nonEmpty)
  }
}
