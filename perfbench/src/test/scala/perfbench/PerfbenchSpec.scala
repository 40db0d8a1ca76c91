package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.ManagedTable

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = Files.createTempDirectory(
    Files.createDirectories(Paths.get("target")), "perfbench-spec")
  private lazy val spark: SparkSession = Main.session(tmp.resolve("session").toString, 2)
  private val tiny = 0.01

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  private def runOps(w: Workload, n: Int): Unit = {
    val tr = new Tracer(spark.sparkContext, enabled = false)
    (1 to n).foreach(op => assert(w.runOp(op, tr, new Recorder) == Nil))
  }

  /** Parquet contents under `dir`, keyed by path with the write job's
    * random file-name part removed. */
  private def inputs(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => dir.relativize(p).toString
          .replaceAll("-[0-9a-f]{8}-[0-9a-f-]{27}", "") -> Files.readAllBytes(p).toSeq)
      .toMap

  private def commits(w: Workload): Int = w match {
    case c: CdcMerge =>
      ManagedTable.forLocation(spark, c.md.silverLocation(c.entity)).history().size
    case s: Scd2Snapshot =>
      ManagedTable.forLocation(spark, s.md.silverLocation(s.entity)).history().size
    case _ => 0
  }

  Workload.names.foreach { name =>
    test(s"$name: same seed gives identical inputs and commits, another seed differs") {
      def make(tag: String, seed: Long) = {
        val root = tmp.resolve(s"$name-$tag")
        val w = Workload(name, spark, root.toString, seed, tiny)
        w.setup()
        runOps(w, 2)
        (root, w)
      }
      val (ra, a) = make("a", 7)
      val (rb, b) = make("b", 7)
      val (rc, _) = make("c", 8)
      val ia = inputs(ra.resolve(if (name == "corpus_dedup") "corpus.parquet" else "bronze"))
      val ib = inputs(rb.resolve(if (name == "corpus_dedup") "corpus.parquet" else "bronze"))
      val ic = inputs(rc.resolve(if (name == "corpus_dedup") "corpus.parquet" else "bronze"))
      assert(ia.nonEmpty)
      assert(ia.keySet == ib.keySet)
      ia.foreach { case (k, bytes) => assert(bytes == ib(k), s"$k differs under one seed") }
      assert(commits(a) == commits(b))
      assert(ia != ic, "a different seed must give different inputs")
    }
  }

  private def resultOf(name: String, trace: Boolean): JValue = {
    val out = new java.io.ByteArrayOutputStream
    val code = Console.withOut(out) {
      Main.run(spark, Main.Args(name, 3, 0.2, trace,
        tmp.resolve(s"run-$name-$trace").toString, 2, tiny, None, "test"), Nil, Nil)
    }
    assert(code == 0)
    JsonMethods.parse(out.toString.trim.linesIterator.toSeq.last)
  }

  private lazy val benchmarkJson: JValue =
    JsonMethods.parse(new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json"))))

  test("the catalog matches BENCHMARK.json") {
    Seq("end_to_end" -> Catalog.endToEnd, "per_layer" -> Catalog.perLayer).foreach {
      case (key, defs) =>
        val listed = (benchmarkJson \ key).children.map(m =>
          MetricDef((m \ "name").values.toString, (m \ "unit").values.toString,
            (m \ "better").values.toString))
        assert(listed == defs)
    }
  }

  Workload.names.foreach { name =>
    test(s"$name: every metric is emitted with its unit, untraced and traced") {
      Seq(false -> Catalog.endToEnd, true -> Catalog.perLayer).foreach { case (trace, defs) =>
        val r = resultOf(name, trace)
        assert((r \ "correct") == JBool(true))
        assert((r \ "failed") == JInt(0))
        val metrics = (r \ "metrics").asInstanceOf[JObject].obj.toMap
        assert(metrics.keySet == defs.map(_.name).toSet)
        defs.foreach { d =>
          assert((metrics(d.name) \ "unit") == JString(d.unit), d.name)
          assert((metrics(d.name) \ "value").isInstanceOf[JNumber], d.name)
        }
        if (!trace) Catalog.endToEnd.foreach(m =>
          assert((metrics(m.name) \ "value").values.toString.toDouble > 0, m.name))
      }
    }
  }

  test("cdc_merge: the oracle catches a planted wrong row") {
    val w = new CdcMerge(tmp.resolve("wrong-cdc").toString, 5, tiny)(spark)
    w.setup()
    runOps(w, 1)
    assert(w.finalCheck() == Nil)
    val t = ManagedTable.forLocation(spark, w.md.silverLocation(w.entity))
    t.append(t.read().filter(col("ID") === 3L).withColumn("amount", col("amount") + 1))
    assert(w.finalCheck().nonEmpty)
  }

  test("scd2_snapshot: the oracle catches a planted wrong row") {
    val w = new Scd2Snapshot(tmp.resolve("wrong-scd2").toString, 5, tiny)(spark)
    w.setup()
    runOps(w, 1)
    assert(w.finalCheck() == Nil)
    val t = ManagedTable.forLocation(spark, w.md.silverLocation(w.entity))
    t.append(t.read().filter(col("ID") === 3L && col("IsCurrent")))
    assert(w.finalCheck().exists(_.contains("exactly one current row")))
  }
}
