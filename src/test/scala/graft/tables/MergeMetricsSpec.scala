package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** MERGE action counts are metrics of the merge's own write job: they
  * must agree across the generic and keyed paths, describe exactly the
  * rows written (even under a nondeterministic condition), survive empty
  * inputs and identity/generated-column commits, and a CHECK violation
  * counted by that same job must leave nothing behind. */
class MergeMetricsSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-mm").toString

  /** ids 1..10, v = id, partitioned by id parity. */
  def target(path: String): ManagedTable = {
    import spark.implicits._
    val t = ManagedTable(spark, path)
    t.overwriteAll((1 to 10).map(i => (i, if (i % 2 == 1) "a" else "b", i))
      .toDF("id", "p", "v"), Seq("p"))
    t
  }

  def rows(t: ManagedTable): Seq[(Int, String, Int)] =
    t.read().select("id", "p", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq.sortBy(_._1)

  /** The merge's route: `generic` (arbitrary ON condition), `small` (key
    * merge over a small scope, which runs the generic resolve) or `keyed`
    * (the two-phase file-granular path, small-scope routing off). */
  def merge(route: String, t: ManagedTable, src: DataFrame): MergeBuilder =
    route match {
      case "generic" => MergeInto(t, src, "target.id = source.id")
      case _         => MergeInto.byKey(t, src, "id")
    }

  def withRoute[T](route: String)(body: => T): T =
    if (route != "keyed") body
    else {
      spark.conf.set("spark.graft.merge.smallScopeBytes", "0")
      try body finally spark.conf.unset("spark.graft.merge.smallScopeBytes")
    }

  val routes = Seq("generic", "small", "keyed")

  test("MergeMetrics agree across generic, small-scope and keyed paths: " +
      "delete, conditional insert (dropped rows) and not-matched-by-source") {
    import spark.implicits._
    val src = Seq((1, "a", 0, true), (2, "b", 0, true),
      (3, "a", 100, false), (4, "b", 100, false), (5, "a", 100, false),
      (11, "a", 5, false), (12, "b", 5, false), (13, "a", -1, false))
      .toDF("id", "p", "v", "del")
    import MergeBuilder._
    // each route runs twice: the public String clauses, then the same
    // merge built from Columns (the SQL surface's form)
    val results = for (route <- routes; form <- Seq("string", "column")) yield {
      val t = target(tmp() + s"/$route-$form")
      val m = withRoute(route) {
        (form match {
          case "string" => merge(route, t, src)
            .whenMatchedDelete(Some("source.del = true"))
            .whenMatchedUpdate(Map("v" -> "source.v"))
            .whenNotMatchedInsertAll(Some("source.v > 0"))
            .whenNotMatchedBySourceDelete(Some("target.v < 8"))
          case _ =>
            (if (route == "generic")
              MergeInto(t, src, col("target.id") === col("source.id"))
            else MergeInto.byKey(t, src, "id"))
              .add(Clause(Matched, Some(col("source.del") === true), Delete))
              .add(Clause(Matched, None, UpdateSet(Map("v" -> col("source.v")))))
              .add(Clause(NotMatched, Some(col("source.v") > 0), InsertAll))
              .add(Clause(NotMatchedBySource, Some(col("target.v") < 8), Delete))
        }).execute()
      }
      s"$route/$form" -> (m, rows(t))
    }
    val expected = Map("del:m0" -> 2L, "m1" -> 3L, "nm2" -> 2L,
      "del:bs3" -> 2L, "unchanged" -> 3L)
    results.foreach { case (route, (m, _)) =>
      withClue(s"route $route: ") {
        m.byTag shouldBe expected
        m.count("m0") shouldBe 2L
        m.count("bs3") shouldBe 2L
      }
    }
    val written = results.head._2._2
    written.map(_._1) shouldBe Seq(3, 4, 5, 8, 9, 10, 11, 12)
    results.foreach { case (route, (_, r)) =>
      withClue(s"route $route: ")(r shouldBe written) }
  }

  test("an empty source into an empty pruned scope reports zeros and " +
      "returns") {
    import spark.implicits._
    val noRows = Seq.empty[(Int, String, Int)].toDF("id", "p", "v")
    routes.foreach { route =>
      val t = target(tmp() + s"/$route")
      val m = Await.result(Future(withRoute(route) {
        merge(route, t, noRows).prunePartitions(Nil)
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      })(scala.concurrent.ExecutionContext.global), 90.seconds)
      withClue(s"route $route: ") {
        m.total shouldBe 0L
        m.byTag.values.filter(_ != 0L) shouldBe empty
        rows(t).size shouldBe 10
      }
    }
  }

  test("a rand()-conditioned merge reports exactly the rows it wrote") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/rnd")
    t.overwriteAll(spark.range(0, 400).selectExpr("CAST(id AS INT) AS id",
      "CAST(id AS INT) AS v").repartition(4))
    val src = spark.range(0, 400).selectExpr("CAST(id AS INT) AS id",
      "-1 AS v")
    val up = MergeInto.byKey(t, src, "id")
      .whenMatchedUpdate(Map("v" -> "source.v"), Some("rand() < 0.3"))
      .execute()
    val updated = t.read().filter($"v" === -1).count()
    up.count("m0") shouldBe updated
    up.count("unchanged") shouldBe 400L - updated
    val del = MergeInto.byKey(t, src, "id")
      .whenMatchedDelete(Some("rand() < 0.5"))
      .execute()
    del.count("m0") shouldBe 400L - t.read().count()
    del.count("unchanged") shouldBe t.read().count()
  }

  /** Names of the table's commit dirs under `data/`. */
  def commitDirs(path: String): Set[String] =
    Option(new java.io.File(path, "data").list()).map(_.toSet).getOrElse(Set.empty)

  test("a CHECK-violating merge, append or replaceWhere leaves no new " +
      "version and no commit dir") {
    import spark.implicits._
    (routes :+ "append" :+ "replaceWhere").foreach { route =>
      val path = tmp() + s"/$route"
      val t = target(path)
      t.addConstraint("v_nonneg", "v >= 0")
      val version = t.currentVersion
      val dirs = commitDirs(path)
      val bad = Seq((3, "a", 7), (20, "b", -4)).toDF("id", "p", "v")
      val e = intercept[ConstraintViolationException](withRoute(route) {
        route match {
          case "append" => t.append(bad)
          case "replaceWhere" => t.overwriteWhere(bad, "p = 'a' OR p = 'b'")
          case _ =>
            merge(route, t, bad).whenMatchedUpdateAll()
              .whenNotMatchedInsertAll().execute()
        }
      })
      withClue(s"route $route: ") {
        e.getMessage should include("v_nonneg")
        t.currentVersion shouldBe version
        commitDirs(path) shouldBe dirs
        rows(t).size shouldBe 10
      }
    }
    // replaceWhere's region check is counted by the same write job
    val path = tmp() + "/region"
    val t = target(path)
    val dirs = commitDirs(path)
    val e = intercept[ConstraintViolationException](
      t.overwriteWhere(Seq((30, "b", 1)).toDF("id", "p", "v"), "p = 'a'"))
    e.getMessage should include("replaced region")
    commitDirs(path) shouldBe dirs
    t.overwriteWhere(Seq((31, "a", 1)).toDF("id", "p", "v"), "p = 'a'")
    rows(t).map(_._1) shouldBe Seq(2, 4, 6, 8, 10, 31)
  }

  test("merges into identity-column and generated-column tables keep " +
      "exact counts on every path") {
    import spark.implicits._
    routes.foreach { route =>
      val t = ManagedTable(spark, tmp() + s"/id-$route")
      t.overwriteAll(Seq.empty[(String, Int)].toDF("name", "qty"))
      t.addIdentityColumn("id", start = 100L, step = 10L)
      t.append(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("name", "qty"))
      val src = Seq(("a", 10), ("b", 2), ("y", 25), ("z", 26), ("w", -1))
        .toDF("name", "qty")
      val m = withRoute(route) {
        (route match {
          case "generic" => MergeInto(t, src, "target.name = source.name")
          case _         => MergeInto.byKey(t, src, "name")
        }).whenMatchedUpdateAll(Some("target.qty != source.qty"))
          .whenNotMatchedInsertAll(Some("source.qty > 0"))
          .execute()
      }
      withClue(s"identity, route $route: ") {
        m.byTag shouldBe Map("m0" -> 1L, "nm1" -> 2L, "unchanged" -> 2L)
        val ids = t.read().select("name", "id").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        ids.keySet shouldBe Set("a", "b", "c", "y", "z")
        ids("a") shouldBe 100L
        Set(ids("y"), ids("z")) shouldBe Set(130L, 140L)
      }
    }
    routes.foreach { route =>
      val t = ManagedTable(spark, tmp() + s"/gen-$route")
      t.overwriteAll(Seq.empty[(Int, Int)].toDF("id", "v"))
      t.addGeneratedColumn("v2", "v * 2")
      t.append(Seq((1, 1), (2, 2), (3, 3)).toDF("id", "v"))
      val src = Seq((1, 10), (2, 2), (7, 7), (8, -8)).toDF("id", "v")
      val m = withRoute(route) {
        merge(route, t, src)
          .whenMatchedUpdateAll(Some("target.v != source.v"))
          .whenNotMatchedInsertAll(Some("source.v > 0"))
          .execute()
      }
      withClue(s"generated, route $route: ") {
        m.byTag shouldBe Map("m0" -> 1L, "nm1" -> 1L, "unchanged" -> 2L)
        t.read().select("id", "v2").collect()
          .map(r => r.getInt(0) -> r.getInt(1)).toMap shouldBe
          Map(1 -> 20, 2 -> 4, 3 -> 6, 7 -> 14)
      }
    }
  }
}
