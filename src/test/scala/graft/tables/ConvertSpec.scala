package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files

/** In-place adoption of existing parquet directories
  * ([[ManagedTable.convertInPlace]], `CONVERT TO GRAFT` SQL): manifest
  * version 0 points at the files where they sit, zero data rewritten. */
class ConvertSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-convert").toString

  test("convert a flat parquet directory: stats, reads, then DML works") {
    import spark.implicits._
    val dir = tmp() + "/flat"
    Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "name", "qty")
      .repartition(2).write.parquet(dir)
    val t = ManagedTable(spark, dir)
    val n = t.convertInPlace()
    n should be >= 1
    t.currentVersion shouldBe Some(0L)
    t.history().head.operation shouldBe "convert"
    // footer stats + row counts adopted (metadata-only count works)
    t.fastCount shouldBe Some(3L)
    t.read().orderBy("id").collect().map(_.getInt(0)) shouldBe Array(1, 2, 3)
    // the files were NOT moved or rewritten
    t.manifest.get.files.forall(f => !f.path.startsWith("data/")) shouldBe true
    // engine features on the adopted table: append, DML, time travel
    t.append(Seq((4, "d", 40)).toDF("id", "name", "qty"))
    t.delete("id = 1") shouldBe 1L
    t.read().count() shouldBe 3
    t.readVersion(0).count() shouldBe 3 // the adoption snapshot
    // already-converted directory refuses a second convert
    intercept[IllegalStateException](t.convertInPlace())
  }

  test("convert a hive-partitioned directory: typed partition columns, pruning") {
    import spark.implicits._
    val dir = tmp() + "/hive"
    Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "y"))
      .toDF("id", "name", "part")
      .write.partitionBy("part").parquet(dir)
    val t = ManagedTable(spark, dir)
    t.convertInPlace()
    val m = t.manifest.get
    m.partitionColumns shouldBe Seq("part")
    m.properties.get(ManagedTable.ConvertPartitionDirsProp) shouldBe Some("true")
    m.files.flatMap(_.partitionValues.get("part")).toSet shouldBe Set("x", "y")
    // partition values materialize on read even though the imported
    // files do not store the column in their data
    t.read().orderBy("id").collect().map(r => (r.getInt(0), r.getString(2)))
      .toSeq shouldBe Seq((1, "x"), (2, "y"), (3, "y"))
    // manifest partition pruning
    t.readPartitionsIn(Map("part" -> Set("y")))
      .collect().map(_.getInt(0)).sorted shouldBe Array(2, 3)
    // partition-predicate DELETE is metadata-only on adopted files
    t.delete("part = 'x'") shouldBe 1L
    t.read().count() shouldBe 2
    // engine-written files mix with adopted ones in one snapshot
    t.append(Seq((9, "z", "x")).toDF("id", "name", "part"))
    t.read().orderBy("id").collect().map(r => (r.getInt(0), r.getString(2)))
      .toSeq shouldBe Seq((2, "y"), (3, "y"), (9, "x"))
  }

  test("partition-column filter on an adopted hive layout prunes AND keeps " +
      "row semantics (r16 regression: manifest scan dropped partitionFilters)") {
    import spark.implicits._
    val dir = tmp() + "/hivefilter"
    Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "y"), (4, "d", "z"))
      .toDF("id", "name", "part")
      .write.partitionBy("part").parquet(dir)
    val t = ManagedTable(spark, dir)
    t.convertInPlace()
    // partition-ONLY predicate: FileSourceStrategy strips it from the
    // post-scan filters and trusts FileIndex.listFiles(partitionFilters)
    // to prune — a FileIndex that ignores the argument returns EVERY
    // partition's rows (the r16 q_e_convert_replace breakage)
    t.read().filter("part = 'y'").collect().map(_.getInt(0)).sorted shouldBe
      Array(2, 3)
    t.read().filter(col("part").isin("x", "z")).collect()
      .map(_.getInt(0)).sorted shouldBe Array(1, 4)
    // mixed partition + data predicate
    t.read().filter("part = 'y' AND id > 2").collect()
      .map(_.getInt(0)) shouldBe Array(3)
    // the q_e_convert_replace shape: replaceWhere feeding on a
    // partition-scoped read of the same adopted table
    val doubled = t.read().filter("part = 'y'")
      .withColumn("id", col("id") + 10)
    t.overwriteWhere(doubled, "part = 'y'")
    t.read().orderBy("id").collect().map(_.getInt(0)) shouldBe
      Array(1, 4, 12, 13)
  }

  test("row-level DML and compaction on an adopted hive layout") {
    import spark.implicits._
    val dir = tmp() + "/hive2"
    Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "y"))
      .toDF("id", "name", "part")
      .write.partitionBy("part").parquet(dir)
    val t = ManagedTable(spark, dir)
    t.convertInPlace()
    // row predicate: touch-detect + rewrite of the containing file only;
    // the rewrite re-lands under the engine layout with `part` in data
    t.update(Map("name" -> "upper(name)"), "id = 2") shouldBe 1L
    t.read().orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
      .toSeq shouldBe Seq((1, "a"), (2, "B"), (3, "c"))
    // compaction normalizes everything into the engine layout
    // (minFiles = 1: rewrite even single-file partitions)
    t.compact(minFiles = 1)
    t.manifest.get.files.forall(_.path.startsWith("data/")) shouldBe true
    t.read().orderBy("id").collect().map(r => (r.getInt(0), r.getString(2)))
      .toSeq shouldBe Seq((1, "x"), (2, "x"), (3, "y"))
  }

  test("vacuum reclaims adopted files dropped from retention") {
    import spark.implicits._
    val dir = tmp() + "/hive3"
    Seq((1, "a", "x"), (2, "b", "y"))
      .toDF("id", "name", "part")
      .write.partitionBy("part").parquet(dir)
    val t = ManagedTable(spark, dir)
    t.convertInPlace()
    t.delete("part = 'x'") shouldBe 1L // metadata-only drop of adopted file
    // the dropped adopted file still sits outside data/ — dry run finds it
    val plan = t.vacuumDryRun()
    plan.adoptedOrphans should have size 1
    plan.adoptedOrphans.head should include("part=x")
    t.vacuum()
    // physically gone; the live snapshot is intact
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(plan.adoptedOrphans.head)) shouldBe false
    t.read().collect().map(_.getInt(0)) shouldBe Array(2)
    // a second vacuum finds nothing adopted to reclaim
    t.vacuumDryRun().adoptedOrphans shouldBe empty
  }

  test("vacuum reclaims adopted orphans of an UNPARTITIONED convert") {
    import spark.implicits._
    val dir = tmp() + "/flat2"
    Seq((1, "a"), (2, "b")).toDF("id", "name").repartition(1)
      .write.parquet(dir)
    val t = ManagedTable(spark, dir)
    t.convertInPlace()
    // flat converts carry the always-set converted marker (partition-dirs
    // property stays keyed on a hive layout actually existing)
    t.manifest.get.properties.get(ManagedTable.ConvertedTableProp) shouldBe
      Some("true")
    t.manifest.get.properties.get(ManagedTable.ConvertPartitionDirsProp) shouldBe
      None
    // rewrite everything — the adopted file outside data/ becomes garbage
    t.overwriteAll(Seq((3, "c")).toDF("id", "name"))
    val plan = t.vacuumDryRun()
    plan.adoptedOrphans should have size 1
    t.vacuum()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(plan.adoptedOrphans.head)) shouldBe false
    t.read().collect().map(_.getInt(0)) shouldBe Array(3)
  }

  test("shallow clone of a converted table reads across roots; deep clone re-owns the layout") {
    import spark.implicits._
    val dir = tmp() + "/hive-sc"
    Seq((1, "a", "x"), (2, "b", "y")).toDF("id", "name", "part")
      .write.partitionBy("part").parquet(dir)
    val t = ManagedTable(spark, dir)
    t.convertInPlace()
    val clone = t.shallowCloneTo(tmp() + "/c")
    // borrowed adopted files live under the SOURCE root — partition
    // discovery can't span roots, so the read attaches partition values
    // from the manifest instead
    clone.read().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(2)))
      .toSeq shouldBe Seq((1, "x"), (2, "y"))
    // pruned reads still work on the manifest's partition values
    clone.readPartitionsIn(Map("part" -> Set("y")))
      .collect().map(_.getInt(0)) shouldBe Array(2)
    // deep clone of the shallow clone: borrowed hive files are copied
    // under the dest with their partition DIRECTORIES reconstructed
    val deep = clone.deepCloneTo(tmp() + "/d")
    deep.manifest.get.files.map(_.path).sorted.foreach { p =>
      p should startWith regex "part=[xy]/"
    }
    deep.read().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(2)))
      .toSeq shouldBe Seq((1, "x"), (2, "y"))

    // null partition values in a STRING and an INT partition column: the
    // hive default-partition sentinel reads as null on the clone exactly
    // as on its source, with ANSI casts on (the default) and off
    val nd = tmp() + "/hive-sc-null"
    Seq[(Int, String, Option[String], Option[Int])](
        (1, "a", Some("x"), Some(1)), (2, "b", None, None),
        (3, "c", None, None))
      .toDF("id", "name", "ps", "pi")
      .write.partitionBy("ps", "pi").parquet(nd)
    val src = ManagedTable(spark, nd)
    src.convertInPlace()
    val nc = src.shallowCloneTo(tmp() + "/c-null")
    def rows(t: ManagedTable): Seq[Seq[Any]] =
      t.read().orderBy("id").collect().map(_.toSeq).toSeq
    def underAnsi(f: => Unit): Unit = Seq("true", "false").foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try f finally spark.conf.unset("spark.sql.ansi.enabled")
    }
    underAnsi {
      rows(src) shouldBe Seq(Seq(1, "a", "x", 1), Seq(2, "b", null, null),
        Seq(3, "c", null, null))
      rows(nc) shouldBe rows(src)
    }
    // manifest-side pruning still selects exactly the partition's file
    val pruned = nc.readPartitionsIn(Map("pi" -> Set("1")))
    pruned.inputFiles should have size 1
    pruned.collect().map(_.getInt(0)) shouldBe Array(1)
    // a delete keyed on the null partition runs the tagged (touch
    // detection) read over the borrowed files and rewrites the survivor
    Seq(src, nc).foreach(_.delete("ps IS NULL AND id = 3") shouldBe 1L)
    underAnsi {
      rows(nc) shouldBe Seq(Seq(1, "a", "x", 1), Seq(2, "b", null, null))
      rows(nc) shouldBe rows(src)
    }
  }

  test("partition filter spelled in another case binds and prunes " +
      "(case-insensitive analysis)") {
    import spark.implicits._
    val dir = tmp() + "/hivecase"
    Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "y"))
      .toDF("id", "name", "ps")
      .write.partitionBy("ps").parquet(dir)
    val t = ManagedTable(spark, dir)
    t.convertInPlace()
    val df = t.read().filter("PS = 'y'")
    df.collect().map(_.getInt(0)).sorted shouldBe Array(2, 3)
    // the partition-only predicate reached the manifest file index and
    // pruned: one of the two partitions' files was read
    val scans = df.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    scans should have size 1
    scans.head.metrics("numFiles").value shouldBe
      t.manifest.get.files.count(_.partitionValues("ps") == "y")
  }

  test("CONVERT TO GRAFT SQL over a path") {
    val sql = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.functions.GraftSparkExtensions)
        .getOrCreate()
    }
    import sql.implicits._
    val dir = tmp() + "/sqlconv"
    Seq((1, "a"), (2, "b")).toDF("id", "name").write.parquet(dir)
    val out = sql.sql(s"CONVERT TO GRAFT parquet.`$dir`").collect()
    out.head.getLong(0) should be >= 1L
    sql.sql(s"SELECT count(*) FROM graft.`$dir`").head.getLong(0) shouldBe 2L
  }

  test("deep clone of an adopted hive layout keeps dir-partition reads") {
    import spark.implicits._
    val dir = tmp() + "/hive4"
    Seq((1, "a", "x"), (2, "b", "y"))
      .toDF("id", "name", "part")
      .write.partitionBy("part").parquet(dir)
    val t = ManagedTable(spark, dir)
    t.convertInPlace()
    val clone = t.deepCloneTo(tmp() + "/hive4-clone")
    // rel-path-preserving copy reproduces the hive layout AND the
    // property that drives partition-discovery reads
    clone.manifest.get.properties
      .get(ManagedTable.ConvertPartitionDirsProp) shouldBe Some("true")
    clone.read().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(2)))
      .toSeq shouldBe Seq((1, "x"), (2, "y"))
  }

  test("convert failure modes: empty directory, inconsistent layout") {
    val dir = tmp() + "/empty"
    new java.io.File(dir).mkdirs()
    intercept[IllegalStateException](
      ManagedTable(spark, dir).convertInPlace())
  }
}
