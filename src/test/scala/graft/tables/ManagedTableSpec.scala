package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files

class ManagedTableSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-test").toString

  import scala.jdk.CollectionConverters._
  def df(rows: Seq[(Int, String, String)]) = {
    import spark.implicits._
    rows.toDF("id", "name", "part")
  }

  test("overwrite + read round-trip, versioning") {
    val t = ManagedTable(spark, tmp() + "/t1")
    t.exists shouldBe false
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"))))
    t.exists shouldBe true
    t.currentVersion shouldBe Some(0L)
    t.read().count() shouldBe 2
    t.overwriteAll(df(Seq((3, "c", "z"))))
    t.currentVersion shouldBe Some(1L)
    t.read().count() shouldBe 1
    t.readVersion(0).count() shouldBe 2 // time travel
  }

  test("append preserves existing rows; missing column fails") {
    val t = ManagedTable(spark, tmp() + "/t2")
    t.overwriteAll(df(Seq((1, "a", "x"))))
    t.append(df(Seq((2, "b", "y"))))
    t.read().count() shouldBe 2
    val bad = df(Seq((3, "c", "z"))).drop("name")
    val ex = intercept[graft.metadata.MetadataException](t.append(bad))
    ex.getMessage should include("name")
  }

  test("partitioned write: partition values tracked, pruned read, dynamic overwrite") {
    val t = ManagedTable(spark, tmp() + "/t3")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "y"))), Seq("part"))
    val m = t.manifest.get
    m.partitionColumns shouldBe Seq("part")
    m.files.flatMap(_.partitionValues.get("part")).toSet shouldBe Set("x", "y")
    // pruned read only touches files of partition y
    val pr = t.readPartitionsIn(Map("part" -> Set("y")))
    pr.collect().map(_.getInt(0)).sorted shouldBe Array(2, 3)
    // partition columns still present in data (not stripped to dirs)
    pr.columns should contain("part")
    // dynamic overwrite replaces only partition y
    t.overwriteDynamic(df(Seq((9, "z", "y"))), Seq("part"))
    t.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 9)
  }

  test("DML touch-detect prunes candidates from manifest stats") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/dmlprune")
    // three files with disjoint id ranges recorded in manifest stats
    t.overwriteAll((1 to 10).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    t.append((11 to 20).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    t.append((21 to 30).map(i => (i, s"c$i")).toDF("id", "v").coalesce(1))
    val m = t.manifest.get
    m.files.size shouldBe 3
    // a range predicate prunes to the single overlapping file
    t.statsPrunedFiles(m, expr("id >= 25")).size shouldBe 1
    t.statsPrunedFiles(m, expr("id = 15 AND v != 'x'")).size shouldBe 1
    t.statsPrunedFiles(m, expr("id IN (3, 27)")).size shouldBe 2
    // untranslatable predicates keep everything — never an arbiter
    t.statsPrunedFiles(m, expr("length(v) > 1")).size shouldBe 3
    // and the DML built on it stays correct
    t.delete("id >= 25") shouldBe 6L
    t.update(Map("v" -> "'z'"), "id = 15") shouldBe 1L
    t.read().count() shouldBe 24
    t.read().filter($"id" === 15).head.getString(1) shouldBe "z"
  }

  test("commit timestamps stay monotonic across a backwards-stepped clock") {
    import org.apache.hadoop.fs.Path
    val t = ManagedTable(spark, tmp() + "/mono")
    t.overwriteAll(df(Seq((1, "a", "x"))))          // v0
    // simulate an NTP step-back: rewrite v0's record an hour in the future
    val fs = new Path(t.rootPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rec = new Path(t.rootPath, f"_graft/manifests/v${0L}%020d.json")
    val in = fs.open(rec)
    val raw = new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"); in.close()
    val m0 = Manifest.fromJsonString(raw)
    val future = System.currentTimeMillis() + 3600L * 1000
    val bumped = m0.copy(timestampMs = future).toJsonString
    fs.delete(rec, false)
    val out = fs.create(rec, true)
    out.write(bumped.getBytes("UTF-8")); out.close()
    // in-place record surgery violates the immutability contract the
    // global record cache relies on — drop it, as a JVM restart would
    ManagedTable.clearRecordCache()
    // next commits must still be recorded strictly AFTER v0
    val t2 = ManagedTable(spark, t.rootPath)
    t2.append(df(Seq((2, "b", "y"))))               // v1
    t2.overwriteAll(df(Seq((3, "c", "z"))))         // v2 (base-less path)
    val ts = t2.history().sortBy(_.version).map(_.timestampMs)
    ts shouldBe ts.sorted
    ts.distinct.size shouldBe ts.size // strictly increasing
    // timestampAsOf resolution stays consistent with version order
    t2.versionAt(ts(1)) shouldBe 1L
  }

  test("crash between record publish and pointer swap self-heals on next write") {
    import org.apache.hadoop.fs.Path
    val t = ManagedTable(spark, tmp() + "/heal")
    t.overwriteAll(df(Seq((1, "a", "x"))))          // v0
    t.append(df(Seq((2, "b", "y"))))                // v1
    // simulate the crash window: the v1 record exists, but the pointer
    // never moved — rewind it to v0 the way a dead writer leaves it
    val fs = new Path(t.rootPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pointer = new Path(t.rootPath, "_graft/_current")
    val out = fs.create(pointer, true)
    out.write("0".getBytes("UTF-8")); out.close()
    val t2 = ManagedTable(spark, t.rootPath)
    t2.currentVersion shouldBe Some(0L) // readers see the pre-crash head
    // the next WRITE rolls the complete orphan forward, then commits on
    // top of it — no manual record removal, no permanent collision
    t2.append(df(Seq((3, "c", "z"))))
    t2.currentVersion shouldBe Some(2L)
    t2.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 2, 3)
    t2.history().map(_.version).sorted shouldBe Seq(0L, 1L, 2L)
  }

  test("a torn (unparseable) legacy record is NOT rolled forward") {
    import org.apache.hadoop.fs.Path
    val t = ManagedTable(spark, tmp() + "/heal2")
    t.overwriteAll(df(Seq((1, "a", "x"))))          // v0
    val fs = new Path(t.rootPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new Path(t.rootPath, f"_graft/manifests/v${1L}%020d.json")
    val out = fs.create(torn, true)
    out.write("""{"version":1,"schemaJso""".getBytes("UTF-8")); out.close()
    // the heal refuses the torn record; the commit then collides on it
    intercept[ConcurrentWriteException](t.append(df(Seq((2, "b", "y")))))
    t.currentVersion shouldBe Some(0L)
  }

  test("a torn (empty or truncated) pointer is republished from the records") {
    import org.apache.hadoop.fs.Path
    val t = ManagedTable(spark, tmp() + "/torn-ptr")
    t.overwriteAll(df(Seq((1, "a", "x"))))          // v0
    t.append(df(Seq((2, "b", "y"))))                // v1
    val fs = new Path(t.rootPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pointer = new Path(t.rootPath, "_graft/_current")
    // what a non-atomic overwrite PUT leaves if its writer dies mid-write
    for (content <- Seq("", "1x")) {
      val out = fs.create(pointer, true)
      out.write(content.getBytes("UTF-8")); out.close()
      val t2 = ManagedTable(spark, t.rootPath)
      t2.currentVersion shouldBe Some(1L)
      val in = fs.open(pointer)
      try new String(in.readAllBytes(), "UTF-8").trim shouldBe "1"
      finally in.close()
      t2.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 2)
    }
  }

  test("newestRecordTxn skips a torn record above the head") {
    import org.apache.hadoop.fs.Path
    val t = ManagedTable(spark, tmp() + "/torn-txn")
    t.overwriteAll(df(Seq((1, "a", "x"))))                        // v0
    t.append(df(Seq((2, "b", "y"))), txn = Some(Txn("app", 7L))) // v1
    val fs = new Path(t.rootPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = new Path(t.rootPath, f"_graft/manifests/v${2L}%020d.json")
    def put(content: String): Unit = {
      val out = fs.create(next, true)
      out.write(content.getBytes("UTF-8")); out.close()
    }
    // a record still being written above the head, or left by a crashed
    // writer: zero-length, then truncated JSON
    for (content <- Seq("", """{"version":2,"txn":{"app""")) {
      put(content)
      t.newestRecordTxn("app") shouldBe Some(7L)
    }
    // a record that parses but fails the format guard is not torn
    put("""{"version":2,"format":999}""")
    intercept[IllegalArgumentException](t.newestRecordTxn("app"))
  }

  test("deepCloneTo: independent copy — source vacuum cannot break it") {
    val t = ManagedTable(spark, tmp() + "/dc-src")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"))), Seq("part"))
    t.append(df(Seq((3, "c", "x"))))
    val clone = t.deepCloneTo(tmp() + "/dc-dst", versionAsOf = Some(0L))
    clone.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 2)
    clone.manifest.get.partitionColumns shouldBe Seq("part")
    clone.history().head.operation shouldBe "deepClone"
    // entries are OWNED relative copies, not references into the source
    clone.manifest.get.files.foreach(f => f.path should not include "dc-src")
    // destroy the source's history entirely — the clone must not notice
    t.overwriteAll(df(Seq((9, "z", "q"))))
    t.vacuum()
    clone.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 2)
    // a deep clone into an existing table refuses
    intercept[graft.metadata.MetadataException](t.deepCloneTo(clone.rootPath))
  }

  test("deepCloneTo of a shallow clone relocates borrowed files — never truncates them") {
    import org.apache.hadoop.fs.Path
    val t = ManagedTable(spark, tmp() + "/dsc-src")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"))), Seq("part"))
    val shallow = t.shallowCloneTo(tmp() + "/dsc-shallow")
    // shallow entries are absolute URIs into the source
    shallow.manifest.get.files.foreach(f => f.path should include("dsc-src"))
    val deep = shallow.deepCloneTo(tmp() + "/dsc-deep")
    // the SOURCE data survives intact (the old resolve-against-dest bug
    // produced (src, src) copy pairs and truncated the shared files)
    t.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 2)
    shallow.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 2)
    // the deep clone owns relocated RELATIVE copies — shares nothing
    deep.manifest.get.files.foreach { f =>
      f.path should not include "dsc-src"
      new Path(f.path).isAbsolute shouldBe false
    }
    deep.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 2)
    // destroy the source's history — the deep clone must not notice
    t.overwriteAll(df(Seq((9, "z", "q"))))
    t.vacuum()
    deep.read().collect().map(r => (r.getInt(0), r.getString(2))).sorted
      .toSeq shouldBe Seq((1, "x"), (2, "y"))
  }

  test("versionAt: non-monotone legacy timestamps resolve monotonized") {
    import org.apache.hadoop.fs.Path
    val t = ManagedTable(spark, tmp() + "/vat-legacy")
    t.overwriteAll(df(Seq((1, "a", "x"))))          // v0
    t.append(df(Seq((2, "b", "y"))))                // v1
    t.append(df(Seq((3, "c", "z"))))                // v2
    val fs = new Path(t.rootPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = t.history().sortBy(_.version).head.timestampMs
    // rewrite the records the way a pre-clamp library after an NTP
    // step-back left them: v1 BEHIND v0, v2 ahead again
    def setTs(v: Long, ts: Long): Unit = {
      val rec = new Path(t.rootPath, f"_graft/manifests/v$v%020d.json")
      val in = fs.open(rec)
      val raw = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"); in.close()
      val patched = raw.replaceAll("\"timestampMs\":\\d+",
        s""""timestampMs":$ts""")
      val out = fs.create(rec, true)
      out.write(patched.getBytes("UTF-8")); out.close()
    }
    setTs(0L, base)
    setTs(1L, base - 10000L)
    setTs(2L, base + 10000L)
    // in-place record surgery violates the immutability contract the
    // global record cache relies on — drop it, as a JVM restart would
    ManagedTable.clearRecordCache()
    val t2 = ManagedTable(spark, t.rootPath)
    // effective (running-max) timestamps: v0=base, v1=base, v2=base+10s —
    // a naive raw-order binary search could answer v0 or nothing here
    t2.versionAt(base) shouldBe 1L
    t2.versionAt(base + 10000L) shouldBe 2L
    intercept[graft.metadata.MetadataException](t2.versionAt(base - 1))
  }

  test("overwriteWhere on a fresh table still enforces region membership") {
    val t = ManagedTable(spark, tmp() + "/trw-fresh")
    intercept[ConstraintViolationException](
      t.overwriteWhere(df(Seq((1, "a", "x"), (2, "b", "y"))), "part = 'x'"))
    t.exists shouldBe false // nothing was committed
    t.overwriteWhere(df(Seq((1, "a", "x"))), "part = 'x'")
    t.read().collect().map(_.getInt(0)) shouldBe Array(1)
  }

  test("clones carry CHECK constraints — enforcement survives the copy") {
    val t = ManagedTable(spark, tmp() + "/cc-src")
    t.overwriteAll(df(Seq((1, "a", "x"))))
    t.addConstraint("pos_id", "id > 0")
    val deep = t.deepCloneTo(tmp() + "/cc-deep")
    val shallow = t.shallowCloneTo(tmp() + "/cc-shallow")
    Seq(deep, shallow).foreach { c =>
      c.manifest.get.constraints.keySet shouldBe Set("pos_id")
      intercept[ConstraintViolationException](
        c.append(df(Seq((-5, "bad", "x")))))
      c.append(df(Seq((2, "ok", "x"))))
      c.read().count() shouldBe 2
    }
  }

  test("overwriteWhere: partition predicate is a metadata-only replace") {
    val t = ManagedTable(spark, tmp() + "/trw1")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "y"))), Seq("part"))
    val before = t.manifest.get.files.filter(_.partitionValues("part") == "x")
    t.overwriteWhere(df(Seq((9, "z", "y"))), "part = 'y'")
    t.read().orderBy("id").collect().map(r => (r.getInt(0), r.getString(2)))
      .toSeq shouldBe Seq((1, "x"), (9, "y"))
    // partition x's files were never rewritten — carried verbatim
    val after = t.manifest.get.files.filter(_.partitionValues("part") == "x")
    after.map(_.path).toSet shouldBe before.map(_.path).toSet
    t.history().head.operation shouldBe "replaceWhere"
  }

  test("overwriteWhere: row predicate rewrites only touched files, keeps survivors") {
    val t = ManagedTable(spark, tmp() + "/trw2")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "x"))))
    t.append(df(Seq((3, "c", "y"), (4, "d", "y"))))
    t.overwriteWhere(df(Seq((2, "B", "x"))), "id = 2")
    // 2 replaced; 1 (same file as 2) survived the rewrite; 3,4 untouched
    t.read().orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
      .toSeq shouldBe Seq((1, "a"), (2, "B"), (3, "c"), (4, "d"))
    // inserted rows must satisfy the predicate
    intercept[Exception](t.overwriteWhere(df(Seq((7, "w", "x"))), "id = 2"))
    // predicate matching nothing = plain insert, one commit
    t.overwriteWhere(df(Seq((5, "e", "x"))).filter(col("id") === 5), "id = 5")
    t.read().count() shouldBe 5
  }

  test("overwriteWhere: writer option replaceWhere routes through the source") {
    val t = ManagedTable(spark, tmp() + "/trw3")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"))))
    df(Seq((9, "z", "y"))).write.format("graft")
      .mode("overwrite").option("replaceWhere", "part = 'y'")
      .save(t.rootPath)
    t.read().orderBy("id").collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 9)
  }

  test("merge: upsert + soft delete + delete inference") {
    val t = ManagedTable(spark, tmp() + "/t4")
    // target: ids 1,2,3 all part x
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "x"))))
    // source: 2 updated, 4 new, 1 absent (→ delete inference), 3 absent
    val src = df(Seq((2, "B", "x"), (4, "d", "x")))
    val metrics = MergeInto(t, src, "target.id = source.id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .whenNotMatchedBySourceUpdate(
        Map("name" -> "'DELETED'"), cond = Some("target.id = 1"))
      .execute()
    val out = t.read().collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    out shouldBe Array((1, "DELETED"), (2, "B"), (3, "c"), (4, "d"))
    metrics.count("m0") shouldBe 1 // updated
    metrics.count("nm1") shouldBe 1 // inserted
    metrics.count("bs2") shouldBe 1 // delete-inferred
    metrics.count("unchanged") shouldBe 1 // id 3
  }

  test("merge with partition pruning only rewrites affected partitions") {
    val t = ManagedTable(spark, tmp() + "/t5")
    t.overwriteAll(
      df(Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "y"))), Seq("part"))
    val filesBefore = t.manifest.get.files
      .filter(_.partitionValues.get("part").contains("x"))
    val src = df(Seq((2, "B", "y")))
    MergeInto(t, src, "target.id = source.id")
      .prunePartitions(Seq(Map("part" -> "y")))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val out = t.read().collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    out shouldBe Array((1, "a"), (2, "B"), (3, "c"))
    // partition x files untouched (same physical files still referenced)
    val filesAfterX = t.manifest.get.files
      .filter(_.partitionValues.get("part").contains("x"))
    filesAfterX shouldBe filesBefore
  }

  test("keyed merge (broadcast plan) matches the generic full-outer plan") {
    def setup(): ManagedTable = {
      val t = ManagedTable(spark, tmp() + "/k")
      t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "x"))))
      t
    }
    val src = df(Seq((2, "B", "x"), (3, "c", "x"), (4, "d", "x")))
    def clauses(b: MergeBuilder): MergeBuilder = b
      .whenMatchedUpdateAll(cond = Some("target.name != source.name"))
      .whenMatchedUpdate(Map("part" -> "'touched'"))
      .whenNotMatchedInsertAll(cond = Some("source.id != 99"))
      .whenNotMatchedBySourceUpdate(Map("name" -> "'GONE'"))

    val tg = setup()
    val mg = clauses(MergeInto(tg, src, "target.id = source.id")).execute()
    val tk = setup()
    val mk = clauses(MergeInto.byKey(tk, src, "id")).execute()

    val rows = (t: ManagedTable) => t.read().collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    rows(tk) shouldBe rows(tg)
    rows(tk) shouldBe Seq((1, "GONE", "x"), (2, "B", "x"),
      (3, "c", "touched"), (4, "d", "x"))
    mk.byTag shouldBe mg.byTag
    mk.count("m0") shouldBe 1  // updated
    mk.count("m1") shouldBe 1  // touched
    mk.count("nm2") shouldBe 1 // inserted
    mk.count("bs3") shouldBe 1 // delete-inferred
  }

  test("keyed merge touch-detect data-skips through the PK bloom index") {
    import spark.implicits._
    // pin the at-scale keyed path: this test asserts probe internals the
    // small-scope single-phase routing would (correctly) bypass
    spark.conf.set("spark.graft.merge.smallScopeBytes", "0")
    val t = ManagedTable(spark, tmp() + "/bm")
    // 80 rows hash-mixed into 8 files: every file's id min/max spans nearly
    // the whole domain, so stats alone cannot prune — only the bloom can
    val rows = (0 until 80).map(i => (f"k$i%03d", s"v$i", "x"))
    t.overwriteAll(rows.toDF("id", "name", "part").repartition(8))
    t.addBloomIndex("id", expectedItemsPerFile = 1000)
    val nFiles = t.manifest.get.files.size
    nFiles shouldBe 8

    val src = Seq(("k005", "V5", "x"), ("k900", "NEW", "x"))
      .toDF("id", "name", "part")
    val b = MergeInto.byKey(t, src, "id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
    val metrics = b.execute()
    // the probe scanned only files that might contain a source key —
    // k005 lives in one file, k900 in none (modulo ~1% bloom fpp)
    b.lastProbeFileCount should be < nFiles
    metrics.count("m0") shouldBe 1
    metrics.count("nm1") shouldBe 1
    metrics.count("unchanged") shouldBe 79
    val out = t.read().collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    out.length shouldBe 81
    out should contain("k005" -> "V5")
    out should contain("k900" -> "NEW")

    // a bySource clause disables skipping: target-only rows live in ANY
    // file, so the probe must scan the full scope
    val nFiles2 = t.manifest.get.files.size
    val b2 = MergeInto.byKey(t, src, "id")
      .whenMatchedUpdateAll(cond = Some("target.name != source.name"))
      .whenNotMatchedBySourceUpdate(Map("part" -> "'seen'"))
    b2.execute()
    b2.lastProbeFileCount shouldBe nFiles2
    spark.conf.unset("spark.graft.merge.smallScopeBytes")
  }

  test("insert(set): explicit expressions, NULL fill, keyed matches generic") {
    def setup(): ManagedTable = {
      val t = ManagedTable(spark, tmp() + "/is")
      t.overwriteAll(df(Seq((1, "a", "x"))))
      t
    }
    val src = df(Seq((1, "a2", "x"), (2, "b", "y"), (3, "c", "z")))
    def clauses(b: MergeBuilder): MergeBuilder = b
      .whenMatchedUpdateAll()
      // id 2: explicit expressions; `part` unset -> NULL
      .whenNotMatchedInsert(
        Map("id" -> "source.id", "name" -> "upper(source.name)"),
        cond = Some("source.id = 2"))
      // id 3: falls through to plain insert-all
      .whenNotMatchedInsertAll()

    val tg = setup()
    val mg = clauses(MergeInto(tg, src, "target.id = source.id")).execute()
    val tk = setup()
    val mk = clauses(MergeInto.byKey(tk, src, "id")).execute()

    val rows = (t: ManagedTable) => t.read().collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    rows(tk) shouldBe rows(tg)
    rows(tk) shouldBe Seq((1, "a2", Some("x")),
      (2, "B", None), (3, "c", Some("z")))
    mk.byTag shouldBe mg.byTag
    mk.count("nm1") shouldBe 1
    mk.count("nm2") shouldBe 1
  }

  test("keyed merge with nondeterministic clause condition falls back to single-pass path") {
    // the two-phase file-granular rewrite evaluates clause conditions twice;
    // rand() could diverge between phases, so such merges must take the
    // single-pass generic path (condition evaluated exactly once per row)
    val t = ManagedTable(spark, tmp() + "/nd")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "x"))))
    val src = df(Seq((2, "B", "x"), (4, "d", "x")))

    val nd = MergeInto.byKey(t, src, "id")
      .whenMatchedUpdateAll(cond = Some("rand() < 2.0")) // always true, nondeterministic
      .whenNotMatchedInsertAll()
    nd.clausesDeterministic shouldBe false

    val det = MergeInto.byKey(t, src, "id")
      .whenMatchedUpdateAll(cond = Some("target.name != source.name"))
    det.clausesDeterministic shouldBe true

    // end-to-end through the fallback: result identical to a plain upsert
    val metrics = nd.execute()
    val out = t.read().collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    out shouldBe Array((1, "a"), (2, "B"), (3, "c"), (4, "d"))
    metrics.count("m0") shouldBe 1
    metrics.count("nm1") shouldBe 1
  }

  test("keyed merge with broadcasting off: shuffle joins, same result") {
    def setup(): ManagedTable = {
      val t = ManagedTable(spark, tmp() + "/ls")
      t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "x"))))
      t
    }
    val src = df(Seq((2, "B", "x"), (4, "d", "x")))
    def clauses(b: MergeBuilder): MergeBuilder = b
      .whenMatchedUpdateAll(cond = Some("target.name != source.name"))
      .whenNotMatchedInsertAll()

    spark.conf.set("spark.graft.merge.smallScopeBytes", "0") // keyed route
    try {
      val tb = setup()
      val (mb, _, hinted) = graft.PlanTrace.traced(spark)(
        clauses(MergeInto.byKey(tb, src, "id")).execute())
      // Spark's own off switch drops the keyed path's broadcast hints
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val tl = setup()
      val (ml, _, forced) = try graft.PlanTrace.traced(spark)(
          clauses(MergeInto.byKey(tl, src, "id")).execute())
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

      val rows = (t: ManagedTable) => t.read().collect()
        .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
      rows(tl) shouldBe rows(tb)
      rows(tl) shouldBe Seq((1, "a"), (2, "B"), (3, "c"), (4, "d"))
      ml.byTag shouldBe mb.byTag
      graft.PlanTrace.broadcastHashJoins(hinted) should not be empty
      graft.PlanTrace.broadcastHashJoins(forced) shouldBe empty
    } finally spark.conf.unset("spark.graft.merge.smallScopeBytes")
  }

  test("keyed merge with partition pruning leaves other partitions untouched") {
    val t = ManagedTable(spark, tmp() + "/kp")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"))), Seq("part"))
    val before = t.manifest.get.files.filter(_.partitionValues.get("part").contains("x"))
    MergeInto.byKey(t, df(Seq((2, "B", "y"), (5, "e", "y"))), "id")
      .prunePartitions(Seq(Map("part" -> "y")))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    t.read().collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1) shouldBe
      Array((1, "a"), (2, "B"), (5, "e"))
    t.manifest.get.files.filter(_.partitionValues.get("part").contains("x")) shouldBe before
  }

  test("keyed merge rewrites only files containing touched rows (untouched entries carry over)") {
    import spark.implicits._
    // pin the at-scale keyed path (file granularity is what's under test;
    // a slice-sized table would otherwise take the single-phase route)
    spark.conf.set("spark.graft.merge.smallScopeBytes", "0")
    val t = ManagedTable(spark, tmp() + "/fg")
    t.overwriteAll((1 to 40).map(i => (i, s"n$i", "x"))
      .toDF("id", "name", "part").repartition(4))
    val before = t.manifest.get.files.map(_.path)
    before.size shouldBe 4
    val fileOf2 = t.read().withColumn("f", input_file_name())
      .filter(col("id") === 2).select("f").head().getString(0)
    val touched = before.filter(p => fileOf2.endsWith(p)) match {
      case Seq(one) => one
      case other    => fail(s"expected one touched file, got $other")
    }

    MergeInto.byKey(t, Seq((2, "B", "x")).toDF("id", "name", "part"), "id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()

    val after = t.manifest.get.files.map(_.path)
    // the 3 files without touched rows keep their EXACT manifest entries;
    // only the file containing id=2 was rewritten (write amplification
    // proportional to touched rows, not partition layout)
    before.filterNot(_ == touched).foreach(p => after should contain(p))
    after should not contain touched
    t.read().count() shouldBe 40
    t.read().filter(col("id") === 2).select("name").head().getString(0) shouldBe "B"
    spark.conf.unset("spark.graft.merge.smallScopeBytes")
  }

  test("change feed: file-diff rows between versions, minimal under file-granular merge") {
    import spark.implicits._
    spark.conf.set("spark.graft.merge.smallScopeBytes", "0") // see above
    val t = ManagedTable(spark, tmp() + "/cdf")
    t.overwriteAll((1 to 40).map(i => (i, s"n$i", "x"))
      .toDF("id", "name", "part").repartition(4)) // v0, 4 files
    MergeInto.byKey(t, Seq((2, "B", "x"), (99, "new", "x"))
        .toDF("id", "name", "part"), "id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute() // v1: rewrites ONE file + writes the insert

    val feed = t.changes(0, 1)
      .select("id", "name", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    val added = feed.filter(_._3 == "added").map(x => (x._1, x._2)).toSet
    val removed = feed.filter(_._3 == "removed").map(x => (x._1, x._2)).toSet
    // the update appears as old-out/new-in; the insert only as added
    removed should contain((2, "n2"))
    added should contain((2, "B"))
    added should contain((99, "new"))
    added should not contain ((2, "n2"))
    // minimality: only the touched file's rows churn — 40-row table, but
    // the feed is ~1 file (≤ 10 rows either side) + the insert
    removed.size should be <= 10
    added.size should be <= 11
    // rows in the three untouched files appear on neither side
    val untouchedIds = (1 to 40).toSet -- removed.map(_._1) -- added.map(_._1)
    untouchedIds.size should be >= 29

    // identity interval is empty; reversed interval is rejected
    t.changes(1, 1).count() shouldBe 0
    intercept[IllegalArgumentException](t.changes(1, 0))

    // poll-style consumption: bookmark advances, next poll is empty
    val (feed2, bookmark) = t.changesSince(0)
    bookmark shouldBe 1
    feed2.count() shouldBe feed.length
    t.changesSince(bookmark)._1.count() shouldBe 0
    spark.conf.unset("spark.graft.merge.smallScopeBytes")
  }

  test("rowChanges classifies insert/update/delete; carried-over rows dropped") {
    val t = ManagedTable(spark, tmp() + "/rc")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "x"))))
    val v0 = t.currentVersion.get

    MergeInto.byKey(t, df(Seq((2, "B", "x"), (4, "d", "x"))), "id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val v1 = t.currentVersion.get
    val rc1 = t.rowChanges(v0, v1, Seq("id")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(3))).sortBy(_._1)
    rc1 shouldBe Array((2, "B", "update_postimage"), (4, "d", "insert"))

    MergeInto.byKey(t, df(Seq((4, "d", "x"))), "id")
      .whenMatchedDelete()
      .execute()
    val rc2 = t.rowChanges(v1, t.currentVersion.get, Seq("id")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(3)))
    rc2 shouldBe Array((4, "d", "delete"))

    // whole interval composes: insert+delete of 4 cancels to nothing,
    // the update of 2 survives
    val all = t.rowChanges(v0, t.currentVersion.get, Seq("id")).collect()
      .map(r => (r.getInt(0), r.getString(3)))
    all shouldBe Array((2, "update_postimage"))
  }

  test("rowChanges includePreimages pairs each update with its old row") {
    val t = ManagedTable(spark, tmp() + "/rcpre")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "x"))))
    val v0 = t.currentVersion.get
    MergeInto.byKey(t, df(Seq((2, "B", "x"), (4, "d", "x"))), "id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    t.delete("id = 3")
    val rc = t.rowChanges(v0, t.currentVersion.get, Seq("id"),
        includePreimages = true).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(3))).sortBy(r => (r._1, r._3))
    // update of 2 carries BOTH images; insert/delete are single rows
    rc shouldBe Array(
      (2, "B", "update_postimage"), (2, "b", "update_preimage"),
      (3, "c", "delete"), (4, "d", "insert"))
    // default stays postimage-only (upsert consumers depend on it)
    t.rowChanges(v0, t.currentVersion.get, Seq("id")).collect()
      .count(_.getString(3) == "update_preimage") shouldBe 0
  }

  test("rowChanges rejects duplicate keys in the interval, naming the key") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/rcdup")
    t.overwriteAll(df(Seq((1, "a", "x"))))
    val v0 = t.currentVersion.get
    // an append introduces TWO rows with key 2 — a non-unique keyCol
    // makes the diff ambiguous, so evaluating the feed must raise (the
    // guard rides the classification expression; see rowChanges doc)
    t.append(df(Seq((2, "b", "x"), (2, "B", "x"))))
    val e = intercept[Exception](
      t.rowChanges(v0, t.currentVersion.get, Seq("id")).collect())
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString("\n")
    messages should include("id=2")
    // with a genuinely identifying key the same interval classifies fine
    t.rowChanges(v0, t.currentVersion.get, Seq("id", "name"))
      .collect().length shouldBe 2
  }

  test("rowChanges ignores columns not present in both endpoint schemas") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/rcdrift")
    t.overwriteAll(Seq((1, "a", "w1"), (2, "b", "w2")).toDF("id", "name", "extra"))
    val v0 = t.currentVersion.get
    // the next version DROPS `extra` but carries identical id/name rows:
    // null-vs-value on the dropped column is schema evolution, not a row
    // change — the feed must be empty, not two spurious update_postimages
    t.overwriteAll(Seq((1, "a"), (2, "b")).toDF("id", "name"))
    t.rowChanges(v0, t.currentVersion.get, Seq("id")).collect() shouldBe empty
    // a REAL change among the shared columns still classifies
    t.overwriteAll(Seq((1, "a2"), (2, "b")).toDF("id", "name"))
    val rc = t.rowChanges(v0, t.currentVersion.get, Seq("id")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(3)))
    rc shouldBe Array((1, "a2", "update_postimage"))
  }

  test("syncChangesTo: downstream converges to source through incremental syncs") {
    val up = ManagedTable(spark, tmp() + "/up")
    up.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "x"))))
    val down = ManagedTable(spark, tmp() + "/down")
    down.overwriteAll(up.read()) // initial full copy
    var mark = up.currentVersion.get

    // upstream evolves: update 2, insert 4, delete 3
    MergeInto.byKey(up, df(Seq((2, "B", "x"), (4, "d", "x"))), "id")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    MergeInto.byKey(up, df(Seq((3, "c", "x"))), "id")
      .whenMatchedDelete().execute()

    mark = up.syncChangesTo(down, "id", mark)
    val rows = (t: ManagedTable) => t.read().collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    rows(down) shouldBe rows(up)
    rows(down) shouldBe Seq((1, "a"), (2, "B"), (4, "d"))

    // nothing new: bookmark unchanged, no commit on downstream
    val dv = down.currentVersion.get
    up.syncChangesTo(down, "id", mark) shouldBe mark
    down.currentVersion.get shouldBe dv

    // second increment composes
    MergeInto.byKey(up, df(Seq((5, "e", "y"))), "id")
      .whenNotMatchedInsertAll().execute()
    mark = up.syncChangesTo(down, "id", mark)
    rows(down) shouldBe rows(up)
  }

  test("keyed merge rejects duplicate source keys") {
    val t = ManagedTable(spark, tmp() + "/dup")
    t.overwriteAll(df(Seq((1, "a", "x"))))
    val ex = intercept[graft.metadata.MetadataException] {
      MergeInto.byKey(t, df(Seq((1, "b", "x"), (1, "c", "x"))), "id")
        .whenMatchedUpdateAll().execute()
    }
    ex.getMessage should include("multiple rows")
  }

  test("keyed merge: duplicate source keys matching NO target row insert both") {
    // Delta contract: only multiple matches of ONE TARGET ROW error out;
    // duplicates among pure inserts are legal (same as the generic path)
    val t = ManagedTable(spark, tmp() + "/dupins")
    t.overwriteAll(df(Seq((1, "a", "x"))))
    MergeInto.byKey(t, df(Seq((9, "n1", "x"), (9, "n2", "x"))), "id")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    t.read().filter(col("id") === 9).count() shouldBe 2
    t.read().count() shouldBe 3
  }

  test("append rejects a column type change (would brick old files)") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/retype")
    t.overwriteAll(Seq((1, 10)).toDF("id", "amount"))
    val ex = intercept[graft.metadata.MetadataException] {
      t.append(Seq((2, "not-an-int")).toDF("id", "amount"))
    }
    ex.getMessage should include("amount")
  }

  test("vacuum drops unreferenced commits, keeps current snapshot") {
    val t = ManagedTable(spark, tmp() + "/t6")
    t.overwriteAll(df(Seq((1, "a", "x"))))
    t.overwriteAll(df(Seq((2, "b", "x"))))
    t.vacuum()
    t.read().collect().map(_.getInt(0)) shouldBe Array(2)
    intercept[Exception](t.readVersion(0).collect())
  }

  test("vacuum never eats a young never-committed dir (a concurrent " +
      "writer's in-flight commit); crash garbage goes once it ages out") {
    import spark.implicits._
    val root = tmp() + "/t6b"
    val t = ManagedTable(spark, root)
    t.overwriteAll(df(Seq((1, "a", "x"))))
    t.overwriteAll(df(Seq((2, "b", "x"))))
    // a second process mid-commit: data files on disk, record not landed
    val inflight = s"$root/data/00000000-feed-face-0000-000000000001"
    Seq((9, "z")).toDF("id", "v").coalesce(1).write.parquet(inflight)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    t.vacuum() // default orphan age floor: the young unknown dir survives
    fs.exists(new org.apache.hadoop.fs.Path(inflight)) shouldBe true
    // committed-then-pruned content was still reclaimed immediately
    intercept[Exception](t.readVersion(0).collect())

    // once past the age floor it is crash garbage — reclaimed
    spark.conf.set("spark.graft.vacuum.orphanMinAgeMs", "0")
    try {
      t.vacuum()
      fs.exists(new org.apache.hadoop.fs.Path(inflight)) shouldBe false
      t.read().collect().map(_.getInt(0)) shouldBe Array(2)
    } finally spark.conf.unset("spark.graft.vacuum.orphanMinAgeMs")
  }

  test("vacuumDryRun reports the blast radius without deleting anything") {
    val t = ManagedTable(spark, tmp() + "/tdry")
    t.overwriteAll(df(Seq((1, "a", "x"))))                           // v0
    t.overwriteAll(df(Seq((2, "b", "x"))))                           // v1
    val plan = t.vacuumDryRun()
    plan.horizon shouldBe 1L
    plan.dataDirs should have size 1   // v0's commit directory
    plan.recordVersions shouldBe Seq(0L)
    plan.dataBytes should be > 0L      // reclaimable bytes, from metadata
    // nothing was touched: v0 still time-travels
    t.readVersion(0).collect().map(_.getInt(0)) shouldBe Array(1)
    // the real vacuum deletes exactly the planned set; a fresh dry run
    // then reports nothing left to reclaim
    t.vacuum()
    intercept[Exception](t.readVersion(0).collect())
    val after = t.vacuumDryRun()
    after.dataDirs shouldBe empty
    after.recordVersions shouldBe empty
  }

  test("CHECK constraints: enforced on every write path, SQL null semantics, drop restores") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/chk")
    t.overwriteAll(Seq((1, Some(10)), (2, Some(20))).toDF("id", "qty"))
    t.addConstraint("qty_nonneg", "qty >= 0")
    t.constraints shouldBe Map("qty_nonneg" -> "qty >= 0")

    // append of a violating row fails naming the constraint; no commit
    val v = t.currentVersion.get
    val e = intercept[ConstraintViolationException] {
      t.append(Seq((3, Some(-5))).toDF("id", "qty"))
    }
    e.getMessage should include("qty_nonneg")
    t.currentVersion shouldBe Some(v)

    // NULL passes (SQL CHECK three-valued logic); valid rows land
    t.append(Seq((3, Option.empty[Int]), (4, Some(40))).toDF("id", "qty"))
    t.read().count() shouldBe 4

    // UPDATE that would break the constraint fails too (rewrite path)
    an[ConstraintViolationException] should be thrownBy
      t.update(Map("qty" -> "-1"), "id = 1")
    // merge insert of a violating row fails (replaceFiles path)
    an[ConstraintViolationException] should be thrownBy
      MergeInto.byKey(t, Seq((9, Some(-9))).toDF("id", "qty"), "id")
        .whenNotMatchedInsertAll().execute()

    // adding a constraint existing data violates is rejected
    an[ConstraintViolationException] should be thrownBy
      t.addConstraint("qty_big", "qty > 15")

    // constraints survive a full overwrite, and maintenance is exempt
    an[ConstraintViolationException] should be thrownBy
      t.overwriteAll(Seq((1, Some(-1))).toDF("id", "qty"))
    t.compact(minFiles = 1)
    t.zorder(Seq("id"), targetFiles = 1) // zorder(...) op tag also exempt
    t.constraints.keySet shouldBe Set("qty_nonneg")

    // drop restores free writes
    t.dropConstraint("qty_nonneg")
    t.append(Seq((5, Some(-50))).toDF("id", "qty"))
    t.read().count() shouldBe 5
  }

  test("merge withSchemaEvolution adopts source-only columns; default ignores them") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/evo")
    t.overwriteAll(Seq((1, "a"), (2, "b")).toDF("id", "name"))

    // default: extra source column silently ignored (Delta's default)
    MergeInto.byKey(t, Seq((2, "b2", 99)).toDF("id", "name", "score"), "id")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    t.read().columns should not contain "score"

    // with evolution: metadata-only widen, then updates/inserts carry it
    MergeInto.byKey(t,
      Seq((2, "b3", 20), (3, "c", 30)).toDF("id", "name", "score"), "id")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withSchemaEvolution().execute()
    val out = t.read().orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
    out shouldBe Array((1, "a", None), (2, "b3", Some(20)), (3, "c", Some(30)))
    // untouched rows (id=1's file) were NOT rewritten: null-fill via read
    t.history().map(_.operation) should contain("schemaEvolve")

    // ignore list keeps transport columns out of the table
    MergeInto.byKey(t,
      Seq((4, "d", 40, true)).toDF("id", "name", "score", "flag"), "id")
      .whenNotMatchedInsertAll()
      .withSchemaEvolution(ignore = Seq("flag")).execute()
    t.read().columns should not contain "flag"
    t.read().count() shouldBe 4
  }

  test("vacuum with retention keeps the last N versions time-travelable") {
    val t = ManagedTable(spark, tmp() + "/ret")
    t.overwriteAll(df(Seq((1, "a", "x")))) // v0
    t.append(df(Seq((2, "b", "x"))))       // v1
    t.append(df(Seq((3, "c", "x"))))       // v2
    t.append(df(Seq((4, "d", "x"))))       // v3
    t.vacuum(retainVersions = 2)
    // v1..v3 survive with data; v0 is gone
    t.readVersion(3).count() shouldBe 4
    t.readVersion(2).count() shouldBe 3
    t.readVersion(1).count() shouldBe 2
    intercept[Exception](t.readVersion(0).collect())
    t.earliestReadableVersion shouldBe Some(1L)
    // tightening to the default drops everything below current
    t.vacuum()
    t.readVersion(3).count() shouldBe 4
    intercept[Exception](t.readVersion(2).collect())
  }

  test("DELETE rewrites only files containing matching rows; NULL predicate keeps") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/dml1")
    // three files; nulls in the predicate column must survive a delete
    t.overwriteAll(Seq((1, Some("a")), (2, None), (3, Some("b")))
      .toDF("id", "name").repartitionByRange(3, col("id")))
    val filesBefore = t.manifest.get.files.map(_.path).toSet
    filesBefore.size shouldBe 3

    t.delete("name = 'a'") shouldBe 1L
    t.read().select("id").as[Int].collect().sorted shouldBe Array(2, 3)
    // id=2 (name NULL) kept: predicate NULL is not TRUE
    // only the file holding id=1 was rewritten
    val filesAfter = t.manifest.get.files.map(_.path).toSet
    (filesBefore -- filesAfter).size shouldBe 1
    (filesAfter -- filesBefore).size should be <= 1

    t.delete("id > 100") shouldBe 0L // no match → no new version
    t.read().count() shouldBe 2
  }

  test("partition-predicate DELETE is metadata-only; UPDATE prunes its scan") {
    import spark.implicits._
    // the String API and its Column form must behave identically
    Seq("string", "column").foreach { form =>
      withClue(s"$form form: ") {
        val byString = form == "string"
        val t = ManagedTable(spark, tmp() + s"/dml3-$form")
        t.overwriteAll(
          Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "y"), (4, "d", "z"))
            .toDF("id", "name", "part"),
          partitionBy = Seq("part"))
        val before = t.manifest.get.files
        val dataBefore = before.map(_.path).toSet

        // DELETE on the partition column alone: files of part=x drop out of
        // the manifest with NO new data files written
        (if (byString) t.delete("part = 'x'")
         else t.delete(col("part") === "x")) shouldBe 2L
        val after = t.manifest.get.files
        after.map(_.path).toSet.subsetOf(dataBefore) shouldBe true // no rewrites
        t.read().select("id").as[Int].collect().sorted shouldBe Array(3, 4)

        // mixed predicate still row-level
        (if (byString) t.delete("part = 'y' AND name = 'nope'")
         else t.delete(col("part") === "y" && col("name") === "nope")) shouldBe 0L
        t.read().count() shouldBe 2

        // partition-only UPDATE: only part=z files are rewritten, part=y
        // entries carry over untouched
        val preUpd = t.manifest.get.files.map(_.path).toSet
        (if (byString) t.update(Map("name" -> "upper(name)"), "part = 'z'")
         else t.update(Map("name" -> upper(col("name"))), col("part") === "z")) shouldBe 1L
        val postUpd = t.manifest.get.files.map(_.path).toSet
        val carried = preUpd intersect postUpd
        // the part=y file survived; the part=z file was replaced
        carried.size shouldBe 1
        t.read().orderBy("id").select("name").as[String].collect() shouldBe
          Array("c", "D")
      }
    }
  }

  test("UPDATE applies SET to matching rows only, preserves types, counts rows") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/dml2")
    t.overwriteAll(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30))
      .toDF("id", "name", "qty").repartitionByRange(3, col("id")))
    val before = t.manifest.get.files.map(_.path).toSet

    // SET references the pre-update row; value cast back to the column type
    t.update(Map("qty" -> "qty * 2 + id", "name" -> "upper(name)"),
      "id >= 2") shouldBe 2L
    t.read().orderBy("id").as[(Int, String, Int)].collect() shouldBe
      Array((1, "a", 10), (2, "B", 42), (3, "C", 63))
    // the id=1 file carried over untouched
    (before intersect t.manifest.get.files.map(_.path).toSet).size shouldBe 1

    an[Exception] should be thrownBy t.update(Map("nope" -> "1"), "true")
    t.update(Map("qty" -> "0"), "id > 99") shouldBe 0L
  }

  test("bloom index: equality skipping where min/max can't help; auto-build on write") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/bl")
    // interleaved values: every file's [min,max] spans the domain, so
    // min/max skipping keeps everything — the bloom's home turf
    t.overwriteAll((1 to 99 by 2).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(1))                                             // odds
    t.append((2 to 100 by 2).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(1))                                             // evens
    t.filesInRange("id", Some(8), Some(8)).size shouldBe 2 // min/max keeps both

    t.addBloomIndex("id")
    t.filesMightContain("id", Seq(8)).size shouldBe 1 // bloom cuts to evens

    // a write AFTER indexing builds its sidecar as part of the commit
    t.append((7 to 97 by 10).map(i => (i, s"c$i")).toDF("id", "v")
      .repartition(1))                                             // 7,17,…97
    t.filesInRange("id", Some(8), Some(8)).size shouldBe 3
    t.filesMightContain("id", Seq(8)).size shouldBe 1

    // IN-list: union of per-value candidates; result equals the plain filter
    t.filesMightContain("id", Seq(7, 8)).size shouldBe 3 // 7 in odds AND new file
    t.readEquals("id", Seq(7, 8)).collect().map(_.getInt(0)).sorted shouldBe
      t.read().filter(col("id").isin(7, 8)).collect().map(_.getInt(0)).sorted

    // drop: skipping falls back to min/max only
    t.dropBloomIndex("id")
    t.filesMightContain("id", Seq(8)).size shouldBe 3
  }

  test("bloom index: distributed probe path agrees with the driver-side probe") {
    import spark.implicits._
    spark.conf.set("spark.graft.bloom.distributedProbeThreshold", "1")
    try {
      val t = ManagedTable(spark, tmp() + "/bld")
      t.overwriteAll((1 to 99 by 2).map(i => (i, s"r$i")).toDF("id", "v")
        .repartition(1))
      t.append((2 to 100 by 2).map(i => (i, s"r$i")).toDF("id", "v")
        .repartition(1))
      t.addBloomIndex("id")
      // 2 candidates > threshold 1 → the probe fans out as an RDD job
      t.filesMightContain("id", Seq(8)).size shouldBe 1
      t.readEquals("id", Seq(8)).collect().map(_.getInt(0)) shouldBe Array(8)
      t.readEquals("id", Seq(7, 8)).count() shouldBe 2
    } finally spark.conf.unset("spark.graft.bloom.distributedProbeThreshold")
  }

  test("bloom index: no false negatives across type edge cases") {
    import spark.implicits._
    val t = ManagedTable(spark, tmp() + "/ble")
    val longs = Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue)
    val strings = Seq("", "a", "héllo wörld", "😀emoji", "x" * 1000)
    val dates = Seq("1900-01-01", "1969-12-31", "1970-01-01", "2100-12-31")
      .map(java.sql.Date.valueOf)
    val rows = longs.indices.map(i =>
      (longs(i), strings(i % strings.size), dates(i % dates.size)))
    t.overwriteAll(rows.toDF("l", "s", "d").repartition(1))
    t.addBloomIndex("l"); t.addBloomIndex("s"); t.addBloomIndex("d")
    // every present value must survive the bloom pass (a false negative
    // would silently drop rows); absent values must still agree with the
    // plain filter (false positives are filtered after the file read)
    for (v <- longs :+ 12345L)
      t.readEquals("l", Seq(v)).count() shouldBe
        t.read().filter(col("l") === v).count()
    for (v <- strings :+ "absent")
      t.readEquals("s", Seq(v)).count() shouldBe
        t.read().filter(col("s") === v).count()
    for (v <- dates :+ java.sql.Date.valueOf("2000-06-15"))
      t.readEquals("d", Seq(v)).count() shouldBe
        t.read().filter(col("d") === v).count()
    longs.foreach(v => t.filesMightContain("l", Seq(v)).size shouldBe 1)
  }

  test("bloom index: unsupported type rejected; vacuum deletes orphaned sidecars") {
    import spark.implicits._
    val root = tmp() + "/blv"
    val t = ManagedTable(spark, root)
    t.overwriteAll(Seq((1, 1.5), (2, 2.5)).toDF("id", "score").repartition(1))
    the[graft.metadata.MetadataException] thrownBy
      t.addBloomIndex("score") should have message
      s"Cannot bloom-index $root.score: type double is not supported " +
        "(byte/short/int/long, string, date are)"

    t.addBloomIndex("id")
    val bloomDir = new java.io.File(root, "_graft/_bloom")
    def sidecars() = bloomDir.list().count(_.endsWith(".bloom"))
    sidecars() shouldBe 1
    t.overwriteAll(Seq((3, 3.5)).toDF("id", "score").repartition(1))
    sidecars() shouldBe 2
    t.vacuum() // old version's file gone → its sidecar must go too
    sidecars() shouldBe 1
    t.filesMightContain("id", Seq(3)).size shouldBe 1
    t.readEquals("id", Seq(3)).count() shouldBe 1
  }

  test("cross-process concurrent commit is detected, not silently lost") {
    val root = tmp() + "/t7"
    val t = ManagedTable(spark, root)
    t.overwriteAll(df(Seq((1, "a", "x"))))
    // simulate an external writer winning the race for version 1: its
    // commit record lands before ours (the put-if-absent arbiter file)
    val rival = new java.io.File(root, "_graft/manifests/" + "v%020d.json".format(1L))
    java.nio.file.Files.write(rival.toPath,
      "rival".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[ConcurrentWriteException] {
      t.append(df(Seq((2, "b", "y"))))
    }
    e.getMessage should include("concurrent commit")
    // the failed transaction moved no pointer: readers still see v0
    t.currentVersion shouldBe Some(0L)
    t.read().count() shouldBe 1
    // clearing the rival record (operator recovery) lets the writer retry
    rival.delete() shouldBe true
    // crc sidecar of the rival write must not block the retry either
    val crc = new java.io.File(root, "_graft/manifests/." + rival.getName + ".crc")
    if (crc.exists()) crc.delete()
    t.append(df(Seq((2, "b", "y"))))
    t.currentVersion shouldBe Some(1L)
    t.read().count() shouldBe 2
  }

  test("stats are capped to the first N columns (dataSkippingNumIndexedCols)") {
    import spark.implicits._
    val wide = (1 to 5).map(i => (i, i * 10, i * 100, i * 1000, s"s$i"))
      .toDF("c1", "c2", "c3", "c4", "c5")
    spark.conf.set("spark.graft.stats.maxIndexedColumns", "3")
    try {
      val t = ManagedTable(spark, tmp() + "/wc")
      t.overwriteAll(wide.repartition(1))
      val stats = t.manifest.get.files.head.stats.keySet
      stats shouldBe Set("c1", "c2", "c3") // first 3 in schema order
      // an un-indexed column still scans correctly — just never skips
      t.filesInRange("c5", Some("s2"), Some("s2")).size shouldBe 1
      t.read().filter(col("c4") === 2000).count() shouldBe 1
    } finally spark.conf.unset("spark.graft.stats.maxIndexedColumns")
  }

  test("partition-scoped maintenance: WHERE rewrites only matching partitions") {
    val t = ManagedTable(spark, tmp() + "/pm")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"))).repartition(1),
      partitionBy = Seq("part"))
    t.append(df(Seq((3, "c", "x"), (4, "d", "y"))).repartition(1))
    t.append(df(Seq((5, "e", "x"), (6, "f", "y"))).repartition(1))
    def paths(p: String) = t.manifest.get.files
      .filter(_.partitionValues.get("part").contains(p)).map(_.path).toSet
    paths("x").size shouldBe 3
    val yBefore = paths("y")

    t.compactSmall(smallBytes = 1 << 20, where = "part = 'x'")
    paths("x").size shouldBe 1       // x's small files bin-packed
    paths("y") shouldBe yBefore      // y carried verbatim
    t.read().count() shouldBe 6

    val xAfterCompact = paths("x")
    t.zorder(Seq("id"), targetFiles = 1, where = "part = 'y'")
    t.history().head.operation shouldBe "zorder(id)"
    paths("x") shouldBe xAfterCompact // x untouched by the scoped rewrite
    paths("y").size shouldBe 1
    t.read().collect().map(_.getInt(0)).sorted shouldBe (1 to 6).toArray

    the[graft.metadata.MetadataException] thrownBy
      t.compactSmall(1 << 20, where = "id = 1") should have message
      s"maintenance WHERE on ${t.rootPath} must reference partition " +
        "columns only (got: id = 1)"
  }

  test("timestamp time travel resolves versions; time-based vacuum retention") {
    val t = ManagedTable(spark, tmp() + "/tt")
    t.overwriteAll(df(Seq((1, "a", "x"))))
    Thread.sleep(5) // force distinct record timestamps
    t.append(df(Seq((2, "b", "y"))))
    val Seq(h1, h0) = t.history()
    h0.timestampMs should be < h1.timestampMs

    t.versionAt(h0.timestampMs) shouldBe 0L
    t.versionAt(h1.timestampMs) shouldBe 1L
    t.versionAt(System.currentTimeMillis() + 1000) shouldBe 1L
    t.readTimestamp(h0.timestampMs).count() shouldBe 1
    the[graft.metadata.MetadataException] thrownBy
      t.versionAt(h0.timestampMs - 1) should have message
      s"No version of ${t.rootPath} at or before timestamp " +
        s"${h0.timestampMs - 1} (earliest retained record is at " +
        s"${h0.timestampMs})"

    // format("graft") surface: timestampAsOf resolves through versionAt
    spark.read.format("graft")
      .option("timestampAsOf", h0.timestampMs.toString)
      .load(t.rootPath).count() shouldBe 1
    intercept[IllegalArgumentException](spark.read.format("graft")
      .option("timestampAsOf", h0.timestampMs.toString)
      .option("versionAsOf", "1").load(t.rootPath))

    // a wide time window retains everything the version window would drop
    t.vacuum(retainVersions = 0, retainMs = 3600 * 1000L)
    t.readVersion(0).count() shouldBe 1 // still time-travelable
    // no time window → the tightest vacuum drops v0
    t.vacuum()
    intercept[graft.metadata.MetadataException](t.readVersion(0))
  }

  test("history carries per-commit operation metrics") {
    val t = ManagedTable(spark, tmp() + "/hm")
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"))).repartition(1))
    t.append(df(Seq((3, "c", "z"))))
    t.delete("id = 1")
    val h = t.history() // newest first: delete, append, overwrite
    h.map(_.operation) shouldBe Seq("delete", "append", "overwrite")
    val Seq(del, app, ovr) = h
    ovr.metrics("filesAdded") shouldBe 1L
    ovr.metrics("filesRemoved") shouldBe 0L
    ovr.metrics("rowsAdded") shouldBe 2L
    app.metrics("filesAdded") should be >= 1L
    app.metrics("rowsAdded") shouldBe 1L
    // the delete rewrote the one touched two-row file without its match
    del.metrics("filesRemoved") shouldBe 1L
    del.metrics("rowsAdded") shouldBe 1L
    h.foreach(_.metrics.keySet should contain allOf
      ("filesAdded", "filesRemoved", "bytesAdded"))
  }

  test("blind append that loses a cross-process commit race rebases and retries") {
    val root = tmp() + "/t8"
    val t = ManagedTable(spark, root)
    t.overwriteAll(df(Seq((1, "a", "x"))))
    // a symlink alias gives the rival a DIFFERENT per-path lock key over
    // the SAME physical table — emulating a second process (the in-JVM
    // lock would otherwise serialize the two writers and hide the race)
    val alias = tmp() + "/alias"
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(alias), java.nio.file.Paths.get(root))
    val rival = ManagedTable(spark, alias)

    // gate inside the slow writer's data evaluation: it has read base v0
    // and is mid-writeCommit when the rival lands v1 under it
    val gate = udf((i: Int) => {
      AppendRaceGate.started.countDown()
      AppendRaceGate.proceed.await(30, java.util.concurrent.TimeUnit.SECONDS)
      i
    })
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val slow = Future {
      t.append(df(Seq((2, "b", "y"))).withColumn("id", gate(col("id"))))
    }
    try {
      AppendRaceGate.started.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      rival.append(df(Seq((3, "c", "z")))) // wins version 1
    } finally AppendRaceGate.proceed.countDown()
    Await.result(slow, scala.concurrent.duration.Duration(60, "s"))

    // the loser re-based its already-written files onto the winner's head:
    // nothing lost, nothing doubled
    t.currentVersion shouldBe Some(2L)
    t.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 2, 3)
  }

  test("maintenance rewrite that loses a commit race rebases onto the winner") {
    val root = tmp() + "/t9"
    val t = ManagedTable(spark, root)
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "z")))
      .repartition(3))
    val base = t.manifest.get
    base.files.size shouldBe 3
    val victims = base.files.take(2)

    // rival "process" (different per-path lock via a symlink alias)
    // appends AFTER the maintenance pass captured its base snapshot —
    // the compaction's commit must land on a moved pointer
    val alias = tmp() + "/alias9"
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(alias), java.nio.file.Paths.get(root))
    ManagedTable(spark, alias).append(df(Seq((4, "d", "w"))))

    val packed = t.readManifestFiles(base, victims).coalesce(1)
    t.replaceFilesMaintenance(base, victims, packed, "compactSmall")

    // rebased: rival's row survives, compacted content not doubled,
    // untouched file + packed file + rival file
    t.currentVersion shouldBe Some(2L)
    t.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 2, 3, 4)
    t.manifest.get.files.size shouldBe 3
  }

  test("maintenance rebase refuses when the winner touched a rewritten file") {
    val root = tmp() + "/t10"
    val t = ManagedTable(spark, root)
    t.overwriteAll(df(Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "z")))
      .repartition(3))
    val base = t.manifest.get
    val victims = base.files.take(2)

    // the rival DELETE rewrites (or drops) files — if any of them is one
    // the maintenance pass was packing, a rebase would resurrect the
    // deleted rows from the pre-delete content baked into the packed file
    val alias = tmp() + "/alias10"
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(alias), java.nio.file.Paths.get(root))
    val packed = t.readManifestFiles(base, victims).coalesce(1)
    ManagedTable(spark, alias).delete("true") // removes every file
    intercept[ConcurrentWriteException] {
      t.replaceFilesMaintenance(base, victims, packed, "compactSmall")
    }
  }

  test("opt-in write rebalance coalesces small commits; maintenance " +
      "rewrites keep their own layout") {
    import spark.implicits._
    val root = tmp() + "/reb"
    // default OFF: a 4-partition upstream commits one file per partition
    val wide = (1 to 400).map(i => (i, s"n$i", "p")).toDF("id", "name", "part")
      .repartition(4)
    val t0 = ManagedTable(spark, root + "/off")
    t0.overwriteAll(wide)
    t0.manifest.get.files.size shouldBe 4
    // opt-in ON: AQE resizes the round-robin exchange — a tiny frame
    // lands in one advisory-sized file regardless of upstream layout
    spark.conf.set("spark.graft.write.rebalance", "true")
    try {
      val t1 = ManagedTable(spark, root + "/on")
      t1.overwriteAll(wide)
      t1.manifest.get.files.size shouldBe 1
      t1.read().count() shouldBe 400
      // appends (the MERGE/CDC delta shape) coalesce too
      t1.append((1 to 50).map(i => (1000 + i, s"m$i", "p"))
        .toDF("id", "name", "part").repartition(4))
      t1.manifest.get.files.size shouldBe 2
      t1.read().count() shouldBe 450
      // maintenance owns its layout: zorder's targetFiles survives even
      // with rebalance on (preserveLayout bypasses the hint)
      t1.zorder(Seq("id"), targetFiles = 3)
      t1.manifest.get.files.size shouldBe 3
      t1.read().count() shouldBe 450
    } finally spark.conf.unset("spark.graft.write.rebalance")
  }
}

/** Latches for the append-race test — object statics so the gating UDF
  * reaches them from executor threads (local mode, same JVM). */
object AppendRaceGate {
  val started = new java.util.concurrent.CountDownLatch(1)
  val proceed = new java.util.concurrent.CountDownLatch(1)
}
