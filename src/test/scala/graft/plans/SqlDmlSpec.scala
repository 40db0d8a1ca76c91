package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.tables.ManagedTable

/** SQL DML (`DELETE` / `UPDATE` / `MERGE INTO`) over catalog-registered
  * managed tables, through the extension-injected resolution rule. */
class SqlDmlSpec extends AnyFunSuite with Matchers {

  /** A session WITH the graft extensions (the suite may not be first in
    * the JVM, so the shared default session can't be assumed to carry
    * them — build a fresh one on the shared context). */
  lazy val spark: SparkSession = {
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

  private def freshTable(): (String, ManagedTable) = {
    import spark.implicits._
    val db = s"dml${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    val path = java.nio.file.Files.createTempDirectory("graft-dml").toString + "/t"
    val t = ManagedTable(spark, path)
    t.overwriteAll(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40))
      .toDF("id", "name", "qty"))
    spark.sql(s"CREATE TABLE $db.t USING graft LOCATION '$path'")
    (s"$db.t", t)
  }

  test("DELETE FROM with predicate, metric row returned") {
    val (name, t) = freshTable()
    val out = spark.sql(s"DELETE FROM $name WHERE id % 2 = 0").collect()
    out.map(_.getLong(0)) shouldBe Array(2L)
    t.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 3)
    // SQL reads see the post-delete snapshot
    spark.table(name).count() shouldBe 2
  }

  test("UPDATE SET expression over the pre-update row") {
    val (name, t) = freshTable()
    val out = spark.sql(
      s"UPDATE $name SET qty = qty + 5, name = upper(name) WHERE id <= 2")
      .collect()
    out.map(_.getLong(0)) shouldBe Array(2L)
    t.read().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))) shouldBe
      Array((1, "A", 15), (2, "B", 25), (3, "c", 30), (4, "d", 40))
  }

  test("MERGE INTO: update-all + insert-all via equi-key, Delta-shaped metrics") {
    val (name, t) = freshTable()
    val out = spark.sql(
      s"""MERGE INTO $name AS tg
         |USING (SELECT * FROM VALUES (2, 'B2', 200), (5, 'e', 50)
         |       AS v(id, name, qty)) AS s
         |ON tg.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))) shouldBe
      Array((2L, 1L, 0L, 1L)) // affected, updated, deleted, inserted
    t.read().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))) shouldBe
      Array((1, "a", 10), (2, "B2", 200), (3, "c", 30), (4, "d", 40), (5, "e", 50))
  }

  test("MERGE INTO: column-level SET, clause conditions, delete, by-source") {
    val (name, t) = freshTable()
    val out = spark.sql(
      s"""MERGE INTO $name AS tg
         |USING (SELECT * FROM VALUES (1, 'x', 100), (2, 'y', 999), (9, 'z', 90)
         |       AS v(id, name, qty)) AS s
         |ON tg.id = s.id
         |WHEN MATCHED AND s.qty >= 999 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET qty = tg.qty + s.qty
         |WHEN NOT MATCHED AND s.qty > 50 THEN INSERT (id, name, qty)
         |  VALUES (s.id, s.name, s.qty)
         |WHEN NOT MATCHED BY SOURCE AND tg.id = 4 THEN DELETE""".stripMargin)
      .collect()
    // deleted: id=2 (matched, qty 999) and id=4 (by source); updated: id=1;
    // inserted: id=9
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))) shouldBe
      Array((4L, 1L, 2L, 1L))
    t.read().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))) shouldBe
      Array((1, "a", 110), (3, "c", 30), (9, "z", 90))
  }

  test("INSERT INTO appends, INSERT OVERWRITE replaces, CTAS creates") {
    val (name, t) = freshTable()
    spark.sql(s"INSERT INTO $name VALUES (5, 'e', 50)")
    t.read().count() shouldBe 5
    spark.table(name).count() shouldBe 5
    // CTAS into a fresh graft table (default location under the warehouse)
    val db = name.split('.')(0)
    spark.sql(s"CREATE TABLE $db.t2 USING graft AS SELECT * FROM $name WHERE id <= 2")
    spark.table(s"$db.t2").collect().map(_.getInt(0)).sorted shouldBe Array(1, 2)
    spark.sql(s"INSERT OVERWRITE $db.t2 VALUES (9, 'z', 90)")
    spark.table(s"$db.t2").collect().map(r => (r.getInt(0), r.getString(1))) shouldBe
      Array((9, "z"))
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    val (name, t) = freshTable() // v0: 4 rows
    val t0 = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql(s"DELETE FROM $name WHERE id >= 3") // v1: 2 rows
    spark.sql(s"SELECT * FROM $name VERSION AS OF 0").count() shouldBe 4
    spark.sql(s"SELECT * FROM $name VERSION AS OF 1").count() shouldBe 2
    spark.table(name).count() shouldBe 2 // head unaffected
    // a timestamp before the delete resolves to v0 (string rendered in
    // UTC to match the session timezone the cast uses)
    val tsStr = java.time.Instant.ofEpochMilli(t0)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString.replace('T', ' ')
    spark.sql(s"SELECT count(*) AS c FROM $name TIMESTAMP AS OF '$tsStr'")
      .head.getLong(0) shouldBe 4
    // predicates + projections compose with the pinned snapshot
    spark.sql(s"SELECT name FROM $name VERSION AS OF 0 WHERE id = 4")
      .head.getString(0) shouldBe "d"
  }

  test("maintenance SQL: OPTIMIZE, DESCRIBE HISTORY, RESTORE, VACUUM") {
    val (name, t) = freshTable()
    spark.sql(s"INSERT INTO $name VALUES (5, 'e', 50)") // v1: second file
    spark.sql(s"INSERT INTO $name VALUES (6, 'f', 60)") // v2: third file

    val opt = spark.sql(s"OPTIMIZE $name").collect()
    opt.head.getLong(2) should be >= 2L // files_removed: compaction merged
    t.read().count() shouldBe 6

    val hist = spark.sql(s"DESCRIBE HISTORY $name").collect()
    hist.map(_.getLong(0)).toSeq shouldBe Seq(3L, 2L, 1L, 0L) // newest first
    hist.map(_.getString(2)).head should include("compact")

    spark.sql(s"RESTORE TABLE $name TO VERSION AS OF 1")
      .head.getLong(0) shouldBe 1L
    t.read().count() shouldBe 5 // v1 content, as a new commit

    // dry run lists the dead commit dirs; real vacuum then prunes history
    val dry = spark.sql(s"VACUUM $name RETAIN 0 VERSIONS DRY RUN").collect()
    dry.length should be >= 1
    // catalog locations carry the file: scheme; the path itself matches
    spark.sql(s"VACUUM $name").collect().head.getString(0) should endWith(t.rootPath)
    t.earliestReadableVersion shouldBe t.currentVersion
    t.read().count() shouldBe 5

    // ZORDER form + path-escape form both parse and run
    spark.sql(s"OPTIMIZE graft.`${t.rootPath}` ZORDER BY (id)").collect()
    t.read().count() shouldBe 5

    // RETAIN n HOURS (Delta's time-based form): everything committed
    // within the window survives — a generous window prunes nothing
    spark.sql(s"INSERT INTO $name VALUES (7, 'g', 70)")
    val dryH = spark.sql(s"VACUUM $name RETAIN 168 HOURS DRY RUN").collect()
    dryH.length shouldBe 0
    spark.sql(s"VACUUM $name RETAIN 168 HOURS").collect()
    t.earliestReadableVersion.get should be < t.currentVersion.get
    t.read().count() shouldBe 6
    // ordinary SQL still parses through the delegate
    spark.sql("SELECT 1 + 1").head.getInt(0) shouldBe 2
  }

  test("VACUUM ... DRY RUN excludes files under the unknown-file age " +
      "floor, so operators see the true blast radius") {
    import spark.implicits._
    val (name, t) = freshTable()
    // v1 rewrites every file, so v0's commit dir is dead once v0 leaves
    // retention
    spark.sql(s"UPDATE $name SET qty = qty + 1")
    // a second process mid-commit: data on disk, record not landed —
    // protected by the orphan age floor, so NOT part of the blast radius
    val inflight = s"${t.rootPath}/data/00000000-dead-beef-0000-000000000042"
    Seq((9, "z")).toDF("id", "v").coalesce(1).write.parquet(inflight)

    val dry = spark.sql(s"VACUUM $name RETAIN 0 VERSIONS DRY RUN").collect()
      .map(_.getString(0))
    dry.length should be >= 1                      // v0's dead commit dir
    dry.exists(_.contains("dead-beef")) shouldBe false
    // DRY RUN deleted nothing: the in-flight dir and v0 both still exist
    t.readVersion(0).count() shouldBe 4

    // past the age floor the same dir IS crash garbage — and the report
    // agrees with what the destructive pass would then reclaim
    spark.conf.set("spark.graft.vacuum.orphanMinAgeMs", "0")
    try {
      val dry2 = spark.sql(s"VACUUM $name RETAIN 0 VERSIONS DRY RUN").collect()
        .map(_.getString(0))
      dry2.exists(_.contains("dead-beef")) shouldBe true
    } finally spark.conf.unset("spark.graft.vacuum.orphanMinAgeMs")
  }

  test("path escape: SELECT, time travel, DML, INSERT on graft.`/path`") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-esc").toString + "/t"
    val t = ManagedTable(spark, path)
    t.overwriteAll(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val esc = s"graft.`$path`"
    spark.sql(s"SELECT * FROM $esc").count() shouldBe 3
    spark.sql(s"DELETE FROM $esc WHERE id = 2").head.getLong(0) shouldBe 1L
    spark.sql(s"INSERT INTO $esc VALUES (4, 'd')")
    spark.sql(s"SELECT id FROM $esc ORDER BY id").collect()
      .map(_.getInt(0)) shouldBe Array(1, 3, 4)
    spark.sql(s"SELECT * FROM $esc VERSION AS OF 0").count() shouldBe 3
    spark.sql(s"UPDATE $esc SET v = 'x' WHERE id = 4")
    t.read().filter($"id" === 4).head.getString(1) shouldBe "x"
    // maintenance SQL already accepts the same escape (covered above)
  }

  test("ALTER TABLE RENAME/ADD/DROP COLUMN: metadata-only DDL through SQL") {
    val (name, t) = freshTable()
    val filesBefore = t.manifest.get.files.map(_.path).toSet
    spark.sql(s"ALTER TABLE $name RENAME COLUMN qty TO amount")
    spark.sql(s"ALTER TABLE $name ADD COLUMNS (note STRING, score DOUBLE)")
    spark.sql(s"ALTER TABLE $name DROP COLUMN score")
    val out = t.read()
    out.columns.toSeq shouldBe Seq("id", "name", "amount", "note")
    out.filter(col("id") === 1).head.getInt(2) shouldBe 10 // renamed data intact
    out.select("note").collect().forall(_.isNullAt(0)) shouldBe true
    // all three were metadata-only commits: same data files
    t.manifest.get.files.map(_.path).toSet shouldBe filesBefore
    // catalog reads pick up the new schema (refresh on commit)
    spark.table(name).columns.toSeq shouldBe Seq("id", "name", "amount", "note")
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT: CHECK enforced on SQL writes") {
    val (name, t) = freshTable()
    spark.sql(s"ALTER TABLE $name ADD CONSTRAINT qty_pos CHECK (qty > 0)")
    // a violating SQL INSERT is rejected before any commit
    intercept[Exception](spark.sql(s"INSERT INTO $name VALUES (9, 'z', -5)"))
    t.read().count() shouldBe 4 // nothing landed
    spark.sql(s"INSERT INTO $name VALUES (9, 'z', 5)") // satisfying row lands
    t.read().count() shouldBe 5
    spark.sql(s"ALTER TABLE $name DROP CONSTRAINT qty_pos")
    spark.sql(s"INSERT INTO $name VALUES (10, 'w', -1)") // now allowed
    t.read().count() shouldBe 6
  }

  test("ALTER COLUMN SET/DROP NOT NULL: validated on add, enforced on " +
      "writes, droppable") {
    import spark.implicits._
    val (name, t) = freshTable()
    spark.sql(s"ALTER TABLE $name ALTER COLUMN name SET NOT NULL")
    // enforced on writes via the constraint machinery
    intercept[Exception](
      t.append(Seq((9, Option.empty[String], 90)).toDF("id", "name", "qty")))
    // DROP restores nullability
    spark.sql(s"ALTER TABLE $name ALTER COLUMN name DROP NOT NULL")
    t.append(Seq((7, Option.empty[String], 70)).toDF("id", "name", "qty"))
    t.read().filter("name IS NULL").count() shouldBe 1
    // re-adding over the existing NULL is rejected up front
    intercept[Exception](
      spark.sql(s"ALTER TABLE $name ALTER COLUMN name SET NOT NULL"))
  }

  test("DESCRIBE DETAIL and CREATE TABLE ... SHALLOW CLONE through SQL") {
    val (name, t) = freshTable()
    val d = spark.sql(s"DESCRIBE DETAIL $name").head
    d.getLong(0) shouldBe 0L // version
    d.getLong(2) shouldBe 4L // metadata-only exact row count
    d.getString(5) shouldBe "" // no clustering declared
    d.getString(6) shouldBe "overwrite"

    val db = name.split('.')(0)
    spark.sql(s"DELETE FROM $name WHERE id = 4") // v1
    spark.sql(s"CREATE TABLE $db.cl SHALLOW CLONE $name VERSION AS OF 0")
    spark.table(s"$db.cl").count() shouldBe 4 // v0 snapshot, registered
    spark.table(name).count() shouldBe 3      // source head unaffected
    // clone to a path escape too
    val p = java.nio.file.Files.createTempDirectory("graft-cl").toString + "/c2"
    spark.sql(s"CREATE TABLE graft.`$p` SHALLOW CLONE $name")
    ManagedTable(spark, p).read().count() shouldBe 3
  }

  test("ALTER TABLE ADD COLUMN ... GENERATED ALWAYS AS through SQL") {
    import spark.implicits._
    val db = s"gen${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    val path = java.nio.file.Files.createTempDirectory("graft-gen").toString + "/t"
    val t = ManagedTable(spark, path)
    t.overwriteAll(Seq.empty[(Int, java.sql.Timestamp, String)]
      .toDF("id", "event_ts", "payload"))
    spark.sql(s"CREATE TABLE $db.ev USING graft LOCATION '$path'")
    spark.sql(
      s"ALTER TABLE $db.ev ADD COLUMN day GENERATED ALWAYS AS (CAST(event_ts AS DATE))")
    t.generatedColumns shouldBe Map("day" -> "CAST(event_ts AS DATE)")
    // SQL INSERT omits the generated column; the engine computes it
    spark.sql(s"INSERT INTO $db.ev (id, event_ts, payload) VALUES " +
      "(1, timestamp'2024-03-05 10:00:00', 'x')")
    spark.table(s"$db.ev").filter("day = date'2024-03-05'").count() shouldBe 1
    spark.sql(s"ALTER TABLE $db.ev DROP GENERATED COLUMN day")
    t.generatedColumns shouldBe empty
  }

  test("SET/UNSET/SHOW TBLPROPERTIES route to the manifest") {
    val (name, t) = freshTable()
    spark.sql(
      s"ALTER TABLE $name SET TBLPROPERTIES ('team' = 'ops', 'graft.x' = '1')")
    t.properties shouldBe Map("team" -> "ops", "graft.x" -> "1")
    val shown = spark.sql(s"SHOW TBLPROPERTIES $name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    shown shouldBe Map("team" -> "ops", "graft.x" -> "1")
    spark.sql(s"SHOW TBLPROPERTIES $name ('team')").head.getString(1) shouldBe "ops"
    spark.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES ('graft.x')")
    t.properties shouldBe Map("team" -> "ops")
  }

  test("OPTIMIZE WHERE, RESTORE TIMESTAMP AS OF, BLOOMFILTER INDEX DDL") {
    import spark.implicits._
    val db = s"mx${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    val path = java.nio.file.Files.createTempDirectory("graft-mx").toString + "/t"
    val t = ManagedTable(spark, path)
    t.overwriteAll((1 to 40).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "part"), partitionBy = Seq("part"))
    spark.sql(s"CREATE TABLE $db.t USING graft LOCATION '$path'")
    // three small commits into partition 'a' only
    (41 to 43).foreach(i =>
      spark.sql(s"INSERT INTO $db.t VALUES ($i, 'a')"))
    val before = t.manifest.get.files.partition(_.partitionValues("part") == "a")
    before._1.size should be >= 4
    // scoped optimize compacts only partition 'a'; 'b' files carry verbatim
    spark.sql(s"OPTIMIZE $db.t WHERE part = 'a'").collect()
    val after = t.manifest.get.files.partition(_.partitionValues("part") == "a")
    after._1.size should be < before._1.size
    after._2.map(_.path).toSet shouldBe before._2.map(_.path).toSet
    // timestamp restore resolves the newest version at or before the instant
    val v = t.currentVersion.get
    Thread.sleep(5)
    val cut = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql(s"DELETE FROM $db.t WHERE id > 40")
    spark.sql(s"RESTORE TABLE $db.t TO TIMESTAMP AS OF '$cut'")
      .head.getLong(0) shouldBe v
    t.read().count() shouldBe 43
    // bloom DDL round-trip
    spark.sql(s"CREATE BLOOMFILTER INDEX ON TABLE $db.t FOR COLUMNS (id)")
    t.bloomIndexes.keySet shouldBe Set("id")
    spark.sql(s"DROP BLOOMFILTER INDEX ON TABLE $db.t")
    t.bloomIndexes shouldBe empty
    // ANALYZE backfills manifest stats (graft targets only; plain tables
    // still reach Spark's own catalog-stats path)
    spark.sql(s"ANALYZE TABLE $db.t COMPUTE STATISTICS").head.getString(0) should
      endWith(t.rootPath)
    t.fastCount shouldBe defined
    import spark.implicits._
    Seq((1, "x")).toDF("a", "b").write.saveAsTable(s"$db.plain")
    spark.sql(s"ANALYZE TABLE $db.plain COMPUTE STATISTICS") // Spark's path
  }

  test("INSERT INTO ... REPLACE WHERE: predicate-scoped overwrite") {
    import spark.implicits._
    val (name, t) = freshTable()
    // replace the id<=2 region with one new row — others untouched
    spark.sql(
      s"INSERT INTO $name REPLACE WHERE id <= 2 " +
        "SELECT 1 AS id, 'z' AS name, 99 AS qty")
    t.read().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))) shouldBe
      Array((1, "z", 99), (3, "c", 30), (4, "d", 40))
    t.history().head.operation shouldBe "replaceWhere"
    // inserted rows outside the replaced region are rejected
    intercept[Exception](spark.sql(
      s"INSERT INTO $name REPLACE WHERE id <= 2 " +
        "SELECT 7 AS id, 'w' AS name, 1 AS qty"))
    // path-escape form
    val esc = s"graft.`${t.rootPath}`"
    spark.sql(
      s"INSERT INTO $esc REPLACE WHERE id = 3 " +
        "SELECT 3 AS id, 'r' AS name, 33 AS qty")
    t.read().filter($"id" === 3).head.getString(1) shouldBe "r"
  }

  test("CREATE TABLE ... CLONE is deep by default; SHOW PARTITIONS lists tuples") {
    import spark.implicits._
    val (name, t) = freshTable()
    val db = name.split('.').head
    // bare CLONE = deep: fully independent copy
    val out = spark.sql(s"CREATE TABLE graft.`${t.rootPath}-deep` CLONE $name")
    out.head.getString(0) shouldBe s"${t.rootPath}-deep"
    val clone = ManagedTable(spark, s"${t.rootPath}-deep")
    clone.history().head.operation shouldBe "deepClone"
    // TIMESTAMP AS OF resolves against the source's commit history
    val ts0 = new java.sql.Timestamp(t.history().last.timestampMs)
    spark.sql(s"CREATE TABLE graft.`${t.rootPath}-ts` SHALLOW CLONE " +
      s"$name TIMESTAMP AS OF '$ts0'")
    ManagedTable(spark, s"${t.rootPath}-ts").read().count() shouldBe 4
    t.overwriteAll(Seq((9, "z", 0)).toDF("id", "name", "qty"))
    t.vacuum() // source history gone — the deep clone is untouched
    clone.read().count() shouldBe 4
    // SHOW PARTITIONS from the manifest, no listing
    val pt = ManagedTable(spark, t.rootPath + "-parts")
    pt.overwriteAll(
      Seq((1, "x"), (2, "y"), (3, "y")).toDF("id", "part"), Seq("part"))
    spark.sql(s"CREATE TABLE $db.parts USING graft LOCATION '${pt.rootPath}'")
    spark.sql(s"SHOW PARTITIONS $db.parts").collect()
      .map(_.getString(0)).sorted shouldBe Array("part=x", "part=y")
    // unpartitioned → Spark-style error
    intercept[Exception](spark.sql(s"SHOW PARTITIONS $name").collect())
  }

  test("table_changes TVF: row-level CDF with preimage pairs through SQL") {
    import spark.implicits._
    val (name, t) = freshTable()          // v0: ids 1..4
    spark.sql(s"UPDATE $name SET qty = 99 WHERE id = 2")  // v1
    spark.sql(s"DELETE FROM $name WHERE id = 4")          // v2
    // explicit key columns (4-arg form)
    val feed = spark.sql(
      s"SELECT id, qty, _change_type FROM table_changes('$name', 0, 2, 'id')")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).sorted
    feed should contain ((2, 20, "update_preimage"))
    feed should contain ((2, 99, "update_postimage"))
    feed should contain ((4, 40, "delete"))
    feed.length shouldBe 3 // untouched rows are not changes
    // 3-arg form reads the key from the graft.cdc.keys table property
    intercept[Exception](
      spark.sql(s"SELECT * FROM table_changes('$name', 0, 2)").collect())
    spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES ('graft.cdc.keys' = 'id')")
    spark.sql(s"SELECT * FROM table_changes('$name', 0, 2)")
      .count() shouldBe 3
    // path form
    spark.sql(s"SELECT * FROM table_changes('${t.rootPath}', 1, 2, 'id')")
      .select("_change_type").head.getString(0) shouldBe "delete"
  }

  test("TRUNCATE TABLE: metadata-only, transaction log and time travel survive") {
    val (name, t) = freshTable()
    val out = spark.sql(s"TRUNCATE TABLE $name").collect()
    out.head.getLong(0) shouldBe 4L
    t.read().count() shouldBe 0
    spark.table(name).count() shouldBe 0
    // nothing physically deleted: history intact, the old snapshot reads
    t.readVersion(0).count() shouldBe 4
    t.history().head.operation shouldBe "truncate"
    // the table keeps living: an append works against the empty head
    import spark.implicits._
    t.append(Seq((9, "z", 1)).toDF("id", "name", "qty"))
    spark.table(name).count() shouldBe 1
  }

  test("ENABLE ROW TRACKING and GENERATE symlink_format_manifest through SQL") {
    val (name, t) = freshTable()
    spark.sql(s"ALTER TABLE $name ENABLE ROW TRACKING")
    t.readWithRowIds().select("_row_id").distinct().count() shouldBe 4
    val ms = spark.sql(
      s"GENERATE symlink_format_manifest FOR TABLE $name").collect()
    ms.length shouldBe 1
    ms.head.getString(0) should include("_symlink_format_manifest")
    val local = new org.apache.hadoop.fs.Path(ms.head.getString(0))
      .toUri.getPath
    scala.io.Source.fromFile(local).getLines().size shouldBe
      t.manifest.get.files.size
  }

  test("column DEFAULT DDL through SQL: add, set, drop") {
    val (name, t) = freshTable()
    spark.sql(s"ALTER TABLE $name ADD COLUMN tier STRING DEFAULT 'standard'")
    spark.sql(s"SELECT tier FROM $name WHERE id = 1").collect()(0)
      .getString(0) shouldBe "standard"
    spark.sql(s"ALTER TABLE $name ALTER COLUMN tier SET DEFAULT 'basic'")
    import spark.implicits._
    t.append(Seq((9, "i", 90)).toDF("id", "name", "qty"))
    spark.sql(s"SELECT tier FROM $name WHERE id = 9").collect()(0)
      .getString(0) shouldBe "basic"
    spark.sql(s"SELECT tier FROM $name WHERE id = 1").collect()(0)
      .getString(0) shouldBe "standard" // EXISTS_DEFAULT unaffected
    spark.sql(s"ALTER TABLE $name ALTER COLUMN tier DROP DEFAULT")
    t.manifest.get.schema("tier").metadata
      .contains("CURRENT_DEFAULT") shouldBe false
  }

  test("REORG TABLE ... APPLY (PURGE) materializes deletion vectors") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-reorg")
      .toString + "/t"
    val t = graft.tables.ManagedTable(spark, root)
    t.overwriteAll((1 to 500).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1))
    val name = s"graft.`$root`"
    spark.conf.set("spark.graft.dv.enabled", "true")
    try {
      spark.sql(s"DELETE FROM $name WHERE id = 2")
      t.manifest.get.files.count(_.dv.isDefined) should be >= 1
      val out = spark.sql(s"REORG TABLE $name APPLY (PURGE)").collect()
      out.head.getLong(1) should be >= 1L
      t.manifest.get.files.count(_.dv.isDefined) shouldBe 0
      spark.sql(s"SELECT count(*) FROM $name WHERE id = 2").collect()(0)
        .getLong(0) shouldBe 0L
    } finally spark.conf.unset("spark.graft.dv.enabled")
  }

  test("non-graft DML targets still fail with Spark's own error") {
    import spark.implicits._
    val v = Seq((1, "a")).toDF("id", "v")
    v.createOrReplaceTempView("plainview")
    intercept[Exception](spark.sql("DELETE FROM plainview WHERE id = 1"))
  }

  test("DELETE / UPDATE with IN (subquery), mixed with plain conjuncts") {
    import spark.implicits._
    val (name, t) = freshTable()
    Seq(2, 3, 99).toDF("kid").createOrReplaceTempView("kill_sq")
    val out = spark.sql(
      s"DELETE FROM $name WHERE id IN (SELECT kid FROM kill_sq) AND qty < 25")
      .collect()
    out.map(_.getLong(0)) shouldBe Array(1L) // id=2 only (id=3 has qty 30)
    t.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 3, 4)
    // the run-time temp views were dropped after the command
    spark.catalog.tableExists("kill_sq") shouldBe true
    spark.catalog.listTables().collect()
      .map(_.name).count(_.startsWith("graft_subq_")) shouldBe 0

    spark.sql(s"UPDATE $name SET qty = 0 WHERE id IN (SELECT kid FROM kill_sq)")
      .collect().map(_.getLong(0)) shouldBe Array(1L) // id=3
    t.read().filter(col("qty") === 0).collect().map(_.getInt(0)) shouldBe
      Array(3)
  }

  test("DELETE with NOT IN keeps three-valued null semantics; EXISTS and " +
      "scalar subqueries route through") {
    import spark.implicits._
    val (name, t) = freshTable()
    // NOT IN over a subquery producing a NULL matches NOTHING (SQL
    // three-valued logic) — the naive anti-join translation would delete
    Seq(Some(1), None).toDF("kid").createOrReplaceTempView("nullable_sq")
    spark.sql(s"DELETE FROM $name WHERE id NOT IN (SELECT kid FROM nullable_sq)")
      .collect().map(_.getLong(0)) shouldBe Array(0L)
    t.read().count() shouldBe 4

    Seq(1, 4).toDF("kid").createOrReplaceTempView("plain_sq")
    spark.sql(s"DELETE FROM $name WHERE id NOT IN (SELECT kid FROM plain_sq)")
      .collect().map(_.getLong(0)) shouldBe Array(2L)
    t.read().collect().map(_.getInt(0)).sorted shouldBe Array(1, 4)

    // uncorrelated EXISTS is all-or-nothing; scalar subquery in comparison
    spark.sql(s"UPDATE $name SET qty = -1 WHERE EXISTS " +
      "(SELECT 1 FROM plain_sq WHERE kid = 1)")
      .collect().map(_.getLong(0)) shouldBe Array(2L)
    spark.sql(s"DELETE FROM $name WHERE id < (SELECT max(kid) FROM plain_sq)")
      .collect().map(_.getLong(0)) shouldBe Array(1L)
    t.read().collect().map(_.getInt(0)) shouldBe Array(4)
  }

  test("CREATE TABLE with declared schema initializes the table; " +
      "CTAS honors PARTITIONED BY") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ddl").toString
    val db = s"ddl${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")

    // empty CREATE: schema + partitioning + properties land in the
    // manifest (v0), so the first INSERT/read just works
    spark.sql(s"""CREATE TABLE $db.pt (id BIGINT, day INT) USING graft
                 |PARTITIONED BY (day)
                 |TBLPROPERTIES ('graft.appendOnly' = 'true')
                 |LOCATION '$dir/pt'""".stripMargin)
    val pt = ManagedTable(spark, s"$dir/pt")
    pt.manifest.map(_.partitionColumns) shouldBe Some(Seq("day"))
    pt.properties.get("graft.appendOnly") shouldBe Some("true")
    spark.sql(s"INSERT INTO $db.pt VALUES (1, 10), (2, 20)")
    spark.table(s"$db.pt").count() shouldBe 2
    // the declared property is live: appendOnly rejects row mutations
    intercept[Exception](spark.sql(s"DELETE FROM $db.pt WHERE id = 1"))

    // CTAS: PARTITIONED BY must reach the manifest, not be dropped
    spark.sql(s"""CREATE TABLE $db.ct USING graft PARTITIONED BY (day)
                 |LOCATION '$dir/ct'
                 |AS SELECT id, day FROM $db.pt""".stripMargin)
    ManagedTable(spark, s"$dir/ct").manifest
      .map(_.partitionColumns) shouldBe Some(Seq("day"))
    spark.table(s"$db.ct").count() shouldBe 2
  }

  test("INSERT [OVERWRITE] ... PARTITION: static spec scopes the " +
      "overwrite, dynamic keys replace only touched partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ipart").toString
    val db = s"ip${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    val t = ManagedTable(spark, s"$dir/t")
    t.overwriteAll(Seq((1L, 10, "a"), (2L, 20, "b")).toDF("id", "day", "v"),
      Seq("day"))
    spark.sql(s"CREATE TABLE $db.pt USING graft LOCATION '$dir/t'")
    def state = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq

    // static OVERWRITE: only day=10 replaced, day=20 untouched
    spark.sql(s"INSERT OVERWRITE $db.pt PARTITION (day=10) VALUES (9, 'z')")
    state shouldBe Seq((2L, 20, "b"), (9L, 10, "z"))
    // static INSERT INTO: plain append with the literal filled
    spark.sql(s"INSERT INTO $db.pt PARTITION (day=30) VALUES (5, 'e')")
    state shouldBe Seq((2L, 20, "b"), (5L, 30, "e"), (9L, 10, "z"))
    // dynamic key (Hive convention: partition column LAST in VALUES):
    // replaces exactly the partitions the data lands in
    spark.sql(s"INSERT OVERWRITE $db.pt PARTITION (day) VALUES (7, 'q', 20)")
    state shouldBe Seq((5L, 30, "e"), (7L, 20, "q"), (9L, 10, "z"))
    // non-partition column in the spec is rejected loudly
    val e = intercept[Exception](spark.sql(
      s"INSERT OVERWRITE $db.pt PARTITION (v='x') VALUES (1, 10)"))
    e.getMessage should include("not a partition column")
    // a static value unparsable as the column type (typo'd int) is an
    // eager analysis error, not a silent landing in the null partition
    val e2 = intercept[Exception](spark.sql(
      s"INSERT OVERWRITE $db.pt PARTITION (day='2O24') VALUES (1, 'x')"))
    e2.getMessage should include("cannot be cast")
    state shouldBe Seq((5L, 30, "e"), (7L, 20, "q"), (9L, 10, "z"))
  }

  test("CREATE OR REPLACE TABLE: overwrite commit on the existing log, " +
      "history survives; RTAS; plain REPLACE of missing table fails") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cor").toString
    val db = s"cor${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"""CREATE OR REPLACE TABLE $db.rt (id BIGINT, day INT)
                 |USING graft PARTITIONED BY (day)
                 |LOCATION '$dir/rt'""".stripMargin)
    spark.sql(s"INSERT INTO $db.rt VALUES (1, 10)")
    spark.table(s"$db.rt").count() shouldBe 1

    // REPLACE swaps schema + properties in ONE overwrite commit — the
    // log survives, so RESTORE can undo a bad replace
    spark.sql(s"""CREATE OR REPLACE TABLE $db.rt (k STRING) USING graft
                 |TBLPROPERTIES ('x' = '1') LOCATION '$dir/rt'""".stripMargin)
    spark.table(s"$db.rt").columns.toSeq shouldBe Seq("k")
    val t = ManagedTable(spark, s"$dir/rt")
    t.properties.get("x") shouldBe Some("1")
    t.history().map(_.operation) should contain("replaceTable")
    spark.sql(s"RESTORE TABLE graft.`$dir/rt` TO VERSION AS OF 1")
    t.read().count() shouldBe 1

    // RTAS
    spark.sql(s"""CREATE OR REPLACE TABLE $db.rtas USING graft
                 |LOCATION '$dir/rtas' AS SELECT 1L AS a""".stripMargin)
    spark.table(s"$db.rtas").count() shouldBe 1
    // plain REPLACE of a missing table fails like Delta
    val e = intercept[Exception](spark.sql(
      s"REPLACE TABLE $db.missing (id BIGINT) USING graft LOCATION '$dir/m'"))
    e.getMessage should include("not found")
  }

  test("MERGE WITH SCHEMA EVOLUTION through SQL: INSERT */UPDATE SET * " +
      "populate the adopted column and the catalog schema syncs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mevo").toString
    val db = s"mevo${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.t (id BIGINT, v STRING) USING graft " +
      s"LOCATION '$dir/t'")
    spark.sql(s"INSERT INTO $db.t VALUES (1, 'a'), (2, 'b')")
    // the analyzer expands the stars against the PRE-evolution schema —
    // the adopted column's values must still land (not silent NULLs)
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $db.t AS t
         |USING (SELECT * FROM VALUES (2L, 'b2', 20.0D), (3L, 'c', 30.0D)
         |       AS s(id, v, score)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val rows = spark.sql(s"SELECT id, v, score FROM $db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    rows shouldBe Array((1L, "a", None), (2L, "b2", Some(20.0)),
      (3L, "c", Some(30.0)))
    // catalog entry mirrors the evolved manifest: SELECT * sees the column
    spark.table(s"$db.t").columns.toSeq shouldBe Seq("id", "v", "score")
    // without the clause, source-only columns are still silently ignored
    spark.sql(
      s"""MERGE INTO $db.t AS t
         |USING (SELECT 4L AS id, 'd' AS v, 40.0D AS score, true AS extra) s
         |ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    spark.table(s"$db.t").columns.toSeq shouldBe Seq("id", "v", "score")
  }

  test("MERGE WITH SCHEMA EVOLUTION: a hand-written UPDATE SET list that " +
      "covers every pre-evolution column keeps explicit semantics — " +
      "adopted columns stay NULL on updates, star-insert adopts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mexp").toString
    val db = s"mexp${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.t (id BIGINT, v STRING) USING graft " +
      s"LOCATION '$dir/t'")
    spark.sql(s"INSERT INTO $db.t VALUES (1, 'a'), (2, 'b')")
    // SET id = s.id, v = s.v covers every pre-evolution column with
    // identity mappings — byte-identical to the analyzer's SET *
    // expansion, but hand-written: Delta's explicit-assignment contract
    // says the adopted column is NOT updated (stays NULL), and the
    // fromStar flag is what distinguishes the two
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $db.t AS t
         |USING (SELECT * FROM VALUES (2L, 'b2', 20.0D), (3L, 'c', 30.0D)
         |       AS s(id, v, score)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET id = s.id, v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val rows = spark.sql(s"SELECT id, v, score FROM $db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    rows shouldBe Array((1L, "a", None), (2L, "b2", None),
      (3L, "c", Some(30.0)))
  }

  test("REPLACE TABLE resets constraints, identity rules, and properties " +
      "to what the statement declares") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rst").toString
    val db = s"rst${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"""CREATE TABLE $db.r (id BIGINT) USING graft
                 |TBLPROPERTIES ('old' = 'yes') LOCATION '$dir/r'""".stripMargin)
    spark.sql(s"ALTER TABLE $db.r ADD CONSTRAINT small CHECK (id < 10)")
    spark.sql(s"ALTER TABLE $db.r ADD COLUMN gid GENERATED ALWAYS AS IDENTITY")
    spark.sql(s"INSERT INTO $db.r (id) VALUES (1)")
    // the replacement violates the OLD constraint and supplies the OLD
    // GENERATED ALWAYS identity column — both rules must be gone
    spark.sql(s"""CREATE OR REPLACE TABLE $db.r USING graft
                 |TBLPROPERTIES ('fresh' = '1') LOCATION '$dir/r'
                 |AS SELECT 100L AS id, 5L AS gid""".stripMargin)
    spark.table(s"$db.r").collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((100L, 5L))
    val t = ManagedTable(spark, s"$dir/r")
    t.identityColumnNames shouldBe empty
    t.properties.get("old") shouldBe None
    t.properties.get("fresh") shouldBe Some("1")
    // no stale CHECK: a row the old constraint would reject inserts fine
    spark.sql(s"INSERT INTO $db.r VALUES (200, 6)")
    spark.table(s"$db.r").count() shouldBe 2
  }

  test("CREATE TABLE over an existing catalog entry fails BEFORE creating " +
      "a log; re-registration validates the declared schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ctv").toString
    val db = s"ctv${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.e (id BIGINT) USING graft LOCATION '$dir/a'")
    spark.sql(s"INSERT INTO $db.e VALUES (1)")
    // duplicate name, different location: fails loudly AND leaves no
    // orphan transaction log at the new location
    intercept[Exception](spark.sql(
      s"CREATE TABLE $db.e (id BIGINT) USING graft LOCATION '$dir/b'"))
    ManagedTable(spark, s"$dir/b").manifest shouldBe empty
    // IF NOT EXISTS: clean no-op, also no orphan log
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $db.e (id BIGINT) USING graft LOCATION '$dir/c'")
    ManagedTable(spark, s"$dir/c").manifest shouldBe empty
    // re-registering a live table under a new name with a WRONG declared
    // schema is rejected; with the matching schema it passes
    val em = intercept[Exception](spark.sql(
      s"CREATE TABLE $db.e2 (wrong STRING) USING graft LOCATION '$dir/a'"))
    em.getMessage should include("disagrees")
    spark.sql(s"CREATE TABLE $db.e3 (id BIGINT) USING graft LOCATION '$dir/a'")
    spark.table(s"$db.e3").count() shouldBe 1
  }

  test("managed CREATE TABLE (no LOCATION) creates the log at the derived " +
      "location; DROP TABLE cleans it up; CREATE TABLE LIKE clones the " +
      "shape with a fresh log") {
    import spark.implicits._
    val db = s"mgd${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    // managed form: log created under the warehouse, fully usable
    spark.sql(s"CREATE TABLE $db.m (id BIGINT, day INT) USING graft " +
      "PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO $db.m VALUES (1, 10), (2, 20)")
    spark.table(s"$db.m").count() shouldBe 2
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("m", Some(db)))
      .location
    ManagedTable(spark, loc.toString)
      .manifest.get.partitionColumns shouldBe Seq("day")
    // DROP on a managed table removes data AND log (the managed contract)
    spark.sql(s"DROP TABLE $db.m")
    new java.io.File(java.net.URI.create(loc.toString).getPath)
      .exists() shouldBe false

    // LIKE: schema + partitioning cloned, EMPTY content, fresh log
    val dir = java.nio.file.Files.createTempDirectory("graft-like").toString
    spark.sql(s"CREATE TABLE $db.src (id BIGINT, day INT) USING graft " +
      s"PARTITIONED BY (day) LOCATION '$dir/src'")
    spark.sql(s"INSERT INTO $db.src VALUES (1, 10)")
    spark.sql(s"CREATE TABLE $db.cl LIKE $db.src USING graft " +
      s"LOCATION '$dir/cl'")
    spark.table(s"$db.cl").count() shouldBe 0
    val cl = ManagedTable(spark, s"$dir/cl")
    cl.manifest.get.partitionColumns shouldBe Seq("day")
    spark.sql(s"INSERT INTO $db.cl VALUES (5, 50)")
    spark.table(s"$db.cl").collect().map(_.getLong(0)) shouldBe Array(5L)
    // ALTER TABLE RENAME keeps the (external) log working
    spark.sql(s"ALTER TABLE $db.cl RENAME TO $db.cl2")
    spark.table(s"$db.cl2").count() shouldBe 1

    // a MID-SCHEMA partition column: the registered catalog schema must
    // follow the V1 convention (partition columns LAST), exactly as
    // CreateDataSourceTableCommand would normalize it
    spark.sql(s"CREATE TABLE $db.mid (id BIGINT, day INT, v STRING) " +
      "USING graft PARTITIONED BY (day)")
    val midCt = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("mid", Some(db)))
    midCt.schema.fieldNames.toSeq shouldBe Seq("id", "v", "day")
    midCt.partitionColumnNames shouldBe Seq("day")
    // positional INSERT maps to the NORMALIZED catalog order — the
    // standard V1 behavior for partitioned tables (same as parquet/Delta)
    spark.sql(s"INSERT INTO $db.mid VALUES (1, 'a', 10)")
    spark.sql(s"SELECT id, day, v FROM $db.mid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))) shouldBe
      Array((1L, 10, "a"))
    spark.sql(s"DROP TABLE $db.mid")
  }

  test("nested-typed columns survive DML: array/struct rewrites don't " +
      "self-detect as type changes; reader-option time travel works on " +
      "catalog tables") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nested").toString
    val db = s"nst${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    Seq((1L, Seq(1, 2), ("x", 5)), (2L, Seq(3), ("y", 7)))
      .toDF("id", "arr", "s")
      .write.format("graft").save(s"$dir/t")
    spark.sql(s"CREATE TABLE $db.n USING graft LOCATION '$dir/t'")
    // a parquet round-trip flips nested nullability flags — the rewrite
    // must not read that as a type change
    spark.sql(s"DELETE FROM $db.n WHERE id = 1").head.getLong(0) shouldBe 1L
    spark.sql(s"UPDATE $db.n SET id = id + 10 WHERE s._2 = 7")
      .head.getLong(0) shouldBe 1L
    spark.table(s"$db.n").select("id", "s._1").collect()
      .map(r => (r.getLong(0), r.getString(1))) shouldBe Array((12L, "y"))
    spark.sql(s"INSERT INTO $db.n VALUES (3, array(9), struct('z', 1))")
    spark.table(s"$db.n").count() shouldBe 2
    // Delta's reader-option time travel on the CATALOG name
    spark.read.option("versionAsOf", "0").table(s"$db.n").count() shouldBe 2
    spark.read.option("versionAsOf", "1").table(s"$db.n").count() shouldBe 1
    intercept[Exception](spark.read.option("versionAsOf", "0")
      .option("timestampAsOf", "2024-01-01").table(s"$db.n").collect())
  }

  test("correlated subqueries and subqueries in unsupported positions " +
      "are rejected loudly") {
    import spark.implicits._
    val (name, _) = freshTable()
    Seq(1).toDF("kid").createOrReplaceTempView("corr_sq")
    val e1 = intercept[Exception](spark.sql(
      s"DELETE FROM $name WHERE EXISTS (SELECT 1 FROM corr_sq WHERE kid = id)"))
    e1.getMessage should include("uncorrelated")
    val e2 = intercept[Exception](spark.sql(
      s"UPDATE $name SET qty = (SELECT max(kid) FROM corr_sq) WHERE id = 1"))
    e2.getMessage should include("not supported")
  }

  test("lambda conditions and values in DELETE / UPDATE / MERGE reach the " +
      "engine as analyzed expressions") {
    import spark.implicits._
    val db = s"lam${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE DATABASE $db")
    val path =
      java.nio.file.Files.createTempDirectory("graft-lambda").toString + "/t"
    val t = ManagedTable(spark, path)
    t.overwriteAll(Seq((1, Seq("a", "b")), (2, Seq("bad", "c")),
      (3, Seq("d")), (4, Seq("e", "bad"))).toDF("id", "tags"))
    spark.sql(s"CREATE TABLE $db.t USING graft LOCATION '$path'")
    def rows(): Seq[(Int, Seq[String])] = t.read().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getSeq[String](1))).toSeq

    spark.sql(s"UPDATE $db.t SET tags = transform(tags, x -> upper(x)) " +
      "WHERE id = 1").collect().map(_.getLong(0)) shouldBe Array(1L)
    rows().head shouldBe ((1, Seq("A", "B")))

    Seq((2, Seq("fixed")), (3, Seq("x")), (5, Seq("new")))
      .toDF("id", "tags").createOrReplaceTempView("lambda_src")
    val merged = spark.sql(s"MERGE INTO $db.t t USING lambda_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED AND exists(t.tags, x -> x = 'bad') " +
      "THEN UPDATE SET tags = s.tags " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    merged.map(r => (0 until 4).map(r.getLong)) shouldBe
      Array(Seq(2L, 1L, 0L, 1L))
    rows() shouldBe Seq((1, Seq("A", "B")), (2, Seq("fixed")),
      (3, Seq("d")), (4, Seq("e", "bad")), (5, Seq("new")))

    spark.sql(s"DELETE FROM $db.t WHERE exists(tags, x -> x = 'bad')")
      .collect().map(_.getLong(0)) shouldBe Array(1L)
    rows().map(_._1) shouldBe Seq(1, 2, 3, 5)
  }

  test("plan lock: MERGE USING a filtered larger table broadcasts the " +
      "source and never shuffles the target") {
    import spark.implicits._
    val (name, t) = freshTable()
    // a 2-row filter over a parquet table keeps the table's estimate;
    // the compression factor scales that estimate past both Spark's
    // broadcast threshold and MergeBuilder.BroadcastSourceBytes, so
    // neither Spark nor the size rule alone would broadcast this source
    val bigPath =
      java.nio.file.Files.createTempDirectory("graft-big").toString + "/big"
    spark.range(0, 400000).select(col("id").cast("int").as("id"),
        org.apache.spark.sql.functions.sha2(col("id").cast("string"), 256)
          .as("name"),
        (col("id") % 100).cast("int").as("qty"))
      .write.parquet(bigPath)
    val using = s"SELECT id, name, qty FROM parquet.`$bigPath` WHERE id IN (2, 7)"
    spark.conf.set("spark.sql.sources.fileCompressionFactor", "1000")
    spark.conf.set("spark.graft.merge.smallScopeBytes", "0") // keyed route
    val (out, _, execs) = try {
      spark.sql(using).queryExecution.optimizedPlan.stats.sizeInBytes should be >
        BigInt(graft.tables.MergeBuilder.BroadcastSourceBytes)
      graft.PlanTrace.traced(spark)(
        spark.sql(s"MERGE INTO $name t USING ($using) s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
          .collect())
    } finally {
      spark.conf.unset("spark.sql.sources.fileCompressionFactor")
      spark.conf.unset("spark.graft.merge.smallScopeBytes")
    }
    out.map(r => (0 until 4).map(r.getLong)) shouldBe Array(Seq(2L, 1L, 0L, 1L))
    t.read().orderBy("id").select("id", "qty").as[(Int, Int)].collect() shouldBe
      Array((1, 10), (2, 2), (3, 30), (4, 40), (7, 7))
    graft.PlanTrace.assertStreamedIntoBroadcastJoins(execs,
      new java.io.File(t.rootPath, "data").getPath)
  }
}
