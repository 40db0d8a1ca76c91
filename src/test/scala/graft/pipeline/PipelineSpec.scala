package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files

import graft.metadata._
import graft.watermark.WatermarkStore

/** End-to-end pipeline + strategy semantics, mirroring the reference's
  * integration suites (reference: src/test/scala/datalake/processing/
  * FullProcessingSpec.scala, MergeProcessingSpec.scala,
  * HistoricProcessingSpec.scala, InferDeletesSpec.scala). */
class PipelineSpec extends AnyFunSuite with Matchers {

  implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val T1 = "2024-01-10T10:00:00"
  val T2 = "2024-01-11T10:00:00"
  val T3 = "2024-01-12T10:00:00"

  /** Fresh metadata rooted in a temp dir; one merge entity + one historic
    * entity + one full entity over the same logical source. */
  def fixture(prefix: String = "", extraEntity: String = ""): Metadata = {
    val root = Files.createTempDirectory("graft-pipe").toString
    Metadata.fromJson(s"""{
      "environment": {
        "name": "test", "timezone": "UTC", "root_folder": "$root",
        "systemfield_prefix": "$prefix"
      },
      "connections": [ { "name": "src1", "enabled": true } ],
      "entities": [
        { "id": 1, "name": "cust", "connection": "src1", "processtype": "full",
          "columns": [
            { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
            { "name": "name", "datatype": "string" },
            { "name": "Administration", "datatype": "string", "fieldroles": ["partition"] }
          ] },
        { "id": 2, "name": "cust_m", "connection": "src1", "processtype": "merge",
          "settings": { "delete_missing": true },
          "watermark": [ { "column": "SeqNr" } ],
          "columns": [
            { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
            { "name": "SeqNr", "datatype": "integer" },
            { "name": "name", "datatype": "string" }
          ] },
        { "id": 3, "name": "cust_h", "connection": "src1", "processtype": "historic",
          "settings": { "delete_missing": true },
          "columns": [
            { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
            { "name": "name", "datatype": "string" }
          ] }
        $extraEntity
      ]
    }""")
  }

  def writeSlice(md: Metadata, e: Entity, slice: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"${md.bronzePath(e)}/$slice")

  def run(md: Metadata, id: Int, slice: String, time: String): ProcessingSummary =
    new Processing(md, md.getEntity(id), slice,
      Map("processing.time" -> time)).process()

  import spark.implicits._

  // ------------------------------------------------------------------ Full

  test("full: overwrite write, system columns, PK hash, partitioning") {
    val md = fixture()
    val e = md.getEntity(1)
    writeSlice(md, e, "s1.parquet",
      Seq((1, "alice", "950"), (2, "bob", "951")).toDF("ID", "name", "Administration"))
    val sum = run(md, 1, "s1.parquet", T1)
    sum.inserted shouldBe 2
    sum.recordsInSlice shouldBe 2

    val p = new Processing(md, e, "s1.parquet")
    val out = p.table.read()
    out.count() shouldBe 2
    out.columns should contain allOf
      ("ID", "name", "Administration", "PK_cust", "SourceHash",
        "deleted", "lastSeen", "source_filename")
    // partition tracked in the manifest
    p.table.manifest.get.partitionColumns shouldBe Seq("Administration")
    // PK = sha256 of businesskey joined by '_'
    val pk = out.filter($"ID" === 1).select("PK_cust").head.getString(0)
    pk shouldBe java.security.MessageDigest.getInstance("SHA-256")
      .digest("1".getBytes).map("%02x".format(_)).mkString
    out.select("source_filename").head.getString(0) shouldBe "s1.parquet"
  }

  test("catalog-mode silver: spark.table and SQL read the managed table") {
    // unique db name: the session's warehouse dir persists across suites
    val tag = (System.nanoTime() % 1000000).toString
    val db = s"graftdb$tag"
    val md = fixture(extraEntity = s""",
      { "id": 4, "name": "cust_t", "connection": "src1", "processtype": "merge",
        "settings": { "silver_table": "$db.cust_t" },
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "name", "datatype": "string" } ] }""")
    val e = md.getEntity(4)
    md.silverLocation(e) shouldBe TableLocation(s"$db.cust_t")
    writeSlice(md, e, "s1.parquet", Seq((1, "alice"), (2, "bob")).toDF("ID", "name"))
    run(md, 4, "s1.parquet", T1)
    // first commit registered the database + table in the session catalog
    spark.catalog.tableExists(s"$db.cust_t") shouldBe true
    spark.table(s"$db.cust_t").count() shouldBe 2
    spark.sql(s"SELECT name FROM $db.cust_t WHERE ID = 1")
      .head.getString(0) shouldBe "alice"
    // a later merge commit is visible through the SAME registration —
    // the relation resolves the current manifest at scan time
    writeSlice(md, e, "s2.parquet", Seq((2, "bobby"), (3, "carol")).toDF("ID", "name"))
    run(md, 4, "s2.parquet", T2)
    spark.sql(s"SELECT ID, name FROM $db.cust_t ORDER BY ID")
      .collect().map(r => (r.getInt(0), r.getString(1))) shouldBe
      Array((1, "alice"), (2, "bobby"), (3, "carol"))
  }

  test("full: second run replaces only touched partitions (dynamic overwrite)") {
    val md = fixture()
    val e = md.getEntity(1)
    writeSlice(md, e, "s1.parquet",
      Seq((1, "alice", "950"), (2, "bob", "951")).toDF("ID", "name", "Administration"))
    run(md, 1, "s1.parquet", T1)
    // second slice only touches partition 950
    writeSlice(md, e, "s2.parquet",
      Seq((9, "zoe", "950")).toDF("ID", "name", "Administration"))
    run(md, 1, "s2.parquet", T2)
    val out = new Processing(md, e, "x").table.read()
    out.select("ID").collect().map(_.getInt(0)).sorted shouldBe Array(2, 9)
  }

  test("system-field prefix is applied") {
    val md = fixture(prefix = "zz_")
    val e = md.getEntity(1)
    writeSlice(md, e, "s1.parquet",
      Seq((1, "alice", "950")).toDF("ID", "name", "Administration"))
    run(md, 1, "s1.parquet", T1)
    val cols = new Processing(md, e, "x").table.read().columns
    cols should contain allOf ("zz_SourceHash", "zz_deleted", "zz_lastSeen")
    cols should contain("PK_cust") // PK is not prefixed (reference contract)
  }

  // ----------------------------------------------------------------- Merge

  def mergeSlice(rows: Seq[(Int, Int, String)]): DataFrame =
    rows.toDF("ID", "SeqNr", "name")

  test("maintainEntity: compact + zorder_by re-cluster keep the table identical") {
    val md = fixture(extraEntity = """,
      { "id": 9, "name": "cust_z", "connection": "src1", "processtype": "merge",
        "settings": { "delete_missing": false, "zorder_by": "SeqNr,ID" },
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "SeqNr", "datatype": "integer" },
          { "name": "name", "datatype": "string" }
        ] }""")
    val e = md.getEntity(9)
    writeSlice(md, e, "s1.parquet",
      mergeSlice((1 to 40).map(i => (i, i * 7 % 40, s"n$i"))))
    run(md, 9, "s1.parquet", T1)
    writeSlice(md, e, "s2.parquet", mergeSlice(Seq((41, 99, "new"))))
    run(md, 9, "s2.parquet", T2)

    val table = graft.tables.ManagedTable.forLocation(spark, md.silverLocation(e))
    val before = table.read().orderBy("ID").collect()
    Runner.maintainEntity(md, e)
    // the rewrite reordered rows but changed nothing
    table.read().orderBy("ID").collect() shouldBe before
    // z-ordered files carry selective stats on the zorder_by columns, and
    // the audit history names the maintenance rewrite (zorder replaces
    // compact when zorder_by is set — one rewrite, not two)
    table.manifest.get.files.foreach(f => f.stats.keySet should contain("SeqNr"))
    table.history().map(_.operation).exists(_.startsWith("zorder")) shouldBe true
    // maintenance declares the CDC identity: table_changes / the change
    // feed stream resolve keys from this property without plumbing
    table.properties.get("graft.cdc.keys") shouldBe Some(e.primaryKeyColumnName)
    // maintenance with vacuum drops time travel but keeps the snapshot
    Runner.maintainEntity(md, e, vacuum = true)
    table.read().count() shouldBe 41L
    intercept[graft.metadata.MetadataException](table.readVersion(0))
  }

  test("maintainEntity: compact_small_bytes routes to file-granular compaction") {
    val md = fixture(extraEntity = """,
      { "id": 10, "name": "cust_s", "connection": "src1", "processtype": "merge",
        "settings": { "delete_missing": false, "compact_small_bytes": "1048576" },
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "SeqNr", "datatype": "integer" },
          { "name": "name", "datatype": "string" }
        ] }""")
    val e = md.getEntity(10)
    writeSlice(md, e, "s1.parquet",
      mergeSlice((1 to 10).map(i => (i, i, s"n$i"))))
    run(md, 10, "s1.parquet", T1)
    writeSlice(md, e, "s2.parquet", mergeSlice(Seq((11, 99, "new"))))
    run(md, 10, "s2.parquet", T2)
    // a merge over a small table rewrites it, possibly into one file (AQE
    // coalesces the tiny join shuffle it writes from); a keyed-path merge
    // of one new key then adds a second small file for the compaction
    writeSlice(md, e, "s3.parquet", mergeSlice(Seq((12, 100, "newer"))))
    spark.conf.set("spark.graft.merge.smallScopeBytes", "0")
    try run(md, 10, "s3.parquet", T3)
    finally spark.conf.unset("spark.graft.merge.smallScopeBytes")

    val table = graft.tables.ManagedTable.forLocation(spark, md.silverLocation(e))
    val before = table.read().orderBy("ID").collect()
    Runner.maintainEntity(md, e)
    table.read().orderBy("ID").collect() shouldBe before
    // head may be the one-time CDC-identity property commit; the rewrite
    // itself must be the file-granular compactSmall, never a full compact
    table.history().map(_.operation) should contain("compactSmall")
    table.history().map(_.operation) should not contain "compact"
  }

  test("maintainEntity: bloom_index setting registers the index; later writes keep it") {
    val md = fixture(extraEntity = """,
      { "id": 11, "name": "cust_b", "connection": "src1", "processtype": "merge",
        "settings": { "delete_missing": false, "bloom_index": "ID" },
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "SeqNr", "datatype": "integer" },
          { "name": "name", "datatype": "string" }
        ] }""")
    val e = md.getEntity(11)
    writeSlice(md, e, "s1.parquet",
      mergeSlice((1 to 40).map(i => (i, i, s"n$i"))))
    run(md, 11, "s1.parquet", T1)

    val table = graft.tables.ManagedTable.forLocation(spark, md.silverLocation(e))
    Runner.maintainEntity(md, e)
    table.bloomIndexes.keySet shouldBe Set("ID")

    // a post-maintenance merge's files get sidecars as part of the write;
    // the bloom-skipped lookup equals the plain filter exactly
    writeSlice(md, e, "s2.parquet", mergeSlice(Seq((41, 99, "new"))))
    run(md, 11, "s2.parquet", T2)
    table.readEquals("ID", Seq(41)).collect() shouldBe
      table.read().filter(col("ID") === 41).collect()
    // idempotent re-maintenance (index already registered)
    Runner.maintainEntity(md, e)
    table.bloomIndexes.keySet shouldBe Set("ID")
  }

  test("maintainEntity: PK bloom index by default; empty bloom_index opts out") {
    val md = fixture(extraEntity = """,
      { "id": 12, "name": "cust_d", "connection": "src1", "processtype": "merge",
        "settings": { "delete_missing": false },
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "SeqNr", "datatype": "integer" },
          { "name": "name", "datatype": "string" }
        ] },
      { "id": 13, "name": "cust_o", "connection": "src1", "processtype": "merge",
        "settings": { "delete_missing": false, "bloom_index": "" },
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "SeqNr", "datatype": "integer" },
          { "name": "name", "datatype": "string" }
        ] }""")
    // no bloom_index setting → the surrogate PK (the merge key) is indexed
    val e = md.getEntity(12)
    writeSlice(md, e, "s1.parquet",
      mergeSlice((1 to 40).map(i => (i, i, s"n$i"))))
    run(md, 12, "s1.parquet", T1)
    val table = graft.tables.ManagedTable.forLocation(spark, md.silverLocation(e))
    Runner.maintainEntity(md, e)
    table.bloomIndexes.keySet shouldBe Set(e.primaryKeyColumnName)
    // the indexed table keeps merging correctly (touch-detect data-skips
    // through the PK sidecar; content unchanged vs the unindexed path)
    writeSlice(md, e, "s2.parquet", mergeSlice(Seq((5, 99, "edit"), (41, 1, "new"))))
    val sum = run(md, 12, "s2.parquet", T2)
    sum.updated shouldBe 1
    sum.inserted shouldBe 1
    table.read().count() shouldBe 41L

    // explicitly empty setting opts out of the default
    val eo = md.getEntity(13)
    writeSlice(md, eo, "s1.parquet", mergeSlice(Seq((1, 1, "a"))))
    run(md, 13, "s1.parquet", T1)
    val to = graft.tables.ManagedTable.forLocation(spark, md.silverLocation(eo))
    Runner.maintainEntity(md, eo)
    to.bloomIndexes shouldBe empty
  }

  test("merge + historic stay correct with broadcasting switched off") {
    // Spark's own off switch: no slice broadcasts, every merge join
    // takes the shuffle path; smallScopeBytes=0 keeps the Merge entity
    // on the keyed route, whose slice join is the one that would broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.merge.smallScopeBytes", "0")
    try {
      val md = fixture()
      writeSlice(md, md.getEntity(2), "s1.parquet",
        mergeSlice(Seq((1, 1, "a"), (2, 1, "b"))))
      run(md, 2, "s1.parquet", T1)
      writeSlice(md, md.getEntity(2), "s2.parquet",
        mergeSlice(Seq((1, 5, "a2"), (3, 5, "c"))))
      val (sum, _, mergeExecs) =
        graft.PlanTrace.traced(spark)(run(md, 2, "s2.parquet", T2))
      sum.updated shouldBe 1
      sum.inserted shouldBe 1

      val eh = md.getEntity(3)
      writeSlice(md, eh, "s1.parquet", Seq((1, "a")).toDF("ID", "name"))
      run(md, 3, "s1.parquet", T1)
      writeSlice(md, eh, "s2.parquet", Seq((1, "a2"), (2, "b")).toDF("ID", "name"))
      val (_, _, histExecs) =
        graft.PlanTrace.traced(spark)(run(md, 3, "s2.parquet", T2))
      val t = new Processing(md, eh, "s2.parquet").table.read()
      t.count() shouldBe 3 // closed v1 + open v2 for ID 1, open v1 for ID 2
      graft.PlanTrace.broadcastHashJoins(mergeExecs ++ histExecs) shouldBe empty
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.graft.merge.smallScopeBytes")
    }
  }

  test("merge: first run diverts to full; then update/touch/insert") {
    val md = fixture()
    val e = md.getEntity(2)
    writeSlice(md, e, "s1.parquet",
      mergeSlice(Seq((1, 1, "a"), (2, 1, "b"), (3, 1, "c"))))
    val first = run(md, 2, "s1.parquet", T1)
    first.strategy shouldBe "merge"
    first.inserted shouldBe 3

    // 1 updated (new name ⇒ hash≠), 2 byte-identical (touch), 4 inserted;
    // 3 missing and inside the watermark window [1,2] → inferred delete
    writeSlice(md, e, "s2.parquet",
      mergeSlice(Seq((1, 2, "A"), (2, 1, "b"), (4, 2, "d"))))
    val sum = run(md, 2, "s2.parquet", T2)
    sum.inserted shouldBe 1
    sum.updated shouldBe 1
    sum.unchanged shouldBe 1
    sum.deleted shouldBe 1

    val out = new Processing(md, e, "x").table.read()
      .select("ID", "name", "deleted", "lastSeen")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getBoolean(2),
        r.getAs[java.time.LocalDateTime]("lastSeen"))).sortBy(_._1)
    out.map(t => (t._1, t._2, t._3)) shouldBe Array(
      (1, "A", false), (2, "b", false), (3, "c", true), (4, "d", false))
    val t2 = java.time.LocalDateTime.parse(T2)
    out(0)._4 shouldBe t2 // updated
    out(1)._4 shouldBe t2 // touched
  }

  test("merge: source-supplied deleted flag soft-deletes the target row") {
    val md = fixture()
    val e = md.getEntity(2)
    writeSlice(md, e, "s1.parquet", mergeSlice(Seq((1, 1, "a"), (2, 1, "b"))))
    run(md, 2, "s1.parquet", T1)
    writeSlice(md, e, "s2.parquet",
      Seq((1, 2, "a", true)).toDF("ID", "SeqNr", "name", "deleted"))
    val sum = run(md, 2, "s2.parquet", T2)
    // row 1 soft-deleted by the source flag; row 2 (missing, in window) inferred
    sum.deleted shouldBe 2
    val out = new Processing(md, e, "x").table.read()
      .filter($"ID" === 1).select("deleted").head.getBoolean(0)
    out shouldBe true
  }

  test("merge: delete inference bounded by the watermark window") {
    val md = fixture()
    val e = md.getEntity(2)
    // run 1: SeqNr 1..3 present
    writeSlice(md, e, "s1.parquet",
      mergeSlice(Seq((1, 1, "a"), (2, 2, "b"), (3, 3, "c"))))
    run(md, 2, "s1.parquet", T1)
    // run 2: window = [prev=3, cur=5]; row 2 (SeqNr=2) is OUTSIDE the window →
    // NOT delete-inferred; row 3 (SeqNr=3, in window, missing) → deleted
    writeSlice(md, e, "s2.parquet", mergeSlice(Seq((1, 5, "a2"))))
    val sum = run(md, 2, "s2.parquet", T2)
    val out = new Processing(md, e, "x").table.read()
      .select("ID", "deleted").collect()
      .map(r => (r.getInt(0), r.getBoolean(1))).sortBy(_._1)
    out shouldBe Array((1, false), (2, false), (3, true))
    sum.deleted shouldBe 1
  }

  test("merge: broken watermark expression SKIPS delete inference (safe default)") {
    // entity WITH a watermark whose expression cannot evaluate: the window
    // is None, and the safe default (reference: Merge.scala:75-83) must
    // skip the bySource clause instead of falling back to unbounded
    // snapshot deletes — a failing expression on an incremental feed must
    // never mass-soft-delete the target.
    val extra = """,
      { "id": 20, "name": "cust_wmb", "connection": "src1", "processtype": "merge",
        "settings": { "delete_missing": true },
        "watermark": [ { "column": "SeqNr",
                         "expression": "no_such_function(${last_value})" } ],
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "SeqNr", "datatype": "integer" },
          { "name": "name", "datatype": "string" }
        ] }"""
    val md = fixture(extraEntity = extra)
    val e = md.getEntity(20)
    writeSlice(md, e, "s1.parquet",
      mergeSlice(Seq((1, 1, "a"), (2, 2, "b"), (3, 3, "c"))))
    run(md, 20, "s1.parquet", T1)
    // rows 2 and 3 are absent from slice 2; with the window unavailable,
    // NO delete may be inferred and their run-1 lastSeen must survive
    writeSlice(md, e, "s2.parquet", mergeSlice(Seq((1, 5, "a2"))))
    val sum = run(md, 20, "s2.parquet", T2)
    sum.deleted shouldBe 0
    val out = new Processing(md, e, "x").table.read()
      .select("ID", "deleted", "lastSeen")
      .collect().map(r => (r.getInt(0), r.getBoolean(1),
        r.getAs[java.time.LocalDateTime]("lastSeen"))).sortBy(_._1)
    out.map(t => (t._1, t._2)) shouldBe Array((1, false), (2, false), (3, false))
    out(1)._3 shouldBe java.time.LocalDateTime.parse(T1)
    out(2)._3 shouldBe java.time.LocalDateTime.parse(T1)
  }

  test("historic: broken watermark expression SKIPS delete inference") {
    val extra = """,
      { "id": 21, "name": "hist_wmb", "connection": "src1", "processtype": "historic",
        "settings": { "delete_missing": true },
        "watermark": [ { "column": "SeqNr",
                         "expression": "no_such_function(${last_value})" } ],
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "SeqNr", "datatype": "integer" },
          { "name": "name", "datatype": "string" }
        ] }"""
    val md = fixture(extraEntity = extra)
    val e = md.getEntity(21)
    writeSlice(md, e, "s1.parquet", mergeSlice(Seq((1, 1, "a"), (2, 2, "b"))))
    run(md, 21, "s1.parquet", T1)
    // id=2 absent from slice 2: its current version must stay OPEN
    // (IsCurrent=true, not deleted, sentinel ValidTo) — no inferred close
    writeSlice(md, e, "s2.parquet", mergeSlice(Seq((1, 5, "a2"))))
    val sum = run(md, 21, "s2.parquet", T2)
    sum.deleted shouldBe 0
    val rows = new Processing(md, e, "x").table.read()
      .filter($"ID" === 2)
      .select("IsCurrent", "deleted")
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)))
    rows shouldBe Array((true, false))
  }

  test("merge: already-deleted rows are not re-deleted (guard)") {
    val md = fixture()
    val e = md.getEntity(2)
    writeSlice(md, e, "s1.parquet", mergeSlice(Seq((1, 1, "a"), (2, 1, "b"))))
    run(md, 2, "s1.parquet", T1)
    writeSlice(md, e, "s2.parquet", mergeSlice(Seq((2, 2, "b2"))))
    run(md, 2, "s2.parquet", T2).deleted shouldBe 1 // row 1 inferred-deleted
    writeSlice(md, e, "s3.parquet", mergeSlice(Seq((2, 3, "b3"))))
    run(md, 2, "s3.parquet", T3).deleted shouldBe 0 // not repeated
  }

  test("merge: missing source column fails naming the column") {
    val md = fixture()
    val e = md.getEntity(2)
    writeSlice(md, e, "s1.parquet", mergeSlice(Seq((1, 1, "a"))))
    run(md, 2, "s1.parquet", T1)
    writeSlice(md, e, "s2.parquet", Seq((1, 2)).toDF("ID", "SeqNr"))
    val ex = intercept[Exception](run(md, 2, "s2.parquet", T2))
    ex.getMessage.toLowerCase should include("name")
  }

  test("merge: extra source column tolerated (drift)") {
    val md = fixture()
    val e = md.getEntity(2)
    writeSlice(md, e, "s1.parquet", mergeSlice(Seq((1, 1, "a"))))
    run(md, 2, "s1.parquet", T1)
    writeSlice(md, e, "s2.parquet",
      Seq((1, 2, "a2", "extra")).toDF("ID", "SeqNr", "name", "note"))
    run(md, 2, "s2.parquet", T2).updated shouldBe 1
    new Processing(md, e, "x").table.read()
      .filter($"ID" === 1).select("name").head.getString(0) shouldBe "a2"
  }

  test("empty slice: merge preserves target") {
    val md = fixture()
    val e = md.getEntity(2)
    writeSlice(md, e, "s1.parquet", mergeSlice(Seq((1, 1, "a"))))
    run(md, 2, "s1.parquet", T1)
    writeSlice(md, e, "s2.parquet", mergeSlice(Nil))
    run(md, 2, "s2.parquet", T2)
    new Processing(md, e, "x").table.read().count() shouldBe 1
  }

  // -------------------------------------------------------------- Historic

  test("historic: version chain with ValidFrom/ValidTo/IsCurrent") {
    val md = fixture()
    val e = md.getEntity(3)
    writeSlice(md, e, "s1.parquet", Seq((1, "a"), (2, "b")).toDF("ID", "name"))
    run(md, 3, "s1.parquet", T1)

    writeSlice(md, e, "s2.parquet", Seq((1, "a2"), (2, "b")).toDF("ID", "name"))
    val sum = run(md, 3, "s2.parquet", T2)
    sum.updated shouldBe 1
    sum.unchanged shouldBe 1
    // identity: inserted + updated + unchanged == recordsInSlice
    (sum.inserted + sum.updated + sum.unchanged) shouldBe sum.recordsInSlice

    val out = new Processing(md, e, "x").table.read()
      .select("ID", "name", "ValidFrom", "ValidTo", "IsCurrent")
      .collect().map(r => (r.getInt(0), r.getString(1),
        r.getAs[java.time.LocalDateTime]("ValidFrom"),
        r.getAs[java.time.LocalDateTime]("ValidTo"), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3))
    out.length shouldBe 3
    val t1 = java.time.LocalDateTime.parse(T1)
    val t2 = java.time.LocalDateTime.parse(T2)
    val sentinel = java.time.LocalDateTime.parse("2999-12-31T00:00:00")
    // id=1: closed old version + open new one; temporal integrity ValidTo==next ValidFrom
    out(0) shouldBe ((1, "a", t1, t2, false))
    out(1) shouldBe ((1, "a2", t2, sentinel, true))
    out(2) shouldBe ((2, "b", t1, sentinel, true))
  }

  test("historic: small slice rewrites only touched files (untouched entries carry over)") {
    val md = fixture()
    val e = md.getEntity(3)
    writeSlice(md, e, "s1.parquet",
      (1 to 40).map(i => (i, s"n$i")).toDF("ID", "name"))
    run(md, 3, "s1.parquet", T1)

    // re-lay the silver table as 4 files so file granularity is observable
    val t = new Processing(md, e, "x").table
    t.overwriteAll(t.read().repartition(4))
    val before = t.manifest.get.files.map(_.path)
    before.size shouldBe 4

    // full snapshot slice (historic infers deletes for absent keys) with
    // ONE changed key → exactly one data file contains a row to rewrite
    writeSlice(md, e, "s2.parquet",
      (1 to 40).map(i => (i, if (i == 2) "CHANGED" else s"n$i")).toDF("ID", "name"))
    val sum = run(md, 3, "s2.parquet", T2)
    sum.updated shouldBe 1
    sum.unchanged shouldBe 39
    sum.deleted shouldBe 0

    val after = t.manifest.get.files.map(_.path)
    // at least 3 of the 4 files had no touched row and carry over verbatim
    // (delete inference may touch more files only for slice-absent keys
    // inside the configured window; entity 3 has none configured here)
    before.count(after.contains) should be >= 3
    // the SCD2 outcome is intact
    val rows = t.read().select("ID", "name", "IsCurrent").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getBoolean(2)))
    rows.count(_._1 == 2) shouldBe 2 // closed old + new current
    rows.filter(_._1 == 2).filter(_._3).head._2 shouldBe "CHANGED"
    rows.length shouldBe 41
  }

  test("historic: delete inference closes current version only") {
    val md = fixture()
    val e = md.getEntity(3)
    writeSlice(md, e, "s1.parquet", Seq((1, "a"), (2, "b")).toDF("ID", "name"))
    run(md, 3, "s1.parquet", T1)
    writeSlice(md, e, "s2.parquet", Seq((1, "a2")).toDF("ID", "name"))
    val sum = run(md, 3, "s2.parquet", T2)
    sum.deleted shouldBe 1

    val rows = new Processing(md, e, "x").table.read()
      .select("ID", "name", "IsCurrent", "deleted")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getBoolean(2), r.getBoolean(3)))
      .sortBy(t => (t._1, t._2))
    rows should contain((2, "b", false, true)) // closed + flagged
    // historic rows (IsCurrent=false) of id=1's old version not delete-flagged
    rows.filter(_._1 == 1).map(_._4).toSet shouldBe Set(false)

    // third run: id=2 still absent — no repeat delete of a non-current row
    writeSlice(md, e, "s3.parquet", Seq((1, "a3")).toDF("ID", "name"))
    run(md, 3, "s3.parquet", T3).deleted shouldBe 0
  }

  // ------------------------------------------------------------- pipeline

  test("duplicate business keys are fatal") {
    val md = fixture()
    val e = md.getEntity(1)
    writeSlice(md, e, "s1.parquet",
      Seq((1, "a", "950"), (1, "b", "950")).toDF("ID", "name", "Administration"))
    intercept[DuplicateBusinesskeyException](run(md, 1, "s1.parquet", T1))
  }

  test("calculated column failure is fatal; success adds the column") {
    val extra = """,
      { "id": 9, "name": "calc", "connection": "src1", "processtype": "full",
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "twice", "datatype": "integer", "expression": "ID * 2" }
        ] },
      { "id": 10, "name": "badcalc", "connection": "src1", "processtype": "full",
        "columns": [
          { "name": "boom", "expression": "this is not ( sql" }
        ] }"""
    val md = fixture(extraEntity = extra)
    val e = md.getEntity(9)
    writeSlice(md, e, "s1.parquet", Seq((1, "x")).toDF("ID", "name"))
    run(md, 9, "s1.parquet", T1)
    new Processing(md, e, "x").table.read()
      .select("twice").head.getInt(0) shouldBe 2

    val bad = md.getEntity(10)
    writeSlice(md, bad, "s1.parquet", Seq((1, "x")).toDF("ID", "name"))
    intercept[CalculatedColumnException](run(md, 10, "s1.parquet", T1))
  }

  test("rename + normalize + sys_* drop in the chain") {
    val extra = """,
      { "id": 11, "name": "ren", "connection": "src1", "processtype": "full",
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "first name", "newname": "firstname" }
        ] }"""
    val md = fixture(extraEntity = extra)
    val e = md.getEntity(11)
    writeSlice(md, e, "s1.parquet",
      Seq((1, "al", "junk")).toDF("ID", "first name", "sys_internal"))
    run(md, 11, "s1.parquet", T1)
    val cols = new Processing(md, e, "x").table.read().columns
    cols should contain("firstname")
    cols should not contain "sys_internal"
  }

  test("bronze catalog-table source with slice filter (S2)") {
    val extra = """,
      { "id": 12, "name": "tbl", "connection": "src1", "processtype": "full",
        "settings": { "bronze_table": "bronze_events" },
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] } ] }"""
    val md = fixture(extraEntity = extra)
    Seq((1, "a", "s1.parquet"), (2, "b", "s1.parquet"), (3, "c", "s2.parquet"))
      .toDF("ID", "name", "source_filename")
      .createOrReplaceTempView("bronze_events")
    run(md, 12, "s1.parquet", T1)
    val out = new Processing(md, md.getEntity(12), "x").table.read()
    out.select("ID").collect().map(_.getInt(0)).sorted shouldBe Array(1, 2)
    out.select("source_filename").distinct().head.getString(0) shouldBe "s1.parquet"
  }

  test("processing logs audit + summary rows when log_path is configured") {
    val root = Files.createTempDirectory("graft-logpipe").toString
    val md = Metadata.fromJson(s"""{
      "environment": { "name": "t", "timezone": "UTC", "root_folder": "$root",
        "settings": { "log_path": "$${root_folder}/system/logs" } },
      "connections": [ { "name": "src1" } ],
      "entities": [
        { "id": 1, "name": "cust", "connection": "src1", "processtype": "full",
          "columns": [ { "name": "ID", "datatype": "integer",
                         "fieldroles": ["businesskey"] } ] } ]
    }""")
    val e = md.getEntity(1)
    writeSlice(md, e, "s1.parquet", Seq((1, "a")).toDF("ID", "name"))
    run(md, 1, "s1.parquet", T1)
    val logs = spark.read.parquet(s"$root/system/logs")
    logs.filter(col("message").startsWith("processing start")).count() shouldBe 1
    logs.filter(col("message") === "processing summary").count() shouldBe 1

    // a second run over the SAME Metadata instance gets a FRESH run_id
    // (reference: DatalakeLogManager creates a run id per processing run);
    // the shared sink keeps collecting both runs' rows
    writeSlice(md, e, "s2.parquet", Seq((2, "b")).toDF("ID", "name"))
    run(md, 1, "s2.parquet", T2)
    val logs2 = spark.read.parquet(s"$root/system/logs")
    logs2.filter(col("message") === "processing summary")
      .select("run_id").distinct().count() shouldBe 2
  }

  test("runner: group processing isolates failures, parallel run works") {
    val extra = """,
      { "id": 20, "name": "g_ok", "connection": "src1", "group": "grp",
        "processtype": "full",
        "columns": [ { "name": "ID", "datatype": "integer",
                       "fieldroles": ["businesskey"] } ] },
      { "id": 21, "name": "g_bad", "connection": "src1", "group": "grp",
        "processtype": "full",
        "columns": [ { "name": "boom", "expression": "not ( sql" } ] },
      { "id": 22, "name": "g_off", "connection": "src1", "group": "grp",
        "enabled": false }"""
    val md = fixture(extraEntity = extra)
    writeSlice(md, md.getEntity(20), "s1.parquet", Seq((1, "a")).toDF("ID", "name"))
    writeSlice(md, md.getEntity(21), "s1.parquet", Seq((1, "a")).toDF("ID", "name"))

    val results = Runner.processGroup(md, "grp", "s1.parquet",
      Map("processing.time" -> T1), parallelism = 2)
    results.map(_.entityId).sorted shouldBe Seq(20, 21) // disabled excluded
    results.find(_.entityId == 20).get.result.isRight shouldBe true
    results.find(_.entityId == 21).get.result.isLeft shouldBe true
  }

  test("runner: entity completion never unpersists another scope's in-flight substrate") {
    import graft.ops.SubstrateCache
    import org.apache.spark.storage.StorageLevel
    val extra = """,
      { "id": 23, "name": "g2_a", "connection": "src1", "group": "grp2",
        "processtype": "full",
        "columns": [ { "name": "ID", "datatype": "integer",
                       "fieldroles": ["businesskey"] } ] },
      { "id": 24, "name": "g2_b", "connection": "src1", "group": "grp2",
        "processtype": "full",
        "columns": [ { "name": "ID", "datatype": "integer",
                       "fieldroles": ["businesskey"] } ] }"""
    val md = fixture(extraEntity = extra)
    writeSlice(md, md.getEntity(23), "s1.parquet", Seq((1, "a")).toDF("ID", "name"))
    writeSlice(md, md.getEntity(24), "s1.parquet", Seq((2, "b")).toDF("ID", "name"))

    // order-independence: earlier suites in the shared session may have
    // left session-registered substrates (ops register session-wide when
    // unscoped); this test asserts on the COUNT, so start from zero
    graft.ops.SubstrateCache.release(spark)
    // an unrelated concurrent operator holds a scoped substrate (the
    // in-flight accelerator of a THIRD entity, in Runner.parallelism
    // terms) across the whole parallel run
    val ((outsider, _), h) = SubstrateCache.scoped {
      val s = SubstrateCache.persist(Seq((9, "z")).toDF("ID", "name"))
      (s, s.count())
    }
    outsider.storageLevel should not be StorageLevel.NONE

    // each entity runs in its own scope and releases it on completion —
    // none of those releases may touch the outsider's substrate
    val results = Runner.processGroup(md, "grp2", "s1.parquet",
      Map("processing.time" -> T1), parallelism = 2)
    results.forall(_.result.isRight) shouldBe true
    outsider.storageLevel should not be StorageLevel.NONE // still cached
    SubstrateCache.registered(spark) shouldBe 0 // nothing leaked session-wide
    h.release()
    h.size shouldBe 0
  }

  test("historic with partition columns rewrites only touched partitions") {
    val extra = """,
      { "id": 30, "name": "hp", "connection": "src1", "processtype": "historic",
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "name", "datatype": "string" },
          { "name": "Adm", "datatype": "string", "fieldroles": ["partition"] } ] }"""
    val md = fixture(extraEntity = extra)
    val e = md.getEntity(30)
    writeSlice(md, e, "s1.parquet",
      Seq((1, "a", "950"), (2, "b", "951")).toDF("ID", "name", "Adm"))
    run(md, 30, "s1.parquet", T1)
    val filesBefore = new Processing(md, e, "x").table.manifest.get.files
      .filter(_.partitionValues.get("Adm").contains("951"))

    // slice only touches partition 950; 951's history must stay intact
    writeSlice(md, e, "s2.parquet", Seq((1, "a2", "950")).toDF("ID", "name", "Adm"))
    val sum = run(md, 30, "s2.parquet", T2)
    sum.updated shouldBe 1

    val t = new Processing(md, e, "x").table
    // untouched partition: same physical files
    t.manifest.get.files.filter(_.partitionValues.get("Adm").contains("951")) shouldBe
      filesBefore
    val rows = t.read().select("ID", "name", "IsCurrent")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getBoolean(2))).sortBy(t => (t._1, t._2))
    rows shouldBe Array((1, "a", false), (1, "a2", true), (2, "b", true))
  }

  test("entity without businesskey: no PK column, full load works") {
    val extra = """,
      { "id": 31, "name": "nopk", "connection": "src1", "processtype": "full",
        "columns": [ { "name": "v", "datatype": "string" } ] }"""
    val md = fixture(extraEntity = extra)
    val e = md.getEntity(31)
    writeSlice(md, e, "s1.parquet", Seq((1, "x"), (2, "y")).toDF("ID", "v"))
    val sum = run(md, 31, "s1.parquet", T1)
    sum.inserted shouldBe 2
    val cols = new Processing(md, e, "x").table.read().columns
    cols should not contain "PK_nopk"
    cols should contain("SourceHash")
  }

  test("cluster_by setting sorts rows within written files") {
    val extra = """,
      { "id": 32, "name": "clu", "connection": "src1", "processtype": "full",
        "settings": { "cluster_by": "seq" },
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "seq", "datatype": "integer" } ] }"""
    val md = fixture(extraEntity = extra)
    val e = md.getEntity(32)
    val shuffled = scala.util.Random.shuffle((1 to 500).toList)
      .map(i => (i, i)).toDF("ID", "seq").repartition(2)
    writeSlice(md, e, "s1.parquet", shuffled)
    run(md, 32, "s1.parquet", T1)
    val t = new Processing(md, e, "x").table
    // every physical file individually sorted by seq
    t.manifest.get.files.foreach { f =>
      val vals = spark.read.parquet(s"${t.rootPath}/${f.path}")
        .select("seq").collect().map(_.getInt(0))
      vals.toSeq shouldBe vals.sorted.toSeq
    }
  }

  // ------------------------------------------------------------ watermarks

  test("pk column name is normalized for special-character destinations") {
    // an un-normalized "PK_dbo.customers" would diverge from the column
    // the normalize step actually writes, silently skipping the dup guard
    val extra = """,
      { "id": 50, "name": "dotted", "destination": "dbo.customers",
        "connection": "src1", "processtype": "merge",
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "name", "datatype": "string" } ] }"""
    val md = fixture(extraEntity = extra)
    val e = md.getEntity(50)
    e.primaryKeyColumnName shouldBe "PK_dbocustomers"
    writeSlice(md, e, "s1.parquet", Seq((1, "a"), (2, "b")).toDF("ID", "name"))
    run(md, 50, "s1.parquet", T1)
    val out = new Processing(md, e, "x").table.read()
    out.columns should contain("PK_dbocustomers")
    // and the dup guard actually fires on the normalized column
    writeSlice(md, e, "s2.parquet", Seq((3, "x"), (3, "y")).toDF("ID", "name"))
    intercept[DuplicateBusinesskeyException](run(md, 50, "s2.parquet", T2))
  }

  test("reference Scala-dialect watermark expressions run unchanged " +
      "(migration shim): every documented WATERMARKS.md pattern") {
    val md = fixture()
    val ws = new WatermarkStore(spark, md.environment.systemPath)
    def ev(expr: String, last: String): Option[String] =
      ws.evaluateExpression(WatermarkDef("c", expression = expr), last)

    // docs/processing/WATERMARKS.md "Simple Last Value"
    ev("'${last_value}'", "2024-01-10") shouldBe Some("2024-01-10")
    // "Date Arithmetic": 7 days before the last value
    ev("LocalDate.parse('${last_value}').minusDays(7).toString()",
      "2024-01-10") shouldBe Some("2024-01-03")
    ev("LocalDate.parse('${last_value}').plusDays(3).toString()",
      "2024-01-10") shouldBe Some("2024-01-13")
    // chained calendar arithmetic
    ev("LocalDate.parse('${last_value}').minusMonths(1).plusDays(1).toString()",
      "2024-03-31") shouldBe Some("2024-03-01")
    // "Epoch Day Calculation"
    val days = java.time.LocalDate.now().toEpochDay -
      java.time.LocalDate.of(1900, 1, 1).toEpochDay
    ev("${b19_epoch_day} - 1", "x") shouldBe Some((days - 1).toString)
    // "Formatted Date": parse with the reference defaultFormat
    // (yyyy-MM-dd HH:mm:ss.S), reformat as ISO date
    ev("LocalDateTime.parse('${last_value}', defaultFormat)" +
        ".format(DateTimeFormatter.ISO_LOCAL_DATE)",
      "2024-01-10 10:30:00.0") shouldBe Some("2024-01-10")
    // explicit ofPattern passthrough + interval arithmetic
    ev("LocalDateTime.parse('${last_value}', defaultFormat).minusDays(2)" +
        """.format(DateTimeFormatter.ofPattern("yyyy/MM/dd"))""",
      "2024-01-10 10:30:00.0") shouldBe Some("2024/01/08")
    // an untranslatable Scala expression still fails to None (and warns)
    ev("new java.util.Date().toString()", "x") shouldBe None
    // a bad VALUE under a translated expression also fails to None
    ev("LocalDate.parse('${last_value}').minusDays(7).toString()",
      "not-a-date") shouldBe None
  }

  test("watermark values with backslashes survive SQL embedding") {
    val md = fixture()
    val ws = new WatermarkStore(spark, md.environment.systemPath)
    // a trailing backslash would escape the closing quote of the
    // generated literal without the double-escape
    ws.evaluateExpression(WatermarkDef("c"), "C:\\data\\") shouldBe Some("C:\\data\\")
    ws.evaluateExpression(WatermarkDef("c"), "a\\d") shouldBe Some("a\\d")
  }

  test("watermark store: write, latest wins, reset sentinel, expression eval") {
    val md = fixture()
    val ws = new WatermarkStore(spark, md.environment.systemPath)
    ws.write(2, Seq(WatermarkDef("SeqNr") -> Some("5")), "2024-01-10 10:00:00.000")
    ws.write(2, Seq(WatermarkDef("SeqNr") -> Some("9")), "2024-01-11 10:00:00.000")
    ws.lastValue(2, "SeqNr") shouldBe Some("9")
    ws.reset(2, "SeqNr", "2024-01-12 10:00:00.000")
    ws.lastValue(2, "SeqNr") shouldBe None

    // default expression: identity over the stored value
    ws.evaluateExpression(WatermarkDef("c"), "42") shouldBe Some("42")
    // SQL rewrite of the stored value (reference's date-buffer use case)
    ws.evaluateExpression(
      WatermarkDef("c", expression = "date_sub(CAST('${last_value}' AS DATE), 7)"),
      "2024-01-10") shouldBe Some("2024-01-03")
    // invalid expression → None (skip), reference Watermark.scala:44-53
    ws.evaluateExpression(
      WatermarkDef("c", expression = "not ( valid sql"), "x") shouldBe None
  }

  test("epoch-day bindings and multi-column watermark windows") {
    val md = fixture()
    val ws = new WatermarkStore(spark, md.environment.systemPath)
    // ${b19_epoch_day} / ${reflex_now}: days since 1900-01-01 (reference
    // Watermark.scala:78-94); expression arithmetic over the binding
    val days = java.time.LocalDate.now().toEpochDay -
      java.time.LocalDate.of(1900, 1, 1).toEpochDay
    ws.evaluateExpression(
      WatermarkDef("c", expression = "${b19_epoch_day} - 1"),
      "ignored") shouldBe Some((days - 1).toString)

    // two watermark columns → conjunction of two inclusive windows
    val extra = """,
      { "id": 40, "name": "mw", "connection": "src1", "processtype": "merge",
        "settings": { "delete_missing": true },
        "watermark": [ { "column": "SeqNr" }, { "column": "Rev" } ],
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "SeqNr", "datatype": "integer" },
          { "name": "Rev", "datatype": "integer" },
          { "name": "name", "datatype": "string" } ] }"""
    val md2 = fixture(extraEntity = extra)
    val e = md2.getEntity(40)
    writeSlice(md2, e, "s1.parquet",
      Seq((1, 1, 10, "a"), (2, 2, 20, "b"), (3, 3, 30, "c"))
        .toDF("ID", "SeqNr", "Rev", "name"))
    run(md2, 40, "s1.parquet", T1)
    // window: SeqNr in [3,5] AND Rev in [30,50] — row 3 (3,30) inside →
    // deleted; rows 1,2 outside on both columns → kept
    writeSlice(md2, e, "s2.parquet",
      Seq((4, 5, 50, "d")).toDF("ID", "SeqNr", "Rev", "name"))
    val sum = run(md2, 40, "s2.parquet", T2)
    sum.deleted shouldBe 1
    new Processing(md2, e, "x").table.read()
      .filter($"deleted").select("ID").collect().map(_.getInt(0)) shouldBe Array(3)
  }

  test("watermark rows persist the observed source type") {
    // the system-table contract stores the JVM type of the observed value
    // (reference: WatermarkData.scala:35-40), not a hardcoded String
    val md = fixture()
    val e = md.getEntity(2) // watermark on SeqNr, cast to integer by metadata
    writeSlice(md, e, "s1.parquet", mergeSlice(Seq((1, 7, "a"))))
    run(md, 2, "s1.parquet", T1)
    val row = graft.tables.ManagedTable(spark, s"${md.environment.systemPath}/watermark")
      .read().filter(col("entity_id") === 2 && col("column_name") === "SeqNr")
      .select("source_type", "value").head
    row.getString(0) shouldBe "java.lang.Integer"
    row.getString(1) shouldBe "7"
    WatermarkStore.jvmTypeName(
      org.apache.spark.sql.types.TimestampNTZType) shouldBe "java.time.LocalDateTime"
  }

  test("empty slice does NOT destroy the stored watermark") {
    val md = fixture()
    val e = md.getEntity(2)
    writeSlice(md, e, "s1.parquet", mergeSlice(Seq((1, 7, "a"))))
    run(md, 2, "s1.parquet", T1)
    val ws = new WatermarkStore(spark, md.environment.systemPath)
    ws.lastValue(2, "SeqNr") shouldBe Some("7")
    // empty increment: bookmark must survive (an unintended reset would
    // unbound the next run's delete inference)
    writeSlice(md, e, "s2.parquet", mergeSlice(Nil))
    run(md, 2, "s2.parquet", T2)
    ws.lastValue(2, "SeqNr") shouldBe Some("7")
  }

  test("watermark log auto-compacts: file count stays bounded, latest wins") {
    val md = fixture()
    val ws = new WatermarkStore(spark, md.environment.systemPath)
    (1 to WatermarkStore.CompactEvery + 2).foreach { i =>
      ws.write(9, Seq(WatermarkDef("Seq") -> Some(i.toString)),
        f"2024-01-10 10:00:${i % 60}%02d.000")
    }
    val table = graft.tables.ManagedTable(
      spark, s"${md.environment.systemPath}/watermark")
    // without folding this would be CompactEvery+2 files (one per run)
    table.manifest.get.files.size should be < WatermarkStore.CompactEvery
    ws.lastValue(9, "Seq") shouldBe Some((WatermarkStore.CompactEvery + 2).toString)
  }

  test("watermark on a renamed column resolves through the rename") {
    val extra = """,
      { "id": 41, "name": "wmren", "connection": "src1", "processtype": "merge",
        "watermark": [ { "column": "Modified Date" } ],
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "Modified Date", "newname": "modified_dt",
            "datatype": "integer" } ] }"""
    val md = fixture(extraEntity = extra)
    val e = md.getEntity(41)
    writeSlice(md, e, "s1.parquet",
      Seq((1, 5)).toDF("ID", "Modified Date"))
    run(md, 41, "s1.parquet", T1)
    new WatermarkStore(spark, md.environment.systemPath)
      .lastValue(41, "Modified Date") shouldBe Some("5")
  }

  test("parallel runner: concurrent watermark commits do not lose rows") {
    val extra = """,
      { "id": 50, "name": "pa", "connection": "src1", "group": "pgrp",
        "processtype": "merge", "watermark": [ { "column": "SeqNr" } ],
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "SeqNr", "datatype": "integer" } ] },
      { "id": 51, "name": "pb", "connection": "src1", "group": "pgrp",
        "processtype": "merge", "watermark": [ { "column": "SeqNr" } ],
        "columns": [
          { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
          { "name": "SeqNr", "datatype": "integer" } ] }"""
    val md = fixture(extraEntity = extra)
    Seq(50, 51).foreach { id =>
      writeSlice(md, md.getEntity(id), "s1.parquet",
        Seq((1, id)).toDF("ID", "SeqNr"))
    }
    val results = Runner.processGroup(md, "pgrp", "s1.parquet",
      Map("processing.time" -> T1), parallelism = 2)
    results.forall(_.result.isRight) shouldBe true
    val ws = new WatermarkStore(spark, md.environment.systemPath)
    ws.lastValue(50, "SeqNr") shouldBe Some("50")
    ws.lastValue(51, "SeqNr") shouldBe Some("51")
  }

  test("watermark persisted per run and drives the next window") {
    val md = fixture()
    val e = md.getEntity(2)
    writeSlice(md, e, "s1.parquet", mergeSlice(Seq((1, 3, "a"))))
    run(md, 2, "s1.parquet", T1)
    val ws = new WatermarkStore(spark, md.environment.systemPath)
    ws.lastValue(2, "SeqNr") shouldBe Some("3")
    writeSlice(md, e, "s2.parquet", mergeSlice(Seq((1, 7, "a2"))))
    run(md, 2, "s2.parquet", T2)
    ws.lastValue(2, "SeqNr") shouldBe Some("7")
  }
}
