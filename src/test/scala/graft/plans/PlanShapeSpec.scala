package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Plan-SHAPE regression tests: the properties that decide whether a
  * query survives a 100× scale-up, asserted on the physical plan so a
  * refactor that silently de-optimizes (drops a broadcast, introduces a
  * cartesian product, breaks codegen, un-prunes a scan) fails here even
  * though results stay correct. */
class PlanShapeSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }

  import spark.implicits._

  private def docs = (0L until 60L).map { i =>
    val fam = i / 3
    (i, (0 until 12).map(w => s"w${fam}_$w").mkString(" "))
  }.toDF("doc_id", "text")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("minhash near-dup pairs: banded join, never a cartesian product") {
    val p = plan(graft.ops.TextOps.minHashNearDupPairs(docs, "doc_id", "text"))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the self-join hashes on the band key
    p should include("Join")
  }

  test("minhash substrate is one narrow pass: no window, no posexplode, " +
      "no exchange under the cached sketch relation") {
    val df = graft.ops.TextOps.minHashNearDupPairs(docs, "doc_id", "text")
    val cached = df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder.cachedPlan.toString
    }.distinct
    cached should have size 1
    val substrate = cached.head
    substrate should include("graft_minhash_sketch")
    substrate should not include "Window"
    substrate should not include "posexplode"
    substrate should not include "Exchange"
    // the sketch is computed once per row: the drop-empty filter sits
    // above the Generate, not pushed below it as a second evaluation
    "graft_minhash_sketch\\(".r.findAllIn(substrate).size shouldBe 1
  }

  test("dedup index probe: batch side broadcasts, corpus side never " +
      "shuffles into the band join") {
    val root = java.nio.file.Files.createTempDirectory("graft-psidx").toString
    val idx = graft.ops.DedupIndex.create(spark,
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", s"$root/i")
    val probe = idx.nearDupPairs(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    val p = plan(probe)
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("vector similarity runs as a codegen expression inside " +
      "whole-stage codegen, not a UDF") {
    // a real scan (local relations constant-fold away entirely)
    val dir = java.nio.file.Files.createTempDirectory("graft-psv").toString
    (0 until 50).map(i => (i.toLong, Array.fill(8)(i / 50.0)))
      .toDF("id", "v").write.parquet(s"$dir/v")
    val df = spark.read.parquet(s"$dir/v")
      .withColumn("c", expr("graft_cosine(v, v)"))
    df.collect() // finalize the (adaptive) physical plan
    val phys = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case x => x
    }
    // `*(n)` prefixes mark operators fused into a whole-stage-codegen
    // stage in the compact plan rendering
    phys.toString should include("*(1) Project")
    phys.toString should not include "BatchEvalPython"
  }

  test("partial aggregation (map-side combine) is present on a big groupBy") {
    val df = (0L until 1000L).map(i => (i % 7, i)).toDF("k", "x")
      .groupBy("k").agg(sum("x"))
    // partial + final pair: two HashAggregates around the exchange
    "HashAggregate".r.findAllIn(plan(df)).size should be >= 2
  }

  test("managed-table partition filter prunes files BEFORE the scan is " +
      "planned (driver-side manifest prune, not row filtering)") {
    val root = java.nio.file.Files.createTempDirectory("graft-pspr").toString
    val t = graft.tables.ManagedTable(spark, s"$root/t")
    t.overwriteAll((0L until 40L).map(i => (i, (i % 4).toString))
      .toDF("id", "part"), Seq("part"))
    val filtered = spark.read.format("graft").load(s"$root/t")
      .filter(col("part") === "1")
    // files of other partitions never enter the scan: the relation's
    // pushdown path selects entries by manifest partition values, so the
    // scan's input size is a quarter of the table
    val scanned = filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    t.manifest.get.files.filter(_.partitionValues("part") != "1")
      .foreach(f => scanned should not include f.path.split('/').last)
    filtered.count() shouldBe 10
  }

  test("one read path: every table-data relation is a manifest scan — " +
      "plain, converted, shallow clone of converted, deletion vectors") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
    val root = java.nio.file.Files.createTempDirectory("graft-ps1r").toString
    val plain = graft.tables.ManagedTable(spark, s"$root/plain")
    plain.overwriteAll((0L until 20L).map(i => (i, (i % 2).toString))
      .toDF("id", "part"), Seq("part"))
    (0L until 20L).map(i => (i, (i % 2).toString)).toDF("id", "part")
      .write.partitionBy("part").parquet(s"$root/hive")
    val converted = graft.tables.ManagedTable(spark, s"$root/hive")
    converted.convertInPlace()
    val clone = converted.shallowCloneTo(s"$root/clone")
    val dv = graft.tables.ManagedTable(spark, s"$root/dv")
    dv.overwriteAll((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1))
    spark.conf.set("spark.graft.dv.enabled", "true")
    try dv.delete("id < 10") finally spark.conf.unset("spark.graft.dv.enabled")
    dv.manifest.get.files.exists(_.dv.isDefined) shouldBe true

    def relations(t: graft.tables.ManagedTable): Seq[HadoopFsRelation] =
      t.read().queryExecution.analyzed.collect {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
      }
    def isManifestScan(r: HadoopFsRelation): Boolean =
      r.location.getClass.getName
        .startsWith("org.apache.spark.sql.GraftManifestScan$")
    Seq(plain, converted, clone, dv).foreach { t =>
      val rels = relations(t)
      // a DV table's anti-join also scans its deletion-vector sidecars:
      // table metadata under _graft/_dv, not table data
      val (sidecars, data) = rels.partition(
        _.inputFiles.forall(_.contains("/_graft/_dv/")))
      data should not be empty
      data.foreach { r =>
        withClue(s"${t.rootPath}: ${r.location.getClass.getName}") {
          isManifestScan(r) shouldBe true
          r.location should not be an[InMemoryFileIndex]
        }
      }
      if (t eq dv) sidecars should not be empty else sidecars shouldBe empty
    }
    // the clone's borrowed files take their partition values from the
    // manifest inside the scan relation — no lookup join
    clone.read().queryExecution.analyzed.collect { case j: Join => j } shouldBe
      empty
    clone.read().count() shouldBe 20L
  }

  test("substring excision: gram winners via hash aggregate, every join " +
      "an equi join — never a cartesian product") {
    val p = plan(graft.ops.TextOps.dedupSubstrings(docs, "doc_id", "text"))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // cross-document comparison is an aggregate on the gram hash, with a
    // map-side partial before the exchange
    "HashAggregate".r.findAllIn(p).size should be >= 2
  }

  test("dsir: the bucket weight table broadcasts onto the per-doc counts " +
      "(corpus never shuffles against a vocab-scale side)") {
    val raw = docs.filter(col("doc_id") % 3 =!= 0)
    val tgt = docs.filter(col("doc_id") % 3 === 0)
    val p = plan(graft.ops.TextOps.dsirWeights(raw, tgt, "doc_id", "text"))
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("dsirScores (the 100-TB surface) plans NO global rank window: the " +
      "only windows are per-doc bigram adjacency, hash-partitioned") {
    val raw = docs.filter(col("doc_id") % 3 =!= 0)
    val tgt = docs.filter(col("doc_id") % 3 === 0)
    val p = plan(graft.ops.TextOps.dsirScores(raw, tgt, "doc_id", "text",
      minLogwMicro = Some(0L)))
    // dsirWeights' global rank is a row_number over an unpartitioned
    // window — a single-partition sort of the whole corpus; the rank-free
    // surface must never plan one
    p should not include "row_number"
    // every Window node present must carry a partition spec (the per-doc
    // lead() for bigrams); an empty PartitionBy would read "Window [...], [ts..." with
    // no partition column list between the function and the sort spec
    val windows = "Window \\[[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(p).toList
    windows.foreach(w => w should include("__id"))
    // and the ranked surface DOES (pinning that the two differ where claimed)
    val ranked = plan(graft.ops.TextOps.dsirWeights(raw, tgt, "doc_id", "text"))
    ranked should include("row_number")
  }

  test("lm perplexity: model joins are EQUI joins (never cartesian " +
      "against the corpus-scale count tables); windows are per-doc only") {
    val raw = docs.filter(col("doc_id") % 3 =!= 0)
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val p = plan(graft.ops.TextOps.lmPerplexityScores(raw, ref,
      "doc_id", "text"))
    p should not include "CartesianProduct"
    p should not include "row_number"
    // the only permitted non-equi join is the 1-row vocabulary-size
    // scalar broadcast; bigram/context model joins must stay equi
    "BroadcastNestedLoopJoin".r.findAllIn(p).size should be <= 1
    // every window carries the per-doc partition spec
    val windows = "Window \\[[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(p).toList
    windows should not be empty
    windows.foreach(w => w should include("__id"))
    graft.ops.SubstrateCache.release(spark)
  }

  test("classifier inference: the bounded weight table broadcasts onto " +
      "token-level feature rows — one aggregate, no corpus-scale shuffle join") {
    val weights = spark.range(graft.ops.TextOps.DsirBuckets.toLong)
      .select(col("id").as("bucket"), lit(0L).as("w_micro"))
    val p = plan(graft.ops.TextOps.classifierScores(docs, weights,
      "doc_id", "text"))
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    graft.ops.SubstrateCache.release(spark)
  }

  test("pack materialize: one shard-keyed window shuffle + one (shard, " +
      "bin) aggregate — no global sort, no cartesian") {
    val withIds = docs.select(col("doc_id"),
      transform(graft.ops.TextOps.tokens(col("text")),
        w => pmod(graft.ops.TextOps.portableHash(w), lit(32768L)).cast("int"))
        .as("ids"))
    val p = plan(graft.ops.TextOps.packMaterialize(withIds, "doc_id", "ids",
      512L, 8, 0))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the window partitions on the shard key — never an empty (global)
    // partition spec
    val windows = "Window \\[[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(p).toList
    windows should not be empty
    windows.foreach(w => w should include("shard"))
  }

  test("gopher rules plan ZERO exchanges — pure per-row codegen column " +
      "algebra (the filter to run before anything that pays a shuffle)") {
    // parquet-backed input: a local Seq constant-folds into a
    // LocalTableScan, which would vacuously pass the no-Exchange claim
    // and vacuously fail the codegen one
    val pq = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.ops.TextOps.gopherQualityRules(pq, "doc_id", "text"))
    p should not include "Exchange"
    p should include("*(1)") // the whole operator is ONE codegen stage
  }

  test("gopher LINE rules plan ZERO exchanges — per-row array algebra " +
      "like the document-shape rules") {
    val pq = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.ops.TextOps.gopherLineRules(pq, "doc_id", "text"))
    p should not include "Exchange"
  }

  test("gopher repetition rules: every exchange hash-partitions on the " +
      "doc id (+ gram) — nothing corpus-pairwise, no global sort") {
    val pq = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.ops.TextOps.gopherRepetitionRules(pq, "doc_id", "text"))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // all shuffles are keyed by the doc id (alone or with gram/n) — the
    // plan scales with documents, never with document pairs
    val parts = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    parts should not be empty
    parts.foreach(keys => keys should include("__id"))
    graft.ops.SubstrateCache.release(spark)
  }

  test("c4 rules plan ZERO exchanges — per-row array algebra") {
    val pq = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.ops.TextOps.c4QualityRules(pq, "doc_id", "text"))
    p should not include "Exchange"
  }

  test("novelty: cross-document comparison through a hash aggregate and " +
      "equi joins only — never a cartesian product") {
    val p = plan(graft.ops.TextOps.noveltyScores(docs, "doc_id", "text"))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    "HashAggregate".r.findAllIn(p).size should be >= 2
  }

  test("metadata-only count answers from the manifest with no file scan") {
    val s2 = {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftSparkExtensions)
        .getOrCreate()
    }
    import s2.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-psct").toString
    val t = graft.tables.ManagedTable(s2, s"$root/t")
    t.overwriteAll((0L until 100L).map(i => (i, s"r$i")).toDF("id", "v"))
    val cnt = s2.read.format("graft").load(s"$root/t").groupBy().count()
    // the optimizer rule collapses the scan to a LocalRelation
    plan(cnt) should not include "FileScan"
    cnt.head.getLong(0) shouldBe 100L
  }
}
