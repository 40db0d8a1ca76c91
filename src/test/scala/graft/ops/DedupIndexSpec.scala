package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Persistent MinHash/LSH dedup index: bit-for-bit parity with the
  * in-memory cross-corpus operator, incremental append, and the
  * bucket-partitioned layout that makes both index reads prunable. */
class DedupIndexSpec extends AnyFunSuite with Matchers {

  implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  /** Deterministic corpus with planted near-dups: doc 3k repeats doc
    * 3k+1's text with one word changed, so band collisions are certain;
    * other docs are word-disjoint. */
  private def docs = {
    val rows = (0L until 30L).map { i =>
      val fam = i / 3
      val words = (0 until 12).map(w => s"w${fam}_$w")
      val text =
        if (i % 3 == 2) (words.dropRight(1) :+ s"alt$i").mkString(" ")
        else words.mkString(" ")
      (i, text)
    }
    rows.toDF("doc_id", "text")
  }

  private def freshRoot(name: String): String = {
    val root = s"/tmp/graft_test/dedupindex_$name"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    root
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("in_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSeq

  test("index search reproduces crossCorpusNearDupPairs bit-for-bit") {
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val expected = canon(
      TextOps.crossCorpusNearDupPairs(batch, corpus, "doc_id", "text"))
    expected should not be empty // the fixture must actually collide
    val idx = DedupIndex.create(spark, corpus, "doc_id", "text",
      freshRoot("parity"))
    canon(idx.nearDupPairs(batch, "doc_id", "text")) shouldBe expected
  }

  test("append extends the corpus without re-signing it") {
    val first = docs.filter(col("doc_id") < 15 && col("doc_id") % 10 =!= 0)
    val second = docs.filter(col("doc_id") >= 15 && col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val idx = DedupIndex.create(spark, first, "doc_id", "text",
      freshRoot("append"))
    idx.append(second, "doc_id", "text")
    val expected = canon(TextOps.crossCorpusNearDupPairs(
      batch, first.unionAll(second), "doc_id", "text"))
    canon(idx.nearDupPairs(batch, "doc_id", "text")) shouldBe expected
    // engine-written commits record row counts → metadata-only size
    idx.indexedDocs shouldBe defined
  }

  test("bucket partitioning is real: tables partition by bkt/sbkt") {
    val idx = DedupIndex.create(spark,
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
      freshRoot("layout"))
    idx.bandsTable.manifest.get.partitionColumns shouldBe Seq("bkt")
    idx.sigsTable.manifest.get.partitionColumns shouldBe Seq("sbkt")
    // every file carries its bucket in the manifest — the prune substrate
    idx.bandsTable.manifest.get.files.foreach(
      _.partitionValues.keySet shouldBe Set("bkt"))
    // a one-doc batch hits a strict subset of band buckets
    val one = docs.filter(col("doc_id") === 1L)
    val oneBkts = DedupIndex.flatBands(
      TextOps.minHashSignatures(one, "doc_id", "text"),
      DedupIndex.DefaultBuckets)
      .select("bkt").distinct().collect().map(_.getString(0)).toSet
    val allBkts = idx.bandsTable.manifest.get.files
      .flatMap(_.partitionValues.get("bkt")).toSet
    oneBkts.size should be < DedupIndex.DefaultBuckets
    // the pruned read only touches matching buckets' files
    val pruned = idx.bandsTable.readPartitionsIn(Map("bkt" -> oneBkts))
    pruned.select("bkt").distinct().collect().map(_.getString(0))
      .toSet.subsetOf(oneBkts) shouldBe true
    allBkts should not be empty
  }

  test("backfill path: past the broadcast bound the probe degrades to " +
      "shuffle joins with identical results and intact bucket pruning") {
    val idx = DedupIndex.create(spark, docs, "doc_id", "text",
      freshRoot("backfill"))
    // re-id'd copies of planted corpus texts: guaranteed matches
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 1000)
    // reference run with the probe joins broadcast
    val (expect, _, hinted) = graft.PlanTrace.traced(spark)(
      canon(idx.nearDupPairs(batch, "doc_id", "text")))
    expect should not be empty
    graft.PlanTrace.broadcastHashJoins(hinted) should not be empty
    // drop the reference run's persisted substrates: a cache lookup
    // ignores hints, so the forced run would reuse their broadcast plans
    SubstrateCache.release(spark)
    // Spark's own off switch: EVERY probe join → shuffle backfill path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (df, _, execs) = graft.PlanTrace.traced(spark) {
        val df = idx.nearDupPairs(batch, "doc_id", "text")
        canon(df) shouldBe expect
        df
      }
      graft.PlanTrace.broadcastHashJoins(execs) shouldBe empty
      // the driver-side manifest prune is independent of join strategy:
      // the bands scan must still touch ONLY the batch's buckets
      val batchBkts = DedupIndex.flatBands(
        TextOps.minHashSignatures(batch, "doc_id", "text"),
        DedupIndex.DefaultBuckets)
        .select("bkt").distinct().collect().map(_.getString(0)).toSet
      batchBkts.size should be < DedupIndex.DefaultBuckets
      // inputFiles reads the OPTIMIZED plan, where the probe's persisted
      // candidate subtree is already an InMemoryRelation hiding the band
      // scan — walk the analyzed plan's file relations instead
      val scanned = df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.inputFiles.toSeq
            case _ => Seq.empty[String]
          }
      }.flatten
      val bandFiles = scanned.filter(_.contains("/bands/"))
      bandFiles should not be empty
      val touched = bandFiles.flatMap(f =>
        "__gp_bkt=([^/]+)".r.findFirstMatchIn(f).map(_.group(1))).toSet
      withClue(s"touched=$touched batch=$batchBkts\n") {
        touched.subsetOf(batchBkts) shouldBe true
      }
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("no collisions: a disjoint batch yields zero pairs and empty-prune safety") {
    val corpus = docs.filter(col("doc_id") < 6)
    val idx = DedupIndex.create(spark, corpus, "doc_id", "text",
      freshRoot("disjoint"))
    val alien = Seq((100L, "zz1 zz2 zz3 zz4 zz5 zz6")).toDF("doc_id", "text")
    idx.nearDupPairs(alien, "doc_id", "text").count() shouldBe 0L
  }

  test("dedupStream batch step: corpus dups dropped, in-batch groups keep " +
      "the canonical member, survivors land in dest AND index, replay is " +
      "a no-op") {
    val base = freshRoot("stream")
    val idxRoot = s"$base/idx"
    val destRoot = s"$base/dest"
    val text = (0 until 12).map(w => s"c0_$w").mkString(" ")
    val corpus = Seq((1L, text)).toDF("doc_id", "text")
    val idx = DedupIndex.create(spark, corpus, "doc_id", "text", idxRoot)
    val appId = DedupIndex.streamAppId(destRoot, idxRoot)

    // batch 0: 100 duplicates the indexed doc (dropped); 101/102 are an
    // in-batch identical pair (canonical 101 kept, 102 dropped); 103 fresh
    val other = (0 until 12).map(w => s"f_$w").mkString(" ")
    val b0 = Seq(
      (100L, text), (101L, other), (102L, other),
      (103L, (0 until 12).map(w => s"g_$w").mkString(" "))
    ).toDF("doc_id", "text")
    idx.processDedupBatch(b0, "doc_id", "text", destRoot, appId, 0L, 0.5)

    val dest = graft.tables.ManagedTable(spark, destRoot)
    dest.read().select("doc_id").collect().map(_.getLong(0)).sorted shouldBe
      Array(101L, 103L)
    // the survivors are INDEXED: a later batch repeating 101's text dedups
    val b1 = Seq((200L, other)).toDF("doc_id", "text")
    idx.processDedupBatch(b1, "doc_id", "text", destRoot, appId, 1L, 0.5)
    dest.read().count() shouldBe 2 // 200 was a dup of now-indexed 101

    // exactly-once: replaying both batches appends nothing anywhere
    val (dv, bv, sv) = (dest.currentVersion, idx.bandsTable.currentVersion,
      idx.sigsTable.currentVersion)
    idx.processDedupBatch(b0, "doc_id", "text", destRoot, appId, 0L, 0.5)
    idx.processDedupBatch(b1, "doc_id", "text", destRoot, appId, 1L, 0.5)
    dest.currentVersion shouldBe dv
    idx.bandsTable.currentVersion shouldBe bv
    idx.sigsTable.currentVersion shouldBe sv
    dest.read().count() shouldBe 2
  }

  test("streaming ingest file count stays bounded across 24 micro-batches " +
      "(auto-compaction cadence on dest, bands, and sigs)") {
    val base = freshRoot("compact")
    val idxRoot = s"$base/idx"
    val destRoot = s"$base/dest"
    val idx = DedupIndex.create(spark,
      Seq((0L, (0 until 12).map(w => s"seed_$w").mkString(" ")))
        .toDF("doc_id", "text"), "doc_id", "text", idxRoot, buckets = 2)
    val appId = DedupIndex.streamAppId(destRoot, idxRoot)
    // every index file is tiny, so classify generously and fold early
    spark.conf.set("spark.graft.autoCompact.smallBytes", (1L << 20).toString)
    spark.conf.set("spark.graft.autoCompact.minSmallFiles", "4")
    try {
      (1 to 24).foreach { b =>
        val batch = Seq((100L * b,
          (0 until 12).map(w => s"b${b}_$w").mkString(" ")))
          .toDF("doc_id", "text")
        idx.processDedupBatch(batch, "doc_id", "text", destRoot, appId,
          b.toLong, 0.5)
      }
      val dest = graft.tables.ManagedTable(spark, destRoot)
      // without compaction: ~24 files in dest and ~24 per bucket table;
      // the cadence folds each table back whenever 4+ small files
      // accumulate, so steady state stays under one fold window
      val destFiles = dest.manifest.get.files.size
      val bandFiles = idx.bandsTable.manifest.get.files.size
      val sigFiles = idx.sigsTable.manifest.get.files.size
      withClue(s"dest=$destFiles bands=$bandFiles sigs=$sigFiles\n") {
        destFiles should be <= 6
        bandFiles should be <= 12  // ≤ fold window × buckets(2) + carry
        sigFiles should be <= 12
      }
      // correctness is untouched: all 24 unique docs present, dedup works
      dest.read().count() shouldBe 24L
      val rep = Seq((9999L, (0 until 12).map(w => s"b7_$w").mkString(" ")))
        .toDF("doc_id", "text")
      idx.processDedupBatch(rep, "doc_id", "text", destRoot, appId, 25L, 0.5)
      dest.read().count() shouldBe 24L // dup of batch 7's doc: dropped
    } finally {
      spark.conf.unset("spark.graft.autoCompact.smallBytes")
      spark.conf.unset("spark.graft.autoCompact.minSmallFiles")
    }
  }

  test("dedupStream end-to-end: a real streaming query over a file " +
      "source dedups continuously into a fresh index") {
    val base = freshRoot("stream_e2e")
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    val text = (0 until 12).map(w => s"s0_$w").mkString(" ")
    def land(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Paths.get(inDir, s".tmp-$name")
      java.nio.file.Files.write(tmp, rows.map { case (i, t) =>
        s"""{"doc_id":$i,"text":"$t"}""" }.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(inDir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    land("a.json", Seq((1L, text), (2L, text)))          // in-batch pair
    val idx = DedupIndex(spark, s"$base/idx")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .json(inDir)
    val q = idx.dedupStream(stream, "doc_id", "text", s"$base/dest",
      s"$base/cp", trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      land("b.json", Seq((3L, text)))                    // dup of indexed 1
      land("c.json", Seq((4L, "q1 q2 q3 q4 q5 q6 q7")))  // fresh
      q.processAllAvailable()
      graft.tables.ManagedTable(spark, s"$base/dest").read()
        .select("doc_id").collect().map(_.getLong(0)).sorted shouldBe
        Array(1L, 4L)
    } finally q.stop()
  }
}
