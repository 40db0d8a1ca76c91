package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Library-level behavior of the training-data operators (the SQL-oracle
  * queries verify engine parity; these verify semantics and the ANN
  * quality bound). */
class OpsSpec extends AnyFunSuite with Matchers {

  implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = TextOps.exactDupGroups(
      docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z")), "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    out shouldBe Array((1L, 2L), (3L, 1L))
  }

  test("minhash LSH finds near-identical docs, skips unrelated ones") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again"
    val near2 = "the quick brown fox jumps over the lazy dog again and once"
    val far = "completely different content about spark catalyst optimizer internals"
    val pairs = TextOps.minHashNearDupPairs(
      docs((1L, near1), (2L, near2), (3L, far)), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
    pairs should not contain ((2L, 3L))
  }

  test("cross-corpus near-dups pair batch-vs-corpus only, never corpus-vs-corpus") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again"
    val near2 = "the quick brown fox jumps over the lazy dog again and once"
    val near3 = "the quick brown fox jumps over the lazy dog again and again"
    val far = "completely different content about spark catalyst optimizer internals"
    val incoming = docs((1L, near1))
    val corpus = docs((2L, near2), (3L, far), (4L, near3))
    val out = TextOps.crossCorpusNearDupPairs(incoming, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the incoming doc matches both of its corpus near-dups…
    out should contain((1L, 2L))
    out should contain((1L, 4L))
    // …but corpus-internal near-dups (2,4) are never re-paired, and the
    // unrelated doc never appears
    out.map(_._1).toSet shouldBe Set(1L)
    out.map(_._2) should not contain 3L
    // exact-duplicate pair carries Jaccard 1 (inter == uni)
    val j14 = TextOps.crossCorpusNearDupPairs(incoming, corpus, "doc_id", "text")
      .filter(col("corpus_id") === 4).select("inter", "uni").head()
    j14.getInt(0) shouldBe j14.getInt(1)
  }

  test("cross-corpus dedup against a STORED signature index matches direct") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again"
    val near2 = "the quick brown fox jumps over the lazy dog again and once"
    val far = "completely different content about spark catalyst optimizer internals"
    val incoming = docs((1L, near1))
    val corpus = docs((2L, near2), (3L, far))
    val direct = TextOps.crossCorpusNearDupPairs(incoming, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).sorted
    // steady-state shape: corpus signed once, index persisted to parquet,
    // each batch signs only itself
    val dir = java.nio.file.Files.createTempDirectory("graft-sigidx").toString
    TextOps.minHashSignatures(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val viaIndex = TextOps.crossCorpusNearDupPairsWith(
      TextOps.minHashSignatures(incoming, "doc_id", "text"),
      spark.read.parquet(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).sorted
    viaIndex shouldBe direct
    viaIndex.length should be > 0
  }

  test("cluster assignments: nearest centroid wins, sizes partition the corpus") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), // the codebook rows
      (10L, Array(0.9f, 0.1f)), (11L, Array(0.8f, 0.05f)),
      (12L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val codebook = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("cid"),
        SimilarityOps.asDouble(col("embedding")).as("centv"))
    val out = SimilarityOps.clusterAssignments(vecs, codebook, "vec_id", "embedding")
    val rows = out.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    rows(10L)._1 shouldBe 0L
    rows(11L)._1 shouldBe 0L
    rows(12L)._1 shouldBe 1L
    rows(0L) shouldBe (0L, 3L)  // itself + 10 + 11
    rows(1L) shouldBe (1L, 2L)  // itself + 12
    // sizes partition the corpus exactly
    out.select(sum(lit(1))).head.getLong(0) shouldBe 5L
    // assignment stays a linear min_by partial aggregate — no n×k window sort
    val plan = out.queryExecution.executedPlan.toString
    plan should include("partial_min_by")
  }

  test("simhash: identical docs share a signature; different docs differ") {
    val out = TextOps.simHashSignatures(
      docs((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
        (3L, "epsilon zeta eta theta iota kappa")), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(1L) shouldBe out(2L)
    out(1L) should not be out(3L)
  }

  test("ANN (sign-LSH) recall vs brute force is usable") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val brute = SimilarityOps.bruteForceTopK(q, e, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ann = SimilarityOps.lshTopK(q, e, "vec_id", "embedding", 64, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall@3 over 20 queries with 6 tables × 4 bits: each table keeps
    // ~1/16 of the corpus, so this is a genuine quality bar
    val recall = brute.count(ann.contains).toDouble / brute.length
    recall should be >= 0.4
    // every returned neighbor must share the query's bucket (by construction)
    ann.size should be > 0
  }

  test("IVF ANN recall vs brute force is usable") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val brute = SimilarityOps.bruteForceTopK(q, e, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ivf = SimilarityOps.ivfTopK(q, e, "vec_id", "embedding",
      nCentroids = 16, nProbe = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing 4/16 cells scans ~25% of the corpus
    val recall = brute.count(ivf.contains).toDouble / brute.length
    recall should be >= 0.4
  }

  test("PQ/ADC: exact on codebook vectors, approximate cosine close elsewhere") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cb = SimilarityOps.pqCodebook(e, "vec_id", "embedding", 64, 4, 16)
    val codes = SimilarityOps.pqEncode(e, cb, "vec_id", "embedding", 64, 4)

    // a vector that IS a codebook vector reconstructs as itself (each of
    // its subvectors is its own nearest sub-centroid), so its approx
    // cosine equals the exact cosine up to summation association
    val q = e.filter(col("vec_id") < 5)
    val pq = SimilarityOps.pqTopK(q,
        codes.filter(col("vec_id") < 16), // search the codebook members only
        cb, "vec_id", "embedding", 64, 4, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val exact = SimilarityOps.bruteForceTopK(q, e.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    pq.size should be > 10
    pq.foreach { case (key, a) => a shouldBe exact(key) +- 1e-9 }
  }

  test("PQ/ADC ranking correlates with brute force (compressed-domain recall)") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val cb = SimilarityOps.pqCodebook(e, "vec_id", "embedding", 64, 4, 16)
    val codes = SimilarityOps.pqEncode(e, cb, "vec_id", "embedding", 64, 4)
    val brute = SimilarityOps.bruteForceTopK(q, e, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pq = SimilarityOps.pqTopK(q, codes, cb, "vec_id", "embedding", 64, 4, k = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 16-entry codebooks on uniform-random 64-d vectors quantize coarsely —
    // the bar is that compressed-domain ranking tracks true ranking, not
    // that it replaces exact rerank (production reranks PQ shortlists)
    val recall = brute.count(pq.contains).toDouble / brute.length
    recall should be >= 0.3
  }

  test("IVF-PQ: probe-limited candidates scored in the compressed domain") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val out = SimilarityOps.ivfPqTopK(q, e, "vec_id", "embedding",
      dims = 64, m = 4, nCentroids = 16, nProbe = 4, ksub = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out.length shouldBe 10 * 5 // full k per query (probes cover ≫ k vectors)
    // every result must come from the query's probed cells: rescoring the
    // same pairs through plain ADC over unrestricted codes is a superset
    val cb = SimilarityOps.pqCodebook(e, "vec_id", "embedding", 64, 4, 16)
    val codes = SimilarityOps.pqEncode(e, cb, "vec_id", "embedding", 64, 4)
    val full = SimilarityOps.pqTopK(q, codes, cb, "vec_id", "embedding",
        64, 4, k = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out.count(full.contains).toDouble / out.length should be >= 0.9
  }

  test("trained PQ codebooks do not degrade compressed-domain recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val brute = SimilarityOps.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def recallOf(cb: org.apache.spark.sql.DataFrame): Double = {
      val codes = SimilarityOps.pqEncode(e, cb, "vec_id", "embedding", 64, 4)
      val got = SimilarityOps.pqTopK(q, codes, cb, "vec_id", "embedding",
          64, 4, k = 25)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      brute.count(got.contains).toDouble / brute.length
    }
    val seeded = recallOf(
      SimilarityOps.pqCodebook(e, "vec_id", "embedding", 64, 4, 16))
    val trained = recallOf(SimilarityOps.pqCodebookTrained(
      e, "vec_id", "embedding", 64, 4, ksub = 16, iters = 3))
    trained should be >= seeded - 0.05 // training must not hurt (usually helps)
  }

  test("k-means codebook training raises the spherical objective; trained IVF works") {
    import graft.ops.SimilarityOps
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      emb.select(col("vec_id"), SimilarityOps.asDouble(col("embedding")).as("v"))
        .crossJoin(broadcast(cents))
        .withColumn("c", expr("graft_cosine(v, centv)"))
        .groupBy("vec_id").agg(max("c").as("m"))
        .agg(sum("m")).head.getDouble(0)
    val seed = SimilarityOps.kMeansCodebook(emb, "vec_id", "embedding", k = 8, iters = 0)
    val one = SimilarityOps.kMeansCodebook(emb, "vec_id", "embedding", k = 8, iters = 1)
    val two = SimilarityOps.kMeansCodebook(emb, "vec_id", "embedding", k = 8, iters = 2)
    val (o0, o1, o2) = (objective(seed), objective(one), objective(two))
    // Lloyd rounds of spherical k-means never decrease the objective
    o1 should be >= o0 - 1e-9
    o2 should be >= o1 - 1e-9
    o2 should be > o0 // and the fit genuinely moved off the raw seed

    val out = SimilarityOps.ivfTopKWith(
      emb.filter(col("vec_id") < 10), emb, two, "vec_id", "embedding",
      nProbe = 3, k = 5)
    out.groupBy("query_id").count().collect().foreach(_.getLong(1) should be <= 5L)
    out.count() should be > 0L
  }

  test("brute-force kNN ranks the nearest vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)), // ~cos 0.995 with q0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    out.map(_.getLong(1)).toSeq shouldBe Seq(1L, 2L)
    out.head.getDouble(3) should be > 0.9
  }

  test("tf-idf: rare distinctive terms outrank ubiquitous ones") {
    val out = TextOps.tfIdfTopTerms(docs(
      (1L, "common zebra zebra"),
      (2L, "common other words"),
      (3L, "common filler stuff")), "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'common' has the highest tf in every doc but df = 3 kills it;
    // the doc-specific term wins
    out(1L) shouldBe "zebra"
    out(2L) should not be "common"
    out(3L) should not be "common"
  }

  test("language ID picks the language with most stopword hits") {
    val out = docs(
      (1L, "the cat is in the house and it is warm"),
      (2L, "der hund ist ein tier und das ist gut"))
      .select(col("doc_id"), TextOps.langGuess(TextOps.tokens(col("text"))).as("g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "en"
    out(2L) shouldBe "de"
  }

  test("multimodal: pack → decode stub → features keeps schema and determinism") {
    val recs = MultimodalOps.pack(
      docs((1L, "hello world payload"), (2L, "another doc")), "doc_id", "text")
    val collected = recs.collect().sortBy(_.id)
    collected.map(_.id).toSeq shouldBe Seq(1L, 2L)
    collected.head.meta.nBytes shouldBe "hello world payload".getBytes.length.toLong
    collected.head.meta.contentSha should have length 64
    collected.head.meta.width should (be >= 0 and be < 1920)

    val feats = MultimodalOps.extractFeatures(recs).collect().sortBy(_.id)
    feats.head.features should have length 8
    // deterministic: same input → same features
    val feats2 = MultimodalOps.extractFeatures(recs).collect().sortBy(_.id)
    feats.head.features.toSeq shouldBe feats2.head.features.toSeq

    val meta = MultimodalOps.metadataOnly(recs)
    meta.columns.toSeq shouldBe
      Seq("id", "mediaType", "nBytes", "contentSha", "width", "height")

    val frames = MultimodalOps.sampleFrames(recs, stride = 1).collect()
    frames.map(_._1).distinct.sorted.toSeq shouldBe Seq(1L, 2L)
  }

  test("multimodal: an injected decoder replaces the stub without touching the plumbing") {
    // a "real" decoder stand-in: fixed media type, per-partition open()
    // observed via a driver-side accumulator (the once-per-partition
    // contract a native-lib decoder depends on)
    val opens = spark.sparkContext.longAccumulator("decoder-opens")
    object FakeDecoder extends MultimodalOps.MediaDecoder {
      override def open(): Unit = opens.add(1)
      override def decode(payload: Array[Byte]): MultimodalOps.MediaMeta =
        MultimodalOps.MediaMeta("image", payload.length.toLong, "fake", 640, 480)
      override def features(payload: Array[Byte], dims: Int): Array[Float] =
        Array.fill(dims)(payload.length.toFloat)
    }

    val d = docs((1L, "abc"), (2L, "defgh")).repartition(2)
    val recs = MultimodalOps.pack(d, "doc_id", "text", FakeDecoder)
    val collected = recs.collect().sortBy(_.id)
    collected.map(_.meta.mediaType).distinct.toSeq shouldBe Seq("image")
    collected.map(_.meta.contentSha).distinct.toSeq shouldBe Seq("fake")
    collected.find(_.id == 1L).get.meta.nBytes shouldBe 3L
    opens.value.toInt should be >= 1 // open() ran (once per non-empty partition)

    val feats = MultimodalOps.extractFeatures(recs, FakeDecoder)
      .collect().sortBy(_.id)
    feats.find(_.id == 2L).get.features.toSeq shouldBe Seq.fill(8)(5.0f)

    // default path (no decoder argument) still runs the stub, unchanged
    val stubRecs = MultimodalOps.pack(d, "doc_id", "text").collect().sortBy(_.id)
    stubRecs.head.meta.contentSha should have length 64
  }

  test("multimodal: JvmMediaDecoder really decodes PNG and WAV (no external libs)") {
    import spark.implicits._
    // a 32x16 PNG, left half black / right half white — real pixels
    val img = new java.awt.image.BufferedImage(32, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 32; y <- 0 until 16)
      img.setRGB(x, y, if (x < 16) 0x000000 else 0xffffff)
    val pngOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pngOut)
    val png = pngOut.toByteArray

    // a 8kHz mono 16-bit WAV, first half silence / second half full-scale
    val pcm = new Array[Byte](8000 * 2)
    for (i <- 4000 until 8000) { // square wave at amplitude 0.5
      val v: Short = if (i % 2 == 0) 16384 else -16384
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val wavOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 8000),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavOut)
    val wav = wavOut.toByteArray

    val garbage = Array.tabulate[Byte](100)(i => (i * 7).toByte)

    val recs = MultimodalOps.packBinary(
      Seq((1L, png), (2L, wav), (3L, garbage)).toDF("id", "payload"),
      "id", "payload", JvmMediaDecoder).collect().sortBy(_.id)
    // image: decoded pixel dimensions
    recs(0).meta.mediaType shouldBe "image"
    recs(0).meta.width shouldBe 32
    recs(0).meta.height shouldBe 16
    // audio: sample rate + channels in the two dimension slots
    recs(1).meta.mediaType shouldBe "audio"
    recs(1).meta.width shouldBe 8000
    recs(1).meta.height shouldBe 1
    // unknown bytes stay usable, not fatal
    recs(2).meta.mediaType shouldBe "binary"
    recs(2).meta.width shouldBe 0

    // content-dependent features: dark bands ~0, light bands ~1
    val f = JvmMediaDecoder.features(png, 8)
    all(f.take(4).toSeq) should be < 0.05f
    all(f.drop(4).toSeq) should be > 0.95f
    // audio RMS: silent first half ~0, square second half ~0.5
    val a = JvmMediaDecoder.features(wav, 8)
    all(a.take(4).toSeq) should be < 0.01f
    all(a.drop(4).toSeq) should be > 0.45f

    // and through the distributed feature pipeline
    val recsDs = MultimodalOps.packBinary(
      Seq((1L, png), (2L, wav)).toDF("id", "payload"),
      "id", "payload", JvmMediaDecoder)
    val feats = MultimodalOps.extractFeatures(recsDs, JvmMediaDecoder)
      .collect().sortBy(_.id)
    feats(0).features.toSeq shouldBe f.toSeq
    feats(1).features.toSeq shouldBe a.toSeq
  }

  test("multimodal byte-budget repartitioning evens out decode tasks") {
    val recs = MultimodalOps.pack(
      docs((1L, "x" * 100), (2L, "y" * 100), (3L, "z" * 100)), "doc_id", "text")
    val rebal = MultimodalOps.repartitionByBytes(recs, targetBytesPerPartition = 150)
    rebal.rdd.getNumPartitions shouldBe 2 // 300 bytes / 150 per task
    rebal.collect().map(_.id).sorted.toSeq shouldBe Seq(1L, 2L, 3L)
  }

  test("deterministic split is stable and roughly proportioned") {
    val df = (1L to 1000L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val a = df.select(TextOps.splitAssignment(col("doc_id")).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    a("train") should (be > 700L and be < 900L)
    a("val") should (be > 50L and be < 150L)
    // stable: same assignment on recompute
    val row = df.filter(col("doc_id") === 42)
      .select(TextOps.splitAssignment(col("doc_id"))).head.getString(0)
    val row2 = df.filter(col("doc_id") === 42)
      .select(TextOps.splitAssignment(col("doc_id"))).head.getString(0)
    row shouldBe row2
  }

  test("as-of join picks the latest right row at or before each left time") {
    import graft.ops.AsOfJoin
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 15L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100), (1L, 18L, 180), (2L, 99L, 990))
      .toDF("k", "rt", "price")
    val out = AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("price"))
      .collect().map(r => (r.getString(2), if (r.isNullAt(3)) -1 else r.getInt(3)))
      .toMap
    out("a") shouldBe 100 // inclusive: right@10 visible to left@10
    out("b") shouldBe 180 // latest ≤ 20
    out("c") shouldBe -1  // nothing at or before 5
    out("d") shouldBe -1  // key 2's only right row is later
  }

  test("as-of join with tolerance nulls stale carries, keeps fresh ones") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-10 10:$m%02d:00")
    val left = Seq((1L, ts(10)), (1L, ts(40)), (2L, ts(10)))
      .toDF("user_id", "ts")
    val right = Seq((1L, ts(5), 100L)) // user 2 has no reference at all
      .toDF("user_id", "ts", "ref")
    val out = AsOfJoin.asOfWithin(left, right, "user_id", "ts", "ts",
        Seq("ref"), tolerance = "10 minutes")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(x => (x._1, x._2.getTime))
    out shouldBe Array(
      (1L, ts(10), Some(100L)), // 5 min old: within tolerance
      (1L, ts(40), None),       // 35 min old: stale, nulled
      (2L, ts(10), None))       // no match at all
  }

  test("as-of join: null keys/times never match (SQL join semantics)") {
    import graft.ops.AsOfJoin
    val left = Seq((Some(1L), Some(10L), "a"), (None, Some(10L), "nullkey"),
      (Some(1L), None, "nulltime")).toDF("k", "t", "tag")
    val right = Seq((Some(1L), Some(5L), 50), (Some(1L), None, 999),
      (None, Some(1L), 888)).toDF("k", "rt", "price")
    val out = AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("price"))
      .collect().map(r => (r.getString(2), if (r.isNullAt(3)) -1 else r.getInt(3)))
      .toMap
    out("a") shouldBe 50        // normal match; null-time right row ignored
    out("nullkey") shouldBe -1  // null key matches nothing
    out("nulltime") shouldBe -1 // null time matches nothing
  }

  test("as-of join rejects reserved working names and output collisions") {
    import graft.ops.AsOfJoin
    val left = Seq((1L, 10L, "a")).toDF("k", "t", "tag")
    val right = Seq((1L, 5L, 50)).toDF("k", "rt", "price")
    // reserved internal name on either side
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(left.withColumnRenamed("tag", "__key"),
        right, "k", "t", "rt", Seq("price"))
    }.getMessage should include("__key")
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(left, right.withColumnRenamed("price", "__r"),
        "k", "t", "rt", Seq("__r"))
    }.getMessage should include("__r")
    // left already carries the asof_<col> output name → wrong carries
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(left.withColumn("asof_price", lit(0)),
        right, "k", "t", "rt", Seq("price"))
    }.getMessage should include("asof_price")
  }

  test("connected components throw when the iteration cap precludes convergence") {
    import graft.ops.GraphOps
    // a 12-node chain has diameter 11; 3 min-label rounds cannot converge —
    // silently returning the partial labels would mislabel components
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      GraphOps.connectedComponents(chain, "a", "b", maxIters = 3)
    }.getMessage should include("converge")
    // with the cap lifted the same chain resolves to one component
    val ok = GraphOps.connectedComponents(chain, "a", "b")
      .select("component").distinct().collect()
    ok.map(_.getLong(0)) shouldBe Array(0L)
  }

  test("contamination scores: overlap fraction against a benchmark set") {
    import graft.ops.TextOps
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),   // identical to benchmark doc
      (2L, "the quick brown dog sleeps"),  // partial overlap
      (3L, "completely different words entirely here"), // disjoint
      (4L, "single")                       // < 2 tokens → no shingles
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val out = TextOps.contaminationScores(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out(1L) shouldBe ((4L, 4L, 1.0))  // all 4 bigrams contaminated
    out(2L)._1 shouldBe 4L
    out(2L)._2 shouldBe 2L            // "the_quick", "quick_brown"
    out(2L)._3 shouldBe 0.5
    out(3L) shouldBe ((4L, 0L, 0.0))
    out(4L) shouldBe ((0L, 0L, 0.0))  // shingle-less doc still reported
  }

  test("sequence packing: bins never start past the budget, all docs placed") {
    import graft.ops.TextOps
    val docs = (1L to 300L)
      .map(i => (i, Seq.fill((i % 37 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = TextOps.packSequences(docs, "doc_id", "text",
      maxTokens = 100L, shards = 4)
    packed.count() shouldBe 300 // every doc assigned exactly once
    // a bin's exclusive-prefix start is < budget by construction; verify
    // the consequence: per (shard, bin), tokens minus the overflowing last
    // doc fit the budget (overflow is bounded by one document)
    val bins = packed.groupBy("shard", "bin")
      .agg(sum("n_tokens").as("t"), max("n_tokens").as("m"))
      .collect()
    all(bins.map(r => r.getLong(2) - r.getLong(3))) should be < 100L
    // determinism: identical assignment on a different input partitioning
    val again = TextOps.packSequences(docs.repartition(7), "doc_id", "text",
      maxTokens = 100L, shards = 4)
      .select("doc_id", "bin").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    again shouldBe packed.select("doc_id", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    // null text still receives a real (shard, bin) assignment, at 0 tokens
    val withNull = TextOps.packSequences(
      Seq((1L, Some("a b c")), (2L, None)).toDF("doc_id", "text"),
      "doc_id", "text", maxTokens = 10L, shards = 2)
      .collect().map(r => (r.getLong(0), r.isNullAt(1) || r.isNullAt(3), r.getLong(2)))
    withNull.foreach(_._2 shouldBe false)
    withNull.find(_._1 == 2L).get._3 shouldBe 0L // null text → 0 tokens
  }

  test("repetition metrics flag duplicated content") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "spam spam spam spam spam"),       // 4 bigrams, 1 distinct
      (2L, "all words here are different"),   // 4 bigrams, 4 distinct
      (3L, "x")                                // no bigrams
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionMetrics(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out(1L) shouldBe ((4L, 1L, 0.75))
    out(2L) shouldBe ((4L, 4L, 0.0))
    out(3L) shouldBe ((0L, 0L, 0.0))
  }

  test("IVF corpus assignment is an aggregate, not a per-vector window sort") {
    import graft.ops.SimilarityOps
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = SimilarityOps.ivfTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
        nCentroids = 16, nProbe = 4, k = 3)
      .queryExecution.executedPlan.toString
    // scale contract: the n×nCentroids corpus-assignment rows are FOLDED
    // by a partial min_by aggregate (one row per vector crosses the
    // shuffle), never ranked by a row_number window
    plan should include("partial_min_by")
  }

  test("stratified sample: partial rank-limit pushdown bounds reducer input") {
    import graft.ops.TextOps
    // heavy skew: one mega-stratum, two tiny ones, input split many ways
    val rows = (1L to 5000L).map(i =>
      (i, if (i <= 4900) "big" else if (i <= 4950) "mid" else "small"))
    val df = rows.toDF("doc_id", "src").repartition(16)
    val sampled = TextOps.stratifiedSample(df, "doc_id", "src", 25)
    sampled.count() shouldBe 25 + 25 + 25
    // scale contract: the row_number <= k filter must reach a PARTIAL
    // WindowGroupLimit below the shuffle, so a mega-stratum ships at most
    // k rows per input split instead of its whole data to one reducer
    val plan = sampled.queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
    plan should include("Partial")
    // determinism: same rows on a different input partitioning
    val again = TextOps.stratifiedSample(df.repartition(3), "doc_id", "src", 25)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    again shouldBe sampled.select("doc_id").collect().map(_.getLong(0)).sorted
  }

  test("bucketed range join equals the naive range join") {
    import graft.ops.RangeJoin
    val points = Seq.tabulate(200)(i => (i.toLong, i * 0.7)).toDF("pid", "x")
    val intervals = Seq((1L, 10.0, 25.0), (2L, 24.9, 30.0), (3L, 140.0, 200.0))
      .toDF("iid", "lo", "hi")
    val naive = points.join(intervals,
        col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val bucketed = RangeJoin.pointInInterval(points, intervals, "x", "lo", "hi", 7.0)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    bucketed shouldBe naive
    naive.length should be > 0
  }

  test("HLL sketch distinct counts land within rsd of exact (scale path)") {
    // approx_count_distinct is the constant-memory path for cardinality at
    // 100 TB (exact distinct shuffles every value); assert the error bound
    // holds on real data. No oracle: Spark's HLL++ and DuckDB's HLL differ.
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val exact = li.select(countDistinct("l_orderkey")).head().getLong(0)
    val approx = li.select(approx_count_distinct("l_orderkey", 0.02))
      .head().getLong(0)
    math.abs(approx - exact).toDouble / exact should be < 0.05
  }

  test("fingerprint is order-sensitive") {
    val out = TextOps.fingerprints(
      docs((1L, "a b c"), (2L, "c b a")), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(1L) should not be out(2L)
  }

  test("connected components merge chains across edges") {
    // 1-2, 2-3, 3-4 is one component (diameter 3 forces >1 propagation
    // round); 10-11 a second; 20-21, 21-20 (reverse dup) a third
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 20L)).toDF("x", "y")
    val comp = GraphOps.connectedComponents(edges, "x", "y")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    comp shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
  }

  test("iterative ops retain at most their final checkpoint — no per-round cache leak") {
    // a long chain forces many propagation rounds; each superseded
    // round's localCheckpoint must be unpersisted as the next one
    // materializes (regression guard: the leak inflated long benchmark
    // sessions via block-manager eviction churn)
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("x", "y")
    GraphOps.connectedComponents(chain, "x", "y").count() shouldBe 20L
    val afterCc = spark.sparkContext.getPersistentRDDs.size
    (afterCc - before) should be <= 1 // only the returned labels frame
    val e = (0L until 32L).map(i =>
      (i, Array.tabulate(4)(d => if (d == (i % 4).toInt) 1.0f else 0.01f)))
      .toDF("vec_id", "embedding")
    SimilarityOps.kMeansCodebook(e, "vec_id", "embedding", k = 4, iters = 5)
      .count() should be > 0L
    val afterKm = spark.sparkContext.getPersistentRDDs.size
    (afterKm - afterCc) should be <= 1 // only the final centroids
  }

  test("connected components converge in O(log diameter) rounds — " +
      "pointer jumping lock on a long chain") {
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    sc.setJobGroup("graft-cc-chain", "cc chain round lock")
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("x", "y")
    val out =
      try GraphOps.connectedComponents(chain, "x", "y")
      finally {
        sc.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
      }
    out.collect().map(_.getLong(1)).toSet shouldBe Set(1L)
    // plain min-propagation needs ~63 rounds here; jumping halves label
    // chains every round, so ~log2(63)+constant — lock well under the
    // linear count (measured: 9 jobs = 8 rounds + the final collect)
    val jobs = sc.statusTracker.getJobIdsForGroup("graft-cc-chain").length
    jobs should be <= 12
  }

  test("connected components: empty edge list yields empty result") {
    val empty = Seq.empty[(Long, Long)].toDF("x", "y")
    GraphOps.connectedComponents(empty, "x", "y").count() shouldBe 0L
  }

  test("connected components run ONE spark job per propagation round — " +
      "convergence fused into the aggregate, no init or emptiness actions") {
    val sc = spark.sparkContext
    // path 0-1-2-3: init (fused) labels {0:0,1:0,2:1,3:2}; round 1 fixes
    // 2 and 3 partially, round 2 fixes 3, round 3 observes zero changes —
    // 3 round actions, each ONE job with AQE off. The edge-frame
    // materialization runs before them, deliberately with AQE ON so the
    // upstream pair pipeline keeps coalescing/skew handling (the r16
    // lesson: lazily materializing it inside the AQE-off window regressed
    // q_td_dedup_best 3.6→12.6 s); AQE wraps its query stages in jobs of
    // their own, so it is counted apart from the rounds. The rounds carry
    // GraphOps.RoundJobDescription, which tells the two kinds apart.
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("x", "y")
    // AQE stays ON here: connectedComponents owns the toggle (AQE-on
    // ROUNDS would wrap each round's query stages in extra jobs —
    // measured 18→7 jobs on q_td_dedup_groups) and must restore the
    // session's setting on exit
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).foreach { p =>
          p.getProperty("spark.jobGroup.id") match {
            case "graft-cc-jobcount" =>
              descs.add(String.valueOf(p.getProperty("spark.job.description")))
            case "graft-cc-drained" => drained.countDown()
            case _ => ()
          }
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("graft-cc-jobcount", "cc per-round job-count lock")
    val out =
      try {
        val cc = GraphOps.connectedComponents(path, "x", "y")
        // the caller's job description survives the labelled rounds
        sc.getLocalProperty("spark.job.description") shouldBe
          "cc per-round job-count lock"
        cc
      } finally sc.clearJobGroup()
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    // the listener bus delivers in order but asynchronously: once a marker
    // job started after the call is seen, every job of the call has been
    try {
      sc.setJobGroup("graft-cc-drained", "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      drained.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val jobs = descs.asScala.toSeq
    val rounds = jobs.count(_.startsWith(GraphOps.RoundJobDescription))
    val materialize = jobs.count(_ == "cc per-round job-count lock")
    withClue(s"job descriptions: ${jobs.sorted.mkString(" | ")}\n") {
      rounds shouldBe 3
      // AQE runs the count as: the repartition's shuffle stage, the cache
      // build, the count's shuffle stage, the result stage — one job each
      materialize shouldBe 4
      jobs.size shouldBe rounds + materialize
    }
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L)
  }

  test("dedup groups mark exactly one canonical doc per group") {
    val edges = Seq((5L, 9L), (9L, 7L), (30L, 31L)).toDF("id_a", "id_b")
    val g = GraphOps.dedupGroups(edges, "id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    g.toSet shouldBe Set((5L, 5L, true), (7L, 5L, false), (9L, 5L, false),
      (30L, 30L, true), (31L, 30L, false))
    g.groupBy(_._2).values.foreach(grp => grp.count(_._3) shouldBe 1)
  }

  test("semantic dedup: first-wins within clusters, cross-cluster twins survive") {
    import graft.ops.SimilarityOps
    // two well-separated clusters on orthogonal axes: ids 1/2/3 are
    // near-identical on axis x (only the lowest id survives), 10/11 the
    // same on axis y — dedup never compares across the two clusters
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f)),  // ≈ id 1 → dropped (1 < 2)
      (3L, Array(0.998f, 0.02f)),  // ≈ ids 1,2 → dropped
      (10L, Array(0.0f, 1.0f)),
      (11L, Array(0.01f, 0.999f))  // ≈ id 10 → dropped
    ).toDF("vec_id", "embedding")
    val codebook = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
      .toDF("cid", "centv")
    val out = SimilarityOps
      .semanticDedup(vecs, codebook, "vec_id", "embedding", threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    out shouldBe Map(1L -> true, 2L -> false, 3L -> false,
      10L -> true, 11L -> false)
  }

  test("paragraph dedup: keep-first across docs, reassembly, empty survivors") {
    val d = Seq(
      (1L, "alpha\n\nbeta"),   // both first occurrences → unchanged
      (2L, "beta\n\ngamma"),   // beta seen in doc 1 → only gamma survives
      (3L, "alpha\n\nbeta"),   // everything seen → reduces to empty string
      (4L, "gamma\n\ndelta")   // gamma seen in doc 2 → only delta survives
    ).toDF("doc_id", "text")
    val out = TextOps.dedupParagraphs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    out shouldBe Map(
      1L -> "alpha\n\nbeta",
      2L -> "gamma",
      3L -> "",               // row kept, text emptied — never dropped
      4L -> "delta")
    // within-document order survives even when later paragraphs win
    val d2 = Seq((1L, "z\n\na"), (2L, "a\n\nz\n\nq")).toDF("doc_id", "text")
    TextOps.dedupParagraphs(d2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap shouldBe
      Map(1L -> "z\n\na", 2L -> "q")
  }

  test("substring dedup: corpus-first k-gram spans survive, later copies excised") {
    val d = Seq(
      (1L, "a b c d e"),     // all grams first occurrences → intact
      (2L, "x y a b c d q"), // carries doc 1's "a b c d" → excised
      (3L, "a b c"),         // entirely seen → empties, row kept
      (4L, "p q"),           // shorter than k → no grams, intact
      (5L, "m n o m n o")    // WITHIN-doc repeat: second copy excised
    ).toDF("doc_id", "text")
    val out = TextOps.dedupSubstrings(d, "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    out(1L) shouldBe ((5L, 0L, 0L, "a b c d e"))
    // dup grams "a b c"@3 and "b c d"@4 erase positions 3..6
    out(2L) shouldBe ((7L, 2L, 4L, "x y q"))
    out(3L) shouldBe ((3L, 1L, 3L, ""))
    out(4L) shouldBe ((2L, 0L, 0L, "p q"))
    out(5L) shouldBe ((6L, 1L, 3L, "m n o"))
  }

  test("dsir: target-like raw docs outrank disjoint ones; feature counts exact") {
    val target = Seq(
      (100L, "the quick brown fox"),
      (101L, "the quick red fox")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "the quick brown fox"), // target vocabulary
      (2L, "zzz qqq www uuu")      // disjoint vocabulary
    ).toDF("doc_id", "text")
    val out = TextOps.dsirWeights(raw, target, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    out(1L)._1 shouldBe 7L // 4 unigram + 3 bigram features
    out(2L)._1 shouldBe 7L
    out(1L)._2 should be > out(2L)._2 // higher log likelihood ratio
    out(1L)._3 shouldBe 1L            // rank 1 = most target-like
    out(2L)._3 shouldBe 2L
  }

  test("bpe induction: learns the hand-computed merge sequence, " +
      "deterministically, and the learned vocab drives the encoder") {
    graft.functions.GraftFunctions.register(spark)
    val d = Seq((1L, "aaab"), (2L, "aaab"), (3L, "aab")).toDF("doc_id", "text")
    // histogram: aaab×2, aab×1. Round 1: (a,a) 5 > (a,b) 3 → "a a".
    // Round 2: (aa,a) 2 ties (a,b) 2 → lexicographic "a b" wins.
    // Round 3: (aa,ab) 2 → "aa ab". Round 4: best count 1 → stop.
    val merges = TextOps.bpeInduce(d, "text", numMerges = 10)
    merges shouldBe Seq("a a", "a b", "aa ab")
    TextOps.bpeInduce(d, "text", numMerges = 10) shouldBe merges // stable
    // the learned lines ARE an encoder vocabulary: aaab fuses to one
    // token, aab (no "aa b" merge learned) stays two
    val counts = TextOps.bpeTokenCounts(d, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    counts shouldBe Map(1L -> 1, 2L -> 1, 3L -> 2)
    // corpus smoke: a vocab learned ON the corpus compresses it vs the
    // byte-level start alphabet (empty merge table)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val learned = TextOps.bpeInduce(docs, "text", numMerges = 20)
    learned.size shouldBe 20
    val withVocab = TextOps.bpeTokenCounts(docs, "doc_id", "text", learned)
      .agg(sum("bpe_tokens")).collect().head.getLong(0)
    val noVocab = TextOps.bpeTokenCounts(docs, "doc_id", "text", Nil)
      .agg(sum("bpe_tokens")).collect().head.getLong(0)
    withVocab should be < noVocab
  }

  test("bpe induction golden lock: the full merge table for a fixed " +
      "corpus is pinned, rank for rank — tie-break or histogram changes " +
      "cannot silently reorder ranks downstream token counts depend on") {
    graft.functions.GraftFunctions.register(spark)
    val corpus = Seq(
      (1L, "the lower the better for the lowest loss"),
      (2L, "new year newer model newest weights"),
      (3L, "the model trains and the training loss lowers"),
      (4L, "lower training loss means better models"),
      (5L, "the newest weights train the best model"),
      (6L, "low loss and lower loss and lowest loss")
    ).toDF("doc_id", "text")
    // Ġ (U+0120) is GPT-2's byte-level marker for a leading space
    val golden = Seq(
      "l o", "w e", "Ġ lo", "Ġ t", "h e", "i n", "s s",
      "Ġlo ss", "s t", "we r", "Ġ m", "a in", "a n", "d e",
      "de l", "n e", "o del", "r ain", "we st", "Ġm odel",
      "Ġt he", "Ġt rain", "an d", "b e")
    TextOps.bpeInduce(corpus, "text", numMerges = 24) shouldBe golden
    // a PREFIX of the vocabulary is the same vocabulary cut short —
    // rank k's merge never depends on merges learned after it
    TextOps.bpeInduce(corpus, "text", numMerges = 7) shouldBe golden.take(7)
    // and the pinned table drives the encoder end-to-end: "the lowest
    // loss" under the learned merges
    val counts = TextOps.bpeTokenCounts(
      Seq((1L, " the lowest loss")).toDF("doc_id", "text"), "doc_id", "text",
      golden).collect().head.getInt(1)
    // " the"→[Ġthe]; " lowest"→[Ġlo,west]; " loss"→[Ġloss]
    counts shouldBe 4
  }

  test("bpe incremental pair counts match the naive rescan merge-for-" +
      "merge, and a 5k-merge induction finishes in seconds") {
    import graft.functions.BpeTokenizer
    // deterministic pseudo-random histogram: varied lengths, shared
    // substrings, weight skew — the shapes that stress tie-breaks and
    // the inverted index (a linear congruence, no Random seed drift)
    var s = 12345L
    def next(n: Int): Int = { s = (s * 6364136223846793005L + 1442695040888963407L); (((s >>> 33) % n).toInt + n) % n }
    val alpha = "abcdefgh"
    val words = Array.tabulate(4000) { i =>
      val len = 2 + next(9)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(alpha(next(alpha.length))))
      (BpeTokenizer.initialSymbols(sb.toString), (1 + next(50)).toLong)
    }
    val incr = TextOps.bpeLearnMerges(words.map(w => (w._1.clone(), w._2)), 300)
    val naive = TextOps.bpeLearnMergesNaive(words.map(w => (w._1.clone(), w._2)), 300)
    incr shouldBe naive
    incr.size should be > 100 // the corpus actually supports deep merging
    // scale smoke: 5k merges over a 50k-word histogram — the naive
    // rescan pays O(maxWords · len) per round (minutes); incremental
    // touches only words containing the merged pair
    var s2 = 98765L
    def next2(n: Int): Int = { s2 = (s2 * 6364136223846793005L + 1442695040888963407L); (((s2 >>> 33) % n).toInt + n) % n }
    val big = Array.tabulate(50000) { _ =>
      val len = 3 + next2(12)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(alpha(next2(alpha.length))))
      (BpeTokenizer.initialSymbols(sb.toString), (1 + next2(100)).toLong)
    }
    val t0 = System.nanoTime()
    val merges = TextOps.bpeLearnMerges(big, 5000)
    val secs = (System.nanoTime() - t0) / 1e9
    merges.size should be > 1000
    secs should be < 30.0 // seconds, not the naive loop's minutes
  }

  test("dsirScores: identical scores to dsirWeights minus the global " +
      "rank; threshold filter keeps exactly the at-or-above docs") {
    val target = Seq(
      (100L, "the quick brown fox"),
      (101L, "the quick red fox")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "the quick brown fox"),
      (2L, "zzz qqq www uuu"),
      (3L, "the quick red dog")
    ).toDF("doc_id", "text")
    val ranked = TextOps.dsirWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val scores = TextOps.dsirScores(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    scores shouldBe ranked // same (n_feats, logw_micro), window-free
    val cut = ranked(3L)._2 // threshold at doc 3's score
    val kept = TextOps.dsirScores(raw, target, "doc_id", "text",
        minLogwMicro = Some(cut))
      .collect().map(_.getLong(0)).toSet
    kept shouldBe ranked.filter(_._2._2 >= cut).keySet
    kept should contain(3L)
    kept should not contain 2L
    SubstrateCache.release(spark)
  }

  test("substring dedup: segmented re-stitch preserves exact word order " +
      "across segment boundaries on a multi-megabyte document") {
    // doc 1 spans many stitch segments (600k words ≈ 4 MB); doc 2 is a
    // verbatim copy (erased entirely); doc 3 embeds a 300-word span of
    // doc 1 mid-text (only that span erased, order intact around it)
    val n = 600000
    val w1 = (0 until n).map(i => s"w$i")
    val text1 = w1.mkString(" ")
    val span = w1.slice(1000, 1300)
    val text3 = ((0 until 500).map(i => s"v$i") ++ span ++
      (500 until 1000).map(i => s"v$i")).mkString(" ")
    val d = Seq((1L, text1), (2L, text1), (3L, text3)).toDF("doc_id", "text")
    val out = TextOps.dedupSubstrings(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getString(4)))).toMap
    out(1L) shouldBe ((n.toLong, 0L, text1)) // first occurrence: intact, ordered
    out(2L)._2 shouldBe n.toLong             // full copy: everything erased
    out(2L)._3 shouldBe ""
    out(3L)._2 shouldBe 300L                 // exactly the embedded span
    out(3L)._3 shouldBe ((0 until 500).map(i => s"v$i") ++
      (500 until 1000).map(i => s"v$i")).mkString(" ")
    SubstrateCache.release(spark)
  }

  test("gopher rules: each rule trips on its own violation, keep is the " +
      "conjunction, flags are exact-integer decisions") {
    val the8 = "the be to of and that have with" // all 8 required stopwords
    // 48 stopwords (sum len 144) + 2 more words → 50 words, mean 3.08
    val fifty = (the8 + " ") * 6 + "golden flow"
    val d = Seq(
      (1L, fifty),                                    // passes everything
      (2L, "the be " + ("word " * 10).trim),          // too few words
      (3L, the8 + " " + ("a " * 42).trim),            // 50 words, mean len < 3
      (4L, the8 + " " + ("ha#sh " * 42).trim),        // '#' ratio > 10% (embedded)
      (5L, the8 + " " + ("42 " * 42).trim),           // < 80% alphabetic
      (6L, ("green " * 50).trim),                     // < 2 required stopwords
      (7L, the8 + " " + ("dots... " * 42).trim)       // ellipsis ratio > 10%
    ).toDF("doc_id", "text")
    val out = TextOps.gopherQualityRules(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(7), r.getBoolean(8), r.getBoolean(9), r.getBoolean(10),
          r.getBoolean(11), r.getBoolean(12), r.getBoolean(13)))).toMap
    out(1L) shouldBe ((true, true, true, true, true, true, true))
    out(2L)._1 shouldBe false // word count
    out(3L)._2 shouldBe false // mean word length
    out(4L)._3 shouldBe false // '#' occurrences (counted INSIDE words)
    out(7L)._4 shouldBe false // trailing-ellipsis occurrences
    out(5L)._5 shouldBe false // alpha share
    out(6L)._6 shouldBe false // required stopwords
    // keep only when every rule passes
    out.foreach { case (_, f) =>
      f._7 shouldBe (f._1 && f._2 && f._3 && f._4 && f._5 && f._6) }
    // metrics are exact: doc 1 has 50 words, 8 distinct required stops;
    // docs 4/7 count one symbol occurrence per repeated word
    val m = TextOps.gopherQualityRules(d, "doc_id", "text")
      .filter(col("doc_id") === 1).collect().head
    m.getLong(1) shouldBe 50L
    m.getLong(6) shouldBe 8L
    val sym = TextOps.gopherQualityRules(d, "doc_id", "text")
      .filter(col("doc_id").isin(4L, 7L)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    sym(4L) shouldBe ((42L, 0L))
    sym(7L) shouldBe ((0L, 42L))
  }

  test("gopher line rules: each line rule trips on its own violation, " +
      "line set is trimmed/non-empty, dup counting is occurrences beyond " +
      "first") {
    val d = Seq(
      // 10 varied lines, 0 dups, 1 bullet, 1 ellipsis → passes all
      (1L, (1 to 8).map(i => s"unique line number $i").mkString("\n") +
        "\n- one bullet\nwraps up fine"),
      // 4/10 duplicate occurrences (> 30%): "same" ×5 = 4 beyond first
      (2L, (Seq.fill(5)("same") ++ (1 to 5).map(i => s"u$i")).mkString("\n")),
      // dup LINE fraction ok (1/10 ≤ 30%) but the duplicated line is huge
      // → char fraction > 20% trips ok_dup_chars alone
      (3L, (Seq.fill(2)("x" * 200) ++ (1 to 8).map(i => s"u$i")).mkString("\n")),
      // 10/10 bullet-started (> 90%)
      (4L, (1 to 10).map(i => s"• item $i").mkString("\n")),
      // 4/10 ellipsis-ended (> 30%), mixing ... and …
      (5L, ((1 to 6).map(i => s"u$i") ++ Seq("a...", "b...", "c…", "d..."))
        .mkString("\n")),
      // whitespace-only and empty segments are not lines; "  x  " trims
      (6L, "  x  \n\n   \nx\ny"),   // lines: x, x, y → 1 dup occurrence
      (7L, "")                      // no lines at all → passes everything
    ).toDF("doc_id", "text")
    val out = TextOps.gopherLineRules(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6),
          (r.getBoolean(7), r.getBoolean(8), r.getBoolean(9),
           r.getBoolean(10), r.getBoolean(11))))).toMap
    out(1L)._7 shouldBe ((true, true, true, true, true))
    out(2L)._7._1 shouldBe false // duplicate-line fraction
    out(2L)._1 shouldBe 10L
    out(2L)._2 shouldBe 4L       // 5 copies = 4 beyond the first
    out(3L)._7._1 shouldBe true
    out(3L)._7._2 shouldBe false // duplicate-line CHAR fraction
    out(4L)._7._3 shouldBe false // bullet-start ratio
    out(5L)._7._4 shouldBe false // ellipsis-end ratio
    out(5L)._6 shouldBe 4L
    out(6L)._1 shouldBe 3L       // trimmed, empties dropped
    out(6L)._2 shouldBe 1L
    out(7L)._1 shouldBe 0L
    out(7L)._7 shouldBe ((true, true, true, true, true))
    out.foreach { case (_, m) =>
      m._7._5 shouldBe (m._7._1 && m._7._2 && m._7._3 && m._7._4) }
  }

  test("gopher repetition rules: top-n-gram products and duplicate " +
      "coverage unions are exact, hand-checked") {
    val d = Seq(
      // bigrams (aa,bb)x2 / (bb,aa)x2 -> top2 = 2*4 = 8; trigram
      // (aa,bb,aa)x2 -> top3 = 12; 4-grams unique (cl 8) -> top4 = 8;
      // no 5-gram repeats -> dup5..10 = 0
      (1L, "aa bb aa bb aa"),
      // the 5-gram (a,b,c,d,e) repeats at positions 1 and 6: coverage
      // is the union 1..10 -> dup5 = 10 of 11 chars; no 6-gram repeats
      (2L, "a b c d e a b c d e x"),
      (3L, "")  // no grams at all: zeros everywhere, keep = true
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRepetitionRules(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    r1.getLong(1) shouldBe 5L      // n_words
    r1.getLong(2) shouldBe 10L     // word_chars
    r1.getLong(3) shouldBe 8L      // top2_chars
    r1.getLong(4) shouldBe 12L     // top3_chars
    r1.getLong(5) shouldBe 8L      // top4_chars
    (6 to 11).foreach(i => r1.getLong(i) shouldBe 0L) // dup5..dup10
    r1.getBoolean(12) shouldBe false // ok_top2: 800 > 200
    r1.getBoolean(21) shouldBe false // keep
    val r2 = out(2L)
    r2.getLong(2) shouldBe 11L
    r2.getLong(6) shouldBe 10L     // dup5: union of the two occurrences
    r2.getLong(7) shouldBe 0L      // dup6: no repeated 6-gram
    r2.getBoolean(15) shouldBe false // ok_dup5: 1000 > 165
    val r3 = out(3L)
    r3.getLong(2) shouldBe 0L
    (3 to 11).foreach(i => r3.getLong(i) shouldBe 0L)
    r3.getBoolean(21) shouldBe true  // no gram evidence is not a violation
    SubstrateCache.release(spark)
  }

  test("c4 rules: line keep predicate (length, terminal punct, kill " +
      "words), page flags, sentence floor") {
    val d = Seq(
      (1L, "one good sentence sits right here.\nand another one follows " +
        "to be sure!\na third closes the page for keeps?"),  // keep
      (2L, "only two sentences live on this page.\nso the floor of three " +
        "fails here."),                                      // < 3 sentences
      (3L, "lorem ipsum dolor sit amet consectetur.\nfine sentence two " +
        "stands here today.\nfine sentence three stands here too."),
      (4L, "a curly { brace lurks on this page.\nfine sentence two stands " +
        "here today.\nfine sentence three stands here too."),
      (5L, "short one.\nno terminal punctuation on this line\nenable " +
        "JavaScript to view this page.\nplease accept that this site " +
        "uses cookies.\nonly this line survives the whole gauntlet.")
    ).toDF("doc_id", "text")
    val out = TextOps.c4QualityRules(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
          r.getBoolean(5), r.getString(6), r.getBoolean(7)))).toMap
    out(1L)._7 shouldBe true
    out(1L)._2 shouldBe 3L
    out(2L)._7 shouldBe false  // 2 sentences < 3
    out(3L)._4 shouldBe true   // lorem ipsum page flag
    out(3L)._7 shouldBe false
    out(4L)._5 shouldBe true   // curly brace page flag
    out(4L)._7 shouldBe false
    // doc 5: of 5 lines only the last passes every line rule
    out(5L)._1 shouldBe 5L
    out(5L)._2 shouldBe 1L
    out(5L)._6 shouldBe "only this line survives the whole gauntlet."
    out(5L)._7 shouldBe false  // 1 sentence < 3
  }

  test("novelty: corpus-first grams count as novel, repeats do not; short " +
      "docs carry null novelty") {
    val d = Seq(
      (1L, "a b c d e f"),    // 6 words, 4 trigrams... k=3 → all novel
      (2L, "a b c d x y z"),  // trigrams abc, bcd seen from doc 1
      (3L, "a b")             // shorter than k → no grams
    ).toDF("doc_id", "text")
    val out = TextOps.noveltyScores(d, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1.0 else r.getDouble(3))))
      .toMap
    out(1L) shouldBe ((4L, 4L, 1.0))   // abc bcd cde def, all first
    // doc 2 grams: abc bcd cdx dxy xyz — abc,bcd seen → 3/5 novel
    out(2L) shouldBe ((5L, 3L, 0.6))
    out(3L) shouldBe ((0L, 0L, -1.0))  // null novelty, row kept
    SubstrateCache.release(spark)
  }

  test("dsirSample: Gumbel top-k draw matches the hand-computed keys, " +
      "deterministic across runs") {
    val target = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val raw = (1L to 20L).map { i =>
      val text = if (i % 2 == 0) "the quick brown fox jumps high"
                 else s"zzz$i qqq$i www$i uuu$i vvv$i yyy$i"
      (i, text)
    }.toDF("doc_id", "text")
    val out = TextOps.dsirSample(raw, target, "doc_id", "text", k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    out.length shouldBe 6
    // replicate the draw exactly from the rank-free scores: sha-hash
    // uniform, Gumbel perturb, micro-quantize, top-6 by (key desc, id)
    val scores = TextOps.dsirScores(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    def h32(s: String): Long =
      java.lang.Long.parseLong(java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val expected = scores.toSeq.map { case (id, lw) =>
      val u = (h32(id.toString) % 1000000L + 0.5) / 1e6
      val key = math.round((lw / 1e6 + -math.log(-math.log(u))) * 1e6)
      (id, lw, key)
    }.sortBy { case (id, _, key) => (-key, id) }.take(6).sorted
    out.toSeq shouldBe expected
    // deterministic across invocations
    TextOps.dsirSample(raw, target, "doc_id", "text", k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq shouldBe expected
    SubstrateCache.release(spark)
  }

  test("source overlap matrix: a mirrored source shows containment 1.0, " +
      "disjoint sources emit no pair, counts exact") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon", "A"), // A's grams ⊂ B's
      (2L, "alpha beta gamma delta epsilon zeta eta", "B"),
      (3L, "one two three four five six", "C")      // disjoint from both
    ).toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlapMatrix(d, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    out.keySet shouldBe Set(("A", "B")) // C pairs with nothing
    val (ga, gb, common, jac, cont) = out(("A", "B"))
    ga shouldBe 3L  // 5 words → 3 trigrams
    gb shouldBe 5L  // 7 words → 5 trigrams
    common shouldBe 3L // every A-gram appears in B
    cont shouldBe 1.0  // the mirror signal Jaccard dilutes…
    jac shouldBe 0.6   // …to 3/5 here
    SubstrateCache.release(spark)
  }

  test("lexical diversity: ttr, hapax, simpson from exact counts") {
    val out = TextOps.lexicalDiversity(docs((1L, "a a b c")), "doc_id", "text")
      .collect().head
    out.getLong(1) shouldBe 4 // n_tokens
    out.getLong(2) shouldBe 3 // n_distinct
    out.getLong(3) shouldBe 2 // hapax: b, c
    out.getDouble(4) shouldBe 0.75 // ttr
    out.getDouble(5) shouldBe (2.0 / 3.0) // hapax_ratio
    out.getDouble(6) shouldBe ((4.0 + 1.0 + 1.0) / 16.0) // simpson: (2²+1+1)/4²
  }

  test("frequent n-grams: per-group top-k with count-then-name ordering") {
    val d = Seq(
      (1L, "x y x y z", "s1"), // s1 bigrams: x_y ×2, y_x, y_z
      (2L, "x y q", "s1"),     // s1: x_y again (×3 total), y_q
      (3L, "a b", "s2"),       // s2: a_b
      (4L, "c", "s2")          // <2 tokens → no bigrams
    ).toDF("doc_id", "text", "source")
    val out = TextOps.frequentNgrams(d, "doc_id", "text", "source", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    out.toSet shouldBe Set(
      ("s1", "x_y", 3L, 1), ("s1", "y_q", 1L, 2), // y_q < y_x < y_z on tie
      ("s2", "a_b", 1L, 1))
  }

  test("top-fraction pruning keeps ceil(frac*n) per group with id tie-break") {
    val d = Seq(
      (1L, "a", 0.9), (2L, "a", 0.5), (3L, "a", 0.5), (4L, "a", 0.5),
      (5L, "a", 0.1), (6L, "b", 0.2)
    ).toDF("doc_id", "grp", "score")
    val kept = TextOps.topFractionByGroup(d, "grp", "score", "doc_id", 0.5)
      .collect().map(_.getLong(0)).sorted
    // group a: ceil(5*0.5)=3 → 0.9 then the 0.5-ties in doc_id order (2,3);
    // group b: ceil(1*0.5)=1 → its only row survives
    kept shouldBe Array(1L, 2L, 3L, 6L)
  }

  test("scoped substrate handles release only their own caches") {
    import org.apache.spark.storage.StorageLevel
    SubstrateCache.release(spark) // clean slate
    val d = docs((1L, "a b c a b"), (2L, "x y z"))

    // two "entities" on two threads, each building an operator in a scope —
    // the Runner.parallelism shape
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(SubstrateCache.scoped {
      TextOps.minHashNearDupPairs(d, "doc_id", "text").count()
    })
    val fb = Future(SubstrateCache.scoped {
      TextOps.blockedJaccardPairs(d, "doc_id", "text", lit(1)).count()
    })
    val (_, ha) = Await.result(fa, 120.seconds)
    val (_, hb) = Await.result(fb, 120.seconds)
    ha.size should be > 0
    hb.size should be > 0
    // scope-owned substrates never land in the session registry
    SubstrateCache.registered(spark) shouldBe 0

    // releasing A leaves B's caches persisted
    val before = spark.sparkContext.getPersistentRDDs.size
    ha.release()
    ha.size shouldBe 0
    spark.sparkContext.getPersistentRDDs.size should be < before
    hb.size should be > 0
    hb.release()
    ha.release() // idempotent

    // outside any scope, persists fall back to the session registry
    val (_, hEmpty) = SubstrateCache.scoped(42)
    hEmpty.size shouldBe 0
    TextOps.minHashNearDupPairs(d, "doc_id", "text").count()
    SubstrateCache.registered(spark) should be > 0
    SubstrateCache.release(spark)
    SubstrateCache.registered(spark) shouldBe 0
  }

  test("repeated spans: cross-doc 5-grams counted, within-doc-only repeats not") {
    val shared = "the quick brown fox jumps" // one 5-gram, in docs 1 and 2
    val d = docs(
      (1L, s"$shared over the lazy dog"),         // 5 spans, 1 repeated
      (2L, s"completely different opener then $shared"), // 5 spans, 1 repeated
      (3L, "unique words only appear here once today"),  // 3 spans, 0 repeated
      (4L, "tiny doc"),                                  // < 5 words: 0 spans
      // one doc repeating ITS OWN 5-gram twice: both positions carry the
      // same gram, but only 1 distinct doc has it -> not repeated
      (5L, "p q r s t p q r s t"))
    val out = TextOps.repeatedSpanCounts(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    SubstrateCache.release(spark)
    out shouldBe Array(
      (1L, 5L, 1L), (2L, 5L, 1L), (3L, 3L, 0L), (4L, 0L, 0L), (5L, 6L, 0L))
  }

  test("best representatives: highest score wins, id breaks ties, sizes right") {
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "group_id")
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (9L, 5L))
      .toDF("sid", "score")
    val out = GraphOps.bestRepresentatives(
      groups, "doc_id", "group_id", scored, "sid", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // group 1: docs 2 and 3 tie on score 30 -> lowest id (2) wins
    // group 7: docs 7 and 9 tie on score 5  -> 7 wins
    out shouldBe Array((1L, 2L, 30L, 3L), (7L, 7L, 5L, 2L))
  }

  test("new-operator plan shapes: windowless map-side mixture, no nested loops") {
    val d = (1L to 100L).map(i => (i, s"s${i % 4}", "a b c d e f")).toDF(
      "doc_id", "source", "text")
    // mixturePlan: availability and the final sample are AGGREGATES on
    // `source` (map-side combined; partials ≤ #sources per task) with the
    // tiny rate table broadcast back — never a Window over the source
    // partition, which would buffer a whole source's rows on one task
    val mixPlan = TextOps.mixturePlan(d, "doc_id", "source", "text",
      Seq("s0" -> 1L), 100L).queryExecution.executedPlan.toString
    SubstrateCache.release(spark)
    mixPlan should not include "Window"
    mixPlan should include("partial_count")
    mixPlan should include("BroadcastExchange")
    // repeatedSpanCounts: every join is keyed — a cross/nested-loop join
    // anywhere would be the O(docs²) shape this operator exists to avoid
    val spanPlan = TextOps.repeatedSpanCounts(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    SubstrateCache.release(spark)
    spanPlan should not include "CartesianProduct"
    spanPlan should not include "BroadcastNestedLoopJoin"
  }

  test("mixture plan: rate cap, zero-weight sources, deterministic sample") {
    val d = (1L to 40L).map { i =>
      val src = if (i <= 10) "a" else if (i <= 30) "b" else "c"
      (i, src, "w1 w2 w3 w4 w5") // 5 tokens per doc
    }.toDF("doc_id", "source", "text")
    // budget 100, weights a=3, b=1 (sum 4): target a=75 > avail 50 -> rate
    // capped at 1 (all of a kept); target b=25 of avail 100 -> rate 0.25;
    // c unweighted -> rate 0, nothing sampled
    val out = TextOps.mixturePlan(d, "doc_id", "source", "text",
      Seq("a" -> 3L, "b" -> 1L), 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5), r.getLong(6))).toMap
    val (aDocs, aTok, aTarget, aRate, aSampledDocs, aSampledTok) = out("a")
    (aDocs, aTok, aTarget, aRate) shouldBe ((10L, 50L, 75.0, 1.0))
    (aSampledDocs, aSampledTok) shouldBe ((10L, 50L)) // rate 1: taken whole
    val (_, bTok, bTarget, bRate, bSampledDocs, bSampledTok) = out("b")
    (bTok, bTarget, bRate) shouldBe ((100L, 25.0, 0.25))
    bSampledDocs should be < 20L // hash filter kept a strict subset
    bSampledTok shouldBe bSampledDocs * 5L
    out("c")._4 shouldBe 0.0
    out("c")._5 shouldBe 0L
    // deterministic: same plan twice -> identical sample
    val again = TextOps.mixturePlan(d, "doc_id", "source", "text",
      Seq("a" -> 3L, "b" -> 1L), 100L)
      .collect().map(r => (r.getString(0), r.getLong(5), r.getLong(6))).toSet
    SubstrateCache.release(spark)
    again shouldBe out.map { case (s, t) => (s, t._5, t._6) }.toSet
  }

  test("vocab coverage counts occurrences, not types; all docs present") {
    val d = docs((1L, "the cat the dog"), (2L, "zz yy"), (3L, "the"))
    val vocab = Seq("the", "dog").toDF("tok")
    val out = TextOps.vocabCoverage(d, "doc_id", "text", vocab, "tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // doc 1: 4 tokens, "the" twice + "dog" once in vocab
    out shouldBe Array((1L, 4L, 3L), (2L, 2L, 0L), (3L, 1L, 1L))
  }

  test("chunking: overlap windows, short-doc single chunk, trailing-window suppression") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b"),                                    // shorter than one chunk
      (3L, (1 to 6).map(i => s"t$i").mkString(" ")))  // exactly size+overlap edge
      .toDF("doc_id", "text")
    // size 4, overlap 2 → stride 2; doc 1 (t=10): n = ceil(8/2) = 4 chunks
    val out = TextOps.chunk(docs, "doc_id", "text", 4, 2)
      .select("doc_id", "chunk_idx", "start_tok", "end_tok", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    out.filter(_._1 == 1L).map(_._5) shouldBe Array(
      "w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10")
    // doc 2: one (short) chunk covering everything
    out.filter(_._1 == 2L) shouldBe Array((2L, 0L, 0L, 2L, "a b"))
    // doc 3 (t=6): n = ceil(4/2) = 2 — a third window starting at 4 would
    // only re-emit the previous chunk's overlap and is suppressed
    out.filter(_._1 == 3L).map(_._5) shouldBe Array("t1 t2 t3 t4", "t3 t4 t5 t6")
    // every token of every doc is covered by at least one chunk
    out.groupBy(_._1).foreach { case (_, cs) => cs.map(_._3).min shouldBe 0L }

    an[IllegalArgumentException] should be thrownBy
      TextOps.chunk(docs, "doc_id", "text", 4, 4)
  }

  test("lm perplexity: add-one bigram micro-nat logs match hand " +
      "computation; unseen contexts degrade to uniform 1/V; every raw " +
      "doc returned") {
    // reference "a b a c": V = 3 distinct words; bigrams (a,b)(b,a)(a,c)
    // each once; contexts a→2, b→1
    val reference = docs((100L, "a b a c"))
    val raw = docs(
      (1L, "a b"), // seen bigram:    ln((1+1)/(2+3)) = ln(0.4)
      (2L, "a z"), // seen context:   ln((0+1)/(2+3)) = ln(0.2)
      (3L, "z q"), // unseen context: ln((0+1)/(0+3)) = ln(1/3) — uniform 1/V
      (4L, "a"))   // single token: no pairs
    val out = TextOps.lmPerplexityScores(raw, reference, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    out(1L) shouldBe ((1L, math.round(1e6 * math.log(0.4))))
    out(2L) shouldBe ((1L, math.round(1e6 * math.log(0.2))))
    out(3L) shouldBe ((1L, math.round(1e6 * math.log(1.0 / 3))))
    out(4L) shouldBe ((0L, 0L))
    // the reference-like doc is the least surprising (highest log-prob);
    // an unseen WORD in a well-observed context (1/5) is more surprising
    // than a fully unseen context (uniform 1/3) — add-one concentrates
    // mass on a known context's seen continuations
    out(1L)._2 should be > out(3L)._2
    out(3L)._2 should be > out(2L)._2
    SubstrateCache.release(spark)
  }

  test("pack materialize: per-bin arrays follow packing order with one " +
      "EOS per doc; bins agree with packSequences; empty ids handled") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(11, 12, 13)),
      (2L, Seq(21, 22)),
      (3L, Seq(31)),
      (4L, Seq.empty[Int]))
      .toDF("doc_id", "ids")
    val out = TextOps.packMaterialize(d, "doc_id", "ids",
      maxTokens = 4L, shards = 1, eosId = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getSeq[Int](4))).sortBy(t => (t._1, t._2))
    // single shard: packing order is (hash(doc_id), doc_id); bins cut at
    // exclusive-prefix DIV 4 over id counts — recompute independently
    val hs = Seq(1L, 2L, 3L, 4L).map(i =>
      i -> {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        java.lang.Long.parseLong(md.digest(i.toString.getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16)
      }).toMap
    val order = Seq(1L, 2L, 3L, 4L).sortBy(i => (hs(i), i))
    val lens = Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 0)
    var cum = 0L
    val bins = order.map { i =>
      val b = cum / 4; cum += lens(i); i -> b
    }.toMap
    // every doc's ids appear in its bin, in order, each followed by EOS
    val byBin = order.groupBy(bins)
    byBin.foreach { case (bin, docs) =>
      val row = out.find(_._2 == bin).get
      row._3 shouldBe docs.size.toLong            // n_docs
      val wantIds = docs.flatMap(i =>
        (i match {
          case 1L => Seq(11, 12, 13); case 2L => Seq(21, 22)
          case 3L => Seq(31); case _ => Seq.empty[Int]
        }) :+ 0)
      row._5 shouldBe wantIds
      row._4 shouldBe wantIds.size.toLong         // n_tokens incl. EOS
    }
    // bin assignment matches packSequences on an equivalent text corpus
    val texts = Seq(
      (1L, "a b c"), (2L, "a b"), (3L, "a"), (4L, ""))
      .toDF("doc_id", "text")
    // packSequences counts whitespace tokens: "" splits to [""] (1 token)
    // unlike the empty ids array, so compare only docs 1-3
    val ps = TextOps.packSequences(texts, "doc_id", "text", 4L, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    Seq(1L, 2L, 3L).foreach { i =>
      withClue(s"doc $i bin vs packSequences:") {
        if (order.indexOf(4L) >= order.indexOf(i))
          ps(i) shouldBe bins(i)
      }
    }
  }

  test("temperature weights: max source pins 1e6, ratios follow (n/max)^a, " +
      "alpha=0 flattens, alpha=1 is proportional") {
    import spark.implicits._
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "big"),  // 10 tokens
      (2L, "w1 w2 w3 w4 w5", "small")                  // 5 tokens
    ).toDF("doc_id", "text", "source")
    def w(alpha: Double): Map[String, (Long, Long)] =
      TextOps.temperatureWeights(d, "source", "text", alpha)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    val w07 = w(0.7)
    w07("big") shouldBe ((10L, 1000000L))
    w07("small") shouldBe ((5L, math.round(1e6 * math.pow(0.5, 0.7))))
    w(1.0)("small")._2 shouldBe 500000L  // proportional
    w(0.0)("small")._2 shouldBe 1000000L // flat: every source weighs max
  }

  test("perplexity prune: keeps the best-fitting ceil(n*frac) of each " +
      "group; unscorable single-token docs are excluded, not ranked") {
    import spark.implicits._
    val reference = docs((100L, "a b a b a c"))
    val raw = Seq(
      (1L, "a b a b", "s1"),  // reference-like
      (2L, "z q z q", "s1"),  // alien
      (3L, "a b", "s1"),      // reference-like
      (4L, "x", "s1"),        // unscorable: no bigram
      (5L, "a b a b", "s2"),
      (6L, "q z", "s2")).toDF("doc_id", "text", "source")
    val kept = TextOps.perplexityPrune(raw, reference, "doc_id", "text",
      "source", frac = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // s1 scores docs 1,2,3 (doc 4 unscorable) → ceil(3*0.5)=2 kept, the
    // two reference-like ones; s2 scores 5,6 → 1 kept
    kept shouldBe Array((1L, "s1"), (3L, "s1"), (5L, "s2"))
    SubstrateCache.release(spark)
  }

  test("lm index: persisted model reproduces in-session scores exactly; " +
      "addCorpus merge equals a from-scratch refit") {
    import spark.implicits._
    val ref1 = docs((100L, "a b a c"), (101L, "b c a"))
    val ref2 = docs((200L, "a b d"), (201L, "d d a b"))
    val raw = docs((1L, "a b a"), (2L, "d d"), (3L, "z"), (4L, "c a b"))
    val root = java.nio.file.Files.createTempDirectory("graft-lmidx")
      .toString + "/idx"
    val idx = LmIndex.create(spark, ref1, "doc_id", "text", root)
    val direct = TextOps.lmPerplexityScores(raw, ref1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val viaIndex = idx.score(raw, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    viaIndex shouldBe direct
    idx.sourceCount shouldBe Some(2L)
    idx.vocabSize shouldBe 3L // a, b, c
    // incremental fold: merge in ref2, compare against a fresh fit on
    // ref1 ∪ ref2 — counts are additive, vocab is a set union
    idx.addCorpus(ref2, "doc_id", "text")
    idx.vocabSize shouldBe 4L // + d
    val merged = idx.score(raw, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val refit = TextOps.lmPerplexityScores(raw, ref1.unionAll(ref2),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    merged shouldBe refit
    SubstrateCache.release(spark)
  }

  test("classifier inference: n_feats = 2T-1, zero weights give sigmoid" +
      "(bias), unit weights give sigmoid(1) — micro-quantized exactly") {
    import spark.implicits._
    val d = docs((1L, "a b c"), (2L, "x"), (3L, "p q r s"))
    val zero = spark.range(TextOps.DsirBuckets.toLong)
      .select(col("id").as("bucket"), lit(0L).as("w_micro"))
    val unit = spark.range(TextOps.DsirBuckets.toLong)
      .select(col("id").as("bucket"), lit(1000000L).as("w_micro"))
    val z = TextOps.classifierScores(d, zero, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    z(1L) shouldBe ((5L, 500000L)) // 3 unigrams + 2 bigrams; sigmoid(0)
    z(2L) shouldBe ((1L, 500000L))
    z(3L) shouldBe ((7L, 500000L))
    // every feature weighs 1.0 → mean weight exactly 1 → sigmoid(1)
    val sig1 = math.round(1e6 / (1.0 + math.exp(-1.0)))
    val u = TextOps.classifierScores(d, unit, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    u.values.toSet shouldBe Set(sig1)
    // bias shifts the logit: zero weights + bias 2.0 → sigmoid(2)
    val b = TextOps.classifierScores(d, zero, "doc_id", "text",
      biasMicro = 2000000L)
      .collect().map(r => r.getLong(2)).toSet
    b shouldBe Set(math.round(1e6 / (1.0 + math.exp(-2.0))))
    SubstrateCache.release(spark)
  }
}
