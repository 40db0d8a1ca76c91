package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.TextOps

/** [[MinHashSketch]] against the column-algebra MinHash substrate it
  * replaced, kept here as the reference: posexplode the `\s+` tokens,
  * `portableHash` each word, pair neighbours with `lead`, then one
  * `collect_set` + `min(pmod(a·s + b, p))` aggregate per doc. Both must
  * give the same id, sorted shingle set and 16 minima on every input,
  * with codegen on and with codegen off. */
class MinHashSketchSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** (doc id, shingle hash) rows, one per adjacent word pair. */
  private def referenceShingles(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("__id").orderBy("__pos")
    df.select(col("doc_id").as("__id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("__pos", "__w")))
      .select(col("__id"), col("__pos"), TextOps.portableHash(col("__w")).as("__h"))
      .withColumn("__h2", lead("__h", 1).over(w))
      .filter(col("__h2").isNotNull)
      .select(col("__id"),
        pmod(col("__h") * 1000003L + col("__h2"), lit(TextOps.ShingleMod)).as("__s"))
  }

  private def reference(df: DataFrame): DataFrame = {
    val sigAggs = TextOps.MinHashA.zip(TextOps.MinHashB).zipWithIndex.map {
      case ((a, b), i) =>
        min(pmod(col("__s") * a + b, lit(TextOps.MinHashPrime))).as(s"__m$i")
    }
    referenceShingles(df).groupBy("__id")
      .agg(array_sort(collect_set(col("__s"))).as("__hs"), sigAggs: _*)
  }

  private def rows(df: DataFrame): Map[Long, Seq[Any]] =
    df.select(col("__id") +: col("__hs") +: (0 until 16).map(i => col(s"__m$i")): _*)
      .collect().map { r =>
        r.getLong(0) -> (r.getSeq[Long](1).toList +: (2 until 18).map(r.getLong))
      }.toMap

  private val edgeCases: Seq[(Long, String)] = Seq(
    1L -> "  leading spaces here",
    2L -> "trailing spaces here  ",
    3L -> "repeated \t\t whitespace\n\nwith\r\ntabs and\u000bnewlines\f ok",
    4L -> "single",
    5L -> "",
    6L -> null,
    7L -> " \t\n ",
    8L -> " ",
    9L -> "naïve café 東京 タワー 🚀 ünïcödé words",
    10L -> "nbsp is not a separator\u0085nor is nel",
    11L -> "a b a b a b a b",
    12L -> "\ttwo words\n",
    13L -> "x y")

  /** A seeded corpus: 1,500 docs of 2–60 words from a 300-word
    * vocabulary (ASCII and non-ASCII), joined by random runs of space,
    * tab and newline, with occasional leading/trailing separators. */
  private def corpus: Seq[(Long, String)] = {
    val rng = new scala.util.Random(20261017L)
    val vocab = (0 until 300).map(i => if (i % 7 == 0) s"wört$i" else s"w$i")
    val seps = Seq(" ", "  ", "\t", "\n", " \t ", "\r\n")
    (0 until 1500).map { i =>
      val words = Seq.fill(2 + rng.nextInt(59))(vocab(rng.nextInt(vocab.size)))
      val body = words.tail.foldLeft(new StringBuilder(words.head)) { (sb, w) =>
        sb.append(seps(rng.nextInt(seps.size))).append(w)
      }
      val lead = if (rng.nextInt(10) == 0) " " else ""
      val trail = if (rng.nextInt(10) == 0) "\n" else ""
      (100L + i) -> (lead + body + trail)
    }
  }

  private def withCodegen[T](on: Boolean)(f: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val was = keys.map(k => k -> spark.conf.getOption(k))
    if (on) {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "CODEGEN_ONLY")
    } else {
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "NO_CODEGEN")
    }
    try f
    finally was.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (codegen <- Seq(true, false)) {
    val mode = if (codegen) "codegen" else "interpreted"

    test(s"sketch equals the column-algebra substrate on edge cases ($mode)") {
      withCodegen(codegen) {
        // bytes that are not valid UTF-8 hash as the split path saw them
        val invalidUtf8 = spark.range(1).select(lit(14L).as("doc_id"),
          unhex(lit("61FF2062C320E282")).cast("string").as("text"))
        val df = edgeCases.toDF("doc_id", "text").union(invalidUtf8)
        val got = rows(TextOps.minHashSignatures(df, "doc_id", "text"))
        got shouldBe rows(reference(df))
        // null, empty and one-token texts have no shingles; whitespace-only
        // text splits into two empty tokens, hence one shingle
        got.keySet should contain noneOf (4L, 5L, 6L)
        got(7L).head.asInstanceOf[List[_]] should have size 1
        got(8L).head.asInstanceOf[List[_]] should have size 1
        got(11L).head.asInstanceOf[List[_]] should have size 2
      }
    }

    test(s"sketch equals the column-algebra substrate on a seeded corpus ($mode)") {
      withCodegen(codegen) {
        val df = corpus.toDF("doc_id", "text").repartition(4)
        val got = rows(TextOps.minHashSignatures(df, "doc_id", "text"))
        got should have size 1500
        got shouldBe rows(reference(df))
      }
    }

    test(s"repetition metrics keep their column-algebra values ($mode)") {
      withCodegen(codegen) {
        val df = (edgeCases ++ corpus.take(200)).toDF("doc_id", "text")
        val ref = referenceShingles(df).groupBy("__id")
          .agg(count(lit(1)), count_distinct(col("__s")))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val got = TextOps.repetitionMetrics(df, "doc_id", "text").collect()
        got should have size df.count()
        got.foreach { case Row(id: Long, n: Long, d: Long, rep: Double) =>
          val (rn, rd) = ref.getOrElse(id, (0L, 0L))
          (n, d) shouldBe ((rn, rd))
          rep shouldBe (if (rn == 0L) 0.0 else 1.0 - rd.toDouble / rn)
        }
      }
    }
  }

  test("works in SQL once registered; null and short texts are null") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_minhash_sketch('a b a b') AS s, " +
      "graft_minhash_sketch('one') AS one, " +
      "graft_minhash_sketch(CAST(NULL AS STRING)) AS nul").head()
    val s = r.getStruct(0)
    s.getAs[Long]("n") shouldBe 3L
    s.getAs[Seq[Long]]("hs") should have size 2
    s.getAs[Seq[Long]]("hs") shouldBe s.getAs[Seq[Long]]("hs").sorted
    r.isNullAt(1) shouldBe true
    r.isNullAt(2) shouldBe true
  }
}
