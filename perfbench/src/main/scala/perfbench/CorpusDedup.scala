package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.ops.{GraphOps, SubstrateCache, TextOps}

/** Near-duplicate corpus dedup: a generated corpus of 80-token documents
  * in which 10% are light edits of another document (planted
  * near-duplicates) and 3% are heavy edits (distractors the verify step
  * must reject). Each op is one MinHash pass, filtered to Jaccard >= 0.5,
  * then connected-component grouping. It touches no table code.
  *
  * The oracle is the exact token-bigram Jaccard of every planted pair,
  * computed in the generator: a returned pair must be one whose exact
  * Jaccard is >= 0.5, and every group must be exactly such a pair. */
final class CorpusDedup(root: String, seed: Long, scale: Double)(implicit spark: SparkSession)
    extends Workload {

  val docs: Int = math.max(300, (1500 * scale).toInt)
  val tokensPerDoc = 80
  val vocabulary = 20000
  val nearDups: Int = docs / 10
  val distractors: Int = docs * 3 / 100
  private val corpus = s"$root/corpus.parquet"

  /** Planted pairs (original, variant) whose exact Jaccard is >= 0.5. */
  private var expected = Set.empty[(Long, Long)]
  private var found = Set.empty[(Long, Long)]

  private def bigrams(t: Array[Int]): Set[Long] =
    (0 until t.length - 1).map(i => t(i).toLong * vocabulary + t(i + 1)).toSet

  def setup(): Unit = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val originals = docs - nearDups - distractors
    val texts = Array.fill(originals)(Array.fill(tokensPerDoc)(rng.nextInt(vocabulary)))
    val sources = rng.shuffle((0 until originals).toList).take(nearDups + distractors)
    val variants = sources.zipWithIndex.map { case (src, j) =>
      val edits = if (j < nearDups) 1 + rng.nextInt(4) else 14 + rng.nextInt(11)
      val t = texts(src).clone()
      (1 to edits).foreach(_ => t(rng.nextInt(tokensPerDoc)) = rng.nextInt(vocabulary))
      (src, t)
    }
    val all = texts.toSeq ++ variants.map(_._2)
    expected = variants.zipWithIndex.flatMap { case ((src, t), j) =>
      val a = bigrams(texts(src))
      val b = bigrams(t)
      val inter = (a & b).size
      if (2 * inter >= (a | b).size) Some((src.toLong, (originals + j).toLong)) else None
    }.toSet
    all.zipWithIndex.map { case (t, id) => (id.toLong, t.map(w => s"w$w").mkString(" ")) }
      .toDF("id", "text").repartition(4).write.parquet(corpus)
  }

  def runOp(op: Int, tr: Tracer, rec: Recorder): Seq[String] = {
    import spark.implicits._
    val (cand, pairs, groups) = rec.timeOp {
      // the operator persists its per-doc substrate; releasing it after the
      // pass is the caller's part of the contract, and it keeps every pass
      // computing from the parquet rather than from the previous pass
      val (cand, handle) = SubstrateCache.scoped {
        tr.span("ops.minhash") {
          TextOps.minHashNearDupPairs(spark.read.parquet(corpus), "id", "text")
            .select("id_a", "id_b", "inter", "uni").collect()
        }
      }
      handle.release()
      val pairs = cand.collect {
        case r if 2L * r.getInt(2) >= r.getInt(3) => (r.getLong(0), r.getLong(1))
      }.toSeq
      val groups = tr.span("ops.groups") {
        GraphOps.dedupGroups(pairs.toDF("id_a", "id_b"), "id_a", "id_b")
          .select("doc_id", "group_id").collect()
      }
      (cand, pairs, groups)
    }
    rec.items += docs
    rec.add("candidates", cand.length)
    rec.add("verified", pairs.size)

    val errs = mutable.ArrayBuffer.empty[String]
    val wrong = pairs.filterNot(expected)
    if (wrong.nonEmpty) errs += s"op $op: ${wrong.size} returned pairs are not planted, e.g. ${wrong.head}"
    found = pairs.toSet
    val recall = recallOf(found)
    rec.set("ops.recall", recall)
    if (recall < 0.5) errs += f"op $op: planted-pair recall $recall%.3f below 0.5"
    val groupOf = groups.map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (groupOf.size != 2 * pairs.size)
      errs += s"op $op: ${groupOf.size} grouped docs, expected ${2 * pairs.size}"
    pairs.find { case (a, b) => !(groupOf.get(a).contains(a) && groupOf.get(b).contains(a)) }
      .foreach(p => errs += s"op $op: pair $p is not grouped under its lower id")
    errs.toSeq
  }

  def recallOf(pairs: Set[(Long, Long)]): Double =
    if (expected.isEmpty) 1.0 else (pairs & expected).size.toDouble / expected.size

  def finalCheck(): Seq[String] = Nil

  override def facts: Seq[(String, String)] = Seq(
    "docs" -> docs.toString, "near_dups" -> nearDups.toString,
    "distractors" -> distractors.toString,
    "planted_pairs_j_ge_0.5" -> expected.size.toString,
    "recall" -> f"${(found & expected).size}/${expected.size}")
}
