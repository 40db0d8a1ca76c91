package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph primitives for dedup-group resolution.
  *
  * Near-dup detection emits PAIRS; acting on them (keep one doc per
  * group) needs connected COMPONENTS. This is the piece that turns
  * `TextOps.minHashNearDupPairs` / `SimilarityOps.embeddingNearDupPairs`
  * output into canonical group ids.
  *
  * Scale behavior: iterative min-label propagation with POINTER JUMPING
  * (each node also adopts its label's label every round), converging in
  * O(log diameter) rounds — a 63-edge chain needs 8 rounds, not 63, so a
  * pathological long-chain component can no longer blow the round cap.
  * Near-dup graphs are dense clusters with tiny diameter (2-4), so the
  * loop runs a handful of rounds regardless of corpus size, and every
  * round is embarrassingly parallel on the node hash. Labels only ever
  * decrease, so convergence is an exact per-node `new < old` count FUSED
  * into the propagation aggregate itself — one Spark job per round, no
  * separate convergence action. Lineage is truncated each round
  * with `localCheckpoint` to keep plan analysis O(1) per round.
  */
object GraphOps {

  /** Drop a superseded `localCheckpoint` round's cached blocks. A plain
    * `df.unpersist()` is a no-op for checkpointed frames — the blocks
    * belong to the internal RDD inside the plan's `LogicalRDD`, not to a
    * CacheManager entry — so the iterative ops would otherwise leak
    * O(rounds × rows) of block-manager memory per call. Only ever call
    * this on a round that nothing will read again: a locally
    * checkpointed RDD's lineage is truncated, so its blocks cannot be
    * recomputed after unpersisting. */
  private[ops] def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Job description prefix of the propagation rounds' Spark jobs (the
    * round number follows), so listeners can tell them apart from the
    * edge materialization and from the caller's own jobs. The caller's
    * description is restored on exit. */
  val RoundJobDescription = "graft.connectedComponents round"

  /** Connected components of an undirected edge list.
    *
    * Returns one row per node that appears in `edges`:
    * `(node, component)` with `component` = minimum node id reachable
    * (including itself) — a deterministic canonical group id.
    *
    * @param maxIters safety cap; propagation converges in O(log diameter)
    *                 rounds (pointer jumping) and stops as soon as no
    *                 label changes — the default cap of 30 covers any
    *                 component a 64-bit id space can hold.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // ids must be integral ALREADY: a silent cast of string/UUID ids would
    // null every edge and return an empty result instead of an error —
    // "no duplicates found" when dedup simply never ran. Map string ids
    // through a stable hash (e.g. TextOps.portableHash) first.
    Seq(srcCol, dstCol).foreach { c =>
      import org.apache.spark.sql.types._
      val dt = edges.schema(c).dataType
      require(Set[DataType](LongType, IntegerType, ShortType, ByteType)(dt),
        s"connectedComponents requires integral node ids; column '$c' is " +
          s"${dt.simpleString} — hash string ids to longs first")
    }
    val src = col(s"`$srcCol`").cast("long")
    val dst = col(s"`$dstCol`").cast("long")
    // symmetrize in ONE pass over the (possibly very expensive) upstream
    // pair plan — each input edge explodes to its two directions, so the
    // upstream executes once with no persist of the raw pairs. Dedup runs
    // AFTER the repartition on the probe key `b`: hash(b) already
    // co-locates equal (a, b) rows, so the (a, b) aggregate needs no
    // second exchange and its output KEEPS the hash(b) layout — the
    // per-round join (sym.b == labels.node) then reads the cached layout
    // with NO exchange on the edge side (labels comes out of its
    // aggregation hash(node) with the same partition count), so rounds
    // shuffle only the (small) label union, never the edge list.
    // the symmetrized edge table is built and MATERIALIZED with AQE on:
    // the upstream pair pipeline (minhash/LSH explodes and their
    // aggregations — often the heaviest shuffles of the whole query)
    // keeps AQE's partition coalescing and skew-join splitting, which
    // apply to the cached plan's intermediate stages (Spark applies AQE
    // inside InMemoryRelation; with canChangeCachedPlanOutputPartitioning
    // at its false default the FINAL stage's partitioning is preserved).
    // The explicit partition count pins the persisted hash layout the
    // zero-exchange loop below relies on — a by-number repartition is
    // exempt from AQE coalescing, and it equals the static count every
    // AQE-off aggregation in the loop produces. (r16 ran the whole build
    // inside the AQE-off window: the pairs shuffle lost coalescing/skew
    // handling and the driver's bench regressed q_td_dedup_best 3.6→12.6 s.)
    val loopParts = spark.sessionState.conf.numShufflePartitions
    val sym = edges.select(src.as("a"), dst.as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))
      .repartition(loopParts, col("b"))
      .dropDuplicates("a", "b")
    val sc = spark.sparkContext
    val descWas = sc.getLocalProperty("spark.job.description")
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    // ONE finally from the persist on: the cached edges, the AQE toggle
    // and the job description are released/restored on every exit path —
    // a throw while materializing or mid-loop must not leave a
    // corpus-scale edge frame pinned in the block manager
    try {
    sym.persist(StorageLevel.MEMORY_AND_DISK)
    sym.count() // materialize under AQE, BEFORE the toggle below

    // AQE off for the propagation rounds ONLY (restored on exit): every
    // round's plan is zero-exchange BY CONSTRUCTION (persisted hash layout
    // on the edge side, aggregation layout on the label side, shuffle_hash
    // hint), so adaptive re-planning has nothing to improve — but it wraps
    // each materialized query stage in its own Spark job, doubling-to-
    // tripling the loop's job count (measured: q_td_dedup_groups 18 jobs
    // with AQE, rounds+pairs-pipeline jobs without). Fewer jobs = less
    // per-job driver/listener overhead — the exact multiplier a long
    // service session pays on every propagation round.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // init: each node labeled with min(itself, its neighbors) — the first
    // propagation round fused into the node-list aggregation.
    // localCheckpoint is LAZY throughout: it caches partitions as the
    // convergence-count action computes them, so each round is ONE job
    // (propagate + materialize + change count), not a checkpoint job plus
    // a count job — the whole loop runs `rounds` jobs plus the edge
    // materialization above (an empty graph surfaces as a null change
    // count in round 1).
    var labels = sym
      .groupBy(col("a").as("node"))
      .agg(min(least(col("a"), col("b"))).as("component"))
      .localCheckpoint(eager = false)

    var iter = 1
    var converged = false
    var empty = false
    while (!converged && !empty && iter < maxIters) {
      sc.setJobDescription(s"$RoundJobDescription $iter")
      // shuffle-hash, build = labels: both sides are already
      // hash-partitioned on the join key with the same partition count
      // (sym from its persisted repartition, labels from its aggregation),
      // so this join plans ZERO exchanges and ZERO sorts — where the
      // planner's stats-estimated broadcast would collect the ENTIRE
      // label table (one row per node — corpus-scale, not dim-scale)
      // through the driver every round, an extra job per round locally
      // and an OOM at 100 TB
      val neighborLabels = sym
        .join(labels.hint("shuffle_hash"), sym("b") === labels("node"))
        .select(sym("a").as("node"), labels("component").as("component"))
      // POINTER JUMPING fused into the same round: each node also adopts
      // its label's label (label(label(x))), so label chains halve every
      // round and convergence takes O(log diameter) rounds instead of
      // O(diameter) — at a fixed per-round cost of one extra shuffle of
      // the (narrow) label table on `component` (the l2 build side reads
      // its aggregation layout with no exchange; shuffle_hash again keeps
      // the planner from driver-broadcasting a corpus-scale table). The
      // accelerator is exact: labels still only ever DECREASE (l2's
      // component ≤ l2's node = l1's component), so the fused `< __old`
      // convergence count stays an exact fixpoint test.
      val jumpLabels = labels.alias("l1")
        .join(labels.hint("shuffle_hash").alias("l2"),
          col("l1.component") === col("l2.node"))
        .select(col("l1.node").as("node"),
          col("l2.component").as("component"))
      // convergence detection FUSED into the propagation aggregate: the
      // self rows carry their previous label through `__old` (min ignores
      // the neighbor rows' nulls; every node has exactly one self row),
      // so one action yields the new labels AND the changed count —
      // labels only ever decrease, making `component < __old` exact
      val next = labels
        .select(col("node"), col("component"), col("component").as("__old"))
        .unionByName(neighborLabels
          .withColumn("__old", lit(null).cast("long")))
        .unionByName(jumpLabels
          .withColumn("__old", lit(null).cast("long")))
        .groupBy("node")
        .agg(min("component").as("component"), min("__old").as("__old"))
        .localCheckpoint(eager = false)
      val changed = next.agg(
        sum(when(col("component") < col("__old"), 1L).otherwise(0L))).head()
      // the action materialized every partition of `next`, truncating its
      // lineage to its own cached blocks — the superseded round's blocks
      // are unreachable from here on and must not accumulate
      // (O(rounds × nodes) leaked cache otherwise; under a long bench or
      // service session that pressure evicts OTHER queries' caches)
      dropCheckpoint(labels)
      labels = next
      if (changed.isNullAt(0)) empty = true
      else converged = changed.getLong(0) == 0L
      iter += 1
    }
    // the final frame's checkpoint blocks are released on BOTH abnormal
    // exits: nothing downstream will read them, and the throw path would
    // otherwise leave a corpus-scale label frame pinned in the session's
    // block manager — exactly the pressure the in-loop dropCheckpoint
    // exists to relieve
    if (empty) {
      dropCheckpoint(labels)
      return Seq.empty[(Long, Long)].toDF("node", "component")
    }
    // an unconverged exit means the labels are WRONG (some nodes still carry
    // a non-minimal component id) — returning them silently would corrupt
    // canonical-doc selection downstream. maxIters is an error bound, not a
    // truncation point: component diameter > maxIters is a data shape this
    // caller must opt into by raising the cap.
    if (!converged) {
      dropCheckpoint(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters iterations " +
          "(component diameter exceeds the cap); raise maxIters")
    }
    labels.select("node", "component")
    } finally {
      sym.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      sc.setJobDescription(descWas)
    }
  }

  /** Dedup groups from near-dup pairs: `(doc, group, is_canonical)` for
    * every doc in at least one pair. Keep `is_canonical` rows, drop the
    * rest — the standard corpus-dedup contract. */
  def dedupGroups(pairs: DataFrame, idA: String, idB: String): DataFrame =
    connectedComponents(pairs, idA, idB)
      .select(col("node").as("doc_id"), col("component").as("group_id"),
        (col("node") === col("component")).as("is_canonical"))

  /** Pick ONE representative per dedup group by quality instead of the
    * min-id canonical: highest `scoreCol` wins, lowest id breaks ties —
    * deterministic across runs and engines. This is the curation step
    * that makes near-dup groups actionable ("keep the best member of
    * each cluster, drop the rest"): min-id keeps an arbitrary member;
    * score-based keeps the longest / cleanest / highest-rated one.
    *
    * Returns (groupCol, rep_id, rep_score, n_members).
    *
    * Scale shape: one equi-join of the group table against the scores,
    * then a window partitioned on the group id — near-dup groups are
    * small (bounded by real duplication), so the per-group sort is local
    * and the rank-1 filter is Spark's partial window-group-limit shape.
    * Both the window and the implied shuffle hash on the group id. */
  def bestRepresentatives(groups: DataFrame, idCol: String, groupCol: String,
      scored: DataFrame, scoredIdCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = groups
      .join(scored, groups(idCol) === scored(scoredIdCol))
      .drop(scored(scoredIdCol))
    val byGroup = Window.partitionBy(col(s"`$groupCol`"))
    val w = byGroup.orderBy(col(s"`$scoreCol`").desc, col(s"`$idCol`"))
    joined.withColumn("__rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(byGroup))
      .filter(col("__rn") === 1)
      .select(col(s"`$groupCol`"), col(s"`$idCol`").as("rep_id"),
        col(s"`$scoreCol`").as("rep_score"), col("n_members"))
  }
}
