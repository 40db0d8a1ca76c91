package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.{BroadcastHint, ManagedTable}

/** Persistent MinHash/LSH near-duplicate index — the sign-once /
  * dedup-many shape of corpus-scale incremental deduplication.
  *
  * [[TextOps.crossCorpusNearDupPairs]] re-tokenizes and re-signs the
  * CORPUS side on every call; at 100 TB that linear pass dominates and
  * must be paid once, not per arriving batch. This index stores the
  * corpus's MinHash substrate as two [[ManagedTable]]s under one root:
  *
  * {{{
  *   <root>/bands (bkt, pos int, k0..k3 long, id)  PARTITIONED BY bkt
  *   <root>/sigs  (sbkt, id, hs array<long>)       PARTITIONED BY sbkt
  * }}}
  *
  * `bkt = pmod(hash(pos, k0..k3), buckets)` hash-partitions the band
  * rows by their join key, `sbkt = pmod(hash(id), buckets)` the shingle
  * sets by doc id. Scale shape:
  *
  *  - '''build/append''' tokenizes only the given frame — one shuffle
  *    per table write, both linear in the batch;
  *  - '''nearDupPairs''' signs only the incoming batch, then prunes BOTH
  *    index scans driver-side against the manifests
  *    ([[ManagedTable.readPartitionsIn]]): the band join reads only the
  *    buckets the batch's band keys hash into, and the exact-Jaccard
  *    confirm reads only the sig buckets of actual candidates. A small
  *    batch against a huge corpus therefore scans O(matching buckets),
  *    not O(corpus) — the same economics as a bloom-pruned MERGE;
  *  - both tables version like any managed table: time travel, vacuum,
  *    and small-file compaction maintain the index like any dataset.
  *
  * Signatures, band keys, and the exact shingle-set Jaccard counts are
  * exactly [[TextOps.minHashNearDupPairs]]'s (same constants, same
  * column algebra), so a query against a freshly built index reproduces
  * [[TextOps.crossCorpusNearDupPairs]] bit-for-bit.
  *
  * The steady-state loop is: `nearDupPairs(batch)` → drop batch docs
  * with a pair at/above threshold → `append(survivors)` — the corpus
  * stays near-dup-free and is never re-signed.
  */
final class DedupIndex(spark: SparkSession, val rootPath: String,
    buckets: Int = DedupIndex.DefaultBuckets) {

  import DedupIndex._

  private[ops] val bandsTable = ManagedTable(spark, s"$rootPath/bands")
  private[ops] val sigsTable = ManagedTable(spark, s"$rootPath/sigs")

  def exists: Boolean = bandsTable.exists && sigsTable.exists

  /** Indexed corpus size (docs with ≥1 shingle) — metadata-only when
    * per-file row counts are recorded (they are for engine writes). */
  def indexedDocs: Option[Long] = sigsTable.fastCount

  /** Build-time fingerprint: the row count of the exact frame passed to
    * [[DedupIndex.create]]. Callers revalidate a staged index with one
    * cheap `count()` of their source instead of re-tokenizing it —
    * at corpus scale the tokenize pass is the cost the index exists to
    * avoid, so the reuse check must not pay it either. */
  def sourceCount: Option[Long] =
    sigsTable.manifest.flatMap(_.properties.get(DedupIndex.SourceCountProp))
      .map(_.toLong)

  /** Sign `df` and append its band rows and shingle sets — incremental
    * indexing. Ids must not collide with already-indexed ones (the
    * index does not dedup itself; run [[nearDupPairs]] first and append
    * only the survivors). `txn` embeds a streaming-writer transaction in
    * each table's commit (the exactly-once anchor for
    * [[dedupStream]]). */
  def append(df: DataFrame, idCol: String, textCol: String,
      txn: Option[graft.tables.Txn] = None): Unit = {
    val docs = SubstrateCache.persist(
      TextOps.minHashSignatures(df, idCol, textCol))
    bandsTable.appendOrCreate(flatBands(docs, buckets), Seq("bkt"),
      "dedup-append", txn)
    sigsTable.appendOrCreate(sigRows(docs, buckets), Seq("sbkt"),
      "dedup-append", txn)
  }

  /** Continuous corpus dedup — the steady-state loop of the class doc as
    * a first-class streaming operator. Each micro-batch:
    *
    *  1. probes the index ([[nearDupPairs]]) and DROPS rows with a
    *     near-duplicate at/above `threshold` (exact shingle-set Jaccard,
    *     LSH-candidate-bounded);
    *  2. resolves the batch's own near-dup groups
    *     ([[GraphOps.dedupGroups]] over in-batch pairs) and keeps only
    *     each group's canonical member;
    *  3. appends the survivors to the DESTINATION table and to the
    *     index (bands + sigs) — the corpus stays near-dup-free and is
    *     never re-signed.
    *
    * Exactly-once: all three appends embed the same `(appId, batchId)`
    * writer transaction; a replayed batch skips whichever appends
    * already committed, so a crash between the three CONVERGES on
    * restart instead of double-appending (each table's txn walk is the
    * same contract the streaming sink uses). Ids must be integral (the
    * group resolution requires it — hash string ids first). */
  def dedupStream(stream: DataFrame, idCol: String, textCol: String,
      destRoot: String, checkpointLocation: String,
      threshold: Double = 0.5,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = DedupIndex.streamAppId(destRoot, rootPath)
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processDedupBatch(batch, idCol, textCol, destRoot, appId, batchId,
          threshold)
        ()
      }
      .start()
  }

  /** One [[dedupStream]] micro-batch — package-visible so tests can
    * drive replay semantics directly. */
  private[ops] def processDedupBatch(batch: DataFrame, idCol: String,
      textCol: String, destRoot: String, appId: String, batchId: Long,
      threshold: Double): Unit = {
    val dest = ManagedTable(spark, destRoot)
    def lastTxn(t: ManagedTable): Option[Long] =
      if (!t.exists) None
      else (t.getTxn(appId).toSeq ++ t.newestRecordTxn(appId).toSeq)
        .maxOption
    def fresh(t: ManagedTable): Boolean = !lastTxn(t).exists(_ >= batchId)
    if (!fresh(dest) && !fresh(bandsTable) && !fresh(sigsTable)) return
    val txn = Some(graft.tables.Txn(appId, batchId))
    val (survivors, h) = SubstrateCache.scoped {
      // 1. corpus near-dups out (skip the probe while the index is empty)
      val kept0 =
        if (!exists) batch
        else {
          val dups = nearDupPairs(batch, idCol, textCol)
            .filter(col("inter").cast("double") >= col("uni") * threshold)
            .select(col("in_id")).distinct()
          batch.join(dups, batch(s"`$idCol`") === dups("in_id"), "left_anti")
        }
      // 2. in-batch groups: keep each group's canonical member
      val inPairs = TextOps.minHashNearDupPairs(kept0, idCol, textCol)
        .filter(col("inter").cast("double") >= col("uni") * threshold)
      val drops = GraphOps.dedupGroups(inPairs, "id_a", "id_b")
        .filter(!col("is_canonical")).select(col("doc_id"))
      SubstrateCache.persist(
        kept0.join(drops, kept0(s"`$idCol`") === drops("doc_id"), "left_anti"))
    }
    try {
      // 3. idempotent per-table appends: the txn rides each commit, the
      // marker is the O(1) fast path for the next recovery
      if (fresh(dest)) {
        dest.appendOrCreate(survivors, Nil, s"dedup-ingest b$batchId", txn)
        dest.setTxn(appId, batchId)
      }
      if (fresh(bandsTable) || fresh(sigsTable)) {
        val docs = SubstrateCache.persist(
          TextOps.minHashSignatures(survivors, idCol, textCol))
        if (fresh(bandsTable))
          bandsTable.appendOrCreate(flatBands(docs, buckets), Seq("bkt"),
            s"dedup-append b$batchId", txn)
        if (fresh(sigsTable))
          sigsTable.appendOrCreate(sigRows(docs, buckets), Seq("sbkt"),
            s"dedup-append b$batchId", txn)
        bandsTable.setTxn(appId, batchId)
        sigsTable.setTxn(appId, batchId)
      }
      // steady-state compaction cadence: each micro-batch drips one file
      // per touched bucket into bands/sigs (and one into dest), so probe
      // cost would otherwise grow with batch count. The sink's
      // autoCompact property makes every FUTURE append fold small files
      // back (separate maintenance commit — a crash there loses only the
      // compaction, never the ingested batch). Seeded once per table.
      Seq(dest, bandsTable, sigsTable).foreach(DedupIndex.ensureAutoCompact)
    } finally h.release()
  }

  /** Near-duplicate pairs between `batch` and the INDEXED corpus:
    * `(in_id, corpus_id, inter, uni)` for every batch doc sharing at
    * least one LSH band with an indexed doc, with exact shingle-set
    * Jaccard counts for thresholding — the contract of
    * [[TextOps.crossCorpusNearDupPairs]], against the stored substrate.
    * Only the batch is tokenized; both index reads are manifest-pruned
    * to the buckets the batch can possibly match. */
  def nearDupPairs(batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val inDocs = SubstrateCache.persist(
      TextOps.minHashSignatures(batch, idCol, textCol))
    val inBands = flatBands(inDocs, buckets)
    // [[flatBands]] emits exactly [[TextOps.Bands]] rows per signed doc,
    // so the broadcast-sizing count is a plain cache count (materializes
    // the substrate, no shuffle) — and the manifest partition prune only
    // runs when it can PAY: a batch of n random band keys covers
    // ~buckets·(1−e^(−n/buckets)) buckets (coupon collector), so past a
    // few rows per bucket the batch provably hits essentially every
    // partition and the distinct-collect would buy a full scan anyway.
    // Tiny batches (the CDC steady state this index exists for) keep the
    // exact bucket-list prune.
    val nInBands = TextOps.Bands.toLong * inDocs.count()
    // the coupon-collector argument above holds only for WELL-SPREAD
    // keys: a large batch of near-identical documents concentrates in a
    // handful of buckets, where skipping the prune would trade a few
    // pruned partition reads for a full corpus-bands scan — on exactly
    // the duplicate-heavy batches the index serves. The arbitration and
    // the prune share ONE action: the distinct bucket list is bounded by
    // the bucket count (≤ `buckets` rows after partial aggregation — the
    // same O(batch) scan an approx_count_distinct sketch pass would
    // cost, minus that pass), so collect it once and let its exact SIZE
    // decide — near-full coverage reads the table outright; a skewed
    // batch keeps the exact bucket-list prune.
    val inBkts = inBands.select("bkt").distinct()
      .collect().map(_.getString(0)).toSet
    val corpusBands =
      if (nInBands <= buckets.toLong * PruneCollectRowsPerBucket ||
          inBkts.size < (buckets * 4) / 5)
        bandsTable.readPartitionsIn(Map("bkt" -> inBkts))
      else bandsTable.read()
    val keys = (0 until TextOps.RowsPerBand).map(r => s"k$r")
    val joinCond = (Seq("pos") ++ keys)
      .map(c => col(s"a.`$c`") === col(s"b.`$c`"))
      .reduce(_ && _)
    // the scale contract is "small batch against a huge corpus": below
    // the row bound the batch's band rows broadcast (~50 B each), so the
    // corpus side NEVER shuffles — it streams out of its pruned,
    // bucket-partitioned files straight into the hash join. A backfill-
    // sized batch falls back to the shuffle join.
    val inSide =
      BroadcastHint(inBands.alias("a"), nInBands <= BroadcastBandRowBound)
    // persisted: the candidate-bucket collect below materializes the band
    // join once, and the final confirm join reads the cached candidates —
    // without this the (corpus-side) band join executes twice per probe
    val pairs = SubstrateCache.persist(
      inSide.join(corpusBands.alias("b"), joinCond)
        .select(col("a.id").as("in_id"), col("b.id").as("corpus_id"))
        .distinct())
    // exact-Jaccard confirm: candidates' sig buckets prune the sigs scan
    // (same prune-only-when-it-pays gate as the band scan; the cache
    // count doubles as the broadcast sizing)
    val candWithBkt = pairs.withColumn("sbkt",
      pmod(hash(col("corpus_id")), lit(buckets)).cast("string"))
    val nCand = pairs.count()
    val corpusSigs =
      if (nCand == 0) sigsTable.read().limit(0)
      else {
        // same fused arbitration as the band prune: one bounded collect,
        // its exact size decides prune vs full scan
        val candBkts = candWithBkt.select("sbkt").distinct()
          .collect().map(_.getString(0)).toSet
        if (nCand <= buckets.toLong * PruneCollectRowsPerBucket ||
            candBkts.size < (buckets * 4) / 5)
          sigsTable.readPartitionsIn(Map("sbkt" -> candBkts))
        else sigsTable.read()
      }
    // candidates are bounded by real duplication — broadcast them through
    // both confirm joins so neither the cached batch signatures nor the
    // pruned corpus sigs shuffle
    val candSide =
      BroadcastHint(candWithBkt.drop("sbkt"), nCand <= BroadcastBandRowBound)
    candSide
      .join(inDocs.select(col("__id").as("in_id"), col("__hs").as("hs_a")),
        "in_id")
      .join(corpusSigs.select(col("id").as("corpus_id"), col("hs").as("hs_b")),
        "corpus_id")
      .select(col("in_id"), col("corpus_id"),
        size(array_intersect(col("hs_a"), col("hs_b"))).as("inter"),
        (size(col("hs_a")) + size(col("hs_b"))
          - size(array_intersect(col("hs_a"), col("hs_b")))).as("uni"))
  }
}

object DedupIndex {

  /** Hash buckets per table — the pruning granularity. More buckets
    * prune small batches harder but write more partition directories per
    * commit; 64 keeps a 10-doc CDC batch reading ≲ 40/64 of the index
    * while a full-corpus rebuild still compacts cleanly. */
  val DefaultBuckets = 64

  /** Batch band rows at or below this broadcast through the index joins
    * (~50 B/row → ≲50 MB broadcast at the bound); larger batches, and
    * every batch under Spark's `spark.sql.autoBroadcastJoinThreshold=-1`,
    * fall back to shuffle joins. */
  val BroadcastBandRowBound = 1000000L

  /** Probe-side rows per bucket above which the manifest partition prune
    * is skipped: by coupon-collector coverage a batch this large hits
    * essentially every bucket, so collecting its exact bucket list costs
    * a distinct+collect to authorize what is a full scan regardless. */
  val PruneCollectRowsPerBucket = 4L

  /** Writer identity of a [[DedupIndex.dedupStream]] pipeline — stable
    * per (destination, index) pair, filename-safe. */
  private[ops] def streamAppId(destRoot: String, indexRoot: String): String =
    "dedup-" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$destRoot|$indexRoot"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(12).map("%02x".format(_)).mkString

  def apply(spark: SparkSession, rootPath: String,
      buckets: Int = DefaultBuckets): DedupIndex =
    new DedupIndex(spark, rootPath, buckets)

  /** Table property holding [[DedupIndex.create]]'s source row count. */
  val SourceCountProp = "graft.dedupindex.sourceCount"

  /** Seed the post-commit auto-compaction property on a drip-appended
    * index table (idempotent — the property write is itself a commit, so
    * it only happens when absent). Every later append then folds small
    * files back once `graft.autoCompact.minSmallFiles` of them are below
    * `graft.autoCompact.smallBytes` — bounded probe cost at steady
    * state, whoever the writer is. */
  private[ops] def ensureAutoCompact(t: graft.tables.ManagedTable): Unit =
    if (t.exists && !t.properties.contains("graft.autoCompact.enabled"))
      t.setTableProperties(Map("graft.autoCompact.enabled" -> "true"))

  /** Build (or rebuild) the index at `rootPath` from `corpus`. The
    * source row count is recorded as a table property
    * ([[SourceCountProp]]) so later sessions can revalidate reuse with
    * one cheap count instead of a tokenize pass. */
  def create(spark: SparkSession, corpus: DataFrame,
      idCol: String, textCol: String, rootPath: String,
      buckets: Int = DefaultBuckets): DedupIndex = {
    val idx = new DedupIndex(spark, rootPath, buckets)
    val docs = SubstrateCache.persist(
      TextOps.minHashSignatures(corpus, idCol, textCol))
    val n = corpus.count()
    idx.bandsTable.overwriteAll(flatBands(docs, buckets), Seq("bkt"),
      "dedup-create")
    idx.sigsTable.overwriteAll(sigRows(docs, buckets), Seq("sbkt"),
      "dedup-create")
    idx.sigsTable.setTableProperties(Map(SourceCountProp -> n.toString))
    idx
  }

  /** Flat band rows `(bkt, pos, k0..k3, id)` from a
    * [[TextOps.minHashSignatures]] frame — the struct band key of the
    * in-memory path flattened to plain columns (parquet-friendly, and
    * the equi-join condition is identical column-for-column). */
  private[ops] def flatBands(docs: DataFrame, buckets: Int): DataFrame = {
    val rows = (0 until TextOps.Bands).map { j =>
      val keys = (0 until TextOps.RowsPerBand).map(r =>
        col(s"__m${j * TextOps.RowsPerBand + r}").as(s"k$r"))
      docs.select(Seq(lit(j).as("pos")) ++ keys :+ col("__id").as("id"): _*)
    }.reduce(_ unionAll _)
    val keyCols = Seq(col("pos")) ++
      (0 until TextOps.RowsPerBand).map(r => col(s"k$r"))
    // co-locate each bucket in one task BEFORE the partitioned write:
    // without this, every shuffle task holds rows of every bucket and a
    // P-task write fans out into P×buckets tiny files (observed: 2k files
    // for a 20 MB index, and every search paid 2k file opens). One extra
    // hash shuffle at build time buys one-file-per-bucket reads forever.
    AnnIndex.coLocate(
      rows.withColumn("bkt",
        pmod(hash(keyCols: _*), lit(buckets)).cast("string")),
      "bkt")
  }

  /** Sig rows `(sbkt, id, hs)` — the exact-Jaccard substrate.
    * Bucket-co-located before the write for the same reason as
    * [[flatBands]]. */
  private[ops] def sigRows(docs: DataFrame, buckets: Int): DataFrame =
    AnnIndex.coLocate(
      docs.select(col("__id").as("id"), col("__hs").as("hs"))
        .withColumn("sbkt",
          pmod(hash(col("id")), lit(buckets)).cast("string")),
      "sbkt")
}
