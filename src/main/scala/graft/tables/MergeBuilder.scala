package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Delta-MERGE-equivalent over a [[ManagedTable]] (SURVEY §7.3).
  *
  * Semantics mirror Delta's builder (reference usage:
  * src/main/scala/datalake/processing/Merge.scala:96-125,
  * Historic.scala:75-106): `whenMatched` / `whenNotMatched` /
  * `whenNotMatchedBySource` clauses, evaluated in declaration order, first
  * match wins; unmatched-by-any-clause rows pass through unchanged.
  *
  * Execution: the keyed path (every pipeline PK merge) is a two-phase
  * file-granular rewrite — touch-detect via `input_file_name()` under a
  * broadcast join, then rewrite ONLY the touched files and carry every
  * untouched manifest entry into the new version verbatim (see
  * [[executeKeyed]]). The source is broadcast unless it is measured
  * above [[MergeBuilder.BroadcastSourceBytes]] or Spark's
  * `spark.sql.autoBroadcastJoinThreshold` is `-1`. The generic-condition
  * path is one declarative full-outer-join program committed at
  * partition granularity:
  * {{{
  *   target (partition-pruned) FULL OUTER JOIN source ON <condition>
  *   → per-column CASE chain picks target/source/override value
  *   → action tag column → metrics (observed by the write job itself)
  *   → atomic replacePartitions commit
  * }}}
  * Either way the action counts and the CHECK verdict are metrics of the
  * write job itself ([[RowCounts]]): nothing is cached or re-scanned.
  *
  * Scale behavior: joins hash on the (already hashed, uniformly
  * distributed) PK — no skew by construction. Only partitions named in
  * `prunePartitions` are read at all, and on the keyed path only files
  * containing clause-touched rows are rewritten; nothing table-sized is
  * ever persisted.
  *
  * Conditions and set-expressions are `Column`s over the `target.` /
  * `source.` aliases, as Delta's builder takes them. The public `String`
  * methods parse their Spark SQL once, when the clause is added; the SQL
  * `MERGE INTO` surface hands its analyzed expressions over as `Column`s
  * directly (`graft.plans.SqlDml`).
  */
final class MergeBuilder private[tables] (
    table: ManagedTable,
    source: DataFrame,
    condition: Column,
    keyColumn: Option[String] = None) {

  import MergeBuilder._

  private var clauses = Vector.empty[Clause]
  private var pruned: Option[Seq[Map[String, String]]] = None
  private var sourceKeysUnique = false
  private var txn: Option[Txn] = None
  private var operationName = "merge"
  private var schemaEvolution = false
  private var evolutionIgnore = Set.empty[String]

  /** Test hook: file count of the last keyed phase-1 probe scan (−1 until
    * a keyed execute runs) — lets specs assert bloom data skipping
    * narrowed the scan without parsing plans. */
  private[tables] var lastProbeFileCount: Int = -1

  /** Generated columns the SOURCE does not carry: UpdateAll/InsertAll
    * treat them as engine-maintained — a typed placeholder here, the
    * commit's recompute pass ([[ManagedTable]] applyGenerated) fills
    * them from their rule. Without this, insertAll over a source that
    * (correctly) omits a generated column would fail resolution. */
  private lazy val genAbsent: Set[String] = {
    val srcCols = source.columns.map(_.toLowerCase).toSet
    (table.generatedColumns.keySet ++ table.identityColumnNames)
      .filterNot(c => srcCols(c.toLowerCase))
  }

  private lazy val smallSource: Boolean = MergeBuilder.smallSource(source)

  /** Skip the keyed path's multi-match guard when the caller has already
    * proven source-key uniqueness (the pipeline's slice stats do) — saves
    * one aggregation job per merge. */
  def assumeUniqueSourceKeys(): this.type = { sourceKeysUnique = true; this }

  /** Embed a streaming-writer transaction identity in the merge's commit
    * record — atomic with the data files, exactly like [[ManagedTable
    * .append]]'s `txn` parameter. This is what makes a per-micro-batch
    * MERGE idempotent under replay: the streaming upsert sink records
    * `(appId, batchId)` in the same pointer swap that publishes the
    * rewritten files, so a crash can never separate "merge applied" from
    * "batch marked committed". `operation` names the commit in
    * [[ManagedTable.history]] (defaults to `merge`). */
  def withTxn(appId: String, batchId: Long,
      operation: String = "merge",
      expectedPrev: Option[Long] = None): this.type = {
    txn = Some(Txn(appId, batchId, expectedPrev))
    operationName = operation
    this
  }

  /** Adopt source-only columns into the target (Delta's
    * `spark.databricks.delta.schema.autoMerge` behavior, per-merge): the
    * target schema is widened FIRST as a metadata-only commit — new
    * fields appended nullable, existing files read them as null, nothing
    * rewritten — then the merge proceeds with updates/inserts carrying
    * the new columns. Without this flag, source-only columns are
    * silently ignored (the default, as in Delta). `ignore` names
    * source-side transport columns (a CDC delete flag, a sequence
    * number) that clause conditions may reference but the target must
    * never adopt. */
  def withSchemaEvolution(ignore: Seq[String] = Nil): this.type = {
    schemaEvolution = true
    evolutionIgnore = ignore.toSet
    this
  }

  /** Restrict the merge to these partitions (column → string value, one map
    * per partition). Target files outside them are neither read nor
    * rewritten. The caller guarantees every source row falls inside AND
    * that matching target rows can only live inside them — i.e. partition
    * columns must be immutable per key (the reference's partition-IN-filter
    * contract, Merge.scala:38-48: a key that moves partitions would be
    * missed and re-inserted). */
  def prunePartitions(parts: Seq[Map[String, String]]): this.type = {
    pruned = Some(parts); this
  }

  def whenMatchedUpdateAll(cond: Option[String] = None): this.type =
    add(Clause(Matched, cond.map(expr), UpdateAll))
  def whenMatchedUpdate(set: Map[String, String], cond: Option[String] = None): this.type =
    add(Clause(Matched, cond.map(expr), UpdateSet(exprs(set))))
  def whenMatchedDelete(cond: Option[String] = None): this.type =
    add(Clause(Matched, cond.map(expr), Delete))
  def whenNotMatchedInsertAll(cond: Option[String] = None): this.type =
    add(Clause(NotMatched, cond.map(expr), InsertAll))
  /** Insert with explicit per-column expressions over `source.`; target
    * columns absent from `set` insert NULL (Delta's insert(set)
    * semantics). */
  def whenNotMatchedInsert(set: Map[String, String], cond: Option[String] = None): this.type =
    add(Clause(NotMatched, cond.map(expr), InsertSet(exprs(set))))
  def whenNotMatchedBySourceUpdate(
      set: Map[String, String], cond: Option[String] = None): this.type =
    add(Clause(NotMatchedBySource, cond.map(expr), UpdateSet(exprs(set))))
  def whenNotMatchedBySourceDelete(cond: Option[String] = None): this.type =
    add(Clause(NotMatchedBySource, cond.map(expr), Delete))

  private def exprs(set: Map[String, String]): Map[String, Column] =
    set.map { case (k, v) => k -> expr(v) }

  /** Append a clause built from `Column`s (the SQL surface's form). */
  private[graft] def add(c: Clause): this.type = { clauses :+= c; this }

  /** Run the merge; returns per-action row counts keyed by clause index
    * (`m0`, `nm1`, `bs0`, …) plus `unchanged` (rows no clause touched).
    *
    * The whole read-resolve-commit runs under the table's write lock: the
    * plan removes files of the manifest it READ, so an interleaved commit
    * by another in-process writer (the supported `Runner.parallelism`
    * model) between manifest resolution and `replacePartitions` would be
    * silently erased. The lock is reentrant — the inner commit re-acquires
    * it. */
  def execute(): MergeMetrics = table.withWriteLock {
    // append-only governance: clauses that can touch EXISTING rows
    // (matched update/delete, not-matched-by-source) are rejected;
    // insert-only merges still run
    if (clauses.exists(_.kind != NotMatched))
      table.requireNotAppendOnly("MERGE (update/delete clauses)")
    if (schemaEvolution) evolveTargetSchema()
    keyColumn match {
      case Some(k) if clausesDeterministic && !smallScope => executeKeyed(k)
      case _                                              => executeGeneric()
    }
  }

  /** A pruned scope small enough that the keyed path's touch-detection
    * probe cannot pay for itself: every scope file would be cheap to
    * rewrite outright, so the single-phase generic resolve (one write job
    * that also counts the actions) beats probe + selective rewrite +
    * insert anti-join on the commit-latency path. Sized from MANIFEST bytes
    * only — an entry without a recorded size disqualifies (conservative:
    * stay file-granular). DV tables keep the keyed path (its masking
    * avoids the rewrite entirely, strictly better). At 100 TB the bound
    * (`spark.graft.merge.smallScopeBytes`, default 64 MB, 0 disables)
    * routes only slice-sized tables or well-pruned partitions here —
    * e.g. an incrementally-maintained VIEW over a huge source. */
  private def smallScope: Boolean = {
    val bound = source.sparkSession.conf
      .get("spark.graft.merge.smallScopeBytes", (64L << 20).toString).toLong
    bound > 0 && !table.dvEnabled && {
      val files = table.manifest.map(prunedFiles).getOrElse(Nil)
      files.forall(_.bytes.isDefined) &&
        files.iterator.flatMap(_.bytes).sum <= bound
    }
  }

  /** Pre-widen the target with source-only columns (nullable) under the
    * already-held lock; the merge then runs against the widened manifest
    * and existing machinery needs no special cases. */
  private def evolveTargetSchema(): Unit = {
    val m = requireTarget
    val have = m.schema.fieldNames.toSet ++ evolutionIgnore
    val added = source.schema.fields.filterNot(f => have.contains(f.name))
    if (added.nonEmpty)
      table.evolveSchema(org.apache.spark.sql.types.StructType(
        m.schema.fields ++ added.map(_.copy(nullable = true))))
  }

  /** The keyed path evaluates every clause condition TWICE — once in touch
    * detection, once in the rewrite — so a nondeterministic condition
    * (`rand()`, `current_timestamp()`) could flag a file untouched in phase
    * 1 yet resolve a row as updated in phase 2, silently losing the update.
    * Such merges take the single-pass generic path, where the resolved
    * frame is computed once, by the write job that also counts its actions
    * (self-consistent by construction). Determinism is checked on the
    * ANALYZED expressions: an unresolved `rand()` is just an
    * `UnresolvedFunction` whose `deterministic` defaults to true, so the
    * conditions are resolved against an empty two-sided join frame first
    * (analysis only, no jobs). */
  private[tables] def clausesDeterministic: Boolean = {
    val conds = clauses.flatMap(_.cond)
    conds.isEmpty || {
      val spark = source.sparkSession
      val m = requireTarget
      val t = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
        .withColumn(TFlag, lit(true)).alias("target")
      val s = source.limit(0).withColumn(SFlag, lit(true)).alias("source")
      t.join(s, condition, "left_outer")
        .select(conds: _*)
        .queryExecution.analyzed.expressions.forall(_.deterministic)
    }
  }

  /** Phase-1 probe scope: the partition-pruned files, further narrowed by
    * per-file Bloom data skipping on the merge key when that cannot change
    * the result. A bloom-negative file cannot contain a row whose key is
    * in the source, so skipping it is safe exactly when every clause is
    * source-driven — with a `whenNotMatchedBySource` clause, target-only
    * rows (which can live in ANY file) participate and no file may be
    * skipped. Gated on (a) the target having a bloom index registered on
    * the key (file min/max alone never prunes a uniform hash PK — the
    * surrogate-key common case, see [[executeKeyed]]'s doc), and (b) the
    * source not measured too large to broadcast, with at most
    * [[BloomPruneMaxKeys]] distinct keys, so the key collect is
    * driver-bounded. Metrics stay exact: a skipped file's rows price into
    * `unchanged` from the manifest like a scanned-but-untouched file's.
    * This is Delta's BLOOMFILTER + MERGE economics — a 10-row CDC slice
    * against an unpartitioned 100 TB table probes O(matching files). */
  private def bloomPrunedProbeScope(m: Manifest, k: String,
      scopeFiles: Seq[TableFile]): Seq[TableFile] = {
    val eligible = smallSource &&
      !clauses.exists(_.kind == NotMatchedBySource) &&
      table.bloomIndexes.contains(m.physicalName(k))
    if (!eligible) scopeFiles
    else {
      val keys = source.select(col(k)).filter(col(k).isNotNull)
        .distinct().limit(BloomPruneMaxKeys + 1).collect().map(_.get(0)).toSeq
      if (keys.isEmpty || keys.size > BloomPruneMaxKeys) scopeFiles
      else {
        val might = table.filesMightContainAmong(m, k, keys, scopeFiles)
          .map(_.path).toSet
        scopeFiles.filter(f => might.contains(f.path))
      }
    }
  }

  /** Manifest entries inside the merge's partition-pruned scope. */
  private def prunedFiles(m: Manifest): Seq[TableFile] =
    pruned match {
      case Some(ps) if m.partitionColumns.nonEmpty =>
        val wanted = ps.toSet
        m.files.filter(f => wanted.contains(f.partitionValues))
      case _ => m.files
    }

  private def prunedTarget(m: Manifest): DataFrame =
    table.readManifestFiles(m, prunedFiles(m))

  private def requireTarget: Manifest =
    table.manifest.getOrElse(
      throw new graft.metadata.MetadataException(
        s"MERGE target ${table.rootPath} does not exist"))

  /** Generic-condition path: one full-outer join. Correct for any ON
    * condition, but shuffles BOTH sides — used only when the condition is
    * not a plain key equality. */
  private def executeGeneric(): MergeMetrics = {
    val m = requireTarget
    val targetCols = m.schema.fields.map(_.name).toSeq
    val scopeFiles = prunedFiles(m)
    // this path reads (and rewrites) the whole pruned scope
    lastProbeFileCount = scopeFiles.size
    // row tracking: the partition-granular rewrite re-commits every scope
    // row — materialize IDs so carried and updated rows keep identity
    // (source-only inserts get fresh IDs from their new file's base range)
    val rtActive = table.rowTrackingActive(m) &&
      scopeFiles.forall(_.baseRowId.isDefined)
    val target =
      if (rtActive) table.readPreservingRowIds(m, scopeFiles)
      else table.readManifestFiles(m, scopeFiles)

    val t = target
      .withColumn(TFlag, lit(true))
      .withColumn(TRowId, monotonically_increasing_id())
      .alias("target")
    val s = source.withColumn(SFlag, lit(true)).alias("source")
    val joined = t.join(s, condition, "full_outer")

    val isMatched = col(TFlag).isNotNull && col(SFlag).isNotNull
    val sourceOnly = col(SFlag).isNotNull && col(TFlag).isNull
    val targetOnly = col(TFlag).isNotNull && col(SFlag).isNull

    def scope(k: ClauseKind): Column = k match {
      case Matched            => isMatched
      case NotMatched         => sourceOnly
      case NotMatchedBySource => targetOnly
    }
    def clauseCond(c: Clause): Column =
      c.cond.map(scope(c.kind) && _).getOrElse(scope(c.kind))

    val indexed = clauses.zipWithIndex
    // action tag: first clause whose scope+condition holds; else keep/drop
    val actionCol = indexed.foldRight(
      when(sourceOnly, lit(DropTag)).otherwise(lit(UnchangedTag))) {
      case ((c, i), rest) => when(clauseCond(c), lit(tagOf(c, i))).otherwise(rest)
    }
    // values pick their clause by the row's action tag, evaluated ONCE
    // per row: re-evaluating the clause conditions per column would give
    // every `rand()` occurrence its own seed, so the values written could
    // follow a different clause than the action counted
    val action = col(ActionCol)
    val outCols = targetCols.map { name =>
      indexed.foldRight(col(s"target.`$name`")) { case ((c, i), rest) =>
        when(action === lit(tagOf(c, i)), valueFor(c, name))
          .otherwise(rest)
      }.as(name)
    }

    val matCarry =
      if (rtActive)
        Seq(col(s"target.`${ManagedTable.MatRowIdCol}`")
            .as(ManagedTable.MatRowIdCol),
          when(action === lit(UnchangedTag),
              col(s"target.`${ManagedTable.MatRowCvCol}`"))
            .otherwise(lit(m.version + 1))
            .as(ManagedTable.MatRowCvCol))
      else Nil
    val resolved = joined.withColumn(ActionCol, actionCol)
      .select(outCols ++ matCarry ++ Seq(action,
        when(col(SFlag).isNotNull, col(TRowId)).as(TRowId)): _*)
    // Delta contract: multiple source rows matching one target row is an
    // error, not silent duplication (skipped when the caller asserted
    // key-unique sources — the keyed path's same contract)
    if (!sourceKeysUnique) {
      val multi = resolved.filter(col(TRowId).isNotNull)
        .groupBy(TRowId).count().filter(col("count") > 1).limit(1).count()
      if (multi > 0)
        throw new graft.metadata.MetadataException(
          "MERGE source has multiple rows matching one target row")
    }
    // the action counts are observed by the write job itself: they count
    // exactly the rows written, even under a nondeterministic condition,
    // and no job or cache exists to count. The commit waits for them
    // before its record is written. Identity allocation breaks the
    // one-action rule (a count and a `zipWithIndex` run over the frame
    // before its write), so on such a table the frame stays persisted and
    // is counted from the cache, which all three passes then read.
    val identity = table.allocatesIdentity(m)
    val counted = actionCounts(indexed.map { case (c, i) => tagOf(c, i) } :+
      UnchangedTag :+ DropTag)
    val written =
      if (identity) resolved.persist(StorageLevel.MEMORY_AND_DISK)
      else counted.on(resolved)
    try {
      val cached = if (!identity) None else Some(written.groupBy(ActionCol)
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      val kept = written
        .filter(col(ActionCol) =!= DropTag && !col(ActionCol).startsWith(DeletePrefix))
        .drop(ActionCol, TRowId)
      table.replacePartitions(pruned.filter(_ => m.partitionColumns.nonEmpty),
        kept, operationName, txn, observed = if (identity) Nil else Seq(counted))
      MergeMetrics(cached.getOrElse(counted.counts.filter(_._2 != 0L)) - DropTag)
    } finally if (identity) written.unpersist()
  }

  /** Row counts per [[ActionCol]] tag, to be observed by a write job. */
  private def actionCounts(tags: Seq[String]): RowCounts =
    new RowCounts(tags.map(t => t -> (col(ActionCol) === t)))

  /** Column `colName`'s value under clause `c`. `target.*` (NULL on a
    * not-matched row) stands in for columns an insert(set) leaves unset and
    * for source-absent generated/identity columns the commit fills. */
  private def valueFor(c: Clause, colName: String): Column = c.action match {
    case UpdateAll | InsertAll if genAbsent(colName) => col(s"target.`$colName`")
    case UpdateAll | InsertAll => col(s"source.`$colName`")
    case UpdateSet(set) => set.getOrElse(colName, col(s"target.`$colName`"))
    case InsertSet(set) => set.getOrElse(colName, col(s"target.`$colName`"))
    case Delete => col(s"target.`$colName`")
  }

  /** Keyed fast path: the target table is NEVER shuffled, and only the
    * FILES a clause actually touches are rewritten (Delta MERGE's rewrite
    * scope — reference usage Merge.scala:96-125).
    *
    * Two phases over the partition-pruned target:
    *
    * {{{
    *   // phase 1 — touch detection + metrics, one streaming pass, narrow
    *   probe   = target ⟕ broadcast(source) ON target.k = source.k
    *             .select(input_file_name, action, source.k, rowid)
    *             .filter(touched ∨ matched)       // ≈ slice-sized, persisted
    *   touched = probe.filter(action ≠ unchanged).files   // driver, O(files)
    *   matched = probe.keys                               // ≈ slice-sized
    *   // phase 2 — rewrite ONLY touched files (+ inserts)
    *   rewrite = read(touched files) ⟕ broadcast(source) → resolve
    *   inserts = source ⟂anti broadcast(matched)          // small × small
    *   commit  = replaceFiles(touched, rewrite ∪ inserts) // untouched
    *             manifest entries carry over verbatim
    * }}}
    *
    * At 100 TB this is the difference between a 10-row CDC slice rewriting
    * a terabyte partition (the PK is a uniform hash, so file min/max stats
    * can never prune it) and rewriting the handful of files that contain
    * the 10 matched rows. Phase 1 scans only the columns the clause
    * conditions reference (column pruning reaches the parquet scan);
    * phase 2 re-reads just the touched files. Nothing table-sized is ever
    * persisted: the probe frame holds matched + touched rows only. Both
    * hints follow [[MergeBuilder.smallSource]] and the `-1` off switch
    * ([[BroadcastHint]]); without them the target may shuffle. */
  private def executeKeyed(k: String): MergeMetrics = {
    val m = requireTarget
    val targetCols = m.schema.fields.map(_.name).toSeq
    val scopeFiles = prunedFiles(m)
    val probeFiles = Phase("mrg:bloomScope")(
      bloomPrunedProbeScope(m, k, scopeFiles))
    lastProbeFileCount = probeFiles.size

    val s0 = source.withColumn(SFlag, lit(true)).alias("source")
    val s = BroadcastHint(s0, smallSource)

    def joinTarget(target: DataFrame): DataFrame =
      target
        .withColumn(TFlag, lit(true))
        .alias("target")
        .join(s, col(s"target.`$k`") === col(s"source.`$k`"), "left_outer")

    val isMatched = col(TFlag).isNotNull && col(SFlag).isNotNull
    val targetOnly = col(TFlag).isNotNull && col(SFlag).isNull

    def scope(kind: ClauseKind): Column = kind match {
      case Matched            => isMatched
      case NotMatched         => lit(false) // source-only rows handled below
      case NotMatchedBySource => targetOnly
    }
    def clauseCond(c: Clause): Column =
      c.cond.map(scope(c.kind) && _).getOrElse(scope(c.kind))

    val indexed = clauses.zipWithIndex
    val actionCol = indexed.foldRight(lit(UnchangedTag): Column) {
      case ((c, i), rest) => when(clauseCond(c), lit(tagOf(c, i))).otherwise(rest)
    }

    // ---- phase 1: touch detection + metrics (narrow projection; only
    // matched or touched rows survive — unchanged-unmatched rows, the bulk
    // of the table, are filtered before the persist)
    val probe = joinTarget(
        // scan-level file tag (NOT input_file_name(), which cannot resolve
        // once a DV anti-join adds a second file source to the plan); the
        // row position feeds DV-mode masking in phase 2
        table.readManifestFilesTaggedPos(m, probeFiles, TFile, TPos)
          // pre-join id: two source rows hitting one target row duplicate
          // the SAME id through the join (the multi-match guard's anchor)
          .withColumn(TRowId, monotonically_increasing_id()))
      .select(col(TFile), col(TPos), actionCol.as(ActionCol),
        col(s"source.`$k`").as(MatchKey),
        when(col(SFlag).isNotNull, col(TRowId)).as(TRowId))
      .filter(col(ActionCol) =!= UnchangedTag || col(MatchKey).isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Delta contract (same check as the generic path): multiple source
      // rows matching ONE TARGET ROW is an error — but duplicate source
      // keys that match nothing are legal inserts of every row, so the
      // guard counts matched target rows, not raw source keys. TRowId is
      // assigned before the probe projection, so two source rows hitting
      // one target row carry the same id.
      if (!sourceKeysUnique) {
        val multi = probe.filter(col(TRowId).isNotNull)
          .groupBy(TRowId).count().filter(col("count") > 1).limit(1).count()
        if (multi > 0)
          throw new graft.metadata.MetadataException(
            "MERGE source has multiple rows matching one target row")
      }

      // touch detection and action metrics come from ONE aggregation —
      // (action, file) counts, cardinality bounded by files-in-scope ×
      // clauses — collected once: merges are commit-latency critical and
      // a separate distinct-files job + counts job doubles the probe's
      // action count for no information the fused collect lacks
      val byFileAction = Phase("mrg:probeCollect")(
        probe.groupBy(ActionCol, TFile).count().collect())
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

      // touched files, translated back to manifest paths on the driver
      // (bounded by the file count). An untranslatable name would mean the
      // old file survives next to its rewrite — duplicates — so ANY failed
      // translation falls back to rewriting the full pruned scope, which
      // is the pre-file-granular (correct, partition-level) behavior.
      val touchedUris = byFileAction.filter(_._1 != UnchangedTag)
        .map(_._2).distinct.toSeq
      val lookup = table.fileUriLookup(scopeFiles)
      val translated = touchedUris.map(u =>
        lookup.get(u).orElse(lookup.get(decodeUri(u))))
      val touchedPaths: Seq[String] =
        if (translated.forall(_.isDefined)) translated.map(_.get)
        else {
          org.slf4j.LoggerFactory.getLogger(classOf[MergeBuilder]).warn(
            s"MERGE on ${table.rootPath}: could not map " +
              s"${translated.count(_.isEmpty)} scanned file name(s) back to " +
              "manifest entries; falling back to partition-granular rewrite")
          scopeFiles.map(_.path)
        }
      val touchedSet = touchedPaths.toSet
      val touchedEntries = scopeFiles.filter(f => touchedSet.contains(f.path))

      // action counts: non-unchanged rows are counted exactly from the
      // probe; `unchanged` is everything else in scope — priced from the
      // manifest's per-file row counts when every in-scope entry carries
      // one (zero jobs; at 100 TB the alternative is a million-footer
      // count job per merge), else a footer-only count job
      val probeCounts = byFileAction.groupBy(_._1)
        .map { case (a, rows) => a -> rows.map(_._3).sum }
      val scopeRows = scopeFiles.flatMap(_.liveRows)
      val totalInScope =
        if (scopeRows.size == scopeFiles.size) scopeRows.sum
        else prunedTarget(m).count()
      val touchedRows = (probeCounts - UnchangedTag).values.sum
      val baseCounts = (probeCounts - UnchangedTag) +
        (UnchangedTag -> (totalInScope - touchedRows))

      // insert side: source rows whose key matched nothing in the target
      val matchedKeys0 = probe.filter(col(MatchKey).isNotNull)
        .select(col(MatchKey).as(k)).distinct()
      val matchedKeys = BroadcastHint(matchedKeys0, smallSource)
      val insertClauses = indexed.filter(_._1.kind == NotMatched)
      val insertAction = insertClauses.foldRight(lit(DropTag): Column) {
        case ((c, i), rest) =>
          when(c.cond.getOrElse(lit(true)), lit(tagOf(c, i)))
            .otherwise(rest)
      }
      // insert values mirror insertAction's clause selection exactly
      // (first matching clause wins): InsertAll takes source.*, InsertSet
      // its expressions with NULL fill for unset target columns
      val insertValueCols = targetCols.map { name =>
        insertClauses.foldRight(
            lit(null).cast(m.schema(name).dataType): Column) {
          case ((c, _), rest) =>
            val v = c.action match {
              case InsertSet(set) => set.getOrElse(name,
                lit(null).cast(m.schema(name).dataType))
              // source-absent generated column: typed NULL placeholder,
              // recomputed from its rule at commit
              case _ if genAbsent(name) =>
                lit(null).cast(m.schema(name).dataType)
              case _ => col(s"source.`$name`")
            }
            when(c.cond.getOrElse(lit(true)), v).otherwise(rest)
        }.as(name)
      }
      val inserts = source.alias("source")
        .join(matchedKeys, Seq(k), "left_anti")
        .select(insertValueCols :+ insertAction.as(ActionCol): _*)
      // insert-clause counts are observed on the written union (only insert
      // rows carry nm*/drop tags), which the table's session writes; the
      // commit waits for them. The frames are deterministic, so an
      // identity count job that runs the union first agrees.
      val insertCounts =
        actionCounts(insertClauses.map { case (c, i) => tagOf(c, i) } :+ DropTag)

      // ---- phase 2: re-resolve ONLY the touched files (deterministic
      // expressions reproduce phase 1's actions exactly) and commit them
      // plus the inserts; untouched manifest entries carry over verbatim
      val outCols = targetCols.map { name =>
        indexed.foldRight(col(s"target.`$name`")) { case ((c, i), rest) =>
          when(clauseCond(c), valueFor(c, name)).otherwise(rest)
        }.as(name)
      }
      // row tracking: rewritten carried/updated rows keep their stable
      // IDs — the touched-file read materializes them, the resolve
      // carries the target's ID column through, and insert rows get a
      // typed-null slot (fresh IDs allocate from baseRowId + row_index
      // at read time)
      val rtActive = table.rowTrackingActive(m) &&
        touchedEntries.forall(_.baseRowId.isDefined)
      def readTouched(entries: Seq[TableFile]): DataFrame =
        if (rtActive) table.readPreservingRowIds(m, entries)
        else table.readManifestFiles(m, entries)
      val matCarry =
        if (rtActive)
          Seq(col(s"target.`${ManagedTable.MatRowIdCol}`")
              .as(ManagedTable.MatRowIdCol),
            // updated rows' commit version moves to THIS merge's commit;
            // carried rows keep the version that last modified them
            when(actionCol === lit(UnchangedTag),
                col(s"target.`${ManagedTable.MatRowCvCol}`"))
              .otherwise(lit(m.version + 1))
              .as(ManagedTable.MatRowCvCol))
        else Nil
      val insertsAligned =
        if (rtActive)
          inserts
            .withColumn(ManagedTable.MatRowIdCol, lit(null).cast("long"))
            .withColumn(ManagedTable.MatRowCvCol, lit(null).cast("long"))
        else inserts

      // merge-on-read branch: with DVs enabled, matched rows leaving
      // their file (updated or deleted) are MASKED by position instead of
      // the file being rewritten — the updated images and inserts append
      // as fresh files. Requires every touched name to have translated
      // (positions are per manifest entry) and the manifest DV-eligible.
      val dvMode = table.dvEnabled && table.dvEligible(m) &&
        translated.forall(_.isDefined)
      if (dvMode && touchedEntries.nonEmpty) {
        val deadByPath: Map[String, Long] = byFileAction
          .filter(_._1 != UnchangedTag)
          .groupBy(_._2).map { case (u, rows) =>
            lookup.get(u).orElse(lookup.get(decodeUri(u))).get ->
              rows.map(_._3).sum
          }
        var dropPaths = List.empty[String]
        var rewriteEntries = List.empty[TableFile]
        var dvEntries = List.empty[(TableFile, Long)]
        touchedEntries.foreach { f =>
          val dead = f.dvRows.getOrElse(0L) + deadByPath.getOrElse(f.path, 0L)
          f.rows match {
            case Some(phys) if dead == phys => dropPaths ::= f.path
            case Some(phys)
                if dead.toDouble / phys > table.dvMaxDeletedFraction =>
              rewriteEntries ::= f
            case _ => dvEntries ::= (f -> dead)
          }
        }
        val dvPathSet = dvEntries.map(_._1.path).toSet
        val maskUris = lookup.collect {
          case (u, p) if dvPathSet.contains(p) => u }.toSeq
        val newDead = probe
          .filter(col(ActionCol) =!= UnchangedTag && col(TFile).isin(maskUris: _*))
          .select(substring_index(col(TFile), "/", -1).as("file"),
            col(TPos).as("pos"))
        // images of rows leaving masked/dropped files (updates only —
        // deleted rows just vanish), full rewrite for over-fraction files
        val imgEntries = touchedEntries.filter(f =>
          dvPathSet.contains(f.path) || dropPaths.contains(f.path))
        val images = joinTarget(readTouched(imgEntries))
          .select(outCols ++ matCarry :+ actionCol.as(ActionCol): _*)
          .filter(col(ActionCol) =!= UnchangedTag)
        val classic = joinTarget(readTouched(rewriteEntries))
          .select(outCols ++ matCarry :+ actionCol.as(ActionCol): _*)
        val kept = insertCounts.on(
            classic.unionByName(images).unionByName(insertsAligned))
          .filter(col(ActionCol) =!= DropTag &&
            !col(ActionCol).startsWith(DeletePrefix))
          .drop(ActionCol)
        table.maskAndReplaceFiles(dvEntries, newDead, dropPaths,
          rewriteEntries.map(_.path), kept, operationName, txn,
          observed = Seq(insertCounts))
      } else {
        val rewrite = joinTarget(readTouched(touchedEntries))
          .select(outCols ++ matCarry :+ actionCol.as(ActionCol): _*)
        val kept = insertCounts.on(rewrite.unionByName(insertsAligned))
          .filter(col(ActionCol) =!= DropTag && !col(ActionCol).startsWith(DeletePrefix))
          .drop(ActionCol)
        Phase("mrg:replaceFiles")(
          table.replaceFiles(touchedPaths, kept, operationName, txn,
            observed = Seq(insertCounts)))
      }
      // zero-count tags are dropped, as the generic path reports them
      val counts = insertCounts.counts.foldLeft(baseCounts) {
        case (acc, (t, n)) => acc.updated(t, acc.getOrElse(t, 0L) + n) }
      MergeMetrics(counts.filter(_._2 != 0L) - DropTag)
    } finally probe.unpersist()
  }

  private def decodeUri(u: String): String = MergeBuilder.decodeUri(u)
}

object MergeBuilder {

  /** The keyed and Historic merges broadcast their source unless it is
    * measured above this many bytes (far under Spark's 8 GB limit): only
    * a source all of whose plan leaves are loaded caches, like the
    * pipeline's persisted, counted slice, has a measured size. Any other
    * plan's estimate can be far above its real size (a filter keeps its
    * child's), so such a source always broadcasts. */
  private[graft] val BroadcastSourceBytes: Long = 1L << 30

  private[graft] def smallSource(source: DataFrame): Boolean = {
    val plan = source.queryExecution.optimizedPlan
    plan.collectLeaves().exists {
      case r: InMemoryRelation => !r.cacheBuilder.isCachedColumnBuffersLoaded
      case _ => true
    } || plan.stats.sizeInBytes <= BroadcastSourceBytes
  }

  /** Most distinct source keys the keyed merge collects to the driver to
    * bloom-prune its probe scope; a source with more probes every file. */
  private val BloomPruneMaxKeys = 100000

  /** Percent-decode a URI-style file name (input_file_name returns
    * URL-encoded names on some paths/filesystems). */
  private[graft] def decodeUri(u: String): String =
    try new java.net.URI(u).getPath
    catch { case _: Exception => u }

  private[graft] sealed trait ClauseKind
  private[graft] case object Matched extends ClauseKind
  private[graft] case object NotMatched extends ClauseKind
  private[graft] case object NotMatchedBySource extends ClauseKind

  private[graft] sealed trait MergeAction
  private[graft] case object UpdateAll extends MergeAction
  private[graft] case object InsertAll extends MergeAction
  private[graft] final case class UpdateSet(set: Map[String, Column]) extends MergeAction
  private[graft] final case class InsertSet(set: Map[String, Column]) extends MergeAction
  private[graft] case object Delete extends MergeAction

  private[graft] final case class Clause(
      kind: ClauseKind, cond: Option[Column], action: MergeAction)

  /** Clause `i`'s action tag: `m<i>`, `nm<i>` or `bs<i>` by kind,
    * `del:`-prefixed for a delete. */
  private[graft] def tagOf(c: Clause, i: Int): String = {
    val base = c.kind match {
      case Matched            => s"m$i"
      case NotMatched         => s"nm$i"
      case NotMatchedBySource => s"bs$i"
    }
    if (c.action == Delete) DeletePrefix + base else base
  }

  private[graft] val TFlag = "__graft_t"
  private[graft] val SFlag = "__graft_s"
  private[tables] val TFile = "__graft_file"
  private[tables] val TPos = "__graft_pos"
  private[tables] val ActionCol = "__graft_action"
  private[tables] val MatchKey = "__graft_mk"
  private[tables] val TRowId = "__graft_tid"
  private[tables] val DropTag = "drop"
  private[tables] val UnchangedTag = "unchanged"
  private[tables] val DeletePrefix = "del:"

  /** Row counts per clause tag; `unchanged` = rows carried through untouched
    * (within the pruned partitions). Delete clauses are tracked internally
    * as `del:<tag>`; `count` resolves either form so callers can use the
    * documented `m0`/`nm1`/`bs0` keys uniformly. */
  final case class MergeMetrics(byTag: Map[String, Long]) {
    def count(tag: String): Long =
      byTag.getOrElse(tag, byTag.getOrElse(DeletePrefix + tag, 0L))
    def total: Long = byTag.values.sum
  }
}

/** Entry point mirroring Delta's `DeltaTable.merge`. */
object MergeInto {
  def apply(table: ManagedTable, source: DataFrame, condition: String): MergeBuilder =
    apply(table, source, expr(condition))

  def apply(table: ManagedTable, source: DataFrame, condition: Column): MergeBuilder =
    new MergeBuilder(table, source, condition)

  /** Key-equality merge (`target.k = source.k`): takes the broadcast plan
    * that never shuffles the target — the right choice whenever the merge
    * key is a single column, i.e. every pipeline PK merge. */
  def byKey(table: ManagedTable, source: DataFrame, keyColumn: String): MergeBuilder =
    new MergeBuilder(table, source,
      col(s"target.`$keyColumn`") === col(s"source.`$keyColumn`"), Some(keyColumn))
}
