package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.metadata.ProcessType
import graft.tables.{MergeInto, RowCounts}

/** Processing strategies (reference: src/main/scala/datalake/processing/
  * Full.scala, Merge.scala, Historic.scala), re-expressed over the managed
  * Parquet table layer. */
sealed trait Strategy {
  def run(p: Processing): ProcessingSummary

  /** First-run probe: only "table missing" diverts to Full; any other
    * failure propagates (hardening per reference ProcessStrategy.scala:44-65). */
  protected def isFirstRun(p: Processing): Boolean = !p.table.exists

  /** Inclusive watermark-window condition over `target`, bounding delete
    * inference (reference: ProcessStrategy.scala:86-153). Columns are the
    * post-rename/normalize names. All-or-none: if ANY configured watermark
    * can't produce a bound (no stored value, failing expression, column
    * absent from the slice), the whole window is None — a partial window
    * would under-bound the deletes it was meant to limit. */
  protected def watermarkWindowCondition(p: Processing): Option[String] = {
    val parts = p.source.watermarkValues.map { case (wm, currentOpt) =>
      val colName = p.watermarkColumnName(wm)
      val prev = p.watermarkStore.lastValue(p.entity.id, wm.columnName)
        .flatMap(stored => p.watermarkStore.evaluateExpression(wm, stored))
      (prev, currentOpt) match {
        case (Some(lo), Some(hi)) =>
          Some(s"target.`$colName` >= '${sqlEscape(lo)}' AND " +
            s"target.`$colName` <= '${sqlEscape(hi)}'")
        case _ => None
      }
    }
    if (parts.isEmpty || parts.exists(_.isEmpty)) None
    else Some(parts.flatten.mkString("(", ") AND (", ")"))
  }

  /** Whether and how to infer soft deletes for target rows absent from the
    * slice (reference: Merge.scala:75-83, ProcessStrategy.scala:86-153).
    *
    *  - `None`              → skip inference entirely;
    *  - `Some(None)`        → unbounded (snapshot semantics — the slice IS
    *                          the full source extract);
    *  - `Some(Some(cond))`  → bounded by the watermark window.
    *
    * Snapshot semantics apply ONLY to entities with no watermark
    * configured. An entity WITH watermarks whose window cannot be built
    * (broken expression, no stored bookmark, watermark column missing from
    * the slice) gets NO inference — the reference's safe default: an
    * incremental feed must never be mass-soft-deleted because its window
    * evaluation failed. */
  protected def deleteInferenceWindow(p: Processing): Option[Option[String]] = {
    val log = org.slf4j.LoggerFactory.getLogger(classOf[Strategy])
    if (!p.deleteMissing) None
    else if (p.entity.watermark.isEmpty) {
      log.info(s"Entity ${p.entity.name}: delete inference in snapshot mode " +
        "(no watermark configured; all target rows absent from the slice are " +
        "soft-deleted)")
      Some(None)
    } else watermarkWindowCondition(p) match {
      case some @ Some(w) =>
        log.info(s"Entity ${p.entity.name}: delete inference bounded by " +
          s"watermark window $w")
        Some(some)
      case None =>
        log.warn(s"Entity ${p.entity.name}: watermark window could not be " +
          "built (no stored bookmark, failing expression, or watermark column " +
          "absent from slice) — SKIPPING delete inference for this run")
        None
    }
  }

  /** Escape a data-derived value for embedding in a Spark SQL literal:
    * backslashes FIRST (they are escape characters under the default
    * parser mode — a trailing `\` would otherwise escape the closing
    * quote), then single quotes. */
  private def sqlEscape(s: String): String =
    s.replace("\\", "\\\\").replace("'", "''")

  /** Partition IN-pruning facts from the slice (reference:
    * Merge.scala:38-48): every partition the slice touches, as string values
    * matching the table's directory encoding. */
  protected def prunedPartitions(p: Processing): Option[Seq[Map[String, String]]] =
    if (p.source.partitionColumns.isEmpty) None else Some(p.source.partitionValues)
}

/** Overwrite with dynamic partition replacement (reference: Full.scala:38-66). */
final class FullStrategy extends Strategy {
  def run(p: Processing): ProcessingSummary = {
    val df = Strategy.clustered(p, p.source.df)
    val n = p.sliceStats.total
    val partCols = p.normalizedPartitionColumns
    if (p.table.exists && partCols.nonEmpty) p.table.overwriteDynamic(df, partCols)
    else p.table.overwriteAll(df, partCols)
    ProcessingSummary(p.entity.id, "full", recordsInSlice = n, inserted = n)
  }
}

/** CDC-style upsert + soft delete (reference: Merge.scala:24-147).
  *
  * Clause order matters (first match wins):
  *   m0 source-deleted   → update(deleted, lastSeen)
  *   m1 hash ≠           → updateAll
  *   m2 hash =           → touch lastSeen
  *   nm3 not-deleted     → insertAll
  *   bs4 window ∧ alive  → infer delete
  */
final class MergeStrategy extends Strategy {
  def run(p: Processing): ProcessingSummary = {
    if (isFirstRun(p)) {
      val full = new FullStrategy().run(p)
      return full.copy(strategy = "merge")
    }
    val sys = p.sys
    val df = p.source.df
    val n = p.sliceStats.total
    val pk = p.pkColumn
    val ts = s"'${p.processingTimeString}'"

    // warn on drift before merging (reference: Merge.scala:85-89)
    p.table.manifest.foreach { m =>
      graft.core.SchemaDrift.warnings(df.schema, m.schema).foreach(w =>
        org.slf4j.LoggerFactory.getLogger(classOf[MergeStrategy]).warn(w))
    }

    // keyed merge: broadcast the slice, never shuffle the silver table;
    // PK uniqueness was already proven by the sliceStats dup guard. A
    // slice over MergeBuilder.BroadcastSourceBytes (a backfill, a
    // table-sized CDC batch) takes a shuffle join, as does every slice
    // under spark.sql.autoBroadcastJoinThreshold=-1; the slice is
    // persisted and counted, so its size is exact
    val builder = MergeInto.byKey(p.table, df, pk).assumeUniqueSourceKeys()
    prunedPartitions(p).foreach(builder.prunePartitions)
    builder
      .whenMatchedUpdate(
        Map(sys.deleted -> "true",
          sys.lastSeen -> s"source.`${sys.lastSeen}`"),
        cond = Some(s"source.`${sys.deleted}` = true"))
      .whenMatchedUpdateAll(
        cond = Some(s"target.`${sys.sourceHash}` != source.`${sys.sourceHash}`"))
      // deliberate reference parity (Merge.scala:108-110): the hash-equal
      // touch updates ONLY lastSeen — a soft-deleted row whose content
      // reappears unchanged stays deleted until its content changes
      .whenMatchedUpdate(
        Map(sys.lastSeen -> s"source.`${sys.lastSeen}`"))
      .whenNotMatchedInsertAll(
        cond = Some(s"source.`${sys.deleted}` = false"))
    deleteInferenceWindow(p).foreach { window =>
      val guard = s"target.`${sys.deleted}` = false"
      val cond = window.map(w => s"($w) AND $guard").getOrElse(guard)
      builder.whenNotMatchedBySourceUpdate(
        Map(sys.deleted -> "true",
          sys.lastSeen -> s"CAST($ts AS TIMESTAMP_NTZ)"),
        cond = Some(cond))
    }
    val m = builder.execute()

    val softDeleted = m.count("m0") + m.count("bs4")
    val updated = m.count("m1")
    val touched = m.count("m2")
    val inserted = m.count("nm3")
    ProcessingSummary(p.entity.id, "merge", recordsInSlice = n,
      inserted = inserted, updated = updated, deleted = softDeleted,
      touched = touched, unchanged = touched)
  }
}

/** SCD Type 2 version history (reference: Historic.scala:16-167).
  *
  * Unlike the reference's two-step Delta MERGE + append (close versions,
  * then re-join and append the new ones — Historic.scala:75-128), this is a
  * single atomic pass: one full-outer join against current versions, with
  * changed keys emitting BOTH the closed old version and the new current
  * version via array+explode. One shuffle, one commit — a reader can never
  * observe a closed version without its successor.
  */
final class HistoricStrategy extends Strategy {
  def run(p: Processing): ProcessingSummary = {
    if (isFirstRun(p)) {
      val full = new FullStrategy().run(p)
      return full.copy(strategy = "historic")
    }
    val sys = p.sys
    val pk = p.pkColumn
    val src = p.source.df
    val n = p.sliceStats.total
    val ptNtz = lit(p.processingTimeString).cast("timestamp_ntz")

    val manifest = p.table.manifest.get
    val targetCols: Seq[String] = manifest.schema.fields.map(_.name).toSeq
    // fail early, naming missing source columns (reference contract)
    val missing = targetCols.filterNot(src.columns.contains)
    if (missing.nonEmpty)
      throw new graft.metadata.MetadataException(
        s"Source is missing target column(s): ${missing.mkString(", ")}")

    val pruned = prunedPartitions(p)

    // Broadcast plan (same shape and size rule as MergeBuilder.executeKeyed):
    // the target is scanned once, never shuffled. History rows
    // (IsCurrent=false) fall out as unmatched; brand-new keys come from a
    // small anti-join.
    val smallSlice = graft.tables.MergeBuilder.smallSource(src)
    val s0 = src.withColumn(graft.tables.MergeBuilder.SFlag, lit(true)).alias("source")
    val s = graft.tables.BroadcastHint(s0, smallSlice)
    def joinSlice(tgt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      tgt.withColumn(graft.tables.MergeBuilder.TFlag, lit(true)).alias("target")
        .join(s,
          expr(s"target.`$pk` = source.`$pk` AND target.`${sys.isCurrent}` = true"),
          "left_outer")

    val isMatched = col(graft.tables.MergeBuilder.TFlag).isNotNull && col(graft.tables.MergeBuilder.SFlag).isNotNull
    val targetOnly = col(graft.tables.MergeBuilder.TFlag).isNotNull && col(graft.tables.MergeBuilder.SFlag).isNull
    val changed = isMatched &&
      col(s"target.`${sys.sourceHash}`") =!= col(s"source.`${sys.sourceHash}`")

    def targetRow(overrides: Map[String, Column] = Map.empty): Column =
      struct(targetCols.map(c =>
        overrides.getOrElse(c, col(s"target.`$c`")).as(c)): _*)
    def sourceRow: Column = struct(targetCols.map(c => col(s"source.`$c`").as(c)): _*)

    val closedOld = targetRow(Map(
      sys.validTo -> ptNtz,
      sys.isCurrent -> lit(false)))

    val deleteCond: Column = deleteInferenceWindow(p) match {
      case Some(window) =>
        targetOnly && col(s"target.`${sys.isCurrent}`") === true &&
          col(s"target.`${sys.deleted}`") === false &&
          window.map(expr).getOrElse(lit(true))
      case None => lit(false)
    }
    val deletedClosed = targetRow(Map(
      sys.deleted -> lit(true),
      sys.isCurrent -> lit(false),
      sys.validTo -> ptNtz,
      sys.lastSeen -> ptNtz))

    // deliberate reference parity (Historic.scala:83-91): no source-deleted
    // clause (a CDC delete with unchanged content is "unchanged") and no
    // lastSeen touch on unchanged currents — the reference's Historic
    // merge has exactly these two clauses plus insertAll
    val rowsCol =
      when(changed, array(closedOld, sourceRow))          // close + new version
        .when(isMatched, array(targetRow()))              // unchanged current
        .when(deleteCond, array(deletedClosed))           // inferred delete
        .otherwise(array(targetRow()))                    // history / untouched
    val actionCol =
      when(changed, "updated")
        .when(isMatched, "unchanged")
        .when(deleteCond, "deleted")
        .otherwise("kept")
    val mkCol = when(isMatched, col(s"source.`$pk`"))

    // ---- phase 1: touch detection + metrics over a narrow projection.
    // The conditions are evaluated again in phase 2, which is safe because
    // they are deterministic: the delete window has literal bounds.
    // Only matched and delete-inferred rows survive ("kept" = history and
    // untouched currents — the bulk of the table — drops pre-persist), so
    // the probe is slice/window-bounded, never table-sized.
    val TFile = "__graft_file"
    // scan-level file tag (survives the DV anti-join, unlike a
    // plan-level input_file_name())
    val targetTagged = pruned match {
      case Some(ps) => p.table.readPartitionsTagged(ps.toSet.contains, TFile)
      case None     => p.table.readTagged(TFile)
    }
    val probe = joinSlice(targetTagged)
      .select(col(TFile), actionCol.as("__action"), mkCol.as("__mk"))
      .filter(col("__action") =!= "kept")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // touched files and action counts from ONE (action, file)
      // aggregation, as MergeBuilder.executeKeyed does. Only
      // updated/deleted rows force a rewrite of their file; unchanged
      // currents are counted but rewrite nothing
      val byActionFile = probe.groupBy("__action", TFile).count().collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val counts = byActionFile.groupBy(_._1)
        .map { case (a, rows) => a -> rows.map(_._3).sum }
      val touchedUris = byActionFile
        .filter(r => r._1 == "updated" || r._1 == "deleted")
        .map(_._2).distinct.toSeq
      val scopeFiles = pruned.map(_.toSet).fold(manifest.files)(wanted =>
        manifest.files.filter(f => wanted.contains(f.partitionValues)))
      val lookup = p.table.fileUriLookup(scopeFiles)
      val translated = touchedUris.map(u => lookup.get(u)
        .orElse(lookup.get(graft.tables.MergeBuilder.decodeUri(u))))
      // an untranslatable scan name would leave the old file alongside
      // its rewrite (duplicates) — fall back to the full pruned scope
      val touchedPaths: Seq[String] =
        if (translated.forall(_.isDefined)) translated.map(_.get)
        else {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"Historic merge on ${p.table.rootPath}: could not map " +
              s"${translated.count(_.isEmpty)} scanned file name(s) back " +
              "to manifest entries; rewriting the full pruned scope")
          scopeFiles.map(_.path)
        }
      val touchedSet = touchedPaths.toSet
      val touchedEntries = scopeFiles.filter(f => touchedSet.contains(f.path))

      val matchedKeys0 = probe.filter(col("__mk").isNotNull)
        .select(col("__mk").as(pk)).distinct()
      val matchedKeys = graft.tables.BroadcastHint(matchedKeys0, smallSlice)
      // the inserted count is observed by the phase-2 write job, the
      // one action that runs the anti-join; the commit waits for it
      val inserted = new RowCounts(Seq("inserted" -> lit(true)))
      val inserts = inserted.on(src.alias("source")
        .join(matchedKeys, Seq(pk), "left_anti")
        .select(array(sourceRow).as("__rows")))

      // ---- phase 2: re-resolve ONLY the touched files; untouched
      // manifest entries (all history, all unchanged-current files)
      // carry into the new version verbatim — a small CDC slice into a
      // deep SCD2 table rewrites a handful of files, never the
      // ever-growing history.
      val rewrite = joinSlice(p.table.readManifestFiles(manifest, touchedEntries))
        .select(rowsCol.as("__rows"))
      val out = rewrite.unionByName(inserts)
        .select(explode(col("__rows")).as("__r"))
        .select(targetCols.map(c => col(s"__r.`$c`").as(c)): _*)
      p.table.replaceFiles(touchedPaths, out, "merge", observed = Seq(inserted))
      // identity: inserted + updated + unchanged == recordsInSlice
      ProcessingSummary(p.entity.id, "historic", recordsInSlice = n,
        inserted = inserted.counts("inserted"),
        updated = counts.getOrElse("updated", 0L),
        deleted = counts.getOrElse("deleted", 0L),
        unchanged = counts.getOrElse("unchanged", 0L))
    } finally probe.unpersist()
  }
}

object Strategy {

  def forType(t: ProcessType): Strategy = t match {
    case ProcessType.Full     => new FullStrategy()
    case ProcessType.Merge    => new MergeStrategy()
    case ProcessType.Historic => new HistoricStrategy()
  }

  /** Optional write clustering: the `cluster_by` entity setting
    * (comma-separated columns) sorts rows within write tasks so parquet
    * row-group min/max stats become selective — range scans (watermark
    * windows, date filters) then skip row groups instead of reading the
    * partition. Cheap at write time (no extra shuffle), paid back on
    * every scan. */
  def clustered(p: Processing, df: DataFrame): DataFrame =
    p.entity.settingString("cluster_by") match {
      case Some(cols) if cols.nonEmpty =>
        val sortCols = cols.split(',').map(_.trim).filter(_.nonEmpty)
          .filter(df.columns.contains).map(c => col(s"`$c`"))
        if (sortCols.isEmpty) df else df.sortWithinPartitions(sortCols.toSeq: _*)
      case _ => df
    }
}
