package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.time.format.DateTimeFormatter
import java.time.{LocalDateTime, ZoneId}

import graft.core.ColumnOps
import graft.metadata._
import graft.tables.{ManagedTable, RowCounts}
import graft.watermark.WatermarkStore

/** The bronze slice after the full transform chain, plus the per-run
  * watermark/partition facts the strategies need
  * (reference: Processing.scala:25-30). */
final case class DatalakeSource(
    df: DataFrame,
    watermarkValues: Seq[(WatermarkDef, Option[String])],
    partitionColumns: Seq[String],
    partitionValues: Seq[Map[String, String]])

/** One slice → silver run: builds the transformed source and dispatches to a
  * processing strategy (reference: Processing.scala:34-121,320-351).
  *
  * The transform chain is a single lazy DataFrame composition — eleven
  * projection steps that Catalyst collapses into one whole-stage-codegen
  * projection over the parquet scan; the slice is persisted once and shared
  * by the duplicate-PK guard, watermark aggregation, partition-value
  * collection, and the strategy's write.
  */
final class Processing(
    val metadata: Metadata,
    val entity: Entity,
    val sliceFile: String,
    val options: Map[String, String] = Map.empty)(implicit spark: SparkSession) {

  val sys: SystemColumns = SystemColumns(metadata.environment.systemFieldPrefix)
  val pkColumn: String = entity.primaryKeyColumnName

  /** ISO-8601 `processing.time` option, else zoned now
    * (reference: Processing.scala:58-73). */
  val processingTime: LocalDateTime = options.get("processing.time")
    .map(LocalDateTime.parse(_, DateTimeFormatter.ISO_LOCAL_DATE_TIME))
    .getOrElse(LocalDateTime.now(ZoneId.of(metadata.environment.timezone)))
  val processingTimeString: String =
    processingTime.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))

  def deleteMissing: Boolean = entity.settingBool("delete_missing")

  val table: ManagedTable =
    ManagedTable.forLocation(spark, metadata.silverLocation(entity))

  val watermarkStore = new WatermarkStore(spark, metadata.environment.systemPath)

  private var cached: Option[DatalakeSource] = None
  private var statsCache: Option[SliceStats] = None

  /** Record count + max PK multiplicity, computed in the SAME aggregation
    * job as the watermark maxes (see [[source]]): empty-slice warning,
    * duplicate-businesskey guard, and the strategies' record count all
    * read from it. */
  def sliceStats: SliceStats = statsCache.getOrElse { source; statsCache.get }

  /** Memoized transformed slice (reference: Processing.scala:84-121).
    *
    * ONE aggregation job computes the record count, the max PK
    * multiplicity, AND every watermark column's max (per-group max then
    * global max equals the global max): a watermarked run previously paid
    * a separate scan per concern. The same job observes the partition
    * values (a set per key would make the hash aggregate sort-based). */
  def source: DatalakeSource = cached.getOrElse {
    val df = transformChain(readSlice()).persist(StorageLevel.MEMORY_AND_DISK)
    // watermark columns resolve through rename+normalize; a column absent
    // from the slice yields None (watermark skipped), matching the
    // reference's missing-column tolerance
    val wmPresent = entity.watermark.map(wm =>
      wm -> watermarkColumnName(wm)).filter { case (_, n) => df.columns.contains(n) }
    val wmAggs = wmPresent.zipWithIndex.map { case ((_, n), i) =>
      max(col(s"`$n`")).as(s"__wm$i")
    }
    val partCols = normalizedPartitionColumns
    val partObs = Observation()
    val observed = if (partCols.isEmpty) df else df.observe(partObs,
      collect_set(struct(partCols.map(c => col(s"`$c`").cast("string")): _*)))
    val keyed = entity.businessKeyColumns.nonEmpty && df.columns.contains(pkColumn)
    val row =
      if (keyed) {
        val perKey = observed.groupBy(col(s"`$pkColumn`"))
          .agg(count(lit(1)).as("__cnt"), wmAggs: _*)
        perKey.agg(sum("__cnt").as("__total"), (max("__cnt").as("__maxpk") +:
          wmPresent.indices.map(i =>
            max(col(s"__wm$i")).cast("string").as(s"__wmv$i"))): _*).head()
      } else
        observed.agg(count(lit(1)).as("__total"), (max(lit(1L)).as("__maxpk") +:
          wmPresent.indices.map(i =>
            max(col(s"`${wmPresent(i)._2}`")).cast("string").as(s"__wmv$i"))): _*)
          .head()
    statsCache = Some {
      // keyed empty slice: sum over no groups is null → (0, 0);
      // non-keyed empty: count is 0, max(lit) null → keep the historical
      // (0, 1) shape (maxPk is only meaningful with a business key)
      if (row.isNullAt(0)) SliceStats(0L, 0L)
      else if (row.getLong(0) == 0L) SliceStats(0L, if (keyed) 0L else 1L)
      else SliceStats(row.getLong(0), row.getLong(1))
    }
    val wmByDef = wmPresent.zipWithIndex.map { case ((wm, _), i) =>
      wm -> Option(row.getString(2 + i))
    }.toMap
    val wmValues = entity.watermark.map(wm => wm -> wmByDef.getOrElse(wm, None))
    val partSet = if (partCols.isEmpty) Row.empty else RowCounts.observed(partObs)
    val partValues =
      if (partSet.length == 0) Nil
      else partSet.getSeq[Row](0).map(r => partCols.zipWithIndex.map { case (c, i) =>
        c -> (if (r.isNullAt(i)) ManagedTable.NullPartitionValue else r.getString(i))
      }.toMap)
    val s = DatalakeSource(df, wmValues, partCols, partValues)
    cached = Some(s)
    s
  }

  /** Partition columns after rename+normalize (their on-disk names). */
  def normalizedPartitionColumns: Seq[String] =
    entity.partitionColumns.map(ColumnOps.normalizeName)

  /** A watermark column's post-rename/normalize name — the namespace of
    * the transformed slice AND the silver table. Metadata refers to
    * watermark columns by their ORIGINAL source name. */
  def watermarkColumnName(wm: WatermarkDef): String =
    ColumnOps.normalizeName(
      entity.columns.find(_.name == wm.columnName).map(_.finalName)
        .getOrElse(wm.columnName))

  /** Run a strategy (default: the entity's configured process type), then
    * persist watermarks; always unpersist and flush logs
    * (reference: Processing.scala:320-351). Audit rows go to the buffered
    * Parquet log sink when the environment configures `log_path`. */
  def process(strategyOverride: Option[ProcessType] = None): ProcessingSummary = {
    val t0 = System.nanoTime()
    val logger = metadata.runLogger(spark)
    logger.foreach(_.info("graft.processing",
      s"processing start: entity ${entity.name}, slice $sliceFile", entity.id))
    try {
      if (sliceStats.total == 0)
        // empty slice: warn, still process (reference: Processing.scala:109-111)
        org.slf4j.LoggerFactory.getLogger(classOf[Processing])
          .warn(s"Slice $sliceFile for entity ${entity.name} is empty")
      checkDuplicateBusinessKeys()
      val summary =
        Strategy.forType(strategyOverride.getOrElse(entity.processType)).run(this)
      val wmTypes = source.watermarkValues.map { case (wm, _) =>
        val name = watermarkColumnName(wm)
        wm.columnName -> (
          if (source.df.columns.contains(name))
            WatermarkStore.jvmTypeName(source.df.schema(name).dataType)
          else "java.lang.String")
      }.toMap
      watermarkStore.write(entity.id, source.watermarkValues,
        processingTimeString, wmTypes)
      val done = summary.copy(durationMs = (System.nanoTime() - t0) / 1000000)
      logger.foreach(_.summary(done))
      done
    } catch {
      case e: Throwable =>
        logger.foreach(_.error("graft.processing",
          s"processing failed: ${e.getMessage}", entity.id))
        throw e
    } finally {
      cached.foreach(_.df.unpersist())
      logger.foreach(_.close())
    }
  }

  // ----------------------------------------------------------- slice read

  /** S1: parquet slice file; S2: bronze table + source_filename filter
    * (reference: Processing.scala:88-91,305-307). */
  private def readSlice(): DataFrame =
    entity.settingString("bronze_table") match {
      case Some(t) if t.nonEmpty =>
        spark.read.table(t).filter(col(sys.sourceFilename) === sliceFile)
      case _ =>
        spark.read.parquet(s"${metadata.bronzePath(entity)}/$sliceFile")
    }

  // ------------------------------------------------------ transform chain

  /** The 11-step chain, order fixed by the reference
    * (Processing.scala:94-105). */
  private[graft] def transformChain(raw: DataFrame): DataFrame = {
    val steps: Seq[DataFrame => DataFrame] = Seq(
      injectTransformations,
      addCalculatedColumns,
      calculateSourceHash,
      addTemporalTrackingColumns,
      addFilenameColumn,
      addPrimaryKey,
      castColumns,
      renameColumns,
      addDeletedColumn,
      addLastSeen,
      ColumnOps.normalize)
    steps.foldLeft(raw)((df, step) => step(df))
  }

  /** P1 (reference: Processing.scala:280-287). */
  private def injectTransformations(df: DataFrame): DataFrame =
    entity.transformations.foldLeft(df)((d, t) =>
      if (t.expressions.isEmpty) d else d.selectExpr(t.expressions: _*))

  /** P2 — failure is fatal (reference: Processing.scala:259-272). */
  private def addCalculatedColumns(df: DataFrame): DataFrame =
    entity.columns.filter(_.isCalculated).foldLeft(df) { (d, c) =>
      try d.withColumn(c.name, expr(c.expression.get))
      catch {
        case e: Exception => throw new CalculatedColumnException(
          s"Calculated column '${c.name}' failed: ${e.getMessage}", e)
      }
    }

  /** SourceHash over all current non-system columns, current order
    * (reference: Processing.scala:168-182). */
  private def calculateSourceHash(df: DataFrame): DataFrame = {
    val cols = df.columns.filterNot(c => sys.isSystem(c, pkColumn)).toSeq
    df.withColumn(sys.sourceHash, ColumnOps.sourceHash(cols))
  }

  /** SCD2 validity columns, Historic only
    * (reference: Processing.scala:214-222). */
  private def addTemporalTrackingColumns(df: DataFrame): DataFrame =
    if (entity.processType != ProcessType.Historic) df
    else df
      .withColumn(sys.validFrom,
        lit(processingTimeString).cast("timestamp_ntz"))
      .withColumn(sys.validTo,
        lit(SystemColumns.ValidToSentinel).cast("timestamp_ntz"))
      .withColumn(sys.isCurrent, lit(true))

  /** Slice provenance (reference: Processing.scala:289-310). */
  private def addFilenameColumn(df: DataFrame): DataFrame =
    if (df.columns.contains(sys.sourceFilename)) df
    else df.withColumn(sys.sourceFilename, lit(sliceFile))

  /** PK hash over business keys (original names — this step precedes
    * renames; reference: Processing.scala:185-205). */
  private def addPrimaryKey(df: DataFrame): DataFrame = {
    val bk = entity.columns.filter(_.isBusinessKey).map(_.name)
    if (bk.isEmpty) df
    else df.withColumn(pkColumn, ColumnOps.primaryKeyHash(bk))
  }

  /** P3 (reference: Processing.scala:225-233). */
  private def castColumns(df: DataFrame): DataFrame =
    entity.columns.flatMap(c => c.dataType.map(c.name -> _)).foldLeft(df) {
      case (d, (name, dt)) if d.columns.contains(name) =>
        d.withColumn(name, col(s"`$name`").cast(dt))
      case (d, _) => d
    }

  /** P4 (reference: Processing.scala:236-244). */
  private def renameColumns(df: DataFrame): DataFrame =
    entity.columns.filter(c => c.newName.exists(_.nonEmpty)).foldLeft(df) {
      (d, c) => d.withColumnRenamed(c.name, c.newName.get)
    }

  /** Soft-delete flag; source may supply it
    * (reference: Processing.scala:248-253). */
  private def addDeletedColumn(df: DataFrame): DataFrame =
    if (df.columns.contains(sys.deleted))
      df.withColumn(sys.deleted, col(sys.deleted).cast("boolean"))
    else df.withColumn(sys.deleted, lit(false))

  /** Refreshed on every touch (reference: Processing.scala:256-257). */
  private def addLastSeen(df: DataFrame): DataFrame =
    df.withColumn(sys.lastSeen, lit(processingTimeString).cast("timestamp_ntz"))

  /** Duplicate business keys are fatal
    * (reference: Processing.scala:190-200). The fast path reads
    * [[sliceStats]]; an example key is fetched only on failure. */
  private def checkDuplicateBusinessKeys(): Unit =
    if (sliceStats.maxPkCount > 1) {
      val example = source.df.groupBy(col(s"`$pkColumn`"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
        .limit(1).collect().head.getString(0)
      throw new DuplicateBusinesskeyException(
        s"Duplicate business key(s) in slice for entity ${entity.name}, " +
          s"e.g. $pkColumn=$example")
    }
}

/** One-pass slice statistics: total rows + max primary-key multiplicity. */
final case class SliceStats(total: Long, maxPkCount: Long)

/** Structured run metrics (reference: DatalakeLogManager.scala:13-38). */
final case class ProcessingSummary(
    entityId: Int,
    strategy: String,
    recordsInSlice: Long,
    inserted: Long = 0,
    updated: Long = 0,
    deleted: Long = 0,
    unchanged: Long = 0,
    touched: Long = 0,
    durationMs: Long = 0)
