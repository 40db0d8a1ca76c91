package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Manifest-backed parquet scan: build the read relation directly from
  * the manifest's (path, size) entries instead of handing a path list to
  * `spark.read.parquet`.
  *
  * The DataFrameReader path re-discovers what the manifest already
  * records: it runs one `getFileStatus` RPC per path on the driver, and
  * past `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
  * paths it launches a distributed LISTING JOB per read — measured
  * 90–220 ms per pruned index probe at sf0.1, and at a 1M-file table it
  * is a full listing pass the manifest exists to make unnecessary. This
  * is the Delta/Iceberg economics (their log-backed file indexes skip
  * listing the same way), expressed through the same `HadoopFsRelation`
  * + `ParquetFileFormat` every `spark.read.parquet` produces — scan
  * execution, pushdown, column pruning, `_metadata` columns, and size
  * estimation (`sizeInBytes` = manifest byte sum) are all identical;
  * only the filesystem round trips at plan time are gone.
  *
  * Plan-reuse contract: both FileIndex implementations define
  * equals/hashCode over their exact (path, size[, partition values])
  * entries. `HadoopFsRelation` is a case class whose equality includes
  * `location`, and `ReuseExchange` / `ReuseSubquery` / AQE stage reuse
  * all compare canonicalized plans that retain the relation — without
  * value equality here, two scans of the SAME snapshot never compare
  * equal and every self-join/self-union recomputes its subtree
  * (`InMemoryFileIndex` gets this via its rootPaths-set equality; a
  * fresh index instance per read is the norm, identity equality is
  * not). Entry-level equality is also exactly version-safe: reads of
  * different snapshots differ in their file lists and stay unequal.
  *
  * Immutable-file assumption: equality never looks at file contents or
  * modification times, so it is sound only because a manifest path names
  * bytes that never change. Engine commits write fresh, uniquely named
  * files and maintenance replaces manifest entries rather than
  * overwriting files; adopted (converted) files are read where they sit
  * and never written. A file rewritten in place at the same path and size
  * would compare equal to its old self, and exchange reuse or the
  * CacheManager's `sameResult` lookup could serve the old rows.
  *
  * `tableRoot` only feeds `rootPaths` (plan display): files need not lie
  * under it — a shallow clone's borrowed entries are absolute URIs under
  * the source table's root. */
object GraftManifestScan {

  /** Bind partition-only predicates against `partSchema` and keep the
    * directories whose partition values satisfy them — the contract
    * `FileSourceStrategy` relies on: partition-only filters are REMOVED
    * from the post-scan filter set and the FileIndex is trusted to
    * prune (mirrors `PartitioningAwareFileIndex.prunePartitions`).
    * Ignoring `partitionFilters` here is a semantics bug, not a missed
    * optimization: `filter("part = x")` would return every partition. */
  private def prunePartitions(partitionFilters: Seq[Expression],
      partSchema: StructType,
      dirs: Seq[PartitionDirectory]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) dirs
    else {
      val predicate = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val idx = partSchema.indexWhere(_.name == a.name)
            BoundReference(idx, partSchema(idx).dataType, nullable = true)
        })
      predicate.initialize(0)
      dirs.filter(d => predicate.eval(d.values))
    }

  private final class ListedFileIndex(files: Array[FileStatus], tableRoot: Path)
      extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(tableRoot)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files))
    override def inputFiles: Array[String] =
      files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = StructType(Nil)
    // identity = the exact file set (see object doc: plan reuse)
    private lazy val entries: Seq[(String, Long)] =
      files.map(f => (f.getPath.toString, f.getLen)).toSeq
    private lazy val entriesHash: Int = entries.hashCode()
    override def equals(other: Any): Boolean = other match {
      case o: ListedFileIndex =>
        (this eq o) || (entriesHash == o.entriesHash && entries == o.entries)
      case _ => false
    }
    override def hashCode(): Int = entriesHash
  }

  /** DataFrame over exactly `files` ((qualified path, byte size) pairs,
    * the manifest entries) read as parquet through `schema` — equivalent
    * to `spark.read.schema(schema).parquet(paths: _*)` (same by-name
    * column reconciliation, absent-column nulls, and widening-safe type
    * promotion — the relation and format are the same classes) minus the
    * per-path file-status round trips and the >32-path listing job. */
  def parquet(spark: SparkSession, schema: StructType, tableRoot: Path,
      files: Seq[(Path, Long)]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val statuses = files.map { case (p, len) =>
      new FileStatus(len, false, 1, 134217728L, 0L, p)
    }.toArray
    val relation = HadoopFsRelation(
      location = new ListedFileIndex(statuses, tableRoot),
      partitionSchema = StructType(Nil),
      // asNullable mirrors DataSource.resolveRelation on a user-specified
      // schema: a non-nullable manifest field must still read as null
      // from files that predate the column (added WITH DEFAULT) — the
      // vectorized reader rejects a missing column it believes required
      dataSchema = schema.asNullable,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(session)
    classic.Dataset.ofRows(session, LogicalRelation(relation))
  }

  private final class PartitionedFileIndex(
      dirs: Seq[PartitionDirectory], val partSchema: StructType,
      tableRoot: Path, val entries: Seq[(String, Long, Seq[String])])
      extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(tableRoot)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      prunePartitions(partitionFilters, partSchema, dirs)
    override def inputFiles: Array[String] =
      dirs.flatMap(_.files.map(_.getPath.toString)).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = dirs.flatMap(_.files.map(_.getLen)).sum
    override def partitionSchema: StructType = partSchema
    private lazy val entriesHash: Int = entries.hashCode()
    override def equals(other: Any): Boolean = other match {
      case o: PartitionedFileIndex =>
        (this eq o) ||
          (entriesHash == o.entriesHash && entries == o.entries &&
            partSchema == o.partSchema)
      case _ => false
    }
    override def hashCode(): Int = entriesHash
  }

  /** Hive-partition-valued variant of [[parquet]] for adopted layouts
    * whose partition columns live in directory names, NOT in the data
    * files: the manifest supplies each file's partition value STRINGS, so
    * the relation is built with them directly — equivalent to
    * `spark.read.schema(...).option("basePath", root).parquet(paths)`
    * partition DISCOVERY (same `Cast(string, type)` the discovery path
    * applies, same appended-partition-column output order, same
    * partition pruning against partition-only predicates) minus the
    * listing/stat round trips, and without discovery's need for one
    * common base directory. `files` = (qualified path, size, partition
    * value strings aligned with `partitionSchema`; null or the hive
    * default-partition sentinel read as null). */
  def parquetPartitioned(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, tableRoot: Path,
      files: Seq[(Path, Long, Seq[String])]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val tz = session.sessionState.conf.sessionLocalTimeZone
    def castPart(v: String, dt: org.apache.spark.sql.types.DataType): Any =
      if (v == null || v == "__HIVE_DEFAULT_PARTITION__") null
      else catalyst.expressions.Cast(
        catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(v),
          org.apache.spark.sql.types.StringType),
        dt, Some(tz)).eval()
    val dirs = files.groupBy(_._3).map { case (vals, fs) =>
      val row = new catalyst.expressions.GenericInternalRow(
        vals.zip(partitionSchema.fields).map { case (v, f) =>
          castPart(v, f.dataType)
        }.toArray)
      PartitionDirectory(row: InternalRow, fs.map { case (p, len, _) =>
        new FileStatus(len, false, 1, 134217728L, 0L, p)
      }.toArray)
    }.toSeq
    val entries = files.map { case (p, len, vals) => (p.toString, len, vals) }
    val relation = HadoopFsRelation(
      location = new PartitionedFileIndex(
        dirs, partitionSchema, tableRoot, entries),
      partitionSchema = partitionSchema,
      dataSchema = dataSchema.asNullable,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(session)
    classic.Dataset.ofRows(session, LogicalRelation(relation))
  }
}
