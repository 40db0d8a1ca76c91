package graft.tables

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.util.UUID

import graft.metadata.{MetadataException, OutputLocation, PathLocation, TableLocation}

/** Versioned Parquet table with snapshot isolation — the vanilla-Spark
  * replacement for the reference's Delta Lake tables (SURVEY §7.3).
  *
  * Layout:
  * {{{
  *   <root>/_graft/manifests/v<version>.json   // immutable snapshots
  *   <root>/_graft/_current                    // version pointer (atomic swap)
  *   <root>/data/<commit-uuid>/...             // immutable data files
  * }}}
  *
  * Writers produce new data files under a fresh commit directory, then
  * publish a manifest listing the full file set of the new version, then
  * atomically swap the pointer. Readers resolve the pointer once and read
  * exactly the files the manifest names — never a directory listing — so
  * concurrent reads see a consistent snapshot while a write is in flight,
  * and a crashed write leaves only unreferenced garbage.
  *
  * Scale notes (100 TB, 1000 executors):
  *  - partition values are tracked per file, so `replacePartitions` commits
  *    touch only affected partitions: a merge into one day of a
  *    date-partitioned table rewrites that day, not the table;
  *  - pruning happens on the driver against the manifest (like Delta's log),
  *    then Spark's parquet scan gets an explicit, already-pruned file list;
  *  - the manifest is O(files); at very large file counts it should shard —
  *    single-writer-per-entity (the reference's model, reference:
  *    Processing.scala one-writer pipeline) keeps commit coordination out
  *    of scope.
  *
  * Partition columns are duplicated into `__gp_<name>` directory keys at
  * write time so the real columns stay inside the data files — readers get
  * the full schema without hive-style partition reconstruction.
  */
final class ManagedTable(spark: SparkSession, val rootPath: String) {

  import ManagedTable.{DvFileCol, DvPosCol}

  private val root = new Path(rootPath)
  private val metaDir = new Path(root, "_graft")
  private val manifestsDir = new Path(metaDir, "manifests")
  private val pointerFile = new Path(metaDir, "_current")
  private val earliestFile = new Path(metaDir, "_earliest")
  private val txnDir = new Path(metaDir, "_txn")
  private val bloomDir = new Path(metaDir, "_bloom")
  private val dvDir = new Path(metaDir, "_dv")
  private val bloomConfigFile = new Path(metaDir, "_bloomindex.json")
  private val dataDir = new Path(root, "data")
  /** One FileContext per table instance — construction parses config and
    * is NOT cached by Hadoop (unlike FileSystem.get), and every commit
    * does two atomic renames through it. */
  private lazy val fileContext = FileContext.getFileContext(
    root.toUri, spark.sparkContext.hadoopConfiguration)

  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Transient-safe existence: the fast path is the pointer file, but a
    * reader landing inside a pointer swap's rename window must not
    * conclude the table vanished — the meta dir (never touched by
    * swaps) arbitrates, and [[currentVersion]] rides out the window. */
  def exists: Boolean = fs.exists(pointerFile) ||
    (fs.exists(metaDir) &&
      scala.util.Try(currentVersion).toOption.flatten.isDefined)

  /** Catalog identity (`db.table`) when this instance was resolved from a
    * metadata [[graft.metadata.TableLocation]] or a SQL statement over a
    * registered table — every commit then keeps the session catalog in
    * sync ([[registerCatalog]]) so `spark.table` and SQL see the table
    * like the reference's saveAsTable mode. */
  private[graft] var catalogName: Option[String] = None
  private var catalogRegistered = false
  private var lastSyncedSchema: Option[org.apache.spark.sql.types.StructType] = None

  /** Register (once) this table in the session catalog as
    * `CREATE TABLE <name> USING graft LOCATION <root>`, creating the
    * database first; after every commit, sync the catalog's STORED
    * schema with the manifest's (DDL and schema-evolving merges change
    * it, and resolution compares stored vs actual on each read) and
    * refresh the cached relation. Reads through the registered relation
    * always resolve the CURRENT manifest at scan time, so data freshness
    * never depends on the refresh — only the schema does. No-op for
    * path-mode tables. */
  private def registerCatalog(): Unit = catalogName.foreach { name =>
    val parts = name.split('.').map(_.replace("`", ""))
    val qualified = parts.map(p => s"`$p`").mkString(".")
    if (!catalogRegistered) {
      if (parts.length == 2)
        spark.sql(s"CREATE DATABASE IF NOT EXISTS `${parts(0)}`")
      if (!spark.catalog.tableExists(name)) {
        val esc = rootPath.replace("'", "''")
        spark.sql(s"CREATE TABLE $qualified USING graft LOCATION '$esc'")
      }
      catalogRegistered = true
    }
    // schema sync + relation-cache refresh only when the schema actually
    // changed (DDL, schema-evolving merge) — data freshness never needs
    // it (the relation resolves the current manifest at scan time), and
    // a per-commit catalog round-trip would tax every streaming
    // micro-batch for nothing
    manifest.map(m => graft.sources.GraftRelation.nullable(m.schema))
      .filterNot(lastSyncedSchema.contains)
      .foreach { current =>
        val id =
          if (parts.length == 2)
            org.apache.spark.sql.catalyst.TableIdentifier(parts(1), Some(parts(0)))
          else org.apache.spark.sql.catalyst.TableIdentifier(parts(0))
        val cat = spark.sessionState.catalog
        if (cat.getTableMetadata(id).schema != current) {
          // external catalog directly: SessionCatalog's wrapper refuses
          // column drops, but graft DDL legitimately drops columns (the
          // manifest is the source of truth; the catalog entry mirrors it)
          cat.externalCatalog.alterTableDataSchema(
            id.database.getOrElse(cat.getCurrentDatabase), id.table, current)
          spark.sql(s"REFRESH TABLE $qualified")
        }
        lastSyncedSchema = Some(current)
      }
  }

  /** Lock-free pointer read with a bounded retry: the atomic
    * rename-with-overwrite swap is atomic for the pointer's CONTENT, but
    * on checksummed filesystems (local FS) the data file and its `.crc`
    * sidecar move in two renames — a reader landing between them (e.g.
    * a streaming source polling every trigger) sees a transient
    * ChecksumException, and on stores where rename-with-overwrite is
    * delete+rename the pointer can even be transiently ABSENT. Content
    * is never torn; re-reading resolves it. "Table truly missing" vs
    * "mid-swap gap" is decided by the meta dir, which exists from first
    * commit and is never touched by a swap — a bare `fs.exists(pointer)`
    * pre-check here once made a concurrent reader (a streaming
    * foreachBatch refresh racing an append) conclude the whole table was
    * gone. */
  def currentVersion: Option[Long] = {
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(pointerFile)
        val s = try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
        finally in.close()
        if (s.nonEmpty && s.forall(_.isDigit)) return Some(s.toLong)
        // TORN pointer: only a store whose overwrite PUT is not atomic
        // (every arbiter here publishes by rename on a file scheme) can
        // expose an empty or truncated pointer if the writer dies mid-swap — and
        // unlike the absent-pointer window this never self-heals, so
        // after a few re-reads (a live writer's PUT completes in ms)
        // republish from the records, which are the ground truth
        attempt += 1
        if (attempt >= 5) {
          repairAbsentPointer() match {
            case Some(v) => return Some(v)
            case None =>
              throw new java.io.IOException(
                s"pointer $pointerFile holds malformed content " +
                  s"('${s.take(32)}') and no self-consistent record " +
                  "could republish it; retry the read")
          }
        }
        Thread.sleep(2L * attempt)
      } catch {
        case _: java.io.FileNotFoundException if !fs.exists(metaDir) =>
          return None // never created (or dropped): genuinely absent
        case e: java.io.FileNotFoundException =>
          // meta dir present, pointer absent: either a swap's rename
          // window (delete+rename on stores without atomic overwrite —
          // unbounded if the writer stalls mid-swap, e.g. a GC pause) or
          // a table MID-CREATION, where the pointer legitimately does
          // not exist yet. The two are disambiguated by the manifests
          // dir: any committed record means the table EXISTS and the gap
          // is a swap — keep retrying and surface a retryable error
          // rather than a false "missing". No records = creating writer
          // probing before first commit: answer None quickly and cheaply.
          attempt += 1
          if (attempt >= 3) {
            // the dir listing is deferred to here so the common case (a
            // creating writer's sink probing before first commit) stays
            // a few cheap exists calls, not a listStatus per probe
            val committed =
              try fs.exists(manifestsDir) &&
                fs.listStatus(manifestsDir).exists(
                  _.getPath.getName.startsWith("v"))
              catch { case scala.util.control.NonFatal(_) => false }
            if (!committed) return None
            if (attempt >= 20) {
              // the swap's rename-with-overwrite degrades to
              // delete+rename on some stores (the local ChecksumFs
              // included) — a writer SIGKILLed inside that window leaves
              // the pointer absent FOREVER, wedging every reader and
              // writer (the roll-forward healer itself starts from the
              // pointer). Records are the ground truth: each was fully
              // written and validated before any pointer moved, so
              // republish the newest self-consistent one. Put-if-absent,
              // so a stalled-but-alive writer's rename landing
              // concurrently simply overwrites with the same-or-newer
              // value, and two repairing readers collide benignly.
              repairAbsentPointer() match {
                case Some(v) => return Some(v)
                case None =>
                  throw new java.io.IOException(
                    s"pointer $pointerFile absent across $attempt reads " +
                      "while committed manifests exist — a writer's " +
                      "pointer swap appears stalled and no " +
                      "self-consistent record could republish it; " +
                      "retry the read", e)
              }
            }
          }
          Thread.sleep(2L * attempt)
        case e: org.apache.hadoop.fs.ChecksumException =>
          // crc/data rename gap: content exists and a LIVE writer's swap
          // resolves on re-read — but a writer KILLED inside the swap can
          // leave a PERMANENTLY stale `.crc` twin (crash-fuzz finding):
          // after a few failed verifications, republish from the records
          // (the overwrite replaces content and twin atomically)
          attempt += 1
          if (attempt >= 8) {
            repairAbsentPointer() match {
              case Some(v) => return Some(v)
              case None    => if (attempt >= 20) throw e
            }
          }
          Thread.sleep(5L * attempt)
      }
    }
    None // unreachable
  }

  /** Pointer self-repair for the absent-pointer crash window (see the
    * caller in [[currentVersion]]): newest record whose own version stamp
    * matches its slot and whose schema deserializes wins — the same
    * self-consistency bar [[healOrphanRecord]] applies, so a torn head
    * record stays unpublished and the repair lands one below it. */
  private def repairAbsentPointer(): Option[Long] =
    try {
      val versions = fs.listStatus(manifestsDir).toSeq
        .map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .flatMap { n =>
          val s = n.stripPrefix("v").stripSuffix(".json")
          if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
        }
        .sorted(Ordering[Long].reverse)
      val valid = versions.iterator.flatMap { v =>
        try {
          val rec = Manifest.recordFromJsonString(readRecordString(v))
          val (rv, rs) = rec.fold(
            m => (m.version, m.schemaJson), i => (i.version, i.schemaJson))
          if (rv != v) None
          else {
            org.apache.spark.sql.types.DataType.fromJson(rs)
            Some(v)
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }.take(1).toSeq.headOption
      valid.flatMap { v =>
        try { writeFileNoOverwrite(pointerFile, v.toString); Some(v) }
        catch {
          case scala.util.control.NonFatal(_) =>
            // the put-if-absent lost: either the stalled writer (or
            // another repairing reader) landed a VALID value — which is
            // authoritative — or the pointer is in a state no
            // put-if-absent can ever fix: torn content, or a half-dead
            // ChecksumFs twin (a killed overwrite leaves a stale
            // `._current.crc`; the next put-if-absent then half-renames
            // and every subsequent read fails checksum verification —
            // observed under the crash fuzz). EVERY unreadable state
            // resolves the same way: overwrite-publish the
            // records-derived version, which atomically replaces content
            // AND checksum twin. (A valid value appearing between the
            // re-read and the overwrite can only come from a writer
            // whose record the scan above already saw or a repairer that
            // computed the same thing, so the overwrite is monotone in
            // practice; the healer's roll-forward absorbs any remaining
            // skew on the next write.)
            scala.util.Try {
              val in = fs.open(pointerFile)
              try new String(in.readAllBytes(),
                StandardCharsets.UTF_8).trim
              finally in.close()
            }.toOption match {
              case Some(s) if s.nonEmpty && s.forall(_.isDigit) =>
                Some(s.toLong)
              case _ =>
                writeFileAtomic(pointerFile, v.toString); Some(v)
            }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  def manifest: Option[Manifest] = currentVersion.map(readManifest)

  /** Version contents are immutable once published, so reconstructed
    * snapshots memoize per table instance. Access-ordered LRU bounded to
    * the latest snapshot plus a checkpoint chain's worth of bases: a
    * long-lived shared instance (e.g. the watermark table) must not retain
    * an O(files) Manifest per committed version, and the map is
    * synchronized because readers cache concurrently with commits. */
  private val snapshotCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[java.lang.Long, Manifest](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[java.lang.Long, Manifest]): Boolean =
        size > Manifest.CheckpointInterval + 1
    })

  /** Snapshot at `version`, reconstructing incremental records through
    * their base chain (bounded by [[Manifest.CheckpointInterval]]).
    * Computed outside the map lock (recursion through the chain must not
    * deadlock); a racing duplicate reconstruction is benign — values are
    * immutable and identical. */
  def readManifest(version: Long): Manifest = {
    val cached = snapshotCache.get(version)
    if (cached != null) cached
    else {
      val m = Manifest.recordFromJsonString(readRecordString(version)) match {
        case Left(full) => full.filesRef match {
          case Some(ref) => full.copy(files = readSidecarFiles(ref))
          case None      => full
        }
        case Right(inc) => inc.applyTo(readManifest(inc.baseVersion))
      }
      snapshotCache.put(version, m)
      m
    }
  }

  /** Manifest-record reads performed by this instance — a test hook for
    * asserting access bounds (e.g. the streaming sink's O(1)-per-batch
    * replay probe), never consulted by production code. */
  private[graft] val recordReadCount = new java.util.concurrent.atomic.AtomicLong

  private def readRecordString(version: Long): String = {
    recordReadCount.incrementAndGet()
    val p = new Path(manifestsDir, f"v$version%020d.json")
    val key = fs.makeQualified(p).toString
    val cached = ManagedTable.recordStringCache.get(key)
    if (cached != null) cached
    else {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
              finally in.close()
      // cache ONLY content that parses: a read racing a live cross-
      // process writer can catch the record mid-write, and caching that
      // torn prefix would poison every later read of the version in this
      // JVM (the caller's own parse failure stays transient — the next
      // read re-reads the file)
      try { Manifest.recordFromJsonString(s); ManagedTable.recordStringCache.put(key, s) }
      catch { case scala.util.control.NonFatal(_) => }
      s
    }
  }

  /** Manifest versions `version` depends on (itself through its nearest
    * checkpoint) — the records vacuum must retain. */
  private def chainVersions(version: Long): Set[Long] =
    Manifest.recordFromJsonString(readRecordString(version)) match {
      case Left(_)    => Set(version)
      case Right(inc) => chainVersions(inc.baseVersion) + version
    }

  /** Current snapshot as a DataFrame. */
  def read(): DataFrame = readSnapshot(requireManifest)

  /** One-struct table summary (the DESCRIBE DETAIL surface): current
    * version, file count, metadata row count (None when unknown — see
    * [[fastCount]]), total bytes (driver-side status loop over manifest
    * paths, metadata-only), partition columns, and the latest commit's
    * operation + timestamp. */
  def detail(): TableDetail = {
    val m = requireManifest
    // manifest-recorded sizes first; status RPC only for legacy entries
    val bytes = m.files.iterator
      .map(f => f.bytes.getOrElse(fs.getFileStatus(new Path(root, f.path)).getLen))
      .sum
    TableDetail(m.version, m.files.size.toLong, fastCount, bytes,
      m.partitionColumns, m.operation, m.timestampMs, clusterBy)
  }

  /** Exact `count(*)` from manifest metadata alone — O(files) driver
    * arithmetic, ZERO data scan (how Delta answers bare counts from its
    * log). At 100 TB the difference between this and `read().count()` is
    * a metadata lookup vs a full-table scan job. None when any file
    * lacks a recorded row count (files adopted via [[importFiles]]
    * without counts, or footer reads that failed at commit time) —
    * `collectStatistics()` backfills those, never a wrong number. */
  def fastCount: Option[Long] = manifest.flatMap { m =>
    val known = m.files.flatMap(_.liveRows)
    if (known.size == m.files.size) Some(known.sum) else None
  }

  /** Exact `SELECT count(*), min(c), max(c), …` from manifest metadata
    * alone — O(files) driver arithmetic, ZERO data scan. The 100 TB
    * economics of [[fastCount]] extended to extrema: a freshness probe or
    * range-discovery query ("what span of order dates does this table
    * cover?") answers from the commit log instead of a full-table scan.
    *
    * Returns a one-row DataFrame `(cnt BIGINT, min_<c> T, max_<c> T, …)`
    * typed by the table schema, or None when metadata cannot answer
    * EXACTLY, falling back is the caller's choice ([[minMaxCount]] does
    * it automatically). Exactness demands:
    *
    *  - every file carries a recorded row count and NO deletion vector
    *    (a masked row might be the extremum);
    *  - every requested column is of a fixed-width comparison domain —
    *    integral, float/double, date, timestamp. String stats are
    *    excluded by design: parquet writers may truncate/bound-adjust
    *    binary min/max, which is sound for skipping but not for exact
    *    answers. Decimals never record stats ([[FileStatistics]]);
    *  - every non-empty file has footer stats for the column (a missing
    *    entry could mean all-null, but also an unread footer or a column
    *    beyond the indexed cap — ambiguity disqualifies, never guesses).
    *
    * Nulls are consistent with SQL semantics for free: parquet footer
    * min/max ignore nulls, exactly as `min()`/`max()` do. An empty table
    * yields `(0, null, null, …)`. */
  def statsAggregate(cols: Seq[String]): Option[DataFrame] =
    statsAggregateRaw(cols)
      // the one-row min/max frame demands EVERY column's extrema be
      // exact (null-count-only columns serve count(col), not this API)
      .filter { case (_, perCol) => perCol.forall(_.extremaExact) }
      .map { case (total, perCol) =>
      import org.apache.spark.sql.types._
      val fields = StructField("cnt", LongType, nullable = false) +:
        perCol.flatMap { c => Seq(
          StructField(s"min_${c.field.name}", c.field.dataType),
          StructField(s"max_${c.field.name}", c.field.dataType))
        }
      val values: Seq[Any] = (total: java.lang.Long) +:
        perCol.flatMap { c =>
          c.extrema match {
            case Some((lo, hi)) => Seq(lo, hi)
            case None           => Seq(null, null)
          }
        }
      spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row.fromSeq(values)),
        StructType(fields))
    }

  /** [[statsAggregate]]'s driver-value core: the exact live row count and
    * per-column typed `(min, max)` extrema (None = zero live rows), or
    * None when metadata cannot answer exactly. Used directly by the
    * metadata-only aggregate REWRITE ([[graft.plans.GraftMetadataAggRule]])
    * so SQL `SELECT count(*), min(c) FROM t` collapses to a LocalRelation
    * with zero jobs. */
  private[graft] def statsAggregateRaw(cols: Seq[String])
      : Option[(Long, Seq[ManagedTable.ColAgg])] = {
    import org.apache.spark.sql.types._
    manifest.flatMap { m =>
      val schema = m.schema
      val cnt = {
        val known = m.files.flatMap(_.rows)
        if (known.size == m.files.size && m.files.forall(_.dv.isEmpty))
          Some(known.sum)
        else None
      }
      cnt.flatMap { total =>
        val nonEmpty = m.files.filter(_.rows.exists(_ > 0))
        val perCol: Seq[Option[(StructField, Option[(String, String)],
            Option[Long], Boolean)]] =
          cols.map { c =>
            schema.fields.find(_.name == c).flatMap { field =>
              val exact = field.dataType match {
                case ByteType | ShortType | IntegerType | LongType |
                     FloatType | DoubleType | DateType |
                     TimestampType | TimestampNTZType => true
                case _ => false
              }
              val key = m.physicalName(c)
              // exact non-null count = Σ (rows − nulls): only when every
              // non-empty file recorded the column's null count (type
              // doesn't matter — a string's null count is still exact)
              val nonNulls: Option[Long] =
                if (nonEmpty.forall(f => f.nullCounts.contains(key)))
                  Some(nonEmpty.map(f =>
                    f.rows.get - f.nullCounts(key)).sum)
                else None
              if (!exact)
                Some((field, Option.empty[(String, String)], nonNulls, false))
              else {
                // a file without min/max for the column is ambiguous —
                // UNLESS its null count says every row is null (no extrema
                // to contribute, skip it exactly)
                val withStats = nonEmpty.filter(_.stats.contains(key))
                val unaccounted = nonEmpty.filterNot(f =>
                  f.stats.contains(key) ||
                    f.nullCounts.get(key).contains(f.rows.get))
                if (unaccounted.nonEmpty)
                  Some((field, Option.empty[(String, String)], nonNulls,
                    false)) // extrema ambiguous; null counts may survive
                else if (withStats.isEmpty)
                  Some((field, Option.empty[(String, String)], nonNulls,
                    true)) // 0 rows with values
                else {
                  // float/double bounds are Double.toString, which can be
                  // "Infinity"/"-Infinity" (parquet only drops stats for
                  // NaN) — BigDecimal can't parse those, so an unparsable
                  // bound degrades to "extrema ambiguous" instead of
                  // throwing (same conservative contract as
                  // [[ColStats.overlaps]])
                  val all = withStats.map(_.stats(key))
                  scala.util.Try {
                    // parse EVERY bound (reduce on a 1-file list never
                    // invokes the comparator, so validation must not hide
                    // inside it)
                    all.foreach(s => { BigDecimal(s.min); BigDecimal(s.max) })
                    val lo = all.map(_.min).reduce((a, b) =>
                      if (BigDecimal(a) <= BigDecimal(b)) a else b)
                    val hi = all.map(_.max).reduce((a, b) =>
                      if (BigDecimal(a) >= BigDecimal(b)) a else b)
                    (field, Some((lo, hi)), nonNulls, true)
                  }.toOption.orElse(
                    Some((field, Option.empty[(String, String)], nonNulls,
                      false)))
                }
              }
            }
          }
        if (perCol.exists(_.isEmpty)) None
        else {
          // stats-domain string → typed value (inverse of the footer
          // encoding [[statsBound]] translates bounds INTO)
          def typed(dt: DataType, v: String): Any = dt match {
            case ByteType    => BigDecimal(v).toByte
            case ShortType   => BigDecimal(v).toShort
            case IntegerType => BigDecimal(v).toInt
            case LongType    => BigDecimal(v).toLong
            case FloatType   => BigDecimal(v).toFloat
            case DoubleType  => v.toDouble
            case DateType    => java.time.LocalDate.ofEpochDay(v.toLong)
            case TimestampType =>
              val us = v.toLong
              java.time.Instant.ofEpochSecond(
                Math.floorDiv(us, 1000000L),
                Math.floorMod(us, 1000000L) * 1000L)
            case TimestampNTZType =>
              val us = v.toLong
              java.time.LocalDateTime.ofEpochSecond(
                Math.floorDiv(us, 1000000L),
                (Math.floorMod(us, 1000000L) * 1000L).toInt,
                java.time.ZoneOffset.UTC)
            case other => throw new IllegalStateException(other.toString)
          }
          Some((total, perCol.flatten.map {
            case (f, Some((lo, hi)), nn, ex) =>
              ManagedTable.ColAgg(f,
                Some((typed(f.dataType, lo), typed(f.dataType, hi))), nn, ex)
            case (f, None, nn, ex) => ManagedTable.ColAgg(f, None, nn, ex)
          }))
        }
      }
    }
  }

  /** [[statsAggregate]] with an automatic scan fallback: the same one-row
    * `(cnt, min_<c>, max_<c>, …)` frame, answered from metadata when the
    * manifest can answer exactly and from a (column-pruned) scan
    * otherwise. Callers get commit-log latency when possible and
    * correctness always. */
  def minMaxCount(cols: Seq[String]): DataFrame =
    statsAggregate(cols).getOrElse {
      val d = read()
      val aggs = org.apache.spark.sql.functions
        .count(org.apache.spark.sql.functions.lit(1)).as("cnt") +:
        cols.flatMap(c => Seq(
          org.apache.spark.sql.functions.min(c).as(s"min_$c"),
          org.apache.spark.sql.functions.max(c).as(s"max_$c")))
      d.agg(aggs.head, aggs.tail: _*)
    }

  /** Switch on row tracking (Delta's `delta.enableRowTracking`): every
    * row gets a STABLE numeric identity (`_row_id`) that survives
    * compaction, Z-order, DV masking, and copy-on-write DML — the
    * anchor an incremental consumer needs to follow a row across
    * rewrites that don't logically change it. One metadata-only commit:
    * existing files are backfilled with contiguous base-ID ranges (row
    * i of a file = `baseRowId + i`); no data is rewritten, ever — later
    * row-preserving rewrites carry IDs in a materialized column inside
    * the new files. Requires every file's row count to be recorded
    * (run [[collectStatistics]] first on legacy/imported tables). */
  def enableRowTracking(): Unit = withWriteLock {
    val m = requireManifest
    if (m.properties.get(ManagedTable.RowTrackingEnabledProp).contains("true"))
      return
    val noRows = m.files.filter(_.rows.isEmpty)
    if (noRows.nonEmpty)
      throw new MetadataException(
        s"enableRowTracking on $rootPath: ${noRows.size} file(s) have no " +
          "recorded row count (e.g. " + noRows.head.path +
          ") — run collectStatistics() first")
    // commitDelta allocates base IDs for every add lacking one (the
    // enabled property below switches allocation on for this commit too)
    commitDelta(m.schemaJson, m.partitionColumns, "enableRowTracking",
      base = Some(m), adds = m.files, removes = m.files.map(_.path),
      propertiesOverride = Some(m.properties +
        (ManagedTable.RowTrackingEnabledProp -> "true")))
  }

  private[tables] def rowTrackingActive(m: Manifest): Boolean =
    m.properties.get(ManagedTable.RowTrackingEnabledProp).contains("true")

  /** The snapshot plus a `rowIdCol` column carrying each row's stable
    * row-tracking identity (see [[enableRowTracking]]). IDs are unique
    * across the table's lifetime (allocation only moves the watermark
    * forward) and stable across row-preserving rewrites; fresh inserts
    * get fresh IDs. Refuses — rather than emitting overlapping or null
    * IDs — when any current file was adopted without a recorded row
    * count (run [[collectStatistics]] to backfill, which also
    * allocates). */
  def readWithRowIds(rowIdCol: String = "_row_id"): DataFrame =
    readRowMeta(rowIdCol = Some(rowIdCol), cvCol = None)

  /** [[readWithRowIds]] plus each row's COMMIT VERSION — the version of
    * the commit that last modified it (Delta's `_row_commit_version`):
    * fresh rows report the commit that wrote their file, updated rows
    * the update's commit, and row-preserving rewrites (compaction,
    * Z-order, DV purge) carry the version through unchanged. Rows
    * written before this library stamped per-file versions report the
    * version that first re-committed them (enablement/restore). */
  def readWithRowMeta(rowIdCol: String = "_row_id",
      commitVersionCol: String = "_row_commit_version"): DataFrame =
    readRowMeta(Some(rowIdCol), Some(commitVersionCol))

  private def readRowMeta(rowIdCol: Option[String],
      cvCol: Option[String]): DataFrame = {
    val m = requireManifest
    if (!rowTrackingActive(m))
      throw new MetadataException(
        s"row tracking is not enabled on $rootPath — call enableRowTracking()")
    val missing = m.files.filter(_.baseRowId.isEmpty)
    if (missing.nonEmpty)
      throw new MetadataException(
        s"readWithRowIds on $rootPath: ${missing.size} file(s) have no " +
          "allocated row-ID range (e.g. " + missing.head.path +
          ") — run collectStatistics() to backfill")
    readFilesWithTag(m, m.files, None, None, rowIdCol, cvCol)
  }

  /** Maintenance/DML read of `files` that MATERIALIZES row IDs and
    * per-row commit versions into [[ManagedTable.MatRowIdCol]] /
    * [[ManagedTable.MatRowCvCol]] when row tracking is active, so a
    * rewrite of these rows preserves their identity and history; the
    * plain masked read otherwise. */
  private[tables] def readPreservingRowIds(m: Manifest,
      files: Seq[TableFile]): DataFrame =
    if (rowTrackingActive(m) && files.forall(_.baseRowId.isDefined))
      readFilesWithTag(m, files, None, None,
        Some(ManagedTable.MatRowIdCol), Some(ManagedTable.MatRowCvCol))
    else readFiles(m, files)

  /** Time travel: the table as of `version`. Versions below the vacuum
    * horizon fail fast — their manifest record may still exist (chain
    * retention) but their data files are gone, and a late
    * FileNotFoundException mid-scan would be opaque. */
  def readVersion(version: Long): DataFrame = {
    earliestReadableVersion.foreach(e =>
      if (version < e) throw new MetadataException(
        s"Version $version of $rootPath was vacuumed " +
          s"(earliest readable version is $e)"))
    readSnapshot(readManifest(version))
  }

  /** Newest committed version whose record timestamp is at or before
    * `tsMillis` — Delta's `timestampAsOf` resolution over retained
    * records only (a timestamp below the vacuum horizon fails with the
    * earliest surviving record named).
    *
    * Commit timestamps are monotone in version (clamped at commit time),
    * so this is ONE name listing plus a binary search reading O(log n)
    * single records — never a parse of every retained record's full file
    * list, which on a long-retention table with checkpoint-sized records
    * is the difference between milliseconds and a metadata storm. */
  def versionAt(tsMillis: Long): Long = {
    val versions: Vector[Long] =
      if (!fs.exists(manifestsDir)) Vector.empty
      else fs.listStatus(manifestsDir).iterator
        .map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(_.stripPrefix("v").stripSuffix(".json"))
        .filter(v => v.nonEmpty && v.forall(_.isDigit))
        .map(_.toLong).toVector.sorted
    if (versions.isEmpty)
      throw new MetadataException(s"Table $rootPath does not exist")
    val probed = scala.collection.mutable.TreeMap[Int, Long]()
    def ts(i: Int): Long = probed.getOrElseUpdate(i, Manifest
      .recordFromJsonString(readRecordString(versions(i)))
      .fold(_.timestampMs, _.timestampMs))
    // Records written by THIS library clamp their timestamp to the
    // predecessor's (monotone by construction); records from before the
    // clamp can regress. Resolution therefore uses Delta's monotonized
    // semantics — the effective timestamp of v is max(ts(0..v)) — which
    // the sound linear scan below computes directly. Long histories take
    // the O(log n) binary-search fast path first and fall back to the
    // scan whenever the probes it happened to read betray disorder (a
    // regression can only exist in a legacy prefix, and legacy tables
    // have short histories — the fallback is the rare case, not the 100
    // TB steady state).
    def linearScan(): Int = {
      var runningMax = Long.MinValue
      var found = -1
      var i = 0
      while (i < versions.size) {
        try {
          val t = ts(i)
          if (t > runningMax) runningMax = t
          if (runningMax <= tsMillis) found = i
        } catch { case _: java.io.FileNotFoundException => () } // vacuumed
        i += 1
      }
      found
    }
    val found =
      if (versions.size <= 32) linearScan()
      else {
        // rightmost retained version with ts <= tsMillis
        var lo = 0
        var hi = versions.size - 1
        var cand = -1
        var ordered = true
        while (lo <= hi) {
          val mid = (lo + hi) / 2
          try {
            if (ts(mid) <= tsMillis) { cand = mid; lo = mid + 1 }
            else hi = mid - 1
          } catch {
            // a record vacuumed between the listing and the read — vacuum
            // prunes a PREFIX of the version order (the current head always
            // survives), so the answer can only lie to the right of mid
            case _: java.io.FileNotFoundException => lo = mid + 1
          }
        }
        // consistency audit over everything actually read: any inversion
        // among the probes means the monotone assumption is false here
        if (cand >= 0 && cand + 1 < versions.size)
          try ts(cand + 1) catch { case _: java.io.FileNotFoundException => () }
        val seen = probed.toSeq
        ordered = seen.zip(seen.drop(1)).forall { case ((_, a), (_, b)) => a <= b }
        if (ordered) cand else linearScan()
      }
    if (found >= 0) versions(found)
    else
      throw new MetadataException(
        s"No version of $rootPath at or before timestamp $tsMillis " +
          s"(earliest retained record is at ${try ts(0)
            catch { case _: java.io.FileNotFoundException => -1L }})")
  }

  /** Snapshot as of a wall-clock instant ([[versionAt]] + time travel). */
  def readTimestamp(tsMillis: Long): DataFrame = readVersion(versionAt(tsMillis))

  /** File-diff change feed: what changed between two committed versions,
    * as rows — `_change_type = 'added'` for rows in files the interval
    * added, `'removed'` for rows in files it removed. A rewritten file
    * contributes its old rows as removed and its new rows as added;
    * consumers diff by primary key to classify updates. This is change
    * capture WITHOUT a change log — exactly the granularity the
    * file-granular MERGE makes minimal: a 10-row upsert's feed is the
    * handful of files it touched, never the partition (downstream
    * incremental gold jobs read O(changed files), not O(table)).
    *
    * Both versions must be at or above the vacuum horizon — removed
    * files' data is what vacuum deletes, so a feed below it would fail
    * mid-scan. Schemas may differ across the interval (columns added or
    * dropped); the union aligns by name and nulls the gaps. */
  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changes($fromVersion, $toVersion): interval is reversed")
    earliestReadableVersion.foreach(e =>
      if (fromVersion < e) throw new MetadataException(
        s"changes from version $fromVersion of $rootPath: vacuumed " +
          s"(earliest readable version is $e)"))
    val from = readManifest(fromVersion)
    val to = readManifest(toVersion)
    // file identity is (path, dv): a deletion-vector commit keeps the
    // path but changes the mask, and its vanished rows MUST surface in
    // the feed — the re-masked file re-enters as removed(old mask) +
    // added(new mask), and the row-level diff nets out the carry-overs
    val fromKeys = from.files.map(f => (f.path, f.dv)).toSet
    val toKeys = to.files.map(f => (f.path, f.dv)).toSet
    val added = to.files.filterNot(f => fromKeys.contains((f.path, f.dv)))
    val removed = from.files.filterNot(f => toKeys.contains((f.path, f.dv)))
    readFiles(to, added).withColumn("_change_type", lit("added"))
      .unionByName(
        readFiles(from, removed).withColumn("_change_type", lit("removed")),
        allowMissingColumns = true)
  }

  /** ROW-level CDC classified from the file-diff feed (Delta CDF's
    * semantics with NO stored change files): diff [[changes]]'s added
    * rows against its removed rows by `keyCols` —
    *
    *  - key only in added files           → `insert` (the new row)
    *  - key only in removed files         → `delete` (the old row)
    *  - key in both, any column differing → `update_postimage` (new row)
    *  - key in both, rows identical       → dropped (a rewritten file's
    *    carried-over rows are not changes)
    *
    * `keyCols` must identify rows uniquely within the interval (the
    * merge PK does) — a duplicated key would make the diff ambiguous,
    * so the classification expression itself raises (at evaluation,
    * naming the offending key) instead of silently emitting a multiplied
    * feed; the guard rides the one aggregation every consumer already
    * evaluates, costing zero extra jobs. Cost is O(changed-file rows)
    * with ONE shuffle on the key; the file-granular merge is what keeps
    * that input minimal, so a 10-row upsert's row feed costs a handful
    * of files, not the table.
    *
    * The "did the row change" comparison spans only columns present in
    * BOTH endpoint schemas: a column added or dropped across the
    * interval reads as null on one side, and comparing it would flag
    * every carried-over row as an update — schema evolution is not a
    * row change.
    *
    * `includePreimages = true` additionally emits, for every updated
    * key, the OLD row as `update_preimage` (Delta CDF's pre/postimage
    * pair) — consumers maintaining downstream aggregates subtract the
    * preimage and add the postimage without re-reading the table. The
    * pair is produced from the same single aggregation (one exploded
    * two-element array per updated key), so the plan cost is unchanged:
    * one shuffle on the key, O(changed-file rows). */
  def rowChanges(fromVersion: Long, toVersion: Long,
      keyCols: Seq[String], includePreimages: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "rowChanges needs at least one key column")
    val feed = changes(fromVersion, toVersion)
    val dataCols = feed.columns.filterNot(_ == "_change_type").toSeq

    val fromCols = readManifest(fromVersion).schema.fieldNames
      .map(_.toLowerCase).toSet
    val toCols = readManifest(toVersion).schema.fieldNames
      .map(_.toLowerCase).toSet
    val comparable = dataCols.filter(c =>
      fromCols.contains(c.toLowerCase) && toCols.contains(c.toLowerCase))

    // ONE aggregation does the whole diff: keys are unique per side, so
    // grouping by key leaves at most one added and one removed row per
    // group — `first(when(side, struct(row)))` picks each endpoint image
    // and the per-side counts both classify and GUARD (a duplicated key
    // raises from inside the classification expression, which every
    // consumer evaluates — the `_change_type` filter below consumes it,
    // so column pruning can never drop the check). The previous shape —
    // an eager probe job plus a full-outer self-join — scanned the
    // changed files three times and shuffled twice; this scans once and
    // shuffles once, and is lazy like every other read path.
    val isA = col("_change_type") === "added"
    val isR = col("_change_type") === "removed"
    val rowStruct = struct(dataCols.map(c => col(s"`$c`")): _*)
    val agg = feed
      .groupBy(keyCols.map(c => col(s"`$c`")): _*)
      .agg(
        first(when(isA, rowStruct), ignoreNulls = true).as("__a"),
        first(when(isR, rowStruct), ignoreNulls = true).as("__r"),
        count(when(isA, lit(1))).as("__na"),
        count(when(isR, lit(1))).as("__nr"))
    val inA = col("__a").isNotNull
    val inR = col("__r").isNotNull
    val dupSide = when(col("__na") > 1, lit("added"))
      .otherwise(lit("removed"))
    val dupGuard = raise_error(concat(
      lit(s"rowChanges($fromVersion, $toVersion) on $rootPath: key ("),
      concat_ws(", ", keyCols.map(c =>
        concat(lit(s"$c="), coalesce(col(s"`$c`").cast("string"),
          lit("null")))): _*),
      lit(") appears "),
      greatest(col("__na"), col("__nr")).cast("string"),
      lit(" times among the interval's "), dupSide,
      lit(" rows — keyCols must uniquely identify rows within the " +
        "interval")))
    val differs = comparable.filterNot(keyCols.contains)
      .map(c => !(col(s"__a.`$c`") <=> col(s"__r.`$c`")))
      .foldLeft(lit(false))(_ || _)
    val changeType = when(col("__na") > 1 || col("__nr") > 1, dupGuard)
      .when(inA && !inR, "insert")
      .when(!inA && inR, "delete")
      .when(differs, "update_postimage")
      .otherwise(lit(null).cast("string"))
    val out = dataCols.map(c =>
      when(inA, col(s"__a.`$c`")).otherwise(col(s"__r.`$c`")).as(c))
    if (!includePreimages)
      agg.select(out :+ changeType.as("_change_type"): _*)
        .filter(col("_change_type").isNotNull)
    else {
      val post = struct(out :+ changeType.as("_change_type"): _*)
      val pre = struct(dataCols.map(c => col(s"__r.`$c`").as(c)) :+
        lit("update_preimage").as("_change_type"): _*)
      agg
        .select(explode(when(changeType === "update_postimage",
          array(pre, post)).otherwise(array(post))).as("__graft_change"))
        .select(col("__graft_change.*"))
        .filter(col("_change_type").isNotNull)
    }
  }

  /** Incremental downstream sync (the "gold job" pattern): apply this
    * table's row-level changes since `fromVersion` to `downstream` in
    * ONE keyed merge — updates/inserts upsert, deletes delete — and
    * return the version to bookmark for the next poll (store it in a
    * [[graft.watermark.WatermarkStore]] for exactly-once consumption).
    * Work is O(changed rows), not O(table), end to end: [[rowChanges]]
    * reads only changed files, and the keyed merge rewrites only
    * downstream files containing touched keys. `keyCol` is the merge PK
    * of both tables. No-op (bookmark returned unchanged) when nothing
    * committed since `fromVersion`. */
  def syncChangesTo(downstream: ManagedTable, keyCol: String,
      fromVersion: Long): Long = {
    val cur = currentVersion.getOrElse(
      throw new MetadataException(s"syncChangesTo on missing table $rootPath"))
    if (cur == fromVersion) return cur
    val rc = rowChanges(fromVersion, cur, Seq(keyCol))
    MergeInto.byKey(downstream, rc, keyCol)
      // rowChanges raises on duplicated keys itself — the feed is
      // unique per key by the time the merge consumes it
      .assumeUniqueSourceKeys()
      .whenMatchedDelete(cond = Some("source._change_type = 'delete'"))
      .whenMatchedUpdateAll(cond = Some("source._change_type != 'delete'"))
      .whenNotMatchedInsertAll(cond = Some("source._change_type != 'delete'"))
      .execute()
    cur
  }

  /** Incremental-consumer form of [[changes]]: everything changed since
    * `version` (exclusive) up to the current version, plus the version to
    * bookmark for the next poll. A downstream job persists the returned
    * version (e.g. in a [[graft.watermark.WatermarkStore]]) and calls this
    * on its next run — exactly-once consumption of table changes with no
    * change log. */
  def changesSince(version: Long): (DataFrame, Long) = {
    val cur = currentVersion.getOrElse(
      throw new MetadataException(s"changesSince on missing table $rootPath"))
    (changes(version, cur), cur)
  }

  /** Vacuum horizon: versions below this may reference deleted data. */
  def earliestReadableVersion: Option[Long] =
    if (!fs.exists(earliestFile)) None
    else {
      val in = fs.open(earliestFile)
      val s = try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
      finally in.close()
      // a non-atomic-PUT store (condput arbiter) can expose a torn
      // horizon if a vacuum died mid-overwrite: treat it as absent —
      // the fence is a fail-fast OPTIMIZATION, never load-bearing for
      // live reads, and the next vacuum republishes it
      if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
    }

  /** Record `batchId` as the last transaction committed by streaming
    * writer `appId` (Delta's txnAppId/txnVersion pattern). Written
    * atomically AFTER the data commit, so it can trail the truth by one
    * crash window — recovery must take the max of this marker and the
    * newest record-embedded [[Txn]] for the same app
    * ([[newestRecordTxn]]), which is the atomic source of truth. Lives
    * under `_graft/_txn/`, which [[vacuum]] never deletes — and vacuum
    * rolls record-embedded txns forward into these markers BEFORE
    * pruning their records, so the max is correct even after
    * maintenance. `appId` becomes a filename: restricted to
    * `[A-Za-z0-9._-]` with no leading dot (no path separators, no
    * `..`). */
  def setTxn(appId: String, batchId: Long): Unit = {
    require(ManagedTable.validTxnAppId(appId),
      s"txn appId '$appId' is not filesystem-safe: use [A-Za-z0-9._-], " +
        "not starting with '.'")
    fs.mkdirs(txnDir)
    writeFileAtomic(new Path(txnDir, appId), batchId.toString)
  }

  /** Last [[setTxn]] value for `appId`; None when the writer never
    * committed here. Lock-free like all reads (bounded retry over the
    * atomic swap's crc/rename window, as [[currentVersion]]). */
  def getTxn(appId: String): Option[Long] = {
    val p = new Path(txnDir, appId)
    var attempt = 0
    while (true) {
      if (!fs.exists(p)) return None
      try {
        val in = fs.open(p)
        val s = try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
        finally in.close()
        // torn marker (writer died inside a non-atomic overwrite PUT):
        // treat as absent — the marker may lawfully trail the truth by
        // one crash window, and recovery already takes the max with the
        // record-embedded txn, which is the atomic source of truth
        return if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
      } catch {
        case e @ (_: org.apache.hadoop.fs.ChecksumException
                  | _: java.io.FileNotFoundException) =>
          attempt += 1
          if (attempt >= 20) throw e
          Thread.sleep(5L * attempt)
      }
    }
    None // unreachable
  }

  /** On-disk length of a manifest file entry — driver-side metadata read
    * (the streaming source's byte-based admission control prices files
    * with it when a manifest entry predates recorded sizes). */
  private[graft] def fileLen(relPath: String): Long =
    fs.getFileStatus(new Path(root, relPath)).getLen

  /** Newest record-embedded [[Txn]] for `appId`, walking retained
    * manifest records newest-first and short-circuiting at the first
    * match — for a live streaming writer that is the head commit or a
    * few maintenance commits below it. Returns None when no retained
    * record carries the app's txn (then the [[getTxn]] marker, which
    * vacuum keeps rolled forward, is the only truth). */
  private[graft] def newestRecordTxn(appId: String): Option[Long] = {
    if (!fs.exists(manifestsDir)) return None
    val versions = fs.listStatus(manifestsDir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json"))
      .filter(v => v.nonEmpty && v.forall(_.isDigit))
      .map(_.toLong).sorted.reverse
    versions.iterator.flatMap { v =>
      // lock-free: a concurrent vacuum may delete a record between the
      // listing and the read — skip it (its txn was rolled forward). A
      // torn record (a crashed writer's, or one still being written; one
      // gone before its length is read counts as empty) is no commit
      try recordTxn(v) catch {
        case _: java.io.FileNotFoundException => None
        case scala.util.control.NonFatal(e) if isTornRecord(e, scala.util.Try(
          fs.getFileStatus(new Path(manifestsDir, f"v$v%020d.json")).getLen).getOrElse(0L)) => None
      }
    }.collectFirst { case t if t.appId == appId => t.batchId }
  }

  private def recordTxn(version: Long): Option[Txn] =
    Manifest.recordFromJsonString(readRecordString(version)) match {
      case Left(m)    => m.txn
      case Right(inc) => inc.txn
    }

  /** Snapshot restricted to partitions accepted by `keep` — pruning happens
    * driver-side against the manifest; the scan opens only surviving files. */
  def readPartitions(keep: Map[String, String] => Boolean): DataFrame = {
    val m = requireManifest
    readFiles(m, m.files.filter(f => keep(f.partitionValues)))
  }

  /** Convenience: partitions whose values appear in `wanted`
    * (column → allowed string values). Empty map → full snapshot. */
  def readPartitionsIn(wanted: Map[String, Set[String]]): DataFrame =
    if (wanted.isEmpty) read()
    else readPartitions(pv => wanted.forall { case (c, vs) => pv.get(c).exists(vs) })

  /** Data skipping: files whose [lower, upper] range (inclusive, either
    * side optional) can overlap `column`'s per-file min/max. Files without
    * stats for the column are conservatively kept.
    *
    * Bounds are translated into the stats domain first (timestamps →
    * epoch micros, dates → epoch days — the raw parquet footer encoding);
    * a bound with no safe translation (e.g. a raw long against a
    * timestamp column, whose Spark-filter cast semantics differ from the
    * stats encoding) disables skipping on that side rather than risking
    * wrongly-skipped files. */
  def filesInRange(
      column: String, lower: Option[Any], upper: Option[Any]): Seq[TableFile] =
    filesInRangeOf(requireManifest, column, lower, upper)

  /** [[filesInRange]] against a caller-held snapshot, so a multi-filter
    * prune (the `format("graft")` relation) evaluates every bound on ONE
    * version instead of re-reading the head per filter. */
  private[graft] def filesInRangeOf(m: Manifest,
      column: String, lower: Option[Any], upper: Option[Any]): Seq[TableFile] = {
    val dt = m.schema.fields.find(_.name == column).map(_.dataType)
    // bounds parsed ONCE here (not per file): this filter runs over every
    // manifest entry — 1M for a ~100 TB table — on the driver
    val lo = lower.flatMap(statsBound(dt, _)).map(ColStats.Bound(_))
    val hi = upper.flatMap(statsBound(dt, _)).map(ColStats.Bound(_))
    val statKey = m.physicalName(column) // stats key by physical name
    m.files.filter(f =>
      f.stats.get(statKey).forall(_.overlapsBounds(lo, hi)))
  }

  /** A range bound in the footer-stats domain for a column of type `dt`;
    * None when no translation is safe (skipping then stays off for that
    * bound — an optimization must never drop rows). */
  private def statsBound(
      dt: Option[org.apache.spark.sql.types.DataType], v: Any): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case Some(TimestampType) | Some(TimestampNTZType) => v match {
        case t: java.sql.Timestamp =>
          val i = t.toInstant
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case i: java.time.Instant =>
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case l: java.time.LocalDateTime =>
          val i = l.toInstant(java.time.ZoneOffset.UTC)
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case _ => None
      }
      case Some(DateType) => v match {
        case d: java.sql.Date      => Some(d.toLocalDate.toEpochDay)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case _                      => None
      }
      case _ => Some(v)
    }
  }

  /** Range scan with manifest-level file skipping: the driver hands the
    * parquet scan only files whose footer stats overlap the range —
    * Delta-style data skipping on top of Spark's own row-group pruning.
    * The predicate is re-applied to the surviving rows, so the result
    * equals `read().filter(...)` exactly. */
  def readRange(column: String, lower: Option[Any], upper: Option[Any]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val m = requireManifest
    val base = readFiles(m, filesInRange(column, lower, upper))
    val c = col(s"`$column`")
    val withLo = lower.map(l => base.filter(c >= l)).getOrElse(base)
    upper.map(u => withLo.filter(c <= u)).getOrElse(withLo)
  }

  // ---------------------------------------------------- bloom indexes

  /** Bloom-indexed columns and their configs (empty = none). The config
    * is a table-level setting, not versioned: blooms are a pure
    * optimization consulted only when present, so time travel needs no
    * config history. */
  def bloomIndexes: Map[String, BloomIndexConfig] =
    if (!fs.exists(bloomConfigFile)) Map.empty
    else {
      val in = fs.open(bloomConfigFile)
      try BloomIndex.configFromJson(
        new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }

  /** Register a per-file Bloom-filter index on `column` (see
    * [[BloomIndex]]) and backfill sidecars for the current snapshot's
    * files. Every subsequent data write builds blooms for its new files
    * as part of the commit. `expectedItemsPerFile` sizes each filter
    * (~1.2 bytes/item at fpp 1%) — oversize rather than undersize: an
    * overfull bloom degrades toward keeping every file, silently losing
    * the speedup but never correctness. */
  def addBloomIndex(column: String, fpp: Double = 0.01,
      expectedItemsPerFile: Long = 100000L): Unit = withWriteLock {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    require(expectedItemsPerFile > 0,
      s"expectedItemsPerFile must be positive, got $expectedItemsPerFile")
    val m = requireManifest
    val f = m.schema.fields.find(_.name == column).getOrElse(
      throw new MetadataException(
        s"Cannot bloom-index $rootPath.$column: no such column"))
    if (!BloomIndex.supported(f.dataType)) throw new MetadataException(
      s"Cannot bloom-index $rootPath.$column: type ${f.dataType.simpleString} " +
        "is not supported (byte/short/int/long, string, date are)")
    val cfg = BloomIndexConfig(fpp, expectedItemsPerFile)
    val physCol = m.physicalName(column) // sidecars key by physical name
    writeFileAtomic(bloomConfigFile,
      BloomIndex.configToJson(bloomIndexes + (physCol -> cfg)))
    BloomIndex.build(spark, fs, root, bloomDir, m.files, m.physicalSchema,
      Map(physCol -> cfg), fileUriLookup(m.files), onlyMissing = true)
  }

  /** Unregister the index and delete its sidecars. */
  def dropBloomIndex(column: String): Unit = withWriteLock {
    val physCol = manifest.map(_.physicalName(column)).getOrElse(column)
    val cur = bloomIndexes
    if (cur.contains(physCol)) {
      writeFileAtomic(bloomConfigFile, BloomIndex.configToJson(cur - physCol))
      BloomIndex.deleteColumn(fs, bloomDir, physCol)
    }
  }

  /** Data skipping for equality/IN predicates: files that might contain
    * ANY of `values` in `column` — min/max overlap first, then the
    * per-file bloom when the column is indexed. Files without stats or
    * sidecars are conservatively kept, and a probe value with no safe
    * canonical form disables the bloom pass for the whole query (a
    * wrongly-skipped file would drop rows; a kept one only costs time). */
  def filesMightContain(column: String, values: Seq[Any]): Seq[TableFile] =
    filesMightContainOf(requireManifest, column, values)

  /** [[filesMightContain]] against a caller-held snapshot (see
    * [[filesInRangeOf]]). */
  private[graft] def filesMightContainOf(m: Manifest,
      column: String, values: Seq[Any]): Seq[TableFile] =
    filesMightContainAmong(m, column, values, m.files)

  /** [[filesMightContainOf]] restricted to a caller-chosen candidate set
    * (e.g. a partition-pruned merge scope) — sidecars of files outside it
    * are never probed. */
  private[graft] def filesMightContainAmong(m: Manifest, column: String,
      values: Seq[Any], candidates: Seq[TableFile]): Seq[TableFile] = {
    require(values.nonEmpty, "filesMightContain needs at least one value")
    val dt = m.schema.fields.find(_.name == column).map(_.dataType)
    val bounds = values.map(v => statsBound(dt, v).map(ColStats.Bound(_)))
    val statKey = m.physicalName(column) // stats + blooms key by physical
    val ranged = candidates.filter(f => bounds.exists(b =>
      f.stats.get(statKey).forall(_.overlapsBounds(b, b))))
    (bloomIndexes.get(statKey), dt) match {
      case (Some(_), Some(d)) =>
        val probes = values.flatMap(v => BloomIndex.probe(d, v))
        if (probes.size != values.size) ranged // untranslatable probe
        else if (ranged.size > distributedProbeThreshold) {
          // large candidate set: fan the sidecar reads out to executors
          // instead of one driver RPC per file
          val keep = BloomIndex.probeDistributed(spark,
            fs.makeQualified(bloomDir).toString, ranged.map(_.path),
            statKey, probes)
          ranged.filter(f => keep.contains(f.path))
        } else ranged.filter(f =>
          BloomIndex.load(fs, bloomDir, f.path, statKey) match {
            case None        => true
            case Some(bloom) => probes.exists(BloomIndex.mightContain(bloom, _))
          })
      case _ => ranged
    }
  }

  /** Candidate-file count above which the bloom probe distributes. */
  private def distributedProbeThreshold: Int =
    spark.conf.get("spark.graft.bloom.distributedProbeThreshold", "256").toInt

  // ---------------------------------------------------- NDV sketches

  private val ndvDir = new Path(metaDir, "_ndv")
  private val ndvPointerFile = new Path(ndvDir, "_current")

  private def ndvCurrentDir: Option[Path] =
    if (!fs.exists(ndvPointerFile)) None
    else {
      val in = fs.open(ndvPointerFile)
      val name =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
        finally in.close()
      Some(new Path(ndvDir, name)).filter(fs.exists)
    }

  /** Stored sketch rows `(file, col, sketch)` — col is the PHYSICAL
    * name (stats/bloom convention); a null sketch marks an analyzed
    * empty file. */
  private def ndvLoad(): Option[DataFrame] =
    ndvCurrentDir.map(p => spark.read.parquet(p.toString))

  /** Build (or top up) per-file HLL distinct-count sketches for
    * `columns` (default: every sketchable column). INCREMENTAL by
    * construction: a file is scanned only if it lacks a sketch for some
    * requested column — after an append, re-analyzing touches the new
    * files alone, and sketches of untouched files are carried verbatim.
    * That is the 100 TB contract: NDV maintenance costs O(new data),
    * and a table-level estimate ([[ndvEstimates]]) is a union over
    * file-count-many small sketches, never a rescan.
    *
    * Estimates count the rows as WRITTEN: rows masked by deletion
    * vectors still contribute until their files are rewritten
    * (purge/compaction), so estimates on DV-carrying tables are upper
    * bounds — same staleness contract as every stats-based optimizer
    * input. Returns the number of files scanned. */
  def analyzeNdv(columns: Seq[String] = Nil): Int = withWriteLock {
    val m = requireManifest
    val targets =
      if (columns.isEmpty)
        m.schema.fields.toSeq.filter(f => NdvStats.supported(f.dataType))
      else columns.map { c =>
        val f = m.schema.fields.find(_.name == c).getOrElse(
          throw new MetadataException(
            s"analyzeNdv on $rootPath: no column '$c'"))
        if (!NdvStats.supported(f.dataType)) throw new MetadataException(
          s"analyzeNdv on $rootPath.$c: type ${f.dataType.simpleString} " +
            "is not sketchable")
        f
      }
    if (targets.isEmpty) return 0
    import spark.implicits._
    val phys = targets.map(f => m.physicalName(f.name))
    val physType = targets.map(f => m.physicalName(f.name) -> f.dataType).toMap
    val old = ndvLoad()
    val done: Set[(String, String)] = old match {
      case None => Set.empty
      case Some(df) => df.select("file", "col").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    // skip known-empty files; a file missing ANY requested column is
    // rescanned for ALL of them (one pass, one sketch generation)
    val todo = m.files.filter(f => !f.rows.contains(0L) &&
      phys.exists(p => !done((f.path, p))))
    val newRows: DataFrame =
      if (todo.isEmpty) spark.emptyDataset[(String, String, Array[Byte])]
        .toDF("file", "col", "sketch")
      else {
        val uriC = "__g_ndv_uri"
        val scanSchema = org.apache.spark.sql.types.StructType(
          m.physicalSchema.fields.filter(f => phys.contains(f.name)))
        val base = manifestScan(scanSchema, todo)
          .withColumn(uriC, col("_metadata.file_path"))
        val lk = broadcast(fileUriLookup(todo).toSeq.toDF(s"${uriC}2", "file"))
        val aggd = base.join(lk, col(uriC) === col(s"${uriC}2"))
          .groupBy(col("file"))
          .agg(NdvStats.sketchAgg(col(s"`${phys.head}`"),
              physType(phys.head)).as(phys.head),
            phys.tail.map(p =>
              NdvStats.sketchAgg(col(s"`$p`"), physType(p)).as(p)): _*)
        val long = aggd.select(col("file"), explode(array(phys.map(p =>
            struct(lit(p).as("col"), col(s"`$p`").as("sketch"))): _*)).as("kv"))
          .select(col("file"), col("kv.col").as("col"),
            col("kv.sketch").as("sketch"))
        // files whose scan produced no group (0 rows, count unrecorded):
        // a null-sketch placeholder marks them analyzed. When every
        // scanned file has a recorded positive row count (the normal
        // case — commits record footer counts), each is guaranteed a
        // group, so the extra distinct-collect job is skipped.
        if (todo.forall(_.rows.exists(_ > 0L))) long
        else {
          val seen = long.select("file").distinct().as[String].collect().toSet
          val empties = todo.map(_.path).filterNot(seen)
            .flatMap(f => phys.map(p => (f, p)))
          if (empties.isEmpty) long
          else long.unionByName(empties.toDF("file", "col")
            .withColumn("sketch", lit(null).cast("binary")))
        }
      }
    // survivors: rows for files still live, minus rows this run
    // recomputed — all distributed (the store is file-count-sized;
    // collecting it would cap the table at driver memory)
    val keepOld: DataFrame = old match {
      case None => spark.emptyDataset[(String, String, Array[Byte])]
        .toDF("file", "col", "sketch")
      case Some(df) =>
        val live = broadcast(m.files.map(_.path).toDF("file"))
        val recomputed = broadcast(todo.map(_.path)
          .flatMap(f => phys.map(p => (f, p))).toDF("file", "col"))
        df.join(live, "file")
          .join(recomputed, Seq("file", "col"), "left_anti")
          .select("file", "col", "sketch")
    }
    val prev = ndvCurrentDir.map(_.getName)
    val gen = s"s-${UUID.randomUUID()}"
    keepOld.unionByName(newRows)
      .coalesce(1).write.options(commitWriteOpts)
      .parquet(new Path(ndvDir, gen).toString)
    writeFileAtomic(ndvPointerFile, gen)
    // prune superseded generations, keeping the immediately previous one
    // as a grace window for in-flight lock-free readers
    if (fs.exists(ndvDir)) fs.listStatus(ndvDir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("s-") && n != gen && !prev.contains(n))
        fs.delete(st.getPath, true)
    }
    todo.size
  }

  /** Table-level approximate distinct counts from the per-file sketches:
    * one union per column over file-count-many sketches — metadata-sized
    * work, no data scan. A column appears in the result only when every
    * live non-empty file carries a sketch for it (run [[analyzeNdv]]
    * after writes to top up); partition columns answer EXACTLY from
    * manifest partition values. */
  def ndvEstimates(columns: Seq[String] = Nil): Map[String, Long] = {
    val m = requireManifest
    val names =
      if (columns.isEmpty) m.schema.fields.toSeq
        .filter(f => NdvStats.supported(f.dataType)).map(_.name)
      else columns.map { c =>
        if (!m.schema.fieldNames.contains(c)) throw new MetadataException(
          s"ndvEstimates on $rootPath: no column '$c'")
        c
      }
    val (partCols, dataCols) = names.partition(m.partitionColumns.contains)
    val partNdv = partCols.map(c => c ->
      // NULL partitions are stored as the sentinel, and count(DISTINCT c)
      // ignores NULL — exclude it or a null partition overcounts by one
      m.files.flatMap(_.partitionValues.get(c)).filter(v =>
          v != null && v != ManagedTable.NullPartitionValue)
        .distinct.size.toLong).toMap
    if (dataCols.isEmpty) return partNdv
    val physOf = dataCols.map(c => m.physicalName(c) -> c).toMap
    val required = m.files.count(f => !f.rows.contains(0L))
    val dataNdv = ndvLoad() match {
      case None => Map.empty[String, Long]
      case Some(df) =>
        import spark.implicits._
        val live = broadcast(
          m.files.filterNot(_.rows.contains(0L)).map(_.path).toDF("file"))
        df.join(live, "file")
          .filter(col("col").isin(physOf.keys.toSeq: _*))
          .groupBy("col")
          .agg(count(lit(1)).as("n"),
            hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
          .collect().flatMap { r =>
            if (r.getLong(1) != required) None // not full coverage
            else Some(physOf(r.getString(0)) ->
              (if (r.isNullAt(2)) 0L else r.getLong(2)))
          }.toMap
    }
    partNdv ++ dataNdv
  }

  /** [[ndvEstimates]] for one column; None until analyzed to coverage. */
  def approxCountDistinct(column: String): Option[Long] =
    ndvEstimates(Seq(column)).get(column)

  /** Opt-in (`graft.ndv.auto` property / `spark.graft.ndv.auto` conf):
    * after an append, top the sketch store up for the new files — the
    * COLUMNS come from the store itself (whatever set the last explicit
    * ANALYZE chose), so estimates stay continuously available through a
    * steady append stream without anyone remembering to re-analyze.
    * No-op without an existing store (the first ANALYZE is an explicit
    * choice); advisory, so a failure never fails the write. */
  private def maybeAutoAnalyzeNdv(): Unit =
    if (propOrConf("spark.graft.ndv.auto", "false").toBoolean &&
        fs.exists(ndvPointerFile))
      try {
        val m = requireManifest
        val stored = ndvLoad().map(_.select("col").distinct()
          .collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
        val cols = m.schema.fields.toSeq
          .filter(f => stored.contains(m.physicalName(f.name))).map(_.name)
        if (cols.nonEmpty) analyzeNdv(cols)
      } catch { case scala.util.control.NonFatal(_) => () }

  /** Publish optimizer statistics into the session catalog for a
    * catalog-registered table (no-op otherwise): table size + row count
    * from the manifest, per-column min/max/null-count from the
    * manifest's file stats ([[statsAggregateRaw]]), distinct counts
    * from the NDV sketches ([[ndvEstimates]], the columns analyzed to
    * coverage). With `spark.sql.cbo.enabled` Spark's cost-based join
    * reordering and build-side selection then plan against REAL numbers
    * — the piece of the 100 TB story the manifest alone can't feed,
    * because Catalyst only consumes catalog statistics.
    *
    * Everything here is metadata-sized arithmetic: no scan, no jobs
    * beyond the sketch-union job. */
  def publishCatalogStats(session: SparkSession): Unit =
    catalogName.foreach { name =>
      import org.apache.spark.sql.catalyst.TableIdentifier
      import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
      import org.apache.spark.sql.types._
      val m = requireManifest
      val sizeBytes = m.files.flatMap(_.bytes).sum.max(1L)
      val rows = fastCount
      val ndv = ndvEstimates()
      val raw = statsAggregateRaw(m.schema.fieldNames.toSeq)
      // external literal renderings Spark's CatalogColumnStat parses
      // back (fromExternalString): plain numerics, ISO dates; timestamps
      // and strings are skipped — their external formats are
      // version-sensitive and NDV/nullCount carry the planning value
      def ext(v: Any): Option[String] = v match {
        case null                     => None
        case d: java.time.LocalDate   => Some(d.toString)
        case _: java.time.Instant     => None
        case _: java.time.LocalDateTime => None
        case other                    => Some(other.toString)
      }
      val perCol = raw.map(_._2.map(c => c.field.name -> c).toMap)
        .getOrElse(Map.empty)
      val colStats = m.schema.fields.flatMap { f =>
        val agg = perCol.get(f.name)
        val nullCnt = for (t <- rows; nn <- agg.flatMap(_.nonNulls))
          yield BigInt(t - nn)
        val (lo, hi) = agg.filter(_.extremaExact).flatMap(_.extrema) match {
          case Some((a, b)) => (ext(a), ext(b))
          case None         => (None, None)
        }
        val stat = CatalogColumnStat(
          distinctCount = ndv.get(f.name).map(BigInt(_)),
          min = lo, max = hi, nullCount = nullCnt)
        if (stat == CatalogColumnStat()) None else Some(f.name -> stat)
      }.toMap
      val parts = name.split('.')
      val ident =
        if (parts.length == 2) TableIdentifier(parts(1), Some(parts(0)))
        else TableIdentifier(name)
      session.sessionState.catalog.alterTableStats(ident,
        Some(CatalogStatistics(BigInt(sizeBytes), rows.map(BigInt(_)),
          colStats)))
    }

  /** Stats are recorded for the file schema's FIRST N top-level columns
    * (Delta's dataSkippingNumIndexedCols): per-file min/max on a
    * 1000-column table is manifest bloat that taxes every driver-side
    * prune. Put skip-worthy columns first, or raise the cap. */
  private def maxIndexedCols: Int =
    propOrConf("spark.graft.stats.maxIndexedColumns", "32").toInt

  /** Point/IN lookup through stats + bloom file skipping; result equals
    * `read().filter(col isin values)` exactly — the predicate is
    * re-applied to surviving rows, so bloom false positives cost only
    * the extra file read. */
  def readEquals(column: String, values: Seq[Any]): DataFrame = {
    val m = requireManifest
    readFiles(m, filesMightContain(column, values))
      .filter(col(s"`$column`").isin(values: _*))
  }

  private def requireManifest: Manifest =
    manifest.getOrElse(throw new MetadataException(s"Table $rootPath does not exist"))

  private def readSnapshot(m: Manifest): DataFrame = readFiles(m, m.files)

  /** THE read choke point: every batch/streaming/maintenance read of
    * manifest files funnels through here, so deletion-vector masking
    * applies uniformly. Files without a DV scan exactly as before (zero
    * overhead — the common case); files WITH one scan through a
    * position anti-join ([[readDvFiltered]]) and union back in. */
  private def readFiles(m: Manifest, files: Seq[TableFile]): DataFrame =
    readFilesWithTag(m, files, None)

  /** [[readFiles]] plus a per-row `tagCol` carrying the absolute
    * `_metadata.file_path` of the row's file. Touch-detection reads use
    * this instead of a plan-level `input_file_name()`, which cannot
    * resolve once the plan contains a second file source (the DV
    * anti-join's sidecar scan) — the metadata column binds to each scan
    * RELATION, so it survives joins and unions. */
  private[graft] def readManifestFilesTagged(m: Manifest,
      files: Seq[TableFile], tagCol: String): DataFrame =
    readFilesWithTag(m, files, Some(tagCol))

  /** [[readManifestFilesTagged]] plus a `posCol` carrying each row's
    * physical `_metadata.row_index` — what a DV-mode MERGE masks by. */
  private[tables] def readManifestFilesTaggedPos(m: Manifest,
      files: Seq[TableFile], tagCol: String, posCol: String): DataFrame =
    readFilesWithTag(m, files, Some(tagCol), Some(posCol))

  /** Tagged variant of [[readPartitions]] (see [[readManifestFilesTagged]]). */
  private[graft] def readPartitionsTagged(
      keep: Map[String, String] => Boolean, tagCol: String): DataFrame = {
    val m = requireManifest
    readFilesWithTag(m, m.files.filter(f => keep(f.partitionValues)), Some(tagCol))
  }

  /** Tagged variant of [[read]] (see [[readManifestFilesTagged]]). */
  private[graft] def readTagged(tagCol: String): DataFrame = {
    val m = requireManifest
    readFilesWithTag(m, m.files, Some(tagCol))
  }

  /** Manifest-backed parquet frame over `files` — the relation is built
    * from the manifest's (path, size) entries with ZERO filesystem round
    * trips at plan time (see [[org.apache.spark.sql.GraftManifestScan]]);
    * entries adopted before sizes were recorded fall back to one
    * getFileStatus each. */
  private def manifestScan(schema: org.apache.spark.sql.types.StructType,
      files: Seq[TableFile]): DataFrame =
    org.apache.spark.sql.GraftManifestScan.parquet(spark, schema,
      fs.makeQualified(root),
      files.map { f =>
        val p = fs.makeQualified(new Path(root, f.path))
        p -> f.bytes.getOrElse(fs.getFileStatus(p).getLen)
      })

  private def readFilesWithTag(m: Manifest, files: Seq[TableFile],
      tagReq: Option[String], posReq: Option[String] = None,
      rowId: Option[String] = None,
      rowCv: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // row-ID/commit-version resolution needs each row's file path (and,
    // for IDs, physical index) — piggyback on the tag/pos machinery with
    // internal names when the caller didn't ask for them
    val meta = rowId.orElse(rowCv)
    // columns added WITH DEFAULT: files predating the addition read the
    // EXISTS_DEFAULT — resolved per file via the same path lookup
    val defs = existingDefaults(m)
    val tag = tagReq.orElse(
      if (meta.isDefined || defs.nonEmpty) Some("__g_rt_path") else None)
    val pos = posReq.orElse(rowId.map(_ => "__g_rt_pos"))
    // rewritten files materialize preserved row IDs / commit versions in
    // physical columns outside the logical schema; absent columns read
    // as null and fall back to the manifest entry (baseRowId + row_index
    // / dataVersion)
    val matCols: Seq[String] =
      rowId.map(_ => ManagedTable.MatRowIdCol).toSeq ++
        rowCv.map(_ => ManagedTable.MatRowCvCol).toSeq
    val scanSchema =
      if (matCols.isEmpty) m.physicalSchema
      else StructType(m.physicalSchema.fields ++
        matCols.map(StructField(_, LongType)))
    val (dvd, clean) = files.partition(_.dv.isDefined)
    def withTag(df: DataFrame): DataFrame = {
      val t = tag.fold(df)(t => df.withColumn(t, col("_metadata.file_path")))
      pos.fold(t)(p => t.withColumn(p, col("_metadata.row_index")))
    }
    // a convert-adopted table's imported files carry partition values
    // only in their hive directory names (engine-written files, always
    // under data/, store every column in the data and read plainly).
    // Files BORROWED by a shallow clone of a converted table (absolute
    // URIs under the source's root) are adopted files too: their
    // partition values come from the manifest the same way, so no
    // directory layout or common root is needed.
    val hiveDirs = m.properties
      .get(ManagedTable.ConvertPartitionDirsProp).contains("true")
    val (adopted, plain) =
      if (hiveDirs) clean.partition(f => !f.path.startsWith("data/"))
      else (Nil, clean)
    val cleanParts = Seq(
      if (plain.isEmpty) None
      // manifest-backed scan: the manifest already records every path AND
      // size, so the relation is built directly from it — the
      // DataFrameReader path would re-stat each file on the driver (and
      // past 32 paths launch a distributed listing job PER READ: 90-220ms
      // per pruned index probe at sf0.1; a full listing pass at a 1M-file
      // table).
      else Some(withTag(manifestScan(scanSchema, plain))),
      if (adopted.isEmpty) None
      else Some(withTag {
        // the manifest records each adopted file's partition value
        // strings, so the relation is built with them directly (same
        // cast semantics as partition discovery, the hive null sentinel
        // reads as null, zero listing/stat round trips)
        val partPhys = m.partitionColumns.map(m.physicalName)
        val (partFields, dataFields) =
          scanSchema.fields.partition(f => partPhys.contains(f.name))
        val partSchema = org.apache.spark.sql.types.StructType(partFields)
        val entries = adopted.map { f =>
          val p = fs.makeQualified(new Path(root, f.path))
          (p, f.bytes.getOrElse(fs.getFileStatus(p).getLen),
            partFields.toSeq.map { fld =>
              val logical = m.partitionColumns
                .find(c => m.physicalName(c) == fld.name).getOrElse(fld.name)
              f.partitionValues.getOrElse(logical, null)
            })
        }
        org.apache.spark.sql.GraftManifestScan.parquetPartitioned(
            spark, org.apache.spark.sql.types.StructType(dataFields),
            partSchema, fs.makeQualified(root), entries)
          // partition columns surface appended — normalize to the
          // manifest schema order before tagging
          .select(scanSchema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
      })
    ).flatten
    val cleanDf =
      if (cleanParts.isEmpty && dvd.isEmpty) {
        import org.apache.spark.sql.types.StringType
        val schema = StructType(scanSchema.fields ++
          tag.map(StructField(_, StringType)) ++ pos.map(StructField(_, LongType)))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      } else if (cleanParts.isEmpty) null
      else cleanParts.reduce(_ union _)
    val out =
      if (dvd.isEmpty) cleanDf
      else {
        val masked = readDvFiltered(m, dvd, tag, pos, extraMat = matCols)
        if (cleanDf == null) masked else cleanDf.union(masked)
      }
    // files store PHYSICAL names; surface the LOGICAL ones (no-op select
    // when column mapping is inactive — names coincide)
    val projected =
      if (m.columnMapping.isEmpty) out
      else out.select(m.schema.fields.toSeq.map(f =>
        col(s"`${m.physicalName(f.name)}`").as(f.name)) ++
        matCols.map(c => col(s"`$c`")) ++
        tag.map(t => col(s"`$t`")) ++ pos.map(p => col(s"`$p`")): _*)
    if (meta.isEmpty && defs.isEmpty) projected
    else {
      // resolve each row's stable ID / commit version / existing-default
      // substitution: materialized columns when the file carries them
      // (rewrites), else the manifest entry (baseRowId + physical row
      // index / dataVersion) — via a broadcast (uri → entry) lookup over
      // every URI rendering the file source might emit (same alias set
      // as fileUriLookup)
      import org.apache.spark.sql.types.StringType
      val uriC = "__g_rt_uri"; val baseC = "__g_rt_base"; val dvC = "__g_rt_dv"
      val lookupRows = files.flatMap { f =>
        val p = fs.makeQualified(new Path(root, f.path))
        Set(p.toString, p.toUri.toString, p.toUri.getPath, p.toUri.toASCIIString)
          .toSeq.map(u => org.apache.spark.sql.Row(
            u, f.baseRowId.map(Long.box).orNull,
            f.dataVersion.map(Long.box).orNull))
      }
      val lookup = spark.createDataFrame(
        spark.sparkContext.parallelize(lookupRows, 1),
        StructType(Seq(StructField(uriC, StringType),
          StructField(baseC, LongType), StructField(dvC, LongType))))
      val joined = projected.join(broadcast(lookup),
        projected(tag.get) === lookup(uriC), "left")
      // existing defaults first: a file from before the column's ADD
      // (dataVersion below the threshold, or unstamped = pre-feature =
      // necessarily pre-add) physically lacks the column — substitute
      // the constant the ALTER promised those rows
      val withDefs = defs.foldLeft(joined) { case (d, (n, since, sql, dt)) =>
        d.withColumn(n,
          when(col(dvC).isNull || col(dvC) < since, expr(sql).cast(dt))
            .otherwise(col(s"`$n`")))
      }
      val withId = rowId.fold(withDefs)(outCol =>
        withDefs.withColumn(outCol,
          coalesce(col(s"`${ManagedTable.MatRowIdCol}`"),
            col(baseC) + col(s"`${pos.get}`"))))
      val withCv = rowCv.fold(withId)(outCol =>
        withId.withColumn(outCol,
          coalesce(col(s"`${ManagedTable.MatRowCvCol}`"), col(dvC))))
      // maintenance reads name the OUTPUT columns MatRowIdCol/MatRowCvCol
      // themselves (so the rewrite materializes them) — don't drop what
      // was just computed
      val dropMats = matCols.filterNot(c =>
        rowId.contains(c) || rowCv.contains(c))
      withCv.drop(dropMats ++ Seq(uriC, baseC, dvC) ++
        (if (tagReq.isEmpty) tag.toSeq else Nil) ++
        (if (posReq.isEmpty) pos.toSeq else Nil): _*)
    }
  }

  /** Scan `files` (all carrying a DV) with their masked positions
    * filtered out: parquet scan + the file source's `_metadata.file_name`
    * / `_metadata.row_index` columns, anti-joined against the referenced
    * DV sidecars on (basename, position). The DV side broadcasts while
    * its recorded cardinality stays under
    * [[ManagedTable.DvBroadcastMaxPositions]] (a broadcast hash anti-join
    * keeps the scan shuffle-free) and Spark's
    * `spark.sql.autoBroadcastJoinThreshold` is not `-1`; otherwise the
    * join is a shuffled anti-join, and past the bound maintenance should
    * have purged long before ([[purgeDeletionVectors]]). */
  private def readDvFiltered(m: Manifest, files: Seq[TableFile],
      tag: Option[String], pos: Option[String] = None,
      extraMat: Seq[String] = Nil): DataFrame = {
    val scanSchema =
      if (extraMat.isEmpty) m.physicalSchema
      else org.apache.spark.sql.types.StructType(m.physicalSchema.fields ++
        extraMat.map(org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.LongType)))
    val scan0 = manifestScan(scanSchema, files)
      .withColumn(DvFileCol, col("_metadata.file_name"))
      .withColumn(DvPosCol, col("_metadata.row_index"))
    val scan = tag.fold(scan0)(t =>
      scan0.withColumn(t, col("_metadata.file_path")))
    val dead = BroadcastHint(readDvSidecars(files.flatMap(_.dv).distinct),
      files.flatMap(_.dvRows).sum <= ManagedTable.DvBroadcastMaxPositions)
    // output stays PHYSICAL — [[readFilesWithTag]] does the final
    // physical→logical projection uniformly for clean and masked files
    val outCols = scanSchema.fieldNames.toSeq.map(n => col(s"`$n`")) ++
      tag.map(col).toSeq ++ pos.map(p => col(DvPosCol).as(p)).toSeq
    scan.join(dead,
        scan(DvFileCol) === dead("file") && scan(DvPosCol) === dead("pos"),
        "left_anti")
      .select(outCols: _*)
  }

  private def dvSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("file", StringType),  // data-file BASENAME (unique per manifest, guarded at DV creation)
      StructField("pos", LongType)))    // physical row index within that file
  }

  /** Read DV sidecars as one (file, pos) frame. Names are either bare
    * (under this table's `_graft/_dv/`) or absolute URIs (shallow-clone
    * references into the source table). */
  private def readDvSidecars(names: Seq[String]): DataFrame =
    spark.read.schema(dvSchema)
      .parquet(names.map(n => new Path(dvDir, n).toString): _*)

  private[tables] def dvEnabled: Boolean =
    propOrConf("spark.graft.dv.enabled", "false").toBoolean
  private[tables] def dvMaxDeletedFraction: Double =
    propOrConf("spark.graft.dv.maxDeletedFraction", "0.5").toDouble

  // ---------------------------------------------------------------- writes

  /** All mutations serialize on a per-path JVM lock: the commit protocol
    * (read current version -> write manifest v+1 -> swap pointer) is not
    * safe under concurrent writers, and this engine's concurrency model is
    * many entities on ONE driver (Runner.parallelism) — a process-wide
    * mutex per table (incl. the shared watermark table) is exactly the
    * coordination needed. Cross-driver deployments remain single-writer
    * by contract, as in the reference — but a contract violation is now
    * DETECTED, not silent: the commit-record create is put-if-absent
    * (see [[ConcurrentWriteException]]), so an interleaved external
    * commit fails one writer's transaction instead of orphaning the
    * other's files. */
  private[graft] def withWriteLock[A](f: => A): A =
    ManagedTable.lockFor(fs.makeQualified(root).toString).synchronized {
      healOrphanRecord()
      f
    }

  /** Crash-recovery roll-forward: a writer that died between publishing
    * its commit record and swapping the version pointer leaves a COMPLETE
    * record one above the head (records are all-or-nothing —
    * [[writeFileNoOverwrite]]), and without repair every later commit of
    * that version collides with the orphan forever — a liveness failure,
    * not just a conflict. Since the record's data files were fully
    * written and recorded BEFORE it was published, finishing the pointer
    * swap on the crashed writer's behalf commits its transaction exactly
    * as if it had survived (Delta has no such window — its log file IS
    * the commit; this closes ours). Racing against a LIVE cross-process
    * writer is benign: its own swap writes the same value. A record that
    * fails to parse is never published; if it is not even valid JSON and
    * old enough to be a crashed conditional-put writer, it is dropped
    * ([[maybeDropTornRecord]]) — anything else requires manual removal,
    * as before. */
  private def healOrphanRecord(): Unit =
    currentVersion.foreach { v =>
      var head = v
      var continue = true
      while (continue) {
        val next = head + 1
        if (!fs.exists(new Path(manifestsDir, f"v$next%020d.json")))
          continue = false
        else {
          try {
            val rec = Manifest.recordFromJsonString(readRecordString(next))
            val (rv, rs) = rec.fold(
              m => (m.version, m.schemaJson),
              i => (i.version, i.schemaJson))
            // the lenient JSON parse default-fills missing fields, so a
            // torn or foreign write like "{}" "parses" — roll forward
            // only records that are SELF-CONSISTENT (their own version
            // stamp matches the slot, their schema deserializes);
            // anything else stays unpublished for manual removal, and
            // committers against this slot surface the conflict
            if (rv != next) continue = false
            else {
              org.apache.spark.sql.types.DataType.fromJson(rs)
              writeFileAtomic(pointerFile, next.toString)
              head = next
            }
          } catch {
            case scala.util.control.NonFatal(e) =>
              maybeDropTornRecord(next, e)
              continue = false
          }
        }
      }
    }

  /** Liveness repair for the conditional-put arbiter's crash window: a
    * writer SIGKILLed between creating its record object and writing the
    * content leaves a ZERO-LENGTH or JSON-truncated file at head+1 that
    * can never roll forward — and, left in place, makes every future
    * commit of that slot lose arbitration forever. A record that is not
    * even valid JSON cannot be a commit from any (past or future) writer,
    * so once it is old enough that no in-flight PUT can still be writing
    * it (`spark.graft.commit.tornRecordGraceMs`, default 60 s — the
    * create→close window is milliseconds; the grace absorbs GC pauses),
    * it is dropped and the slot freed. Records that parse as JSON but
    * fail self-consistency (foreign tooling, future formats) are NEVER
    * auto-deleted — those keep requiring manual removal, as before. On a
    * real object store PUT is atomic and this path never fires. */
  private def maybeDropTornRecord(version: Long, cause: Throwable): Unit =
    try {
      val p = new Path(manifestsDir, f"v$version%020d.json")
      val st = fs.getFileStatus(p)
      val torn = isTornRecord(cause, st.getLen)
      val grace = spark.conf.get(
        "spark.graft.commit.tornRecordGraceMs", "60000").toLong
      if (torn && System.currentTimeMillis() - st.getModificationTime > grace) {
        // re-stat immediately before the delete: a record observed
        // zero-length above may belong to an in-flight writer whose close
        // landed since — deleting it then would steal a slot the writer's
        // read-back verification already confirmed (silent lost update).
        // Skipping any record that has grown narrows that TOCTOU to the
        // stat→delete instruction window; only a real conditional PUT or
        // a nonzero grace closes it fully (see ConditionalPutCommitArbiter).
        val st2 = fs.getFileStatus(p)
        val stillTorn = st2.getLen == st.getLen &&
          st2.getModificationTime == st.getModificationTime
        if (stillTorn) {
          org.slf4j.LoggerFactory.getLogger(classOf[ManagedTable]).warn(
            s"dropping torn commit record $p (${st.getLen} bytes, " +
              "not parseable as JSON): crashed conditional-put writer; " +
              "freeing the slot for future commits")
          fs.delete(p, false)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Whether a record whose read failed with `cause` is torn: not valid
    * JSON, or zero-length. Such a record cannot be a commit from any
    * writer (see [[maybeDropTornRecord]]); one that parses but fails the
    * format guard is not torn. */
  private def isTornRecord(cause: Throwable, len: => Long): Boolean =
    cause.isInstanceOf[com.fasterxml.jackson.core.JacksonException] || len == 0

  /** Adopt an existing parquet directory as a managed table IN PLACE
    * (Delta's `CONVERT TO DELTA`): enumerate the data files, read their
    * footer statistics (distributed above
    * [[FileStatistics.DistributedThreshold]] files), parse hive
    * `col=value` partition directories, and commit manifest version 0
    * pointing at the files exactly where they sit — **zero data
    * rewritten**, which at 100 TB is the only viable migration. After
    * conversion every engine feature applies (time travel starts at the
    * adoption snapshot, MERGE/DML rewrite file-granularly, OPTIMIZE
    * gradually re-lays files into the engine layout); deletion vectors
    * stay off while imported hive-layout files remain (their partition
    * values live only in directory names — see
    * [[ManagedTable.ConvertPartitionDirsProp]]).
    *
    * Returns the number of adopted files. Fails if the table already
    * exists or the directory holds no parquet files. */
  def convertInPlace(): Int = withWriteLock {
    if (exists) throw new IllegalStateException(
      s"convertInPlace: $rootPath is already a managed table")
    // standard lake layout: skip hidden/metadata trees (_SUCCESS,
    // _metadata, .crc); hive partition segments (k=v) are data
    def hidden(relPath: String): Boolean = relPath.split('/').exists(seg =>
      (seg.startsWith("_") || seg.startsWith(".")) && !seg.contains("="))
    val listed = listParquet(root).filter { case (p, _) => !hidden(rel(p)) }
    if (listed.isEmpty) throw new IllegalStateException(
      s"convertInPlace: no parquet files under $rootPath")
    // partition segments are DIRECTORY names only — a data file whose own
    // name happens to contain '=' must not be parsed as one
    def partsOf(relPath: String): Seq[(String, String)] =
      relPath.split('/').dropRight(1).iterator.filter(_.contains("=")).map {
        seg =>
          val Array(k, v) = seg.split("=", 2)
          k -> hiveUnescape(v)
      }.toSeq
    val partitionCols = partsOf(rel(listed.head._1)).map(_._1)
    listed.foreach { case (p, _) =>
      val keys = partsOf(rel(p)).map(_._1)
      if (keys != partitionCols) throw new IllegalStateException(
        s"convertInPlace: inconsistent partition layout under $rootPath — " +
          s"${rel(p)} has [${keys.mkString(",")}], expected " +
          s"[${partitionCols.mkString(",")}]")
    }
    // schema via Spark's own discovery (typed partition columns included,
    // appended after the data columns)
    val inferred = spark.read.option("basePath", root.toString)
      .parquet(root.toString).schema
    val stats = FileStatistics.forPaths(spark,
      spark.sparkContext.hadoopConfiguration, listed.map(_._1), maxIndexedCols)
    val files = listed.map { case (p, len) =>
      val fm = stats.getOrElse(p.toString,
        FileStatistics.FileMeta(Map.empty, -1L))
      TableFile(rel(p), partsOf(rel(p)).toMap, fm.cols,
        if (fm.rows >= 0) Some(fm.rows) else None, Some(len),
        nullCounts = fm.nulls)
    }
    // the converted marker is ALWAYS set (it gates vacuum's
    // adopted-orphan sweep — unpartitioned adopted files live outside
    // data/ too and would otherwise leak forever once DML drops them);
    // the partition-dirs property additionally drives manifest-valued
    // partition reads and stays keyed on a hive layout actually existing
    val props = Map(ManagedTable.ConvertedTableProp -> "true") ++
      (if (partitionCols.isEmpty) Map.empty[String, String]
       else Map(ManagedTable.ConvertPartitionDirsProp -> "true"))
    commitDelta(inferred.json, partitionCols, "convert",
      base = None, adds = files, removes = Nil,
      propertiesOverride = Some(props))
    files.size
  }

  /** Replace the whole table. Always a full checkpoint record. `txn`
    * embeds a streaming-writer transaction identity in the record —
    * atomic with the data (see [[Txn]]). `resetRules` is the
    * `REPLACE TABLE` DDL contract: the replacement defines the table's
    * metadata from scratch — prior constraints, generated-column rules,
    * identity rules, and properties do NOT carry over (Delta resets
    * table configuration to what the statement declares). */
  def overwriteAll(df: DataFrame, partitionBy: Seq[String] = Nil,
      operation: String = "overwrite", txn: Option[Txn] = None,
      resetRules: Boolean = false): Unit =
    withWriteLock {
      if (exists) requireNotAppendOnly("overwrite")
      // constraints and generated-column rules survive a full overwrite
      // (they govern the table, not a snapshot) — and the replacement
      // rows must satisfy them
      val cs = if (resetRules) Map.empty[String, String]
               else manifest.map(_.constraints).getOrElse(Map.empty)
      val gs = if (resetRules) Map.empty[String, String]
               else manifest.map(_.generated).getOrElse(Map.empty)
      val ps = if (resetRules) Map.empty[String, String]
               else manifest.map(_.properties).getOrElse(Map.empty)
      val (withIds, propsOv) = manifest match {
        case Some(m) if !resetRules =>
          applyIdentity(df, m, operation, keepExisting = false)
        case _ => (df, None)
      }
      val d0 = applyGenerated(withIds, gs, manifest.map(_.schema), operation)
      // same-named columns keep the prior schema's field metadata
      // (column defaults &c.) across a full overwrite — unless the
      // replacement resets the table's rules
      val d =
        if (resetRules) d0
        else manifest.map(_.schema).fold(d0)(prior =>
          prior.fields.filter(_.metadata !=
              org.apache.spark.sql.types.Metadata.empty)
            .filter(f => d0.columns.contains(f.name))
            .foldLeft(d0)((acc, f) => acc.withColumn(f.name,
              col(s"`${f.name}`").as(f.name, f.metadata))))
      val files = writeCommit(d, partitionBy, None, cs, operation)
      commitDelta(d.schema.json, partitionBy, operation,
        base = None, adds = files, removes = Nil, txn = txn,
        constraintsOverride = Some(cs), generatedOverride = Some(gs),
        propertiesOverride = Some(propsOv.getOrElse(ps)))
    }

  /** Dynamic partition overwrite: replace only the partitions present in
    * `df`, keep every other partition's files (Spark's
    * `partitionOverwriteMode=dynamic` semantics, reference: Full.scala:38-45). */
  def overwriteDynamic(df: DataFrame, partitionBy: Seq[String]): Unit =
    withWriteLock { manifest match {
      case None => overwriteAll(df, partitionBy)
      case Some(m) =>
        requireNotAppendOnly("overwriteDynamic")
        // untouched partitions keep their old files but are read under the
        // NEW manifest schema — a silently-committed retype/drop would make
        // them unreadable or erase a column table-wide, so the same guard
        // as append/replacePartitions applies
        val (withIds, propsOv) =
          applyIdentity(df, m, "overwriteDynamic", keepExisting = false)
        val g = applyGenerated(withIds, m.generated, Some(m.schema),
          "overwriteDynamic")
        val d = reconcileSchema(g, m)
        val cmx = extendMapping(m.columnMapping, d.schema)
        val newFiles =
          writeCommit(d, partitionBy, cmx, m.constraints, "overwriteDynamic")
        val replaced = newFiles.map(_.partitionValues).toSet
        val removed = m.files.filter(f => replaced.contains(f.partitionValues))
        commitDelta(d.schema.json, partitionBy, "overwriteDynamic",
          base = Some(m), adds = newFiles, removes = removed.map(_.path),
          mappingOverride = Some(cmx), propertiesOverride = propsOv)
    } }

  /** Predicate-scoped overwrite (Delta's `replaceWhere`): atomically
    * delete every row matching `condition` and insert `df` — ONE commit,
    * so readers see either the old region or its full replacement, never
    * a gap. The inserted rows must themselves satisfy the predicate
    * (Delta's default constraint — a row outside the replaced region
    * would silently survive the next replace of that region).
    *
    * Scale shape: a condition over partition columns alone removes the
    * matching files METADATA-ONLY (no scan, no rewrite — replacing one
    * day of a 100 TB table is one manifest write plus the new data's
    * write). A general condition touch-detects the files containing
    * matching rows with a narrow predicate-column scan and rewrites only
    * those, keeping their non-matching rows; untouched entries carry
    * over verbatim. */
  def overwriteWhere(df: DataFrame, condition: Column): Unit = withWriteLock {
    if (exists) requireNotAppendOnly("overwriteWhere")
    val pred = coalesce(condition, lit(false))
    manifest match {
      case None =>
        // same membership constraint as the existing-table branch: a row
        // outside the replaced region would be silently inserted now and
        // silently DROPPED by the next replace of that region (Delta's
        // replaceWhere enforces this on first write too)
        if (df.filter(!pred).limit(1).count() > 0)
          throw new ConstraintViolationException(
            s"replaceWhere on $rootPath: inserted rows do not all match " +
              s"'$condition' — they would fall outside the replaced region")
        overwriteAll(df, Nil, "replaceWhere")
      case Some(m) =>
        val (withIds, propsOv) =
          applyIdentity(df, m, "replaceWhere", keepExisting = false)
        val g = applyGenerated(withIds, m.generated, Some(m.schema),
          "replaceWhere")
        val d = reconcileSchema(g, m)
        // region membership of the INSERTED rows (not the survivors, which
        // are exactly the rows outside it) is counted by the write job
        val inRegion = new RowCounts(Seq("outside" -> !pred))
        val outsideRegion = (_: String) => new ConstraintViolationException(
          s"replaceWhere on $rootPath: inserted rows do not all match " +
            s"'$condition' — they would fall outside the replaced region")

        val (removePaths, keptRows): (Seq[String], Option[DataFrame]) =
          partitionOnlyMatches(m, condition) match {
            case Some(victims) => (victims.map(_.path), None)
            case None =>
              // same manifest-side narrowing as DML before the scan
              val cand = statsPrunedFiles(m, condition)
              if (cand.isEmpty) (Nil, None)
              else {
                val touchedUris = readManifestFilesTagged(m, cand, "__g_file")
                  .filter(pred)
                  .select("__g_file").distinct()
                  .collect().map(_.getString(0))
                if (touchedUris.isEmpty) (Nil, None)
                else {
                  // untranslatable scan URI → rewrite everything (correct,
                  // just not file-granular — same policy as dmlRewrite)
                  val lookup = fileUriLookup(m.files)
                  val translated = touchedUris.map(u =>
                    lookup.get(u).orElse(lookup.get(MergeBuilder.decodeUri(u))))
                  val touchedPaths: Seq[String] =
                    if (translated.forall(_.isDefined)) translated.map(_.get).toSeq
                    else m.files.map(_.path)
                  val keep = touchedPaths.toSet
                  val touched = m.files.filter(f => keep.contains(f.path))
                  (touchedPaths,
                    Some(readManifestFiles(m, touched).filter(!pred)))
                }
              }
          }
        // survivors were read under m's logical schema; align to the
        // reconciled insert frame by name before the single write
        val inserted = inRegion.on(d)
        val content = keptRows.fold(inserted)(k => inserted.unionByName(
          k.select(d.columns.map(c => col(s"`$c`")): _*)))
        val cmx = extendMapping(m.columnMapping, d.schema)
        val newFiles = writeCommit(content, m.partitionColumns, cmx,
          m.constraints, "replaceWhere", Seq(inRegion -> outsideRegion))
        // replaceWhere's read set IS the predicate region (inserted rows
        // are constrained to it above), so it rebases under the same
        // predicate-aware rule as DML
        commitReplaceWithRebase(m, d.schema.json, "replaceWhere", newFiles,
          removePaths, None, Some(cmx), propsOv, Some(condition))
        maybeAutoCompact()
    }
  }

  /** [[overwriteWhere]] with the condition as Spark SQL text. */
  def overwriteWhere(df: DataFrame, condition: String): Unit =
    overwriteWhere(df, expr(condition))

  /** Atomic "append, creating the table if absent": the exists-check runs
    * INSIDE the write lock, so two concurrent first-writers serialize into
    * create-then-append instead of racing into two overwrites (a bare
    * `if (exists) append else overwriteAll` at the call site would lose
    * the first writer's rows). `partitionBy` applies only on create. */
  def appendOrCreate(df: DataFrame, partitionBy: Seq[String] = Nil,
      operation: String = "append", txn: Option[Txn] = None): Unit =
    withWriteLock {
      if (exists) append(df, operation, txn)
      else overwriteAll(df, partitionBy, operation, txn)
    }

  /** Append rows; schema must match (missing source columns are an error —
    * reference contract, MergeProcessingSpec.scala:323-368). `operation`
    * tags the commit in [[history]]; `txn` embeds a streaming-writer
    * transaction identity atomically with the data (the sink's
    * exactly-once anchor — see [[Txn]]).
    *
    * A blind append lost a cross-process commit race is RETRIED against
    * the winner's head (Delta's auto-resolving append-conflict rule):
    * it removes nothing and reads nothing, so it logically conflicts
    * with no interleaved commit — the already-written files are re-based
    * in a metadata-only recommit. Conservative guards: if the winner
    * changed the schema, partitioning, or constraints this append was
    * validated against, the original [[ConcurrentWriteException]]
    * surfaces instead (a stale-validation commit must not slip in). All
    * other mutations (overwrite, merge, DML, maintenance) keep failing
    * fast — they read state a concurrent commit may have invalidated. */
  def append(df: DataFrame, operation: String = "append",
      txn: Option[Txn] = None): Unit =
    withWriteLock { manifest match {
      case None => overwriteAll(df, Nil, operation, txn)
      case Some(m) =>
        val (withIds, propsOv) =
          applyIdentity(df, m, operation, keepExisting = false)
        val g = applyGenerated(withIds, m.generated, Some(m.schema), operation)
        val d = reconcileSchema(g, m)
        val cmx = extendMapping(m.columnMapping, d.schema)
        val newFiles =
          writeCommit(d, m.partitionColumns, cmx, m.constraints, operation)
        // a TERMINAL commit failure must not orphan the just-written
        // commit dir (every path of this append shares one
        // data/<commitId>/ root, and no manifest references it until
        // commitDelta succeeds) — without the sweep, a writer that loses
        // a cross-process race beyond the retry budget leaks its files
        // until vacuum
        def dropWritten(): Unit =
          try newFiles.headOption.foreach { f =>
            val segs = f.path.split('/')
            if (segs.length >= 2 && segs(0) == dataDir.getName)
              fs.delete(new Path(root, s"${segs(0)}/${segs(1)}"), true)
          } catch { case scala.util.control.NonFatal(_) => () }
        var base = m
        var attempt = 0
        var committed = false
        while (!committed)
          try {
            // a rebase under an unchanged schemaJson implies an unchanged
            // mapping (every mapping mutation rewrites the schema), so cmx
            // stays valid against the winner's head
            commitDelta(d.schema.json, base.partitionColumns, operation,
              base = Some(base), adds = newFiles, removes = Nil, txn = txn,
              mappingOverride = Some(cmx), propertiesOverride = propsOv)
            committed = true
          } catch {
            case e: ConcurrentWriteException =>
              attempt += 1
              // a txn-guard/anchor-fence conflict is permanent (recorded
              // txns never regress) — a rebase cannot clear it
              if (!e.retryable || attempt > ManagedTable.MaxAppendRetries) {
                dropWritten(); throw e
              }
              val cur = requireManifest // the winner's head (pointer moved)
              if (cur.schemaJson != base.schemaJson ||
                  cur.partitionColumns != base.partitionColumns ||
                  cur.constraints != base.constraints ||
                  cur.generated != base.generated ||
                  cur.properties != base.properties) {
                dropWritten(); throw e
              }
              base = cur // an orphan record keeps colliding → attempts exhaust
          }
        maybeAutoCompact()
        maybeAutoAnalyzeNdv()
    } }

  /** DELETE FROM this table WHERE `condition` (a `Column` over the
    * table's columns). Returns the number of rows deleted.
    *
    * File-granular, like the keyed MERGE: one narrow touch-detect pass
    * finds the files containing matching rows (the predicate and its
    * column set reach the parquet scan, so row-group stats short-circuit
    * non-matching files), then ONLY those files are rewritten without
    * their matching rows — untouched manifest entries carry over
    * verbatim. At 100 TB a selective delete rewrites the handful of
    * files holding matched rows, not the table.
    *
    * SQL three-valued logic: rows where the condition evaluates NULL are
    * KEPT (DELETE removes rows where the predicate is TRUE). */
  def delete(condition: Column): Long = withWriteLock {
    requireNotAppendOnly("DELETE")
    dmlRewrite("delete", condition)((rows, pred) => rows.filter(!pred))
  }

  /** [[delete]] with the condition as Spark SQL text. */
  def delete(condition: String): Long = delete(expr(condition))

  /** UPDATE this table SET `set` WHERE `condition`. `set` maps column
    * name → expression over the table's columns (evaluated on the
    * pre-update row, standard UPDATE semantics); values are cast to the
    * column's declared type so the table schema never drifts. Returns
    * the number of rows updated. Same file-granular rewrite shape as
    * [[delete]]. */
  def update(set: Map[String, Column], condition: Column): Long =
    withWriteLock {
      requireNotAppendOnly("UPDATE")
      val m = requireManifest
      val bad = set.keySet -- m.schema.fieldNames
      if (bad.nonEmpty)
        throw new MetadataException(
          s"UPDATE on $rootPath: unknown column(s) ${bad.mkString(", ")}")
      val gen = set.keySet.intersect(
        m.generated.keySet ++ identityRules(m).keySet)
      if (gen.nonEmpty)
        throw new MetadataException(
          s"UPDATE on $rootPath: column(s) ${gen.mkString(", ")} are " +
            "GENERATED ALWAYS — the engine maintains them; update their " +
            "base columns instead")
      dmlRewrite("update", condition) { (touchedRows, pred) =>
        val cols = m.schema.fields.toSeq.map { f =>
          set.get(f.name) match {
            case Some(e) =>
              when(pred, e.cast(f.dataType))
                .otherwise(col(s"`${f.name}`")).as(f.name)
            case None => col(s"`${f.name}`")
          }
        }
        // materialized row IDs (row tracking) pass through unchanged —
        // an UPDATE preserves row identity; its COMMIT VERSION moves to
        // this update's commit for the rows the predicate touched
        val carry = touchedRows.columns.toSeq.flatMap {
          case c if c == ManagedTable.MatRowIdCol => Seq(col(s"`$c`"))
          case c if c == ManagedTable.MatRowCvCol =>
            Seq(when(pred, lit(m.version + 1))
              .otherwise(col(s"`$c`")).as(c))
          case _ => Nil
        }
        touchedRows.select(cols ++ carry: _*)
      }
    }

  /** [[update]] with the values and the condition as Spark SQL text. */
  def update(set: Map[String, String], condition: String = "true"): Long =
    update(set.map { case (k, v) => k -> expr(v) }, expr(condition))

  /** FSCK (Delta's `FSCK REPAIR TABLE`): drop manifest references to
    * data files that no longer exist on storage (deleted out-of-band —
    * an aggressive external cleaner, a restored-from-backup data tree),
    * so reads stop failing mid-scan on dangling entries. Existence
    * probes fan out as an executor job above the vacuum distributed
    * threshold; the removal is one metadata commit. Returns the removed
    * paths (empty = nothing dangling, no commit). */
  def repairTable(dryRun: Boolean = false): Seq[String] = withWriteLock {
    val m = requireManifest
    val paths = m.files.map(f => new Path(root, f.path).toString)
    val threshold = spark.conf
      .get("spark.graft.vacuum.distributedThreshold", "1024").toInt
    val missing: Seq[String] =
      if (paths.size >= threshold) {
        val ser = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        spark.sparkContext
          .parallelize(paths, math.min(paths.size, 512))
          .mapPartitions { it =>
            val conf = ser.value
            it.filter { p =>
              val hp = new Path(p)
              !hp.getFileSystem(conf).exists(hp)
            }
          }.collect().toSeq
      } else paths.filter(p => !fs.exists(new Path(p)))
    if (missing.isEmpty) return Nil
    val missingSet = missing.toSet
    val removed = m.files
      .filter(f => missingSet.contains(new Path(root, f.path).toString))
      .map(_.path)
    if (!dryRun)
      commitDelta(m.schemaJson, m.partitionColumns, "fsck",
        base = Some(m), adds = Nil, removes = removed)
    removed
  }

  /** TRUNCATE: drop every file from the snapshot in ONE metadata-only
    * commit — no scan, no rewrite, nothing physically deleted (history
    * and time travel keep working; [[vacuum]] reclaims the bytes later).
    * Schema, partitioning, constraints, generated/identity rules, and
    * properties all survive. Returns the number of rows removed when the
    * manifest prices it exactly, else -1 (stats-free legacy files). */
  def truncate(): Long = withWriteLock {
    requireNotAppendOnly("TRUNCATE")
    val m = requireManifest
    val rows =
      if (m.files.forall(_.rows.isDefined)) m.files.flatMap(_.liveRows).sum
      else -1L
    commitDelta(m.schemaJson, m.partitionColumns, "truncate",
      base = Some(m), adds = Nil, removes = m.files.map(_.path))
    rows
  }

  /** `condition` analyzed against `m`'s schema (a filter over an empty
    * frame: analysis only, no job), split into its top-level conjuncts —
    * the shape the DML pruners below inspect. */
  private def analyzedConjuncts(m: Manifest, condition: Column):
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
      .filter(condition).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          split(f.condition)
      }.flatten
  }

  /** Manifest-side candidate pruning for an arbitrary condition —
    * the DML twin of the `format("graft")` scan's pushed-filter pruning:
    * each translatable top-level conjunct prunes through the same
    * machinery (driver-side partition evaluation, per-file min/max
    * stats, Bloom sidecars for point/IN probes, generated-column
    * monotone inference), and a file any conjunct rules out cannot hold
    * a row satisfying the whole condition. Untranslatable conditions
    * prune nothing — this is an optimization, never an arbiter. At
    * 100 TB it is what turns `DELETE WHERE ts < X` on a ts-clustered
    * table into a scan of the handful of overlapping files instead of
    * the table. */
  private[graft] def statsPrunedFiles(
      m: Manifest, condition: Column): Seq[TableFile] =
    try {
      val conj = analyzedConjuncts(m, condition)
      // translate exactly the shapes the pruner exploits (=, IN, ranges
      // on a column vs literal); everything else contributes no pruning.
      // The ANALYZED plan (the optimizer would fold the whole filter away
      // over this empty relation) wraps literals in type-coercion casts —
      // `id < 100` against a BIGINT column arrives as
      // `id < CAST(100 AS BIGINT)` — so the literal side matches any
      // foldable expression, evaluated eagerly.
      import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.{sources => sf}
      object Lit {
        def unapply(e: Expression): Option[Literal] = e match {
          case l: Literal => Some(l)
          case _ if e.foldable =>
            scala.util.Try(Literal.create(e.eval(null), e.dataType)).toOption
          case _ => None
        }
      }
      def ext(l: Literal): Any = convertToScala(l.value, l.dataType)
      def tr(e: Expression): Option[sf.Filter] = e match {
        case EqualTo(a: AttributeReference, Lit(l)) =>
          Some(sf.EqualTo(a.name, ext(l)))
        case EqualTo(Lit(l), a: AttributeReference) =>
          Some(sf.EqualTo(a.name, ext(l)))
        case GreaterThan(a: AttributeReference, Lit(l)) =>
          Some(sf.GreaterThan(a.name, ext(l)))
        case GreaterThan(Lit(l), a: AttributeReference) =>
          Some(sf.LessThan(a.name, ext(l)))
        case GreaterThanOrEqual(a: AttributeReference, Lit(l)) =>
          Some(sf.GreaterThanOrEqual(a.name, ext(l)))
        case GreaterThanOrEqual(Lit(l), a: AttributeReference) =>
          Some(sf.LessThanOrEqual(a.name, ext(l)))
        case LessThan(a: AttributeReference, Lit(l)) =>
          Some(sf.LessThan(a.name, ext(l)))
        case LessThan(Lit(l), a: AttributeReference) =>
          Some(sf.GreaterThan(a.name, ext(l)))
        case LessThanOrEqual(a: AttributeReference, Lit(l)) =>
          Some(sf.LessThanOrEqual(a.name, ext(l)))
        case LessThanOrEqual(Lit(l), a: AttributeReference) =>
          Some(sf.GreaterThanOrEqual(a.name, ext(l)))
        case In(a: AttributeReference, vs)
            if vs.forall(Lit.unapply(_).isDefined) =>
          Some(sf.In(a.name,
            vs.map(v => ext(Lit.unapply(v).get)).toArray))
        case InSet(a: AttributeReference, hset) =>
          Some(sf.In(a.name,
            hset.map(v => convertToScala(v, a.dataType)).toArray))
        case IsNull(a: AttributeReference) => Some(sf.IsNull(a.name))
        case IsNotNull(a: AttributeReference) => Some(sf.IsNotNull(a.name))
        case _ => None
      }
      val filters = conj.flatMap(tr)
      if (filters.isEmpty) m.files
      else graft.sources.GraftRelation(spark.sqlContext, rootPath, None)
        .prunedFiles(m, filters.toArray)
    } catch { case scala.util.control.NonFatal(_) => m.files }

  /** Shared DELETE/UPDATE skeleton: touch-detect matching files + count
    * matching rows in ONE narrow job, rewrite only those files
    * (`rewrite(touchedRows, pred)` produces their replacement content),
    * commit with untouched entries carried verbatim. Returns the
    * matched-row count. */
  private def dmlRewrite(op: String, condition: Column)(
      rewrite: (DataFrame, Column) => DataFrame): Long =
    withWriteLock {
    val m = requireManifest
    val pred = coalesce(condition, lit(false))
    if (m.files.isEmpty) return 0L

    // a condition over PARTITION columns alone is decidable per file on
    // the driver (every row of a file shares its partition values):
    // candidates shrink to matching partitions before any scan, and
    // DELETE drops their files as a METADATA-ONLY commit — at 100 TB,
    // `delete("day = '2024-01-10'")` is one manifest write, zero rewrite
    val partitionMatches: Option[Seq[TableFile]] = partitionOnlyMatches(m, condition)
    partitionMatches match {
      case Some(victims) if op == "delete" =>
        if (victims.isEmpty) return 0L
        val matched =
          if (victims.forall(_.rows.isDefined)) victims.flatMap(_.liveRows).sum
          else readManifestFiles(m, victims).count()
        // same predicate-aware rebase as the rewrite path, but EXACT: a
        // partition-only predicate is decidable per file from partition
        // values alone, so a winner's adds either land in dropped
        // partitions (conflict) or provably outside them (rebase)
        var b = m
        var attempt = 0
        var committed = false
        val victimByPath = victims.map(f => f.path -> f).toMap
        while (!committed)
          try {
            onReplaceCommitAttempt()
            commitDelta(b.schemaJson, b.partitionColumns, op,
              base = Some(b), adds = Nil, removes = victims.map(_.path))
            committed = true
          } catch {
            case e: ConcurrentWriteException =>
              attempt += 1
              if (!e.retryable || attempt > ManagedTable.MaxAppendRetries)
                throw e
              val cur = requireManifest
              val byPath = cur.files.map(f => f.path -> f).toMap
              val victimsUntouched = victims.forall(f =>
                byPath.get(f.path).exists(x =>
                  victimByPath.get(f.path).exists(_.dv == x.dv)))
              val basePaths = b.files.map(_.path).toSet
              val added = cur.files.filterNot(f => basePaths.contains(f.path))
              val addsDisjoint = added.isEmpty ||
                partitionOnlyMatches(cur.copy(files = added), condition)
                  .exists(_.isEmpty)
              if (!victimsUntouched || !addsDisjoint ||
                  cur.schemaJson != b.schemaJson ||
                  cur.partitionColumns != b.partitionColumns ||
                  cur.constraints != b.constraints ||
                  cur.generated != b.generated ||
                  cur.columnMapping != b.columnMapping ||
                  (cur.properties - ManagedTable.RowTrackingWatermarkProp) !=
                    (b.properties - ManagedTable.RowTrackingWatermarkProp))
                throw e
              b = cur
          }
        return matched
      case Some(victims) if victims.isEmpty => return 0L
      case _ => ()
    }
    // mixed/data-column predicates: manifest stats + bloom + partition
    // conjuncts narrow the touch-detect scan before any file opens
    val candidates = partitionMatches.getOrElse(statsPrunedFiles(m, condition))
    if (candidates.isEmpty) return 0L

    // merge-on-read: when deletion vectors are enabled (and basenames are
    // DV-safe), a row-level DELETE/UPDATE masks positions in a small
    // sidecar instead of rewriting data files — the 100 TB shape for
    // "delete 0.01% of rows" (Delta's DV write path)
    if (dvEnabled && dvEligible(m))
      return dvDml(op, m, candidates, pred, rewrite)

    // touch detection: per-file matching-row counts (narrow projection —
    // only the predicate's columns are scanned; scan-level tag so a
    // DV-carrying candidate's anti-join doesn't break file attribution)
    val perFile = readManifestFilesTagged(m, candidates, "__g_file")
      .filter(pred)
      .groupBy("__g_file").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    if (perFile.isEmpty) return 0L
    val matched = perFile.map(_._2).sum

    // translate scan URIs back to manifest paths; an untranslatable name
    // would leave the old file alive next to its rewrite (duplicates), so
    // any failure falls back to rewriting every file — correct, just not
    // file-granular (same policy as MergeBuilder.executeKeyed)
    val lookup = fileUriLookup(m.files)
    val translated = perFile.map { case (u, _) =>
      lookup.get(u).orElse(lookup.get(MergeBuilder.decodeUri(u))) }
    val touchedPaths: Seq[String] =
      if (translated.forall(_.isDefined)) translated.map(_.get).toSeq
      else m.files.map(_.path)
    val touchedEntries = {
      val keep = touchedPaths.toSet
      m.files.filter(f => keep.contains(f.path))
    }

    // row tracking: survivors/updated images keep their identity — the
    // read materializes IDs, the rewrite carries the column through
    val touchedRows = readPreservingRowIds(m, touchedEntries)
    replaceFiles(touchedPaths, rewrite(touchedRows, pred), op,
      dmlRebasePredicate = Some(condition))
    matched
  }

  /** DV sidecars join on data-file basenames — require them unique and
    * filesystem-plain across the manifest (engine-written part files
    * always are; an adopted lake with colliding names falls back to the
    * classic rewrite). */
  private[tables] def dvEligible(m: Manifest): Boolean = {
    // adopted hive-layout files lack their partition columns in the
    // data — the DV-masked scan path does not attach the manifest's
    // partition values, so converted tables keep the classic rewrite
    // until compaction normalizes their layout
    if (m.properties.get(ManagedTable.ConvertPartitionDirsProp)
        .contains("true") &&
        m.files.exists(f => !f.path.startsWith("data/"))) return false
    val names = m.files.map(f => new Path(f.path).getName)
    names.size == names.distinct.size &&
      names.forall(ManagedTable.dvSafeBasename)
  }

  /** Merge-on-read DML: instead of rewriting every touched file, mask the
    * matched row POSITIONS in a parquet DV sidecar and re-commit the same
    * data files with the DV reference attached — write cost is
    * proportional to the rows deleted, not the files they live in.
    *
    * Per-file escape hatches keep the masked fraction bounded (a DV on a
    * mostly-dead file only defers an inevitable rewrite and taxes every
    * read in between):
    *  - every row dead (DELETE) → the entry just drops: metadata-only;
    *  - dead fraction above `spark.graft.dv.maxDeletedFraction` → that
    *    file takes the classic rewrite;
    *  - unknown physical row count → DV (conservative; `purgeDeletionVectors`
    *    reclaims later).
    *
    * UPDATE is DV-delete + append (Delta's MoR update): matched rows are
    * masked in place and their updated images land in fresh files.
    * Positions index the file AS WRITTEN, so re-deleting from an
    * already-masked file unions the old sidecar's pairs into the new one
    * and the entry points only at the newest sidecar. */
  private def dvDml(op: String, m: Manifest, candidates: Seq[TableFile],
      pred: org.apache.spark.sql.Column,
      rewrite: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Long = {
    val byName: Map[String, TableFile] =
      candidates.map(f => new Path(f.path).getName -> f).toMap
    // row tracking: resolve each candidate row's stable ID up front (the
    // basename→baseRowId map is tiny and basenames are unique — DV
    // eligibility guarantees it) so over-fraction rewrites and UPDATE
    // images carry identity into their new files
    val rtActive = rowTrackingActive(m) && candidates.forall(_.baseRowId.isDefined)
    val dvDefs = existingDefaults(m)
    val rtCols = Seq(ManagedTable.MatRowIdCol, ManagedTable.MatRowCvCol)
    val schemaCols = m.schema.fieldNames.toSeq.map(n => col(s"`$n`")) ++
      (if (rtActive) rtCols.map(c => col(s"`$c`")) else Nil)
    val scanSchema =
      if (!rtActive) m.physicalSchema
      else org.apache.spark.sql.types.StructType(m.physicalSchema.fields ++
        rtCols.map(org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.LongType)))
    // physical scan: row positions index the file as written, independent
    // of any DV already masking it
    val rawPhys = manifestScan(scanSchema, candidates)
      .withColumn(DvFileCol, col("_metadata.file_name"))
      .withColumn(DvPosCol, col("_metadata.row_index"))
    // logical view (pred and rewrite speak logical names), positions kept
    val raw0 =
      if (m.columnMapping.isEmpty) rawPhys
      else rawPhys.select(m.schema.fields.toSeq.map(f =>
        col(s"`${m.physicalName(f.name)}`").as(f.name)) ++
        (if (rtActive) rtCols.map(c => col(s"`$c`")) else Nil) ++
        Seq(col(DvFileCol), col(DvPosCol)): _*)
    val raw =
      if (!rtActive && dvDefs.isEmpty) raw0
      else {
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val fileC = "__g_rt_file"; val baseC = "__g_rt_base"
        val dataVC = "__g_rt_dv"
        val lk = spark.createDataFrame(
          spark.sparkContext.parallelize(candidates.map(f =>
            org.apache.spark.sql.Row(new Path(f.path).getName,
              f.baseRowId.map(Long.box).orNull,
              f.dataVersion.map(Long.box).orNull)), 1),
          StructType(Seq(StructField(fileC, StringType),
            StructField(baseC, LongType), StructField(dataVC, LongType))))
        val joined0 = raw0.join(broadcast(lk),
          raw0(DvFileCol) === lk(fileC), "left")
        // column defaults: pre-add files read the EXISTS_DEFAULT here
        // too, so DV-mode predicates and update images see the same
        // values every other read path does
        val withDefs = dvDefs.foldLeft(joined0) {
          case (d, (n, since, sql, dt)) =>
            d.withColumn(n,
              when(col(dataVC).isNull || col(dataVC) < since,
                expr(sql).cast(dt)).otherwise(col(s"`$n`")))
        }
        val withRt =
          if (!rtActive) withDefs
          else withDefs
            .withColumn(ManagedTable.MatRowIdCol,
              coalesce(col(s"`${ManagedTable.MatRowIdCol}`"),
                col(baseC) + col(DvPosCol)))
            .withColumn(ManagedTable.MatRowCvCol,
              coalesce(col(s"`${ManagedTable.MatRowCvCol}`"), col(dataVC)))
        withRt.drop(fileC, baseC, dataVC)
      }
    val priorNames = candidates.flatMap(_.dv).distinct
    val maskedNames = candidates.filter(_.dv.isDefined)
      .map(f => new Path(f.path).getName)
    val prior: DataFrame =
      if (priorNames.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dvSchema)
      else readDvSidecars(priorNames).filter(col("file").isin(maskedNames: _*))
    val priorB = BroadcastHint(prior,
      candidates.flatMap(_.dvRows).sum <= ManagedTable.DvBroadcastMaxPositions)
    def notPriorMasked(df: DataFrame): DataFrame =
      df.join(priorB,
        df(DvFileCol) === priorB("file") && df(DvPosCol) === priorB("pos"),
        "left_anti")
    // live matched rows with their positions — ONE narrow-ish job feeds
    // the counts, the sidecar write, and update's appended images
    val live = notPriorMasked(raw.filter(pred)).persist()
    try {
      val perFileLive: Map[String, Long] = live.groupBy(DvFileCol).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (perFileLive.isEmpty) return 0L
      val matched = perFileLive.values.sum

      var dropPaths = List.empty[String]
      var rewriteEntries = List.empty[TableFile]
      var dvEntries = List.empty[(TableFile, Long)] // entry -> total dead
      perFileLive.foreach { case (name, newDead) =>
        val f = byName(name)
        val dead = f.dvRows.getOrElse(0L) + newDead
        f.rows match {
          case Some(phys) if dead == phys && op == "delete" =>
            dropPaths ::= f.path
          case Some(phys) if dead.toDouble / phys > dvMaxDeletedFraction =>
            rewriteEntries ::= f
          case _ =>
            dvEntries ::= (f -> dead)
        }
      }

      // classic-rewrite survivors for over-fraction files, plus (UPDATE)
      // the updated images of the masked files' matched rows — written
      // before the sidecar, so a CHECK violation (the write job's own
      // verdict) leaves no sidecar behind
      val dvNames = dvEntries.map { case (f, _) => new Path(f.path).getName }
      val rwNames = rewriteEntries.map(f => new Path(f.path).getName)
      val rwContent =
        if (rewriteEntries.isEmpty) None
        else Some(rewrite(
          notPriorMasked(raw.filter(col(DvFileCol).isin(rwNames: _*))), pred)
          .select(schemaCols: _*))
      val updContent =
        if (op != "update" || dvEntries.isEmpty) None
        else Some(rewrite(live.filter(col(DvFileCol).isin(dvNames: _*)), pred)
          .select(schemaCols: _*))
      var adds = (rwContent.toSeq ++ updContent.toSeq).reduceOption(_ union _)
        .toList.flatMap { content0 =>
          val content = applyGenerated(content0, m.generated, Some(m.schema),
            op, recompute = true)
          writeCommit(content, m.partitionColumns, m.columnMapping,
            m.constraints, op)
        }
      var removes = dropPaths
      if (dvEntries.nonEmpty) {
        val name = s"dv-${UUID.randomUUID().toString}"
        rebalanced(live.filter(col(DvFileCol).isin(dvNames: _*))
          .select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
          .union(prior.filter(col("file").isin(dvNames: _*))))
          .write.options(commitWriteOpts)
          .parquet(new Path(dvDir, name).toString)
        adds ++= dvEntries.map { case (f, dead) =>
          f.copy(dv = Some(name), dvRows = Some(dead)) }
        removes ++= dvEntries.map(_._1.path)
      }
      removes ++= rewriteEntries.map(_.path)

      commitDelta(m.schemaJson, m.partitionColumns, op,
        base = Some(m), adds = adds, removes = removes)
      matched
    } finally { live.unpersist(); () }
  }

  /** Delta's `delta.appendOnly`: while the `graft.appendOnly` table
    * property is "true", statements that modify or remove EXISTING rows
    * fail fast — appends, inserts, and content-preserving maintenance
    * (compaction, Z-order, DV purge) stay allowed. Governance for
    * immutable event/audit tables. */
  private[tables] def requireNotAppendOnly(op: String): Unit =
    if (propOrConf("spark.graft.appendOnly", "false").toBoolean)
      throw new MetadataException(
        s"$op on $rootPath: table is append-only (graft.appendOnly=true) " +
          "\u2014 only appends and content-preserving maintenance are allowed")

  /** Active CHECK constraints (name → Spark SQL boolean expression). */
  def constraints: Map[String, String] =
    manifest.map(_.constraints).getOrElse(Map.empty)

  /** ALTER TABLE ADD CONSTRAINT (Delta parity): validates EXISTING rows
    * satisfy `expression` (one short-circuit scan — same price Delta
    * pays), then publishes the constraint as a metadata-only commit.
    * From then on every data write (append, overwrite, merge, DML
    * rewrite, streaming batch) counts violations inside its own write
    * job and fails the transaction naming the constraint before any
    * commit record is written. SQL CHECK semantics: a NULL
    * evaluation passes; only FALSE violates. NOT NULL is
    * `addConstraint("c_nn", "c IS NOT NULL")`. */
  def addConstraint(name: String, expression: String): Unit = withWriteLock {
    val m = requireManifest
    if (m.constraints.contains(name))
      throw new MetadataException(
        s"constraint '$name' already exists on $rootPath")
    if (!readSnapshot(m).filter(violates(expression)).isEmpty)
      throw constraintViolated(name, expression, "addConstraint")
    commitDelta(m.schemaJson, m.partitionColumns, s"addConstraint $name",
      base = Some(m), adds = Nil, removes = Nil,
      constraintsOverride = Some(m.constraints + (name -> expression)))
  }

  /** Drop a CHECK constraint (metadata-only commit; no-op if absent). */
  def dropConstraint(name: String): Unit = withWriteLock {
    val m = requireManifest
    if (m.constraints.contains(name))
      commitDelta(m.schemaJson, m.partitionColumns, s"dropConstraint $name",
        base = Some(m), adds = Nil, removes = Nil,
        constraintsOverride = Some(m.constraints - name))
  }

  // ------------------------------------------------------ generated columns

  /** Active generated-column rules (column → Spark SQL expression). */
  def generatedColumns: Map[String, String] =
    manifest.map(_.generated).getOrElse(Map.empty)

  /** Declare `name` as GENERATED ALWAYS AS `expression` (Delta generated
    * columns). From then on every data write maintains the invariant
    * `name <=> expression`:
    *
    *  - a write that omits the column gets it COMPUTED (cast to the
    *    declared type) — the canonical use is a partition column derived
    *    from an event timestamp (`day GENERATED ALWAYS AS
    *    (CAST(ts AS DATE))`), which writers then never supply by hand;
    *  - an append/overwrite that supplies it is VALIDATED (one limit-1
    *    probe, like CHECK constraints) and fails on mismatch;
    *  - engine-built rewrite content (MERGE updates, DML images) gets it
    *    RECOMPUTED, so updating a base column refreshes the derived one;
    *  - reads through `format("graft")` / `spark.table` INFER partition
    *    filters from filters on the base column when the expression has a
    *    recognized monotone shape ([[GeneratedColumns]]) — `WHERE ts >= X`
    *    prunes `day` partitions without the query ever naming `day`.
    *
    * On a table with existing rows the column must already exist and
    * satisfy the rule (validated with one short-circuit scan). On an
    * empty table an absent column is adopted: the schema widens by
    * `name` typed from the expression, metadata-only. */
  def addGeneratedColumn(name: String, expression: String): Unit =
    withWriteLock {
      val m = requireManifest
      if (m.generated.contains(name))
        throw new MetadataException(
          s"generated column '$name' already declared on $rootPath")
      val refs =
        try spark.sessionState.sqlParser.parseExpression(expression).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }.toSet
        catch {
          case scala.util.control.NonFatal(e) => throw new MetadataException(
            s"addGeneratedColumn $name on $rootPath: cannot parse " +
              s"'$expression': ${e.getMessage}")
        }
      if (refs.exists(_.equalsIgnoreCase(name)))
        throw new MetadataException(
          s"addGeneratedColumn $name on $rootPath: expression references " +
            "the generated column itself")
      val unknown = refs.filterNot(r =>
        m.schema.fieldNames.exists(_.equalsIgnoreCase(r)))
      if (unknown.nonEmpty)
        throw new MetadataException(
          s"addGeneratedColumn $name on $rootPath: expression references " +
            s"unknown column(s) ${unknown.mkString(", ")}")
      if (m.schema.fieldNames.contains(name)) {
        // existing column: the declared rule must already hold
        val t = m.schema(name).dataType
        val viol = readSnapshot(m)
          .filter(!(col(s"`$name`") <=> expr(expression).cast(t)))
          .limit(1).collect()
        if (viol.nonEmpty)
          throw new ConstraintViolationException(
            s"addGeneratedColumn on $rootPath: existing rows violate " +
              s"'$name' = $expression")
        commitDelta(m.schemaJson, m.partitionColumns,
          s"addGeneratedColumn $name", base = Some(m), adds = Nil,
          removes = Nil,
          generatedOverride = Some(m.generated + (name -> expression)))
      } else if (!m.files.forall(_.liveRows.contains(0L))) {
        // zero-ROW files (an empty create) are fine — they null-fill
        // through the widened schema and hold no row to violate the rule
        // widening a non-empty table would read NULL for every existing
        // row — the invariant would be born broken; Delta restricts
        // generated columns to table creation for the same reason
        throw new MetadataException(
          s"addGeneratedColumn $name on $rootPath: column does not exist " +
            "and the table has data — materialize the column first " +
            "(e.g. overwrite with it computed), then declare the rule")
      } else {
        // empty table: adopt the column, typed from the expression
        import org.apache.spark.sql.types.{StructField, StructType}
        val t = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
          .select(expr(expression)).schema.head.dataType
        val newSchema = StructType(
          m.schema.fields :+ StructField(name, t, nullable = true))
        commitDelta(newSchema.json, m.partitionColumns,
          s"addGeneratedColumn $name", base = Some(m), adds = Nil,
          removes = Nil,
          mappingOverride = Some(extendMapping(m.columnMapping, newSchema)),
          generatedOverride = Some(m.generated + (name -> expression)))
      }
    }

  /** Drop a generated-column RULE (metadata-only; no-op if absent). The
    * column survives as an ordinary column — use [[dropColumn]] to remove
    * the column itself (which also drops its rule). */
  def dropGeneratedColumn(name: String): Unit = withWriteLock {
    val m = requireManifest
    if (m.generated.contains(name))
      commitDelta(m.schemaJson, m.partitionColumns,
        s"dropGeneratedColumn $name", base = Some(m), adds = Nil,
        removes = Nil, generatedOverride = Some(m.generated - name))
  }

  // --------------------------------------------------------- identity columns

  /** Declare `name` as `GENERATED ALWAYS AS IDENTITY (START WITH start
    * INCREMENT BY step)` (Delta identity columns). Writers NEVER supply
    * the column: every write that omits it (or supplies NULL) gets
    * engine-assigned values — unique, monotone in allocation order, step
    * apart within one commit; gaps across commits are allowed, exactly
    * Delta's contract. The high watermark travels in the table
    * PROPERTIES (`graft.identity.<col>` / `.next`), committed atomically
    * with the rows it covers — a crash can never reuse an allocated
    * range. Engine-built rewrite content (MERGE updates, DML images)
    * keeps existing values; MERGE inserts allocate. Explicit non-null
    * user values are rejected (GENERATED ALWAYS). Declarable only while
    * the table holds no rows (the column is adopted as BIGINT). */
  def addIdentityColumn(name: String, start: Long = 1L,
      step: Long = 1L, always: Boolean = true): Unit = withWriteLock {
    require(step != 0L, "identity step must be non-zero")
    val m = requireManifest
    if (m.properties.contains(s"graft.identity.$name"))
      throw new MetadataException(
        s"identity column '$name' already declared on $rootPath")
    if (m.generated.contains(name))
      throw new MetadataException(
        s"addIdentityColumn $name on $rootPath: already a generated column")
    if (!m.files.forall(_.liveRows.contains(0L)))
      throw new MetadataException(
        s"addIdentityColumn $name on $rootPath: the table has data — " +
          "identity columns are declared at creation (Delta's rule too)")
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val newSchema =
      if (m.schema.fieldNames.contains(name)) {
        if (m.schema(name).dataType != LongType)
          throw new MetadataException(
            s"addIdentityColumn $name on $rootPath: column must be BIGINT")
        m.schema
      } else StructType(
        m.schema.fields :+ StructField(name, LongType, nullable = true))
    commitDelta(newSchema.json, m.partitionColumns,
      s"addIdentityColumn $name", base = Some(m), adds = Nil, removes = Nil,
      mappingOverride = Some(extendMapping(m.columnMapping, newSchema)),
      propertiesOverride = Some(m.properties ++ Map(
        s"graft.identity.$name" -> step.toString,
        s"graft.identity.$name.next" -> start.toString) ++
        (if (always) Map.empty[String, String]
         else Map(s"graft.identity.$name.byDefault" -> "true"))))
  }

  /** `SYNC IDENTITY` (Delta's `ALTER TABLE … CHANGE COLUMN c SYNC
    * IDENTITY`): advance the watermark past every value PRESENT in the
    * column — after a BY DEFAULT writer supplied explicit ids, future
    * engine assignments must not collide with them. One column scan,
    * one metadata-only commit; a watermark already ahead stays put. */
  def syncIdentity(name: String): Unit = withWriteLock {
    val m = requireManifest
    val (step, next) = identityRules(m).getOrElse(name,
      throw new MetadataException(
        s"syncIdentity $name on $rootPath: not an identity column"))
    // "past every value present" depends on the walk direction: a
    // negative-step column collides with the MINIMUM present value
    val extremumExpr = if (step > 0) s"max(`$name`)" else s"min(`$name`)"
    val maxRow = read().selectExpr(extremumExpr).head()
    if (!maxRow.isNullAt(0)) {
      val synced = maxRow.getLong(0) + step
      val target = if (step > 0) math.max(next, synced)
                   else math.min(next, synced)
      if (target != next)
        commitDelta(m.schemaJson, m.partitionColumns, s"syncIdentity $name",
          base = Some(m), adds = Nil, removes = Nil,
          propertiesOverride = Some(m.properties +
            (s"graft.identity.$name.next" -> target.toString)))
    }
  }

  /** Columns governed by an identity rule (for MERGE's source-absent
    * handling and DDL guards). */
  def identityColumnNames: Set[String] =
    manifest.map(m => identityRules(m).keySet).getOrElse(Set.empty)

  /** Whether writes to `m` run [[applyIdentity]]'s allocation passes. */
  private[tables] def allocatesIdentity(m: Manifest): Boolean =
    identityRules(m).nonEmpty

  /** Identity rules of a manifest: column → (step, next watermark). */
  private def identityRules(m: Manifest): Map[String, (Long, Long)] =
    m.properties.collect {
      case (k, step) if k.startsWith("graft.identity.") &&
          !k.endsWith(".next") && !k.endsWith(".byDefault") =>
        val col = k.stripPrefix("graft.identity.")
        col -> (step.toLong,
          m.properties.getOrElse(s"graft.identity.$col.next", "1").toLong)
    }

  /** Assign identity values to rows where the column is absent/NULL and
    * return the content plus the advanced-watermark properties override
    * (None when nothing was assigned). Engine rewrites (`keepExisting`)
    * pass existing values through and allocate only for NULLs (MERGE
    * inserts); user-facing writes REJECT explicit non-null values.
    *
    * Allocation is distributed and single-pass-per-rule: contiguous ids
    * from `zipWithIndex` over the null-id rows (one count job + the
    * assignment pass), watermark advanced by the allocated count in the
    * SAME commit as the rows. */
  private def applyIdentity(df: DataFrame, m: Manifest, operation: String,
      keepExisting: Boolean): (DataFrame, Option[Map[String, String]]) = {
    val rules = identityRules(m)
    if (rules.isEmpty || ConstraintExemptOps.exists(operation.startsWith))
      return (df, None)
    var out = df
    var props = m.properties
    var changed = false
    rules.toSeq.sortBy(_._1).foreach { case (name, (step, next)) =>
      val has = out.columns.contains(name)
      // GENERATED BY DEFAULT (Delta's opt-out): explicit user values
      // pass through, the engine fills only NULLs — collisions with
      // future assignments are the user's to reconcile via syncIdentity
      val byDefault = m.properties
        .get(s"graft.identity.$name.byDefault").contains("true")
      if (has && !keepExisting && !byDefault &&
          out.filter(col(s"`$name`").isNotNull).limit(1).count() > 0)
        throw new ConstraintViolationException(
          s"identity column '$name' is GENERATED ALWAYS on $rootPath — " +
            s"omit it (or write NULL) in '$operation'; the engine assigns")
      val withNullCol =
        if (has) out
        else out.withColumn(name, lit(null).cast("bigint"))
      val needsIds = withNullCol.filter(col(s"`$name`").isNull)
      val cnt = needsIds.count()
      if (cnt == 0L) { out = withNullCol }
      else {
        val keeps = withNullCol.filter(col(s"`$name`").isNotNull)
        val schema = withNullCol.schema
        val idx = schema.fieldIndex(name)
        val assigned = spark.createDataFrame(
          needsIds.rdd.zipWithIndex.map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(
              r.toSeq.updated(idx, next + i * step))
          }, schema)
        out = keeps.unionByName(assigned)
        props = props + (s"graft.identity.$name.next" ->
          (next + cnt * step).toString)
        changed = true
      }
    }
    (out, if (changed) Some(props) else None)
  }

  // -------------------------------------------------------- table properties

  /** Table properties (Delta TBLPROPERTIES): per-TABLE configuration that
    * travels in the manifest — so `graft.dv.enabled` on one table turns
    * deletion vectors on for THAT table on every cluster that touches it,
    * instead of depending on each session setting the right conf. A
    * `graft.*` table property overrides the corresponding
    * `spark.graft.*` session conf ([[propOrConf]]); non-graft keys are
    * free-form annotations (owner, pipeline, retention notes). */
  def properties: Map[String, String] =
    manifest.map(_.properties).getOrElse(Map.empty)

  /** Set (merge) table properties as a metadata-only commit. */
  def setTableProperties(props: Map[String, String]): Unit = withWriteLock {
    val m = requireManifest
    val guarded = props.keySet.filter(k =>
      k.startsWith("graft.rowTracking.") || k == ManagedTable.ClusterVersionProp)
    if (guarded.nonEmpty)
      throw new MetadataException(
        s"propert${if (guarded.size == 1) "y" else "ies"} " +
          s"${guarded.toSeq.sorted.mkString(", ")} are engine-maintained — " +
          "use enableRowTracking() (the watermark is never user-settable)")
    if (props.nonEmpty)
      commitDelta(m.schemaJson, m.partitionColumns,
        s"setTblProperties ${props.keys.toSeq.sorted.mkString(",")}",
        base = Some(m), adds = Nil, removes = Nil,
        propertiesOverride = Some(m.properties ++ props))
  }

  /** Unset table properties (metadata-only; absent keys are ignored). */
  def unsetTableProperties(keys: Seq[String]): Unit = withWriteLock {
    val m = requireManifest
    val guarded = keys.filter(_.startsWith("graft.rowTracking."))
    if (guarded.nonEmpty)
      throw new MetadataException(
        s"propert${if (guarded.size == 1) "y" else "ies"} " +
          s"${guarded.sorted.mkString(", ")} are engine-maintained — row " +
          "tracking cannot be switched off once readers depend on its IDs")
    if (keys.exists(m.properties.contains))
      commitDelta(m.schemaJson, m.partitionColumns,
        s"unsetTblProperties ${keys.sorted.mkString(",")}",
        base = Some(m), adds = Nil, removes = Nil,
        propertiesOverride = Some(m.properties -- keys))
  }

  /** Per-table configuration resolution: the table property named by
    * dropping the `spark.` prefix wins over the session conf, which wins
    * over the default — `graft.dv.enabled` (table) > `spark.graft.dv.
    * enabled` (session) > default, Delta's own layering. */
  private def propOrConf(confKey: String, default: String): String =
    manifest.flatMap(_.properties.get(confKey.stripPrefix("spark.")))
      .getOrElse(spark.conf.get(confKey, default))

  /** Post-commit auto-compaction (Delta autoOptimize.autoCompact as a
    * table property): after a drip-commit write (append, merge rewrite),
    * if at least `graft.autoCompact.minSmallFiles` manifest entries are
    * under `graft.autoCompact.smallBytes`, bin-pack them via
    * [[compactSmall]] — a separate maintenance commit, so a failure
    * loses only the compaction, never the data commit. Sized from
    * MANIFEST-recorded bytes only (entries without one are skipped):
    * the steady-state check is pure driver arithmetic, no FS calls. A
    * steady drip of small commits is the classic way a 100 TB table's
    * scan performance decays; this bounds it at the source for every
    * writer of the table, not just sessions that remembered the conf. */
  private def maybeAutoCompact(): Unit =
    if (propOrConf("spark.graft.autoCompact.enabled", "false").toBoolean) {
      val small = propOrConf("spark.graft.autoCompact.smallBytes",
        (32L << 20).toString).toLong
      val minN = propOrConf("spark.graft.autoCompact.minSmallFiles", "8").toInt
      val n = manifest.fold(0)(_.files.count(_.bytes.exists(_ < small)))
      if (n >= minN) compactSmall(small)
    }

  /** Enforce generated-column rules on write content: compute when the
    * column is absent, validate (`name <=> expr`, one shared limit-1
    * probe) when supplied, recompute unconditionally for engine-built
    * rewrite content. Maintenance rewrites are exempt — they re-commit
    * rows that already passed. */
  private def applyGenerated(df: DataFrame, rules: Map[String, String],
      declared: Option[org.apache.spark.sql.types.StructType],
      operation: String, recompute: Boolean = false): DataFrame = {
    if (rules.isEmpty || ConstraintExemptOps.exists(operation.startsWith))
      return df
    val present = df.columns.toSet
    var out = df
    var checks = List.empty[(String, org.apache.spark.sql.Column)]
    rules.toSeq.sortBy(_._1).foreach { case (name, e) =>
      val typed = declared.flatMap(_.fields.find(_.name == name))
        .map(f => expr(e).cast(f.dataType)).getOrElse(expr(e))
      if (recompute || !present.contains(name))
        out = out.withColumn(name, typed)
      else {
        // a supplied NULL means "engine fills" — SQL INSERT with a column
        // list null-fills unlisted columns before this layer ever sees
        // the frame, indistinguishable from an explicit NULL (Delta's
        // generated columns accept either); a non-null value must match
        checks ::= name -> (col(s"`$name`").isNotNull &&
          !(col(s"`$name`") <=> typed))
        out = out.withColumn(name, coalesce(col(s"`$name`"), typed))
      }
    }
    if (checks.nonEmpty) {
      val viol = out.filter(checks.map(_._2).reduce(_ || _))
        .select(checks.map { case (n, c) => c.as(n) }: _*)
        .limit(1).collect()
      if (viol.nonEmpty) {
        val row = viol.head
        val name = checks.indices.find(i => row.getBoolean(i))
          .map(checks(_)._1).getOrElse(checks.head._1)
        throw new ConstraintViolationException(
          s"generated column '$name' (${rules(name)}) supplied with a " +
            s"non-matching value in a row written to $rootPath during " +
            s"'$operation' — omit the column to have it computed")
      }
    }
    out
  }

  /** Maintenance rewrites re-commit rows that already passed their
    * write-time probe — re-validating a full z-order/compaction rewrite
    * would add a table-sized scan for nothing. Prefix match: zorder and
    * restore commits carry their arguments in the operation tag. */
  private val ConstraintExemptOps =
    Seq("compact", "compactSmall", "zorder", "collectStatistics", "restore",
      "purgeDv")

  /** Rows violating a CHECK constraint: its expression IS FALSE (SQL
    * three-valued logic, NULL passes). */
  private def violates(expression: String): Column =
    !coalesce(expr(expression), lit(true))

  private def constraintViolated(name: String, expression: String,
      operation: String): ConstraintViolationException =
    new ConstraintViolationException(
      s"CHECK constraint '$name' ($expression) violated by a row " +
        s"written to $rootPath during '$operation'")

  /** Additive schema evolution as a METADATA-ONLY commit: publish a
    * widened schema (existing fields unchanged, new fields appended
    * nullable) with the file set carried verbatim — existing files are
    * read through the widened schema from then on, null-filling the new
    * columns (parquet superset-schema reads). This is how a MERGE with
    * `withSchemaEvolution` adopts source-only columns without rewriting
    * a byte of the 100 TB it is not touching. */
  private[tables] def evolveSchema(widened: org.apache.spark.sql.types.StructType,
      operation: String = "schemaEvolve"): Unit = withWriteLock {
    val m = requireManifest
    val existing = m.schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = widened.fields.filter(f =>
      existing.get(f.name).exists(_ != f.dataType))
    if (bad.nonEmpty)
      throw new MetadataException(
        s"evolveSchema on $rootPath may only ADD columns; type change on: " +
          bad.map(_.name).mkString(", "))
    if (m.schema.fields.exists(f => !widened.fieldNames.contains(f.name)))
      throw new MetadataException(
        s"evolveSchema on $rootPath may not drop columns")
    if (widened.json != m.schemaJson)
      commitDelta(widened.json, m.partitionColumns, operation,
        base = Some(m), adds = Nil, removes = Nil,
        mappingOverride = Some(extendMapping(m.columnMapping, widened)))
  }

  // ------------------------------------------------- column-mapping DDL

  /** RENAME COLUMN as a METADATA-ONLY commit (Delta's column-mapping
    * rename): the physical name inside every data file stays what it
    * was — at 100 TB a rename must not rewrite a byte — and only the
    * logical schema plus the mapping change. The first rename/drop on a
    * table activates column mapping with an identity map over the
    * then-current schema, so existing files need no translation.
    * Partition columns cannot be renamed (the directory layout is
    * physical), and a column referenced by a CHECK constraint must have
    * the constraint dropped first. */
  def renameColumn(oldName: String, newName: String): Unit = withWriteLock {
    import org.apache.spark.sql.types.StructType
    val m = requireManifest
    if (!m.schema.fieldNames.contains(oldName))
      throw new MetadataException(
        s"renameColumn on $rootPath: no such column '$oldName'")
    if (m.schema.fieldNames.exists(_.equalsIgnoreCase(newName)))
      throw new MetadataException(
        s"renameColumn on $rootPath: column '$newName' already exists")
    if (m.partitionColumns.contains(oldName))
      throw new MetadataException(
        s"renameColumn on $rootPath: '$oldName' is a partition column — " +
          "partition directory layout is physical; rename it by rewrite")
    requireNoConstraintRefs(m, oldName, "renameColumn")
    requireNoGeneratedRefs(m, oldName, "renameColumn")
    val cm = activeMapping(m)
    val phys = cm.physical(oldName)
    val newSchema = StructType(m.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    // a rename of a generated TARGET carries its rule under the new name
    val gs = m.generated.get(oldName) match {
      case Some(rule) => Some(m.generated - oldName + (newName -> rule))
      case None       => None
    }
    // an identity TARGET carries its step + watermark under the new name
    val ps = if (m.properties.contains(s"graft.identity.$oldName"))
      Some(m.properties
        - s"graft.identity.$oldName" - s"graft.identity.$oldName.next"
        + (s"graft.identity.$newName" ->
            m.properties(s"graft.identity.$oldName"))
        ++ m.properties.get(s"graft.identity.$oldName.next")
          .map(n => s"graft.identity.$newName.next" -> n))
    else None
    commitDelta(newSchema.json, m.partitionColumns,
      s"renameColumn $oldName->$newName",
      base = Some(m), adds = Nil, removes = Nil,
      mappingOverride = Some(Some(cm.copy(
        byLogical = cm.byLogical - oldName + (newName -> phys)))),
      generatedOverride = gs, propertiesOverride = ps)
  }

  /** DROP COLUMN as a METADATA-ONLY commit: the bytes stay inside the
    * data files (reclaimed whenever maintenance rewrites them) but the
    * column vanishes from every read, and its physical name is retired
    * forever — a future column of the same name gets a fresh physical
    * name, never the dropped column's bytes. */
  def dropColumn(name: String): Unit = withWriteLock {
    import org.apache.spark.sql.types.StructType
    val m = requireManifest
    if (!m.schema.fieldNames.contains(name))
      throw new MetadataException(
        s"dropColumn on $rootPath: no such column '$name'")
    if (m.schema.fields.length == 1)
      throw new MetadataException(
        s"dropColumn on $rootPath: cannot drop the last column")
    if (m.partitionColumns.contains(name))
      throw new MetadataException(
        s"dropColumn on $rootPath: '$name' is a partition column")
    requireNoConstraintRefs(m, name, "dropColumn")
    requireNoGeneratedRefs(m, name, "dropColumn")
    val cm = activeMapping(m)
    val phys = cm.physical(name)
    // a bloom index on the dropped column would orphan its sidecars
    val blooms = bloomIndexes
    if (blooms.contains(phys)) {
      writeFileAtomic(bloomConfigFile, BloomIndex.configToJson(blooms - phys))
      BloomIndex.deleteColumn(fs, bloomDir, phys)
    }
    val newSchema = StructType(m.schema.fields.filterNot(_.name == name))
    commitDelta(newSchema.json, m.partitionColumns, s"dropColumn $name",
      base = Some(m), adds = Nil, removes = Nil,
      mappingOverride = Some(Some(cm.copy(
        byLogical = cm.byLogical - name,
        retired = cm.retired :+ phys))),
      // dropping a generated TARGET drops its rule with it
      generatedOverride =
        if (m.generated.contains(name)) Some(m.generated - name) else None,
      // dropping an identity TARGET drops its step + watermark with it
      propertiesOverride =
        if (m.properties.contains(s"graft.identity.$name"))
          Some(m.properties
            - s"graft.identity.$name" - s"graft.identity.$name.next")
        else None)
  }

  /** ADD COLUMN as a metadata-only commit: appended nullable; existing
    * rows read it as null (parquet superset-schema reads). Equivalent to
    * the drift-adoption path, minus needing a data write to ride on. */
  def addColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType): Unit = withWriteLock {
    import org.apache.spark.sql.types.{StructField, StructType}
    val m = requireManifest
    if (m.schema.fieldNames.exists(_.equalsIgnoreCase(name)))
      throw new MetadataException(
        s"addColumn on $rootPath: column '$name' already exists")
    val newSchema = StructType(
      m.schema.fields :+ StructField(name, dataType, nullable = true))
    commitDelta(newSchema.json, m.partitionColumns, s"addColumn $name",
      base = Some(m), adds = Nil, removes = Nil,
      mappingOverride = Some(extendMapping(m.columnMapping, newSchema)))
  }

  /** `ALTER TABLE … ADD COLUMN name type DEFAULT expr` (Spark/Delta
    * column defaults) as ONE metadata-only commit — zero bytes
    * rewritten at 100 TB:
    *
    *  - rows committed BEFORE this version read the default (the
    *    EXISTS_DEFAULT: per-file `dataVersion` decides at scan time —
    *    old files physically lack the column, so the projection
    *    substitutes the constant);
    *  - writes that OMIT the column fill it with the default (the
    *    CURRENT_DEFAULT, re-settable via [[setColumnDefault]] /
    *    removable via [[dropColumnDefault]] without touching existing
    *    rows' values).
    *
    * The default must be a CONSTANT expression (no column references,
    * deterministic) castable to the column type — validated here, so a
    * read can never fail on a bad stored default. Defaults travel in
    * the schema's field METADATA (Spark's own CURRENT_DEFAULT /
    * EXISTS_DEFAULT keys), so time travel reads each version under the
    * defaults that governed it. */
  def addColumnWithDefault(name: String,
      dataType: org.apache.spark.sql.types.DataType,
      defaultSql: String): Unit = withWriteLock {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    val m = requireManifest
    if (m.schema.fieldNames.exists(_.equalsIgnoreCase(name)))
      throw new MetadataException(
        s"addColumnWithDefault on $rootPath: column '$name' already exists")
    validateDefault(name, dataType, defaultSql)
    val meta = new MetadataBuilder()
      .putString("CURRENT_DEFAULT", defaultSql)
      .putString("EXISTS_DEFAULT", defaultSql)
      .putLong(ManagedTable.DefaultSinceKey, m.version + 1)
      .build()
    val newSchema = StructType(m.schema.fields :+
      StructField(name, dataType, nullable = true, metadata = meta))
    commitDelta(newSchema.json, m.partitionColumns,
      s"addColumn $name default", base = Some(m), adds = Nil, removes = Nil,
      mappingOverride = Some(extendMapping(m.columnMapping, newSchema)))
  }

  /** Change (or set for the first time) a column's CURRENT default —
    * affects only FUTURE writes that omit the column; existing rows and
    * the pre-add EXISTS_DEFAULT are untouched (Delta's `ALTER COLUMN …
    * SET DEFAULT`). */
  def setColumnDefault(name: String, defaultSql: String): Unit =
    withWriteLock {
      val m = requireManifest
      val field = m.schema.fields.find(_.name == name).getOrElse(
        throw new MetadataException(
          s"setColumnDefault on $rootPath: no column '$name'"))
      validateDefault(name, field.dataType, defaultSql)
      updateFieldMetadata(m, name, s"setDefault $name") { b =>
        b.putString("CURRENT_DEFAULT", defaultSql)
      }
    }

  /** Remove a column's CURRENT default: future writes omitting it get
    * NULL again. The EXISTS_DEFAULT stays — pre-add rows keep reading
    * the value they were promised. */
  def dropColumnDefault(name: String): Unit = withWriteLock {
    val m = requireManifest
    if (!m.schema.fields.exists(_.name == name))
      throw new MetadataException(
        s"dropColumnDefault on $rootPath: no column '$name'")
    updateFieldMetadata(m, name, s"dropDefault $name") { b =>
      b.remove("CURRENT_DEFAULT")
    }
  }

  /** `ALTER TABLE … ALTER COLUMN name TYPE wider-type` (Delta's
    * type-widening table feature) as ONE metadata-only commit — zero
    * bytes rewritten at 100 TB. Only LOSSLESS widenings are accepted
    * ([[ManagedTable.widens]]: byte→short→int→long, float→double,
    * integral→double below int precision loss); existing narrow parquet
    * pages are read through the wider manifest schema, a promotion the
    * Spark 4 readers perform natively and the one the implicit
    * drift-widening write path already relies on.
    *
    * Everything downstream keeps working unchanged, by construction:
    *  - per-file min/max stats compare numerically
    *    ([[ColStats.overlaps]] goes through BigDecimal), so files
    *    written before the widening still skip correctly against
    *    wider-typed predicate bounds;
    *  - Bloom sidecars canonicalize every integral type to long
    *    ([[BloomIndex.probe]]), so pre-widening sidecars answer
    *    post-widening probes;
    *  - partition values are stored as strings and cast to the CURRENT
    *    schema type on read;
    *  - time travel reads each version under the schema that governed
    *    it — the narrow type before this commit, the wide one after. */
  def alterColumnType(name: String,
      newType: org.apache.spark.sql.types.DataType): Unit = withWriteLock {
    import org.apache.spark.sql.types.StructType
    val m = requireManifest
    val field = m.schema.fields.find(_.name == name).getOrElse(
      throw new MetadataException(
        s"alterColumnType on $rootPath: no column '$name'"))
    if (field.dataType == newType) return
    if (!ManagedTable.widens(field.dataType, newType))
      throw new MetadataException(
        s"alterColumnType on $rootPath.$name: " +
          s"${field.dataType.simpleString} -> ${newType.simpleString} is not " +
          "a lossless widening (byte->short->int->long, float->double, " +
          "byte/short/int->double are)")
    val newSchema = StructType(m.schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = newType) else f))
    commitDelta(newSchema.json, m.partitionColumns,
      s"alterColumnType $name ${newType.simpleString}",
      base = Some(m), adds = Nil, removes = Nil)
  }

  private def updateFieldMetadata(m: Manifest, name: String, op: String)(
      f: org.apache.spark.sql.types.MetadataBuilder =>
        org.apache.spark.sql.types.MetadataBuilder): Unit = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    val newSchema = StructType(m.schema.fields.map { fld =>
      if (fld.name != name) fld
      else fld.copy(metadata =
        f(new MetadataBuilder().withMetadata(fld.metadata)).build())
    })
    commitDelta(newSchema.json, m.partitionColumns, op,
      base = Some(m), adds = Nil, removes = Nil)
  }

  /** A default must be a deterministic CONSTANT castable to the column
    * type — proven by evaluating it once here, so no later scan can die
    * on a stored default. */
  private def validateDefault(name: String,
      dataType: org.apache.spark.sql.types.DataType, sql: String): Unit = {
    val c =
      try expr(sql)
      catch { case scala.util.control.NonFatal(e) =>
        throw new MetadataException(
          s"default for '$name' does not parse: $sql", e) }
    val analyzed =
      try spark.range(1).select(c.cast(dataType).as(name))
      catch { case scala.util.control.NonFatal(e) =>
        throw new MetadataException(
          s"default for '$name' must be a constant castable to " +
            s"${dataType.simpleString}: $sql", e) }
    val exprs = analyzed.queryExecution.analyzed.expressions
    if (!exprs.forall(_.deterministic))
      throw new MetadataException(
        s"default for '$name' must be deterministic: $sql")
    if (exprs.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute])))
      throw new MetadataException(
        s"default for '$name' must not reference columns: $sql")
    // one-row evaluation proves castability (throws here, not at scan)
    analyzed.collect()
  }

  /** Columns whose EXISTS_DEFAULT must be substituted for files
    * predating their addition: (logical name, since-version, default
    * SQL, type). */
  private[tables] def existingDefaults(m: Manifest): Seq[(String, Long,
      String, org.apache.spark.sql.types.DataType)] =
    m.schema.fields.toSeq.flatMap { f =>
      if (f.metadata.contains("EXISTS_DEFAULT") &&
          f.metadata.contains(ManagedTable.DefaultSinceKey))
        Some((f.name, f.metadata.getLong(ManagedTable.DefaultSinceKey),
          f.metadata.getString("EXISTS_DEFAULT"), f.dataType))
      else None
    }

  /** The table's mapping, activating (identity over the current schema)
    * if this is the first mapping mutation. */
  private def activeMapping(m: Manifest): ColumnMapping =
    m.columnMapping.getOrElse(
      ColumnMapping(m.schema.fieldNames.map(n => n -> n).toMap))

  /** Reject a rename/drop of a column a CHECK constraint references —
    * the stored expression text would silently stop matching rows (or
    * fail analysis) after the schema change. Unparsable expressions are
    * conservatively treated as referencing everything. */
  private def requireNoConstraintRefs(
      m: Manifest, colName: String, op: String): Unit =
    m.constraints.foreach { case (n, e) =>
      val refs =
        try spark.sessionState.sqlParser.parseExpression(e).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }.toSet
        catch { case scala.util.control.NonFatal(_) => Set(colName) }
      if (refs.exists(_.equalsIgnoreCase(colName)))
        throw new MetadataException(
          s"$op on $rootPath: column '$colName' is referenced by CHECK " +
            s"constraint '$n' ($e) — drop the constraint first")
    }

  /** Reject a rename/drop of a column some OTHER column's generated-column
    * expression references — the stored rule text would silently stop
    * computing (or fail analysis) after the schema change. */
  private def requireNoGeneratedRefs(
      m: Manifest, colName: String, op: String): Unit =
    m.generated.foreach { case (n, e) =>
      if (n == colName) () // the rule's own target travels/drops with it
      else {
        val refs =
          try spark.sessionState.sqlParser.parseExpression(e).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.nameParts.last
          }.toSet
          catch { case scala.util.control.NonFatal(_) => Set(colName) }
        if (refs.exists(_.equalsIgnoreCase(colName)))
          throw new MetadataException(
            s"$op on $rootPath: column '$colName' is referenced by " +
              s"generated column '$n' ($e) — drop the rule first")
      }
    }

  /** When `condition` references partition columns only, returns the
    * manifest entries of partitions where it evaluates TRUE — every row
    * of a file shares its partition values, so the predicate is
    * decidable per file without scanning data. None when the table is
    * unpartitioned, the condition touches data columns, or a partition
    * value is null/hive-default (then the row-level path must decide).
    * Cost: analysis of the condition plus one tiny local job over the
    * distinct partition tuples, never the table. */
  private def partitionOnlyMatches(
      m: Manifest, condition: Column): Option[Seq[TableFile]] = {
    if (m.partitionColumns.isEmpty) return None
    val refs: Set[String] =
      analyzedConjuncts(m, condition).flatMap(_.references.map(_.name)).toSet
    if (refs.isEmpty || !refs.subsetOf(m.partitionColumns.toSet)) return None
    val tuples = m.files.map(_.partitionValues).distinct
    if (tuples.exists(t => m.partitionColumns.exists(c =>
        t.get(c).forall(v => v == null || v == "__HIVE_DEFAULT_PARTITION__"))))
      return None
    // evaluate the predicate once per distinct tuple, cast to the
    // declared column types so comparisons behave like a row-level scan
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val strSchema = StructType(
      m.partitionColumns.map(c => StructField(c, StringType)) :+
        StructField("__g_idx", LongType))
    val rows = tuples.zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row.fromSeq(m.partitionColumns.map(t(_)) :+ i.toLong)
    }
    val pdf = spark.createDataFrame(rows.asJava, strSchema)
      .select(m.partitionColumns.map(c =>
        col(s"`$c`").cast(m.schema(c).dataType).as(c)) :+ col("__g_idx"): _*)
    val hit = pdf.filter(condition).select("__g_idx")
      .collect().map(_.getLong(0).toInt).toSet
    val wanted: Set[Map[String, String]] = hit.map(tuples(_))
    Some(m.files.filter(f => wanted.contains(f.partitionValues)))
  }

  /** PRUNING variant of [[partitionOnlyMatches]] for pushed-filter file
    * skipping: evaluate `cond` (which must reference partition columns
    * only — the caller routes filters by name) over the distinct
    * partition tuples and return the files of TRUE partitions, KEEPING
    * any tuple that cannot be evaluated (null / hive-default values)
    * conservatively. Unlike [[partitionOnlyMatches]] — which must decide
    * membership EXACTLY for metadata-only DML — an over-approximation is
    * fine here: the engine re-applies every filter row-level, so keeping
    * a file can never change results, while dropping one could. Cost:
    * one tiny local job over distinct tuples, never the table. */
  private[graft] def filesWherePartitions(
      m: Manifest, cond: Column): Seq[TableFile] = {
    if (m.partitionColumns.isEmpty) return m.files
    val tuples = m.files.map(_.partitionValues).distinct
    val (ev, raw) = tuples.partition(t => m.partitionColumns.forall(c =>
      t.get(c).exists(v => v != null && v != "__HIVE_DEFAULT_PARTITION__")))
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val hit: Set[Map[String, String]] =
      if (ev.isEmpty) Set.empty
      else {
        val strSchema = StructType(
          m.partitionColumns.map(c => StructField(c, StringType)) :+
            StructField("__g_idx", LongType))
        val rows = ev.zipWithIndex.map { case (t, i) =>
          Row.fromSeq(m.partitionColumns.map(t(_)) :+ i.toLong)
        }
        val pdf = spark.createDataFrame(rows.asJava, strSchema)
          .select(m.partitionColumns.map(c =>
            col(s"`$c`").cast(m.schema(c).dataType).as(c)) :+ col("__g_idx"): _*)
        // an unevaluable predicate (type mismatch, exotic literal) keeps
        // everything — pruning is an optimization, never an arbiter
        try pdf.filter(cond).select("__g_idx")
          .collect().map(r => ev(r.getLong(0).toInt)).toSet
        catch { case scala.util.control.NonFatal(_) => ev.toSet }
      }
    val wanted = hit ++ raw
    m.files.filter(f => wanted.contains(f.partitionValues))
  }

  private[graft] def readManifestFiles(m: Manifest, files: Seq[TableFile]): DataFrame =
    readFiles(m, files)

  /** Every plausible absolute-URI spelling of each file mapped to its
    * manifest path — translates `input_file_name()` values (whose encoding
    * varies by filesystem/scheme) back to manifest entries. */
  private[graft] def fileUriLookup(files: Seq[TableFile]): Map[String, String] =
    files.flatMap { f =>
      val p = fs.makeQualified(new Path(root, f.path))
      Set(p.toString, p.toUri.toString, p.toUri.getPath, p.toUri.toASCIIString)
        .map(_ -> f.path)
    }.toMap

  /** Test seam: invoked at the top of every [[replaceFiles]] commit
    * attempt. Cross-process commit races cannot be interleaved
    * deterministically from a spec; the per-path JVM lock is reentrant,
    * so a test hook can land a competing commit here on the same thread
    * and exercise the conflict paths for real. Always a no-op outside
    * tests. */
  private[tables] var onReplaceCommitAttempt: () => Unit = () => ()

  /** File-granular MERGE / DML commit primitive: atomically replace
    * exactly the files named in `removePaths` with the files written from
    * `df`; every other manifest entry carries into the new version
    * verbatim (no data movement, no stats recomputation). This is what
    * keeps a small keyed merge's write amplification proportional to the
    * rows it touches, not to the partition layout.
    *
    * `dmlRebasePredicate` (set by [[delete]]/[[update]]) enables
    * predicate-aware conflict resolution (Delta's write-serializable DML
    * rule): a lost cross-process commit race auto-rebases IFF the winner
    * provably did not intersect this DML's read set —
    *
    *  - every removed file still sits untouched in the winner's head
    *    (same path AND same deletion-vector identity), and
    *  - every file the winner ADDED provably contains no row matching
    *    the DML predicate (file footer stats must EXCLUDE the predicate;
    *    a stats-opaque predicate or a stats-less file conservatively
    *    surfaces the conflict), and
    *  - the winner changed no schema / partitioning / constraints /
    *    generated columns / column mapping / properties (the
    *    row-tracking watermark excepted — identity-preserving rewrites
    *    carry their IDs materialized, so a watermark-only bump by an
    *    interleaved append is invisible to this commit).
    *
    * Then the already-written rewrite re-commits against the new head
    * metadata-only. At 100 TB this is what lets `DELETE WHERE day <
    * retention` coexist with the live ingest stream appending today's
    * data instead of dying at the finish line. MERGE keeps fail-fast
    * (`dmlRebasePredicate = None`): its read set is the whole source
    * frame, which no file-stats check can summarize. A terminal conflict
    * sweeps the just-written commit dir, so the loser leaks nothing. */
  def replaceFiles(
      removePaths: Seq[String],
      df: DataFrame,
      operation: String = "replaceFiles",
      txn: Option[Txn] = None,
      dmlRebasePredicate: Option[Column] = None,
      observed: Seq[RowCounts] = Nil): Unit = withWriteLock {
    val m = requireManifest
    // engine-built rewrite content (merge updates, DML images): existing
    // identity values pass through, NULLs (merge inserts) allocate;
    // generated columns are RECOMPUTED, not validated — an UPDATE that
    // changed a base column must refresh its derived column, like Delta
    val (withIds, propsOv) =
      applyIdentity(df, m, operation, keepExisting = true)
    val g = applyGenerated(withIds, m.generated, Some(m.schema), operation,
      recompute = true)
    val d = reconcileSchema(g, m)
    val cmx = extendMapping(m.columnMapping, logicalSchema(d))
    val newFiles = writeCommit(d, m.partitionColumns, cmx, m.constraints,
      operation, observed = observed)
    commitReplaceWithRebase(m, logicalSchema(d).json, operation, newFiles,
      removePaths, txn, Some(cmx), propsOv, dmlRebasePredicate)
    maybeAutoCompact()
  }

  /** Shared replace-commit loop with the predicate-aware rebase rule (see
    * [[replaceFiles]] for the full contract). `rebasePredicate = None`
    * fails fast on the first conflict; either way a terminal conflict
    * sweeps the just-written commit dir so the loser leaks nothing. An
    * identity allocation (`propsOv` defined) always surfaces — its
    * watermark was read from the pre-race head, and a rebase would
    * clobber the winner's. */
  private def commitReplaceWithRebase(
      m: Manifest, schemaJson: String, operation: String,
      newFiles: Seq[TableFile], removePaths: Seq[String], txn: Option[Txn],
      mappingOverride: Option[Option[ColumnMapping]],
      propsOv: Option[Map[String, String]],
      rebasePredicate: Option[Column]): Unit = {
    def dropWritten(): Unit =
      try newFiles.headOption.foreach { f =>
        val segs = f.path.split('/')
        if (segs.length >= 2 && segs(0) == dataDir.getName)
          fs.delete(new Path(root, s"${segs(0)}/${segs(1)}"), true)
      } catch { case scala.util.control.NonFatal(_) => () }
    val removedByPath = {
      val keep = removePaths.toSet
      m.files.filter(f => keep.contains(f.path)).map(f => f.path -> f).toMap
    }
    var b = m
    var attempt = 0
    var committed = false
    while (!committed)
      try {
        onReplaceCommitAttempt()
        commitDelta(schemaJson, b.partitionColumns, operation,
          base = Some(b), adds = newFiles, removes = removePaths, txn = txn,
          mappingOverride = mappingOverride, propertiesOverride = propsOv)
        committed = true
      } catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          // identity allocation (propsOv) embeds a watermark read from the
          // pre-race head — a rebase would clobber the winner's; surface
          if (!e.retryable || attempt > ManagedTable.MaxAppendRetries ||
              rebasePredicate.isEmpty || propsOv.isDefined) {
            dropWritten(); throw e
          }
          val cur = requireManifest // the winner's head (pointer moved)
          val byPath = cur.files.map(f => f.path -> f).toMap
          val victimsUntouched = removePaths.forall(p =>
            byPath.get(p).exists(f => removedByPath.get(p).exists(_.dv == f.dv)))
          val basePaths = b.files.map(_.path).toSet
          val added = cur.files.filterNot(f => basePaths.contains(f.path))
          val addsDisjoint = added.isEmpty ||
            (try statsPrunedFiles(cur.copy(files = added),
                rebasePredicate.get).isEmpty
            catch { case scala.util.control.NonFatal(_) => false })
          def cmpProps(p: Map[String, String]): Map[String, String] =
            p - ManagedTable.RowTrackingWatermarkProp
          val metaUnchanged =
            cur.schemaJson == b.schemaJson &&
              cur.partitionColumns == b.partitionColumns &&
              cur.constraints == b.constraints &&
              cur.generated == b.generated &&
              cur.columnMapping == b.columnMapping &&
              cmpProps(cur.properties) == cmpProps(b.properties)
          if (!victimsUntouched || !addsDisjoint || !metaUnchanged) {
            dropWritten(); throw e
          }
          b = cur // an orphan record keeps colliding → attempts exhaust
      }
  }

  /** Content-preserving maintenance commit ([[compact]], [[compactSmall]],
    * [[zorder]], [[purgeDeletionVectors]]): atomically replace exactly
    * `removeEntries` with the files written from `df`. Unlike
    * [[replaceFiles]], a lost cross-process commit race AUTO-REBASES
    * (Delta's OPTIMIZE conflict rule): the rewrite changes no table
    * CONTENT, so it logically conflicts only with commits that touched
    * the very files it rewrote. If every removed entry still exists
    * untouched in the winner's head — same path AND same deletion-vector
    * identity (a DV commit keeps the path but changes which rows are
    * live) — and the winner changed no schema / partitioning /
    * constraints / column mapping, the already-written files re-commit
    * against the new head in a metadata-only retry; the winner's own
    * files carry into the new version verbatim. Any other interleaving
    * surfaces the original conflict. At 100 TB this is what lets a
    * long-running OPTIMIZE pass coexist with a live append stream
    * instead of dying at the finish line and forfeiting hours of
    * rewrite work. */
  private[tables] def replaceFilesMaintenance(base: Manifest,
      removeEntries: Seq[TableFile], df: DataFrame,
      operation: String,
      propsExtraFor: Long => Map[String, String] = _ => Map.empty): Unit = {
    val d = reconcileSchema(df, base)
    val cmx = extendMapping(base.columnMapping, logicalSchema(d))
    // preserveLayout: the maintenance caller range-partitioned and sorted
    // its frame (zorder / cluster / compact targets); a rebalance here
    // would scatter the locality the rewrite exists to create
    val newFiles = writeCommit(d, base.partitionColumns, cmx,
      base.constraints, operation, preserveLayout = true)
    // row-tracking watermark bumps are invisible to a content-preserving
    // rewrite — an interleaved append moving ONLY the watermark must not
    // forfeit the OPTIMIZE (the rewritten files carry their IDs
    // materialized; fresh base ranges re-allocate from the new head)
    def cmpProps(p: Map[String, String]): Map[String, String] =
      p - ManagedTable.RowTrackingWatermarkProp
    var b = base
    var attempt = 0
    var committed = false
    while (!committed)
      try {
        // propsExtraFor rides maintenance bookkeeping (e.g. the cluster
        // watermark) in the SAME commit — keyed by the version this
        // attempt will publish, recomputed per rebase
        val extra = propsExtraFor(b.version + 1)
        commitDelta(logicalSchema(d).json, b.partitionColumns, operation,
          base = Some(b), adds = newFiles,
          removes = removeEntries.map(_.path),
          mappingOverride = Some(cmx),
          propertiesOverride =
            if (extra.isEmpty) None else Some(b.properties ++ extra))
        committed = true
      } catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (!e.retryable || attempt > ManagedTable.MaxAppendRetries) throw e
          val cur = requireManifest // the winner's head (pointer moved)
          val byPath = cur.files.map(f => f.path -> f).toMap
          val untouched = removeEntries.forall(f =>
            byPath.get(f.path).exists(_.dv == f.dv))
          if (!untouched ||
              cur.schemaJson != b.schemaJson ||
              cur.partitionColumns != b.partitionColumns ||
              cur.constraints != b.constraints ||
              cur.generated != b.generated ||
              cmpProps(cur.properties) != cmpProps(b.properties) ||
              cur.columnMapping != b.columnMapping) throw e
          b = cur // an orphan record keeps colliding → attempts exhaust
      }
  }

  /** `df`'s schema minus engine-internal materialized columns — what a
    * commit publishes as the TABLE schema even when the written files
    * carry [[ManagedTable.MatRowIdCol]] alongside the data. */
  private def logicalSchema(
      df: DataFrame): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      df.schema.fields.filterNot(f =>
        f.name == ManagedTable.MatRowIdCol ||
          f.name == ManagedTable.MatRowCvCol))

  /** DV-mode MERGE commit primitive — [[replaceFiles]]'s merge-on-read
    * sibling. Atomically, in one version:
    *
    *  - `dvUpdates` entries re-commit with a fresh DV reference: their
    *    newly-dead positions (`newDead`, basename+pos, live rows only)
    *    union each entry's prior sidecar pairs into ONE new sidecar;
    *  - `dropPaths` entries vanish (every row dead — pure metadata);
    *  - `replacePaths` entries vanish too (over-fraction files whose
    *    surviving content the caller folded into `content`);
    *  - `content` (updated images + inserts + classic rewrites) appends
    *    as fresh files.
    *
    * The caller guarantees `newDead` pairs refer only to `dvUpdates`
    * files and were computed from a DV-masked read (so they never
    * duplicate prior pairs). */
  private[tables] def maskAndReplaceFiles(
      dvUpdates: Seq[(TableFile, Long)],
      newDead: DataFrame,
      dropPaths: Seq[String],
      replacePaths: Seq[String],
      content: DataFrame,
      operation: String = "merge",
      txn: Option[Txn] = None,
      observed: Seq[RowCounts] = Nil): Unit = withWriteLock {
    val m = requireManifest
    // merge-built content: identity NULLs (inserts) allocate, generated
    // columns recompute (see replaceFiles)
    val (withIds, propsOv) =
      applyIdentity(content, m, operation, keepExisting = true)
    val g = applyGenerated(withIds, m.generated, Some(m.schema), operation,
      recompute = true)
    val d = reconcileSchema(g, m)
    // content first: a CHECK violation then leaves no sidecar behind
    val cmx = extendMapping(m.columnMapping, logicalSchema(d))
    var adds = writeCommit(d, m.partitionColumns, cmx, m.constraints,
      operation, observed = observed).toList
    if (dvUpdates.nonEmpty) {
      val name = s"dv-${UUID.randomUUID().toString}"
      val entries = dvUpdates.map(_._1)
      val masked = entries.filter(_.dv.isDefined)
      val prior =
        if (masked.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dvSchema)
        else readDvSidecars(masked.flatMap(_.dv).distinct)
          .filter(col("file").isin(
            masked.map(f => new Path(f.path).getName): _*))
      rebalanced(newDead.select(col("file"), col("pos")).union(prior))
        .write.options(commitWriteOpts)
        .parquet(new Path(dvDir, name).toString)
      adds ++= dvUpdates.map { case (f, dead) =>
        f.copy(dv = Some(name), dvRows = Some(dead)) }
    }
    commitDelta(logicalSchema(d).json, m.partitionColumns, operation,
      base = Some(m), adds = adds,
      removes = dropPaths ++ replacePaths ++ dvUpdates.map(_._1.path),
      txn = txn, mappingOverride = Some(cmx), propertiesOverride = propsOv)
    maybeAutoCompact()
  }

  /** Register externally-written parquet files as a new version WITHOUT
    * reading, moving, or rewriting any data — the in-place conversion
    * path (what Delta calls CONVERT TO DELTA). At 100 TB this is the
    * difference between adopting an existing lake in minutes (one
    * metadata commit) and re-copying every byte through a write job.
    *
    * `files` paths are table-root-relative; the CALLER owns their
    * correctness — that the footers match `schema`, that
    * `partitionValues` reflect the real row content, and that any
    * supplied per-column stats are genuine min/max (wrong stats would
    * wrongly skip files). On an existing table the schema and partition
    * columns must match the current version exactly. */
  def importFiles(
      schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String],
      files: Seq[TableFile],
      operation: String = "import",
      columnMapping: Option[ColumnMapping] = None,
      generated: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty,
      constraints: Map[String, String] = Map.empty): Unit = withWriteLock {
    manifest match {
      case None =>
        commitDelta(schema.json, partitionBy, operation,
          base = None, adds = files, removes = Nil,
          mappingOverride = Some(columnMapping),
          generatedOverride = Some(generated),
          propertiesOverride = Some(properties),
          constraintsOverride = Some(constraints))
      case Some(m) =>
        if (m.columnMapping != columnMapping)
          throw new MetadataException(
            s"importFiles into $rootPath: column mapping differs from the " +
              "current version (imported files must store the same " +
              "physical names)")
        if (schema.json != m.schemaJson)
          throw new MetadataException(
            s"importFiles into $rootPath: schema differs from current version")
        if (partitionBy != m.partitionColumns)
          throw new MetadataException(
            s"importFiles into $rootPath: partition columns " +
              s"$partitionBy != ${m.partitionColumns}")
        commitDelta(m.schemaJson, m.partitionColumns, operation,
          base = Some(m), adds = files, removes = Nil)
    }
  }

  /** Zero-copy shallow clone (Delta's `CLONE` semantics): create a NEW
    * table at `destPath` whose first version references THIS table's
    * current data files by absolute path — one metadata commit, no bytes
    * moved, however large the table. The clone then lives its own life:
    * its writes land under its own root, its compaction/z-order rewrites
    * replace the borrowed references with owned files, its vacuum only
    * ever deletes under its own data dir. The one cross-table hazard is
    * Delta's too: VACUUM ON THE SOURCE can delete files a clone still
    * references — retain source history for as long as clones may read
    * it, or compact the clone (making it self-contained) first.
    *
    * The dominant uses at scale: dev/test sandboxes over production
    * tables, and experiment branches of a 100 TB corpus, neither of
    * which can afford a copy. */
  def shallowCloneTo(destPath: String,
      versionAsOf: Option[Long] = None): ManagedTable = {
    val m = versionAsOf match {
      case None => requireManifest
      case Some(v) =>
        earliestReadableVersion.foreach(e =>
          if (v < e) throw new MetadataException(
            s"shallowCloneTo at version $v of $rootPath: vacuumed " +
              s"(earliest readable version is $e)"))
        readManifest(v) // clone a historical snapshot, zero copy
    }
    val dest = ManagedTable(spark, destPath)
    if (dest.exists)
      throw new MetadataException(s"shallowCloneTo: $destPath already exists")
    val absolute = m.files.map(f =>
      f.copy(path = fs.makeQualified(new Path(root, f.path)).toString,
        dv = f.dv.map(d => fs.makeQualified(new Path(dvDir, d)).toString)))
    dest.importFiles(m.schema, m.partitionColumns, absolute, "shallowClone",
      m.columnMapping, m.generated, m.properties, m.constraints)
    dest
  }

  /** Deep clone (Delta's default `CLONE`): an independent copy of this
    * table's snapshot at `destPath` — data files (and deletion-vector
    * sidecars) are byte-copied REL-PATH-PRESERVING, so stats, DV masks,
    * column-mapping physical names, and even a converted table's adopted
    * hive layout (plus the property that drives its manifest-valued
    * partition reads) all stay valid without re-encoding a single row group. Copies
    * fan out as an executor job above
    * `spark.graft.clone.distributedThreshold` files (default 64): on an
    * object store a 100 TB clone is a massively-parallel server-side
    * copy, not a driver loop. Unlike [[shallowCloneTo]] the result shares
    * NOTHING with the source — vacuum on either side cannot break the
    * other. */
  def deepCloneTo(destPath: String,
      versionAsOf: Option[Long] = None): ManagedTable = {
    val m = versionAsOf match {
      case None => requireManifest
      case Some(v) =>
        earliestReadableVersion.foreach(e =>
          if (v < e) throw new MetadataException(
            s"deepCloneTo at version $v of $rootPath: vacuumed " +
              s"(earliest readable version is $e)"))
        readManifest(v)
    }
    val dest = ManagedTable(spark, destPath)
    if (dest.exists)
      throw new MetadataException(s"deepCloneTo: $destPath already exists")
    // Relative manifest paths copy rel-path-preserving. ABSOLUTE paths —
    // this table is itself a shallow clone, so its entries are qualified
    // URIs into the ORIGINAL table — must be relocated under dest's own
    // root: resolving them against dest.root would yield (src, src) copy
    // pairs, and the truncating overwrite-copy would destroy the shared
    // file. Borrowed hive-layout files (converted source) keep their
    // partition directories — their partition values live only in the
    // dir names; engine-written files carry every column in the data and
    // land in a fresh data/ commit dir.
    val importId = UUID.randomUUID().toString
    val hiveDirs = m.properties
      .get(ManagedTable.ConvertPartitionDirsProp).contains("true")
    val taken = scala.collection.mutable.HashSet[String]()
    m.files.foreach(f => if (!new Path(f.path).isAbsolute) taken += f.path)
    def relocated(f: TableFile, i: Int): String = {
      val base = new Path(f.path).getName
      val dir =
        if (hiveDirs && f.partitionValues.nonEmpty)
          m.partitionColumns.map(c =>
            ManagedTable.hiveEscape(c) + "=" +
              ManagedTable.hiveEscape(f.partitionValues(c))).mkString("/")
        else s"data/clone-$importId"
      val plain = s"$dir/$base"
      if (taken.add(plain)) plain
      else { val alt = s"$dir/f$i-$base"; taken.add(alt); alt }
    }
    val entries0 = m.files.zipWithIndex.map { case (f, i) =>
      if (new Path(f.path).isAbsolute) f.copy(path = relocated(f, i)) else f
    }
    val dataCopies = m.files.zip(entries0).map { case (f, e) =>
      (new Path(root, f.path).toString, // absolute URIs win over the base
        new Path(dest.root, e.path).toString)
    }
    // DV names are bare (this table's _dv) or absolute URIs (this table
    // was itself a shallow clone); either way the copy lands as a bare
    // name under the clone's own _dv and the entry is rewritten to it
    val dvCopies = m.files.flatMap(_.dv).distinct.map { d =>
      val src = new Path(dvDir, d) // absolute URIs win over the base dir
      (src.toString, new Path(dest.dvDir, src.getName).toString)
    }
    copyBatch(dataCopies ++ dvCopies)
    val entries = entries0.map(f =>
      f.copy(dv = f.dv.map(d => new Path(dvDir, d).getName)))
    dest.importFiles(m.schema, m.partitionColumns, entries, "deepClone",
      m.columnMapping, m.generated, m.properties, m.constraints)
    dest
  }

  /** Copy `(src, dst)` pairs — an executor job at or above
    * `spark.graft.clone.distributedThreshold` (default 64), a bounded
    * driver pool below it (same split as [[deleteBatch]]). */
  private def copyBatch(pairs: Seq[(String, String)]): Unit = {
    if (pairs.isEmpty) return
    val threshold = spark.conf
      .get("spark.graft.clone.distributedThreshold", "64").toInt
    if (pairs.size >= threshold) {
      val ser = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext
        .parallelize(pairs, math.min(pairs.size, 512))
        .foreachPartition { it =>
          val conf = ser.value
          it.foreach { case (s, d) => ManagedTable.copyWorkItem(conf, s, d) }
        }
    } else {
      val conf = spark.sparkContext.hadoopConfiguration
      deleteInParallel(pairs) { case (s, d) =>
        ManagedTable.copyWorkItem(conf, s, d)
      }
    }
  }

  /** Merge/compaction commit primitive: atomically replace the content of
    * `partitions` (every file whose partition values appear in the set) with
    * `df`. `partitions == None` replaces all files (unpartitioned merge). */
  def replacePartitions(
      partitions: Option[Seq[Map[String, String]]],
      df: DataFrame,
      operation: String = "replacePartitions",
      txn: Option[Txn] = None,
      observed: Seq[RowCounts] = Nil): Unit = withWriteLock {
    val m = requireManifest
    val (withIds, propsOv) =
      applyIdentity(df, m, operation, keepExisting = true)
    val g = applyGenerated(withIds, m.generated, Some(m.schema), operation,
      recompute = true)
    val d = reconcileSchema(g, m)
    val cmx = extendMapping(m.columnMapping, logicalSchema(d))
    val newFiles = writeCommit(d, m.partitionColumns, cmx, m.constraints,
      operation, observed = observed)
    val removed = partitions match {
      case None => m.files
      case Some(ps) =>
        val replaced = ps.toSet
        m.files.filter(f => replaced.contains(f.partitionValues))
    }
    // no rebase here — a rival commit inside the window surfaces as
    // ConcurrentWriteException via commitDelta's stale-base check
    // (fail-fast; the hook is the race-injection seam tests use)
    onReplaceCommitAttempt()
    commitDelta(logicalSchema(d).json, m.partitionColumns, operation,
      base = Some(m), adds = newFiles, removes = removed.map(_.path), txn = txn,
      mappingOverride = Some(cmx), propertiesOverride = propsOv)
  }

  /** Compact partitions whose file count reached `minFiles`: their rows are
    * rewritten as one file per partition (unpartitioned tables compact to
    * `targetFiles`). A steady stream of small merge commits otherwise
    * degrades scan performance — at scale this runs as a background
    * maintenance pass; the atomic pointer swap means readers never block.
    * Untouched partitions keep their existing files byte-for-byte. */
  def compact(minFiles: Int = 2, targetFiles: Int = 1): Unit = withWriteLock {
    val m = requireManifest
    if (m.partitionColumns.isEmpty) {
      if (m.files.size >= minFiles)
        replaceFilesMaintenance(m, m.files,
          readPreservingRowIds(m, m.files).coalesce(targetFiles), "compact")
    } else {
      val affected = m.files.groupBy(_.partitionValues)
        .filter(_._2.size >= minFiles).keys.toSet
      if (affected.nonEmpty) {
        val victims = m.files.filter(f => affected.contains(f.partitionValues))
        val df = readPreservingRowIds(m, victims)
          .repartition(m.partitionColumns.map(c => col(s"`$c`")): _*)
        replaceFilesMaintenance(m, victims, df, "compact")
      }
    }
  }

  /** Size-aware, FILE-granular compaction: bin-pack only the files
    * smaller than `smallBytes` into ~`targetBytes` outputs (default 8×
    * the threshold); every file already at or above the threshold is
    * carried into the new version byte-for-byte — its manifest entry
    * survives verbatim. [[compact]] rewrites whole partitions by file
    * COUNT; at 100 TB an unpartitioned or coarse-partitioned table
    * cannot afford that — a steady drip of small merge/append commits
    * must cost rewrites proportional to the SMALL FILES' bytes, not the
    * table's (same discipline as the file-granular MERGE). Partition
    * values survive: the packing repartitions on the table's partition
    * columns, so a partition's small files merge only with each other.
    * No-op unless at least two small files share a partition.
    *
    * File sizes come from the manifest (recorded at commit time); only
    * legacy entries without a recorded size fall back to a driver-side
    * status call per file. */
  def compactSmall(smallBytes: Long, targetBytes: Long = 0L,
      where: String = ""): Unit = withWriteLock {
    val m = requireManifest
    val scope = maintenanceScope(m, where)
    val lens: Map[String, Long] = scope.map { f =>
      f.path -> f.bytes.getOrElse(fs.getFileStatus(new Path(root, f.path)).getLen)
    }.toMap
    val victims = scope
      .filter(f => lens(f.path) < smallBytes)
      .groupBy(_.partitionValues).filter(_._2.size >= 2)
      .values.flatten.toSeq
    if (victims.nonEmpty) {
      val tgt = if (targetBytes > 0) targetBytes else smallBytes * 8
      val total = victims.iterator.map(f => lens(f.path)).sum
      val nOut = math.max(1, math.ceil(total.toDouble / tgt).toInt)
      val small = readPreservingRowIds(m, victims)
      val packed =
        if (m.partitionColumns.isEmpty) small.coalesce(nOut)
        else small.repartition(nOut, m.partitionColumns.map(c => col(s"`$c`")): _*)
      replaceFilesMaintenance(m, victims, packed, "compactSmall")
    }
  }

  /** Materialize deletion vectors (Delta's `REORG TABLE … APPLY (PURGE)`):
    * rewrite every DV-carrying file in scope to its live rows and drop the
    * DV reference — reclaiming the per-read anti-join cost and letting
    * [[vacuum]] collect the orphaned sidecars. `where` scopes the pass to
    * partitions (same contract as [[compactSmall]]). Also what makes a
    * shallow clone of a DV-carrying table self-contained. */
  def purgeDeletionVectors(where: String = ""): Unit = withWriteLock {
    val m = requireManifest
    val scope = maintenanceScope(m, where).filter(_.dv.isDefined)
    if (scope.nonEmpty)
      replaceFilesMaintenance(m, scope, readPreservingRowIds(m, scope),
        "purgeDv")
  }

  /** Multi-dimensional clustering rewrite: re-sort the table along a
    * Morton (Z-order) curve over `columns` so per-file min/max stats are
    * selective on EVERY clustered column — range predicates on any of them
    * skip files via [[filesInRange]], where a linear sort only serves its
    * leading column.
    *
    * Full-table maintenance rewrite (like Delta's OPTIMIZE ZORDER BY):
    * one quantile-sketch pass for bucket boundaries, one range
    * repartition on the z-value into `targetFiles` tasks, sorted within —
    * every file then covers a tight hyper-rectangle. Partitioned tables
    * range-partition within their partition columns first, so the rewrite
    * never mixes partition values across tasks. Readers keep snapshot
    * isolation via the atomic pointer swap. */
  def zorder(columns: Seq[String], targetFiles: Int = 0,
      where: String = ""): Unit = withWriteLock {
    val m = requireManifest
    require(columns.nonEmpty, "zorder requires at least one column")
    val scope = maintenanceScope(m, where)
    if (scope.isEmpty) return
    val df = readPreservingRowIds(m, scope)
    val bounds = ZOrder.boundaries(df, columns)
    val z = ZOrder.zValue(df, bounds).as("__gz")
    // default file count: consolidate small merge-commit files (an 8x
    // fold) but never below the cluster's parallelism — this rewrite
    // doubles as the compaction pass for z-ordered tables, and a 1-file
    // result would make per-file skipping moot
    val n =
      if (targetFiles > 0) targetFiles
      else math.max(spark.sparkContext.defaultParallelism, scope.size / 8)
    val partCols = m.partitionColumns.map(c => col(s"`$c`"))
    val keys = partCols :+ col("__gz")
    val sorted = df.withColumn("__gz", z)
      .repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__gz")
    val op = s"zorder(${columns.mkString(",")})"
    replaceFilesMaintenance(m, scope, sorted, op)
  }

  /** Declare clustering columns (Delta liquid clustering's shape):
    * writes stay untouched — layout is owed by MAINTENANCE, not the
    * ingest path — and [[cluster]] (or plain `OPTIMIZE` in SQL)
    * incrementally Z-orders whatever arrived since the last pass.
    * Clustering a partition column is rejected (constant within its
    * files, nothing to order). */
  def setClusterBy(columns: Seq[String]): Unit = withWriteLock {
    val m = requireManifest
    require(columns.nonEmpty, "setClusterBy requires at least one column")
    columns.foreach { c =>
      if (!m.schema.fieldNames.contains(c)) throw new MetadataException(
        s"setClusterBy on $rootPath: no column '$c'")
      if (m.partitionColumns.contains(c)) throw new MetadataException(
        s"setClusterBy on $rootPath.$c: partition columns are constant " +
          "within their files — clustering them orders nothing")
    }
    setTableProperties(Map(
      ManagedTable.ClusterByProp -> columns.mkString(",")))
  }

  /** `CLUSTER BY NONE`: stop clustering; existing layout stays. */
  def clearClusterBy(): Unit = withWriteLock {
    val m = requireManifest
    if (m.properties.contains(ManagedTable.ClusterByProp) ||
        m.properties.contains(ManagedTable.ClusterVersionProp))
      commitDelta(m.schemaJson, m.partitionColumns, "clusterBy none",
        base = Some(m), adds = Nil, removes = Nil,
        propertiesOverride = Some(m.properties -
          ManagedTable.ClusterByProp - ManagedTable.ClusterVersionProp))
  }

  /** The declared clustering columns (empty = none). */
  def clusterBy: Seq[String] =
    properties.get(ManagedTable.ClusterByProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** INCREMENTAL clustering pass: Z-order ONLY the files that arrived
    * since the last pass (per-file `dataVersion` vs the recorded
    * cluster watermark) and advance the watermark — O(new data) per
    * pass however large the table, which is the whole point at 100 TB:
    * steady-state maintenance cost tracks ingest rate, not table size.
    * Each pass's output overlaps earlier generations' key ranges
    * (exactly Delta liquid's tradeoff); `full = true` re-clusters the
    * entire scope into one generation when read amplification has crept
    * up. Files never clustered (no recorded dataVersion) always
    * qualify. Returns the number of files rewritten. */
  def cluster(where: String = "", full: Boolean = false,
      minFiles: Int = 1, targetFiles: Int = 0): Int = withWriteLock {
    val m = requireManifest
    val cols = clusterBy
    if (cols.isEmpty) throw new MetadataException(
      s"cluster on $rootPath: no CLUSTER BY columns declared " +
        "(setClusterBy / ALTER TABLE … CLUSTER BY first)")
    val since = m.properties.get(ManagedTable.ClusterVersionProp).map(_.toLong)
    val scope0 = maintenanceScope(m, where)
    val scope =
      if (full) scope0
      else scope0.filter(f => since match {
        case None     => true
        case Some(sv) => f.dataVersion.forall(_ > sv)
      })
    if (scope.size < minFiles.max(1)) return 0
    val df = readPreservingRowIds(m, scope)
    val bounds = ZOrder.boundaries(df, cols)
    val z = ZOrder.zValue(df, bounds).as("__gz")
    // consolidate while clustering (an incremental pass doubles as the
    // small-file compactor for its batch) but keep ≥1 file
    val n =
      if (targetFiles > 0) targetFiles else math.max(1, scope.size / 8)
    val partCols = m.partitionColumns.map(c => col(s"`$c`"))
    val keys = partCols :+ col("__gz")
    val sorted = df.withColumn("__gz", z)
      .repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__gz")
    // the watermark rides the rewrite commit itself (one version, and
    // OPTIMIZE's metrics read IT): outputs are stamped AT the watermark,
    // so the next incremental pass skips them
    replaceFilesMaintenance(m, scope, sorted,
      s"cluster(${cols.mkString(",")})",
      v => Map(ManagedTable.ClusterVersionProp -> v.toString))
    scope.size
  }

  /** Scope of a maintenance rewrite: the whole table, or — with a
    * `where` over PARTITION columns only (Delta's `OPTIMIZE … WHERE`
    * contract) — just the matching partitions' files, decided on the
    * driver from manifest partition values. A predicate touching a
    * non-partition column is an error, not a full-table surprise. */
  private def maintenanceScope(m: Manifest, where: String): Seq[TableFile] =
    if (where.trim.isEmpty) m.files
    else partitionOnlyMatches(m, expr(where)).getOrElse(
      throw new MetadataException(
        s"maintenance WHERE on $rootPath must reference partition columns " +
          s"only (got: $where)"))

  /** Export the CURRENT snapshot as a symlink-format manifest (Delta's
    * `GENERATE symlink_format_manifest`): plain-text `manifest` files
    * under `_symlink_format_manifest/` — one per partition directory for
    * partitioned tables — each listing the absolute URIs of the data
    * files that make up that partition at this version. External
    * engines without a graft reader (Presto/Trino/Athena-style Hive
    * external tables) then query a CONSISTENT snapshot by pointing at
    * the manifest directory instead of listing data paths (which would
    * see uncommitted and vacuum-pending files).
    *
    * The export is a point-in-time copy, NOT auto-maintained: re-run
    * after commits, and retain enough vacuum history that the last
    * generated snapshot's files outlive their external readers.
    * Refuses on DV-carrying snapshots (a file URI cannot express masked
    * rows — purge first) and under column mapping (external readers
    * would see physical names), exactly Delta's own limitations.
    * Returns the manifest file paths written. */
  def generateSymlinkManifest(): Seq[String] = withWriteLock {
    val m = requireManifest
    if (m.files.exists(_.dv.isDefined))
      throw new MetadataException(
        s"generateSymlinkManifest on $rootPath: snapshot carries deletion " +
          "vectors — external engines reading raw files would resurrect " +
          "masked rows; run purgeDeletionVectors() first")
    if (m.columnMapping.isDefined)
      throw new MetadataException(
        s"generateSymlinkManifest on $rootPath: column mapping is active — " +
          "data files store physical column names external readers cannot " +
          "translate")
    val symDir = new Path(root, "_symlink_format_manifest")
    // full overwrite: partitions dropped since the last export must not
    // leave stale manifests behind for external readers to find
    if (fs.exists(symDir)) fs.delete(symDir, true)
    val groups: Seq[(Path, Seq[TableFile])] =
      if (m.partitionColumns.isEmpty) Seq(symDir -> m.files)
      else m.files.groupBy(f => m.partitionColumns.map(c =>
          s"$c=${ManagedTable.hiveEscape(
            f.partitionValues.getOrElse(c, ManagedTable.NullPartitionValue))}")
          .mkString("/"))
        .toSeq.map { case (rel, fl) => new Path(symDir, rel) -> fl }
    groups.map { case (dir, fl) =>
      val content = fl.map(f =>
        fs.makeQualified(new Path(root, f.path)).toUri.toString)
        .sorted.mkString("", "\n", "\n")
      val p = new Path(dir, "manifest")
      writeFile(p, content)
      p.toString
    }.sorted
  }

  /** Roll the table back (or forward) to the state of `version` as a NEW
    * commit — no data files are copied or deleted, the new manifest simply
    * references `version`'s file set, and history above it stays readable.
    * Fails fast below the vacuum horizon (those data files are gone). */
  def restore(version: Long): Unit = withWriteLock {
    requireNotAppendOnly("RESTORE")
    val cur = requireManifest
    earliestReadableVersion.foreach(e =>
      if (version < e) throw new MetadataException(
        s"Cannot restore $rootPath to version $version: it was vacuumed " +
          s"(earliest readable version is $e)"))
    val target =
      try readManifest(version)
      catch {
        case _: java.io.FileNotFoundException => throw new MetadataException(
          s"Cannot restore $rootPath to version $version: no such version " +
            s"(current is ${cur.version})")
      }
    commitDelta(target.schemaJson, target.partitionColumns, s"restore($version)",
      base = Some(cur), adds = target.files, removes = cur.files.map(_.path))
  }

  /** Backfill per-file min/max stats AND row counts for manifest files
    * that lack them (imported tables, commits where footer reads failed).
    * Distributed above [[FileStatistics.DistributedThreshold]] files;
    * commits a new manifest version, data files untouched. No-op when
    * every file already carries both. */
  def collectStatistics(): Unit = withWriteLock {
    val m = requireManifest
    val missing = m.files.filter(f => f.stats.isEmpty || f.rows.isEmpty)
    if (missing.nonEmpty) {
      val paths = missing.map(f => new Path(root, f.path))
      val stats = FileStatistics.forPaths(
        spark, spark.sparkContext.hadoopConfiguration, paths, maxIndexedCols)
      // restate ONLY files that actually yielded metadata: a file whose
      // footer is unreadable would otherwise be restated empty forever,
      // committing a useless new version on every maintenance cycle
      val updated = missing.flatMap { f =>
        stats.get(new Path(root, f.path).toString)
          .filter(fm => fm.cols.nonEmpty || fm.rows >= 0)
          .map(fm => f.copy(
            stats = if (fm.cols.nonEmpty) fm.cols else f.stats,
            rows = if (fm.rows >= 0) Some(fm.rows) else f.rows,
            nullCounts = if (fm.nulls.nonEmpty) fm.nulls else f.nullCounts))
      }
      // restated entries travel as remove+add of the same paths
      if (updated.nonEmpty)
        commitDelta(m.schemaJson, m.partitionColumns, "collectStatistics",
          base = Some(m), adds = updated, removes = updated.map(_.path))
    }
  }

  /** Drop data/manifests outside the retention window. With the default
    * `retainVersions = 0` only the current version survives (no time
    * travel afterwards); `retainVersions = N` keeps the last N+1 versions
    * time-travelable — their snapshot files wherever they live, and the
    * manifest records each reconstructs through (incremental chains back
    * to the nearest checkpoint).
    *
    * Runs under the write lock like every other mutation: concurrent with
    * an in-flight writer it would otherwise see the pre-commit manifest
    * and delete the writer's freshly-written, not-yet-published commit
    * directory. Records the vacuum horizon so time travel below it fails
    * fast ([[readVersion]]) instead of surfacing a FileNotFoundException
    * mid-scan. */
  def vacuum(retainVersions: Int = 0, retainMs: Long = 0L): Unit = withWriteLock {
    val w = planVacuum(requireManifest, retainVersions, retainMs)
    // publish the horizon FIRST (atomically — readers are lock-free and
    // must never see a truncated file): if vacuum crashes mid-delete, the
    // fail-fast guard is already conservative instead of stale, and
    // readVersion cannot regress to an opaque mid-scan FileNotFound
    writeFileAtomic(earliestFile, w.horizon.toString)
    // deletes fan out — small batches over a bounded driver pool, large
    // ones as an executor job ([[deleteBatch]]): on an object store each
    // delete is a round-trip, so a 100 TB vacuum's millions of files must
    // not be a serial driver loop (ordering within the batch is
    // immaterial — the horizon above already fenced readers)
    val bloomItems =
      if (!fs.exists(bloomDir)) Nil
      else (w.dataDirs.flatMap(_._2) ++ w.adoptedOrphans).map { case (p, _) =>
        // bloom sidecars follow their data files' lifecycle (glob: one
        // data file may carry sidecars for several indexed columns)
        (new Path(bloomDir, s"${BloomIndex.fileKey(rel(p))}.*").toString,
          false, true)
      }
    deleteBatch(
      w.dataDirs.map { case (dir, _) => (dir.toString, true, false) } ++
        bloomItems ++
        w.dvSidecars.map(p => (p.toString, true, false)) ++
        w.adoptedOrphans.map { case (p, _) => (p.toString, false, false) })
    // roll record-embedded streaming txns forward into the vacuum-exempt
    // marker files BEFORE deleting their records: the marker write
    // trails the data commit by one crash window, so a record pruned
    // without this step could resurrect its batch as a duplicate on the
    // writer's next recovery
    val prunedTxns = w.records.collect { case (_, false, v) => v }
      .flatMap(v =>
        try recordTxn(v) catch { case _: java.io.FileNotFoundException => None })
    prunedTxns.groupBy(_.appId).foreach { case (app, txns) =>
      val floor = txns.map(_.batchId).max
      if (!getTxn(app).exists(_ >= floor)) setTxn(app, floor)
    }
    deleteBatch(w.records.map { case (p, isSidecar, _) =>
      (p.toString, isSidecar, false)
    })
    // pruned records leave the global content cache too, so a
    // below-horizon time travel in this JVM fails exactly as it would in
    // a fresh one instead of answering from a ghost
    w.records.foreach { case (p, _, _) =>
      ManagedTable.recordStringCache.invalidate(p.toString)
    }
    // crashed writers leak `.tmp.<uuid>` rename intermediates under
    // _graft (the publishing rename never ran). A LIVE writer's tmp
    // exists only for the milliseconds between write and rename, so
    // anything an hour old is dead weight — swept here, with the same
    // age guard protecting an in-flight cross-process commit
    val tmpHorizon = System.currentTimeMillis() - 3600L * 1000
    val tmpLeaks =
      if (!fs.exists(metaDir)) Nil
      else fs.listStatus(metaDir).toSeq.filter(st =>
        st.isFile && st.getPath.getName.contains(".tmp.") &&
          st.getModificationTime < tmpHorizon)
    deleteBatch(tmpLeaks.map(st => (st.getPath.toString, false, false)))
  }

  /** Delete `(path, recursive, isGlob)` work items: batches at or above
    * `spark.graft.vacuum.distributedThreshold` (default 1024) run as an
    * executor job — at millions of dead files even a wide driver pool is
    * bounded by one machine's connection count, while an executor job
    * scales deletes with the cluster — smaller ones on the driver pool. */
  private def deleteBatch(items: Seq[(String, Boolean, Boolean)]): Unit = {
    if (items.isEmpty) return
    val threshold = spark.conf
      .get("spark.graft.vacuum.distributedThreshold", "1024").toInt
    if (items.size >= threshold) {
      val ser = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext
        .parallelize(items, math.min(items.size, 512))
        .foreachPartition { it =>
          val conf = ser.value
          it.foreach(ManagedTable.deleteWorkItem(conf, _))
        }
    } else {
      val conf = spark.sparkContext.hadoopConfiguration
      deleteInParallel(items)(ManagedTable.deleteWorkItem(conf, _))
    }
  }

  /** Run `f` over `items` on a bounded thread pool (size
    * `spark.graft.vacuum.parallelism`, default 32), propagating the
    * first failure. Small batches stay on the calling thread — no pool
    * spin-up for a three-version vacuum. */
  private def deleteInParallel[T](items: Seq[T])(f: T => Unit): Unit = {
    val par = math.min(items.size,
      spark.conf.get("spark.graft.vacuum.parallelism", "32").toInt.max(1))
    if (items.size <= 2 || par <= 1) items.foreach(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val futures = items.map(i =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = f(i)
          }))
        futures.foreach(_.get()) // rethrows the task's failure
      } catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      } finally pool.shutdownNow()
    }
  }

  /** What [[vacuum]] with the same retention WOULD delete, touching
    * nothing (Delta's `VACUUM … DRY RUN`): the horizon it would publish,
    * the unreferenced commit directories, the dead DV sidecars, and the
    * manifest-record versions it would prune. Operators check the blast
    * radius before a destructive maintenance pass — at 100 TB "how many
    * bytes does this reclaim" is a planning question, not a leap of
    * faith. */
  def vacuumDryRun(retainVersions: Int = 0, retainMs: Long = 0L): VacuumPlan =
    withWriteLock {
      val w = planVacuum(requireManifest, retainVersions, retainMs)
      VacuumPlan(w.horizon, w.dataDirs.map(_._1.toString),
        w.dvSidecars.map(_.getName),
        w.records.collect { case (_, false, v) => v }.sorted,
        dataBytes = w.dataDirs.iterator
          .flatMap(_._2.iterator.map(_._2)).sum +
          w.adoptedOrphans.iterator.map(_._2).sum,
        checkpointSidecarVersions =
          w.records.collect { case (_, true, v) => v }.distinct.sorted,
        adoptedOrphans = w.adoptedOrphans.map(_._1.toString))
    }

  private final case class VacuumWork(
      horizon: Long,
      dataDirs: Seq[(Path, Seq[(Path, Long)])],  // commit dir -> parquet+len
      dvSidecars: Seq[Path],
      records: Seq[(Path, Boolean, Long)],       // path, isSidecar, version
      adoptedOrphans: Seq[(Path, Long)] = Nil)   // converted-table leftovers

  /** The pure planning half of [[vacuum]] — computes everything the
    * destructive half deletes, with no writes. Retention window: every
    * version in [current − retainVersions, current] stays
    * time-travelable (version-based — deterministic for tests and
    * operators), UNIONed with every version committed within the last
    * `retainMs` (time-based — Delta's retention contract, so "keep a
    * week" holds regardless of commit rate). The default keeps only the
    * current snapshot (the tightest vacuum). */
  private def planVacuum(m: Manifest,
      retainVersions: Int, retainMs: Long): VacuumWork = {
    val timeFloor: Long =
      if (retainMs <= 0) m.version
      else {
        val cutoff = System.currentTimeMillis() - retainMs
        history().filter(_.timestampMs >= cutoff).map(_.version)
          .minOption.getOrElse(m.version)
      }
    val floor = math.max(0L, math.min(m.version - retainVersions, timeFloor))
    val retained: Seq[Manifest] = (floor until m.version).flatMap { v =>
      try Some(readManifest(v))
      catch { case _: Exception => None } // pruned by an earlier vacuum
    } :+ m
    val horizon = retained.map(_.version).min
    val live = retained.flatMap(_.files)
      .map(f => fs.makeQualified(new Path(root, f.path)).toString).toSet
    // files ANY record still on disk references: committed-then-superseded
    // content is safe to reclaim the moment it leaves retention, but a
    // file NO record has ever named is either crash garbage or — under
    // the cross-process optimistic-commit protocol — ANOTHER writer's
    // in-flight commit whose record has not landed yet. Deleting the
    // latter would let that writer's record then publish a manifest whose
    // files are gone (undetectable corruption: its put-if-absent still
    // wins). Unknown files are therefore reclaimed only past an age
    // floor (Delta's file-retention design; conf
    // `spark.graft.vacuum.orphanMinAgeMs`, default 24 h — bound it below
    // the longest write-to-commit window of any concurrent writer).
    val known: Set[String] = live ++
      (math.max(0L, earliestReadableVersion.getOrElse(0L)) until floor)
        .iterator.flatMap { v =>
          try readManifest(v).files.iterator
            .map(f => fs.makeQualified(new Path(root, f.path)).toString)
          catch { case _: Exception => Iterator.empty }
        }
    val orphanCutoff = System.currentTimeMillis() -
      propOrConf("spark.graft.vacuum.orphanMinAgeMs",
        (24L * 3600 * 1000).toString).toLong
    def youngUnknown(dirStatus: org.apache.hadoop.fs.FileStatus,
        files: Seq[(Path, Long)]): Boolean =
      !files.exists { case (p, _) =>
        known.contains(fs.makeQualified(p).toString) } && {
        val newest = (dirStatus.getModificationTime +: files.map {
          case (p, _) =>
            try fs.getFileStatus(p).getModificationTime
            catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
        }).max
        newest > orphanCutoff
      }
    val dataDirs =
      if (!fs.exists(dataDir)) Nil
      else fs.listStatus(dataDir).toSeq.flatMap { st =>
        val commitFiles = listParquet(st.getPath)
        if (commitFiles.forall { case (p, _) =>
              !live.contains(fs.makeQualified(p).toString) } &&
            !youngUnknown(st, commitFiles))
          Some(st.getPath -> commitFiles)
        else None
      }
    // DV sidecars referenced by no retained version are garbage (a purge
    // or rewrite superseded them). Only this table's own _dv dir is
    // swept — absolute references (shallow clones into a source table)
    // resolve elsewhere and are that table's to manage. Sidecars NO
    // record names get the same unknown-file age floor as data dirs: a
    // concurrent DV DML writes its sidecar before its commit record.
    val liveDv = retained.flatMap(_.files).flatMap(_.dv)
      .map(d => fs.makeQualified(new Path(dvDir, d)).toString).toSet
    val knownDv: Set[String] = liveDv ++
      (math.max(0L, earliestReadableVersion.getOrElse(0L)) until floor)
        .iterator.flatMap { v =>
          try readManifest(v).files.iterator.flatMap(_.dv.iterator)
            .map(d => fs.makeQualified(new Path(dvDir, d)).toString)
          catch { case _: Exception => Iterator.empty }
        }
    val dvSidecars =
      if (!fs.exists(dvDir)) Nil
      else fs.listStatus(dvDir).toSeq
        .filter { st =>
          val q = fs.makeQualified(st.getPath).toString
          !liveDv.contains(q) &&
            (knownDv.contains(q) ||
              st.getModificationTime <= orphanCutoff)
        }
        .map(_.getPath)
    val needed = retained.map(_.version).toSet ++
      retained.flatMap(r => chainVersions(r.version))
    def prunable(name: String, isSidecar: Boolean): Option[Long] = {
      val v = name.stripPrefix("v")
        .stripSuffix(if (isSidecar) ManagedTable.SidecarSuffix else ".json")
      if (v.nonEmpty && v.forall(_.isDigit) &&
          v.toLong < m.version && !needed.contains(v.toLong)) Some(v.toLong)
      else None
    }
    val records =
      if (!fs.exists(manifestsDir)) Nil
      else fs.listStatus(manifestsDir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val isSidecar = name.endsWith(ManagedTable.SidecarSuffix)
        prunable(name, isSidecar).map(v => (st.getPath, isSidecar, v))
      }
    // a CONVERTED table's adopted files live OUTSIDE data/ (exactly where
    // the foreign layout put them) — once DML/compaction drops them from
    // every retained version they are garbage, and the commit-dir sweep
    // above can never reach them. Gated on the permanent convert property
    // so ordinary tables never pay the full-root listing (on a converted
    // 100 TB table the listing is the same O(files) Delta's vacuum does).
    val adoptedOrphans =
      // either marker identifies a converted table: ConvertedTableProp is
      // the always-set modern one; the partition-dirs property alone
      // covers tables converted before it existed
      if (!m.properties.get(ManagedTable.ConvertedTableProp).contains("true")
          && !m.properties.get(ManagedTable.ConvertPartitionDirsProp)
            .contains("true")) Nil
      else {
        val dataPrefix = fs.makeQualified(dataDir).toString + "/"
        listParquet(root).filter { case (p, _) =>
          val q = fs.makeQualified(p).toString
          !q.startsWith(dataPrefix) && !live.contains(q) &&
            !rel(p).split('/').exists(seg =>
              (seg.startsWith("_") || seg.startsWith(".")) &&
                !seg.contains("=")) &&
            // same unknown-file age floor as the commit-dir sweep: a
            // foreign writer mid-import may have just placed this file
            (known.contains(q) ||
              (try fs.getFileStatus(p).getModificationTime <= orphanCutoff
              catch { case scala.util.control.NonFatal(_) => false }))
        }
      }
    VacuumWork(horizon, dataDirs, dvSidecars, records, adoptedOrphans)
  }

  /** Commit history from the retained manifest records, newest first —
    * the audit surface (Delta's DESCRIBE HISTORY equivalent). Versions
    * vacuum pruned are absent; `checkpoint` marks full-snapshot records. */
  def history(): Seq[TableHistory] =
    if (!fs.exists(manifestsDir)) Nil
    else fs.listStatus(manifestsDir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json"))
      .filter(v => v.nonEmpty && v.forall(_.isDigit))
      .map(_.toLong).sorted.reverse
      .flatMap { v =>
        // lock-free like all reads: a concurrent vacuum may delete a
        // record between the listing and the read, and a crashed
        // conditional-put writer can leave a torn (zero-length or
        // truncated) one above the head — skip either, don't throw
        try Some(Manifest.recordFromJsonString(readRecordString(v)) match {
          case Left(m) => TableHistory(v, m.operation, m.timestampMs,
            checkpoint = true, metrics = m.metrics)
          case Right(inc) => TableHistory(v, inc.operation, inc.timestampMs,
            checkpoint = false, metrics = inc.metrics)
        })
        catch { case scala.util.control.NonFatal(_) => None }
      }

  // ------------------------------------------------------------- internals

  /** Reconcile a write's schema against the table's, returning the frame
    * to actually commit (possibly with columns up-cast). Three legal
    * evolutions, everything else fails at write time:
    *
    *  - NEW source columns are adopted into the manifest schema (old
    *    files read them as null) — never silent (reference warn-on-new
    *    contract, implicits.scala:28-59);
    *  - a source column NARROWER than the table's (int into a long
    *    column) is up-cast to the table type — lossless, schema stays;
    *  - a source column LOSSLESSLY WIDER than the table's (long into an
    *    int column) WIDENS the table schema: existing int32/float parquet
    *    pages are read through the wider manifest schema, a promotion the
    *    Spark 4 parquet readers perform natively (same widening matrix as
    *    Delta's type-widening feature; long→double is NOT widening —
    *    above 2⁵³ it loses precision).
    *
    * Any other type change would make existing files unreadable under the
    * new manifest schema — fail instead of committing it. */
  private def reconcileSchema(df: DataFrame, m: Manifest): DataFrame = {
    import org.apache.spark.sql.types._
    import ManagedTable.widens
    val targetFields = m.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val srcFields0 = df.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    // a missing column WITH a current default fills instead of erroring
    // (Spark/Delta column-default write semantics; a PRESENT column is
    // never touched — explicit NULLs stay NULL)
    val (fillable, df1) = (targetFields.keySet -- srcFields0.keySet).toSeq
      .sorted.foldLeft((Set.empty[String], df)) { case ((done, d), n) =>
        val tf = targetFields(n)
        if (tf.metadata.contains("CURRENT_DEFAULT"))
          (done + n, d.withColumn(tf.name,
            expr(tf.metadata.getString("CURRENT_DEFAULT")).cast(tf.dataType)))
        else (done, d)
      }
    val srcFields = srcFields0 ++ fillable.map(n => n -> targetFields(n))
    val missing = targetFields.keySet -- srcFields.keySet
    if (missing.nonEmpty)
      throw new MetadataException(
        s"Source is missing target column(s): ${missing.toSeq.sorted.mkString(", ")}")
    // the materialized row-ID/commit-version columns ride rewrite
    // content without ever entering the table schema — not drift
    val added = srcFields.keySet -- targetFields.keySet -
      ManagedTable.MatRowIdCol.toLowerCase -
      ManagedTable.MatRowCvCol.toLowerCase
    if (added.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(classOf[ManagedTable]).warn(
        s"Schema drift on $rootPath: adopting new column(s) " +
          s"${added.toSeq.sorted.map(srcFields(_).name).mkString(", ")} " +
          "into the table schema; rows in existing files read them as null")
    // nested-type comparison must ignore nullability flags: a parquet
    // round-trip flips array containsNull / struct-field nullable (the
    // reader infers them from encoding), so a DELETE/UPDATE rewrite of an
    // array<int> column would otherwise self-detect as a type change and
    // make every DML on nested-typed tables impossible
    def normType(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = {
      import org.apache.spark.sql.types._
      dt match {
        case s: StructType => StructType(s.fields.map(f => f.copy(
          dataType = normType(f.dataType), nullable = true,
          metadata = org.apache.spark.sql.types.Metadata.empty)))
        case a: ArrayType => ArrayType(normType(a.elementType), true)
        case m: MapType => MapType(normType(m.keyType), normType(m.valueType), true)
        case x => x
      }
    }
    val shared = targetFields.collect {
      case (n, tf) if normType(srcFields(n).dataType) != normType(tf.dataType) =>
        (n, tf, srcFields(n))
    }
    val illegal = shared.collect {
      case (_, tf, sf)
          if !widens(sf.dataType, tf.dataType) && !widens(tf.dataType, sf.dataType) =>
        s"${tf.name} (${tf.dataType.simpleString} -> ${sf.dataType.simpleString})"
    }
    if (illegal.nonEmpty)
      throw new MetadataException(
        s"Source changes column type(s): ${illegal.toSeq.sorted.mkString(", ")}")
    val upcasts = shared.collect {
      case (_, tf, sf) if widens(sf.dataType, tf.dataType) => sf.name -> tf.dataType
    }
    val widened = shared.collect {
      case (_, tf, sf) if widens(tf.dataType, sf.dataType) =>
        s"${tf.name} (${tf.dataType.simpleString} -> ${sf.dataType.simpleString})"
    }
    if (widened.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(classOf[ManagedTable]).warn(
        s"Schema drift on $rootPath: widening column type(s) " +
          s"${widened.toSeq.sorted.mkString(", ")}; existing files are read " +
          "through the wider schema")
    val upcasted = upcasts.foldLeft(df1) { case (d, (name, to)) =>
      d.withColumn(name, col(s"`$name`").cast(to))
    }
    // the committed schema comes from THIS frame — target-owned field
    // metadata (column defaults &c.) must survive a source that
    // (naturally) carries none, or every write would silently strip it
    targetFields.values.foldLeft(upcasted) { case (d, tf) =>
      if (tf.metadata == org.apache.spark.sql.types.Metadata.empty) d
      else d.withColumn(tf.name, col(s"`${tf.name}`").as(tf.name, tf.metadata))
    }
  }

  /** Extend an ACTIVE column mapping with entries for fields `schema`
    * introduces (an inactive mapping stays inactive — physical stays
    * logical until the first rename/drop). A new field whose name is
    * reserved — in use as another column's physical, or retired by a
    * drop — gets a uniquified physical name instead, so old files'
    * bytes can never resurface under a re-added name. */
  private def extendMapping(cm: Option[ColumnMapping],
      schema: org.apache.spark.sql.types.StructType): Option[ColumnMapping] =
    cm.map { c =>
      val missing = schema.fieldNames.toSeq.filterNot(c.byLogical.contains)
      if (missing.isEmpty) c
      else {
        var taken = c.reserved
        val added = missing.map { n =>
          val p =
            if (!taken(n)) n
            else s"$n-${UUID.randomUUID().toString.take(8)}"
          taken += p
          n -> p
        }
        c.copy(byLogical = c.byLogical ++ added)
      }
    }

  /** Write `df` as immutable files under a fresh commit dir; return the
    * created [[TableFile]]s with their partition values. One distributed
    * write job regardless of partition count, and that job is also the
    * check: it counts the rows violating each of `constraints` (none for
    * maintenance rewrites) and any `guards` the caller attached to parts
    * of `df`. On a violation the commit dir is deleted and the error
    * thrown, before any commit record exists. The caller's `observed`
    * counts (a MERGE's) are awaited there too: counts that never arrive
    * fail the write, not an operation a retry would apply twice. */
  private def writeCommit(df: DataFrame, partitionBy: Seq[String],
      cm: Option[ColumnMapping], constraints: Map[String, String],
      operation: String,
      guards: Seq[(RowCounts, String => ConstraintViolationException)] = Nil,
      observed: Seq[RowCounts] = Nil,
      preserveLayout: Boolean = false): Seq[TableFile] = {
    val checks = new RowCounts(
      if (ConstraintExemptOps.exists(operation.startsWith)) Nil
      else constraints.toSeq.map { case (n, e) => n -> violates(e) })
    val checked = checks.on(df)
    // data files store PHYSICAL column names (no-op while mapping is
    // inactive); stats and bloom sidecars key by them too, so a later
    // rename invalidates nothing
    val phys = cm.fold(checked)(c => checked.select(
      checked.columns.toSeq.map(n => col(s"`$n`").as(c.physical(n))): _*))
    val commitDir = new Path(dataDir, UUID.randomUUID().toString)
    val files = writeCommitFiles(phys, partitionBy.map(c =>
      cm.fold(c)(_.physical(c))), commitDir, preserveLayout)
    val allChecks = (checks, (n: String) =>
      constraintViolated(n, constraints(n), operation)) +: guards
    try {
      observed.foreach(_.counts)
      allChecks.iterator.flatMap { case (c, error) =>
        c.counts.collect { case (n, k) if k > 0 => error(n) } }
        .nextOption().foreach(e => throw e)
    } catch { case e: Exception => fs.delete(commitDir, true); throw e }
    // bloom sidecars ride the commit's files (one distributed pass over
    // just-written data, indexed columns only); a failed build degrades
    // to "no sidecar → file kept", so it must never fail the commit
    val idx = bloomIndexes
    if (idx.nonEmpty)
      try BloomIndex.build(spark, fs, root, bloomDir, files, phys.schema, idx,
        fileUriLookup(files))
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(classOf[ManagedTable]).warn(
            s"bloom sidecar build failed for commit into $rootPath " +
              "(skipping stays conservative for these files)", e)
      }
    files
  }

  /** Committer knobs for commit-dir writes. The fresh `data/<uuid>/` dir is
    * invisible until the manifest references it (a failed job drops the
    * whole dir), so the v1 committer's crash-safety — a driver-side,
    * SEQUENTIAL O(files) rename pass at job commit, the classic commit
    * bottleneck on object stores — buys nothing here. v2 renames at task
    * commit (parallel, executor-side; the commit coordinator still admits
    * one attempt per task), and the `_SUCCESS` marker is skipped because
    * the manifest, not a marker file, is this table's commit record. */
  private val commitWriteOpts = Map(
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** AQE-sized rebalance before a delta-producing write — small frames
    * coalesce to a handful of advisory-sized files instead of one tiny
    * file per upstream partition (32 sub-64KB files per MERGE/CDC/DV
    * commit measured at sf0.1), large frames still write wide (the
    * exchange is proportional to bytes written, never a scale hazard).
    * OPT-IN via the `spark.graft.write.rebalance` table property / conf,
    * mirroring `graft.write.optimize`'s finding on the partitioned path:
    * on local disk the extra exchange costs more than the per-file
    * constants it saves (A/B at sf0.1: 17.5 s vs 16.0 s over the nine
    * write-heavy bench queries), while on object stores — where every
    * file is a PUT + a LIST entry and manifests amplify reads — it is
    * the Delta optimized-write default for exactly these DML paths.
    * No-op when AQE is off (a blind round-robin exchange would resize
    * nothing). */
  private def rebalanced(df: DataFrame): DataFrame =
    if (propOrConf("spark.graft.write.rebalance", "false").toBoolean &&
        spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean)
      df.hint("rebalance")
    else df

  private def writeCommitFiles(
      df: DataFrame, partitionBy: Seq[String], commitDir: Path,
      preserveLayout: Boolean): Seq[TableFile] = {
    val writer = if (partitionBy.isEmpty) {
      // AQE-sized rebalance (Delta optimized-write's shape for DML): a
      // small-delta commit — MERGE/UPDATE/DELETE rewrite, CDC upsert,
      // matview refresh — otherwise emits one tiny file PER UPSTREAM
      // PARTITION (measured: 32 sub-64KB files per commit at sf0.1;
      // per-file open/footer/rename constants dominate the write, and at
      // 100 TB the same commits bloat the manifest and read-amplify every
      // downstream scan). REBALANCE is a round-robin exchange AQE resizes
      // to the advisory partition size at runtime, so small deltas
      // coalesce to a handful of right-sized files while a genuinely
      // large frame still writes wide — the shuffle's cost is
      // proportional to the bytes written, never a scale hazard. Skipped
      // when the caller owns the layout (maintenance rewrites: zorder /
      // cluster / compact pre-sorted their frame), when AQE is off (a
      // blind exchange would fix nothing), or via the
      // spark.graft.write.rebalance table property / conf escape hatch.
      (if (preserveLayout) df else rebalanced(df)).write
    } else {
      val dirCols = partitionBy.map(c => s"__gp_$c")
      val withDirCols0 = partitionBy.zip(dirCols).foldLeft(df) {
        case (d, (c, dc)) => d.withColumn(dc, col(s"`$c`").cast("string"))
      }
      // optimized write (Delta optimizeWrite equivalent, opt-in via the
      // graft.write.optimize table property / conf): shuffle rows onto
      // their partition values before the write, so a commit produces
      // O(partitions × filesPerPartition) files instead of O(upstream
      // tasks × partitions) — the classic small-file explosion a
      // 1000-task job writing 1000 partitions otherwise commits (1M
      // files). `filesPerPartition > 1` salts the shuffle so one giant
      // partition still writes in parallel. Opt-in because a caller that
      // pre-clustered its frame (cluster_by row-group locality) must
      // keep its own layout.
      val withDirCols =
        if (propOrConf("spark.graft.write.optimize", "false").toBoolean) {
          val saltN = propOrConf(
            "spark.graft.write.filesPerPartition", "1").toInt
          val keys = dirCols.map(c => col(s"`$c`")) ++
            (if (saltN > 1)
              Seq(pmod(hash(df.columns.map(c => col(s"`$c`")): _*),
                lit(saltN)))
            else Nil)
          withDirCols0.repartition(keys: _*)
        } else withDirCols0
      withDirCols.write.partitionBy(dirCols: _*)
    }
    Phase("write")(writer.options(commitWriteOpts).parquet(commitDir.toString))
    val listed = Phase("list")(listParquet(commitDir))
    val stats = Phase("footerStats")(FileStatistics.forPaths(spark,
      spark.sparkContext.hadoopConfiguration, listed.map(_._1), maxIndexedCols))
    // sizes come free with the post-write listing (Delta records
    // AddFile.size the same way): maintenance and streaming admission
    // control then price files from the manifest, zero extra RPCs
    listed.map { case (p, len) =>
      val relPath = rel(p)
      // partition values from the `__gp_<col>=<value>` directories
      val pv = if (partitionBy.isEmpty) Map.empty[String, String]
        else relPath.split('/').iterator.filter(_.contains("=")).map { seg =>
          val Array(k, v) = seg.split("=", 2)
          k.stripPrefix("__gp_") -> hiveUnescape(v)
        }.toMap
      val fm = stats.getOrElse(p.toString, FileStatistics.FileMeta(Map.empty, -1L))
      TableFile(relPath, pv, fm.cols, if (fm.rows >= 0) Some(fm.rows) else None,
        Some(len), nullCounts = fm.nulls)
    }
  }

  private def listParquet(dir: Path): Seq[(Path, Long)] = {
    // local fast path: walk with raw NIO (one readdir+stat per entry).
    // Hadoop's checksummed LocalFileSystem pays per-entry wrapper costs
    // (LocatedFileStatus construction, CRC-twin filtering, block-location
    // stubs) that measured 100-300 ms per commit listing on partitioned
    // writes — a fixed tax on EVERY commit that NIO does in single-digit
    // ms. Remote stores keep the Hadoop listing (their listFiles is one
    // bulk RPC per page, already optimal).
    if ("file" == fs.getUri.getScheme) {
      val base = java.nio.file.Paths.get(dir.toUri.getPath)
      val buf = Seq.newBuilder[(Path, Long)]
      // FOLLOW_LINKS: the Hadoop listing this path replaces follows
      // symlinks, and convertInPlace adopts external local layouts where
      // symlinked partition dirs are plausible — default (no-follow)
      // would silently omit their files from the converted table and
      // under-list vacuum's data-dir sweep. walkFileTree raises
      // FileSystemLoopException on a cycle, surfacing the broken layout
      // instead of spinning.
      if (java.nio.file.Files.isDirectory(base))
        java.nio.file.Files.walkFileTree(base,
          java.util.EnumSet.of(java.nio.file.FileVisitOption.FOLLOW_LINKS),
          Integer.MAX_VALUE,
          new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
            override def visitFile(f: java.nio.file.Path,
                attrs: java.nio.file.attribute.BasicFileAttributes)
                : java.nio.file.FileVisitResult = {
              if (f.getFileName.toString.endsWith(".parquet"))
                buf += new Path(f.toUri) -> attrs.size()
              java.nio.file.FileVisitResult.CONTINUE
            }
          })
      buf.result()
    } else {
      val it = fs.listFiles(dir, true)
      val buf = Seq.newBuilder[(Path, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) buf += st.getPath -> st.getLen
      }
      buf.result()
    }
  }

  private def rel(p: Path): String = {
    val rootUri = fs.makeQualified(root).toUri.getPath
    val pUri = fs.makeQualified(p).toUri.getPath
    pUri.stripPrefix(rootUri).stripPrefix("/")
  }

  /** Undo Spark's hive-style escaping of partition directory values. */
  private def hiveUnescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) { // two hex chars must follow '%'
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }

  /** Publish a new version. With a base snapshot, the record is an
    * incremental delta — O(touched files) written, not O(table) — unless
    * the version lands on a checkpoint boundary (or the delta is as big as
    * the snapshot), where a full record bounds reconstruction chains. */
  private def commitDelta(
      schemaJson: String,
      partitionBy: Seq[String],
      operation: String,
      base: Option[Manifest],
      adds: Seq[TableFile],
      removes: Seq[String],
      txn: Option[Txn] = None,
      constraintsOverride: Option[Map[String, String]] = None,
      // None = inherit the base's column mapping; Some(x) = publish x
      // (rename/drop/activation set it, full overwrite resets with
      // Some(None) — surviving files are gone, so no translation remains)
      mappingOverride: Option[Option[ColumnMapping]] = None,
      generatedOverride: Option[Map[String, String]] = None,
      propertiesOverride: Option[Map[String, String]] = None): Unit =
    Phase("commitDelta") {
    val next = Phase("cd:version")(currentVersion).map(_ + 1).getOrElse(0L)
    // stale-base guard: the put-if-absent record create below only
    // detects a rival racing for the SAME version number. A rival whose
    // full commit (record + pointer) landed inside this transaction's
    // data-write window moves the pointer forward, so this commit would
    // get a FRESH version number built on a STALE base — silently
    // dropping the rival's files from the new snapshot. Any interleaved
    // commit invalidates what this transaction read, so fail (blind
    // appends catch and rebase; everything else surfaces the conflict).
    base.foreach(b => if (b.version + 1 != next)
      throw new ConcurrentWriteException(
        s"concurrent commit detected at $rootPath: transaction based on " +
          s"version ${b.version} but the table is at ${next - 1} — " +
          "another writer committed in between"))
    // txn replay guard — the exactly-once check ATOMIC with arbitration.
    // Callers' pre-commit replay probes (streaming sink, matview refresh)
    // race a concurrent writer applying the SAME batch: if the rival's
    // commit lands BETWEEN a probe and this commit's data write, this
    // commit arrives here on a clean, current base (the stale-base guard
    // above cannot see it) and would re-apply the batch — a silent
    // double-count. The state checked here is at least as new as `next`'s
    // predecessor, and winning the record arbitration below proves no
    // commit interleaved after `next` was read — so a duplicate can
    // never slip through. (Walk cost is O(versions since the app's last
    // txn): apps that embed txns do so on most of their commits.)
    txn.foreach { t =>
      val recorded = (getTxn(t.appId) ++ newestRecordTxn(t.appId))
        .reduceOption(_ max _)
      if (recorded.exists(_ >= t.batchId))
        throw new ConcurrentWriteException(
          s"transaction ${t.appId}#${t.batchId} is already recorded at " +
            s"$rootPath (newest ${recorded.get}): a concurrent writer " +
            "applied this batch — surfacing the race instead of " +
            "re-applying it", null, retryable = false)
      // anchor fence for state-derived batches: a rival that applied a
      // SHORTER overlapping interval has a lower batchId than ours, so
      // the duplicate check above passes — but the anchor this batch's
      // content was computed from no longer matches the recorded txn,
      // and applying it would re-fold the overlap. Only writers that set
      // expectedPrev pay this check (see [[Txn]]).
      t.expectedPrev.foreach { prev =>
        if (recorded.getOrElse(-1L) != prev)
          throw new ConcurrentWriteException(
            s"transaction ${t.appId}#${t.batchId} was derived from " +
              s"recorded txn $prev but $rootPath now records " +
              s"${recorded.getOrElse(-1L)}: a concurrent writer advanced " +
              "the anchor — recompute the batch from the new state",
            null, retryable = false)
      }
    }
    // in-commit timestamp monotonicity (Delta's inCommitTimestamps): a
    // wall clock stepped backwards (NTP correction, VM migration) must
    // not record version n+1 as OLDER than n — timestampAsOf resolves by
    // "newest version at or before t", which a regression would corrupt
    // silently. Clamp to strictly-after-predecessor (the head's record is
    // always retained, so the read is cache-warm; base-less overwrites
    // clamp too); the recorded instant may then lead the wall clock by
    // the regression amount, which only shifts readTimestamp boundaries,
    // never reorders them.
    // (single RECORD read, never a chain reconstruction — only the
    // predecessor's own timestamp matters, and both record kinds carry it)
    val priorTs: Option[Long] = base.map(_.timestampMs).orElse(
      if (next == 0) None
      else
        try Some(Option(snapshotCache.get(next - 1)).map(_.timestampMs)
          .getOrElse(Manifest.recordFromJsonString(
            readRecordString(next - 1)).fold(_.timestampMs, _.timestampMs)))
        catch { case scala.util.control.NonFatal(_) => None })
    val now = priorTs.fold(System.currentTimeMillis())(p =>
      math.max(System.currentTimeMillis(), p + 1))
    val removed = removes.toSet
    val survivors = base.map(_.files.filterNot(f => removed.contains(f.path)))
      .getOrElse(Nil)
    // constraints carry forward unless this commit changes them
    val cs = constraintsOverride
      .getOrElse(base.map(_.constraints).getOrElse(Map.empty))
    val cm = mappingOverride
      .getOrElse(base.flatMap(_.columnMapping))
    // generated-column rules carry forward unless this commit changes them
    val gs = generatedOverride
      .getOrElse(base.map(_.generated).getOrElse(Map.empty))
    // table properties carry forward unless this commit changes them
    val ps0 = propertiesOverride
      .getOrElse(base.map(_.properties).getOrElse(Map.empty))
    // row tracking: every added entry without a base row ID gets a fresh
    // contiguous range from the high watermark (entries carried through
    // rewrites — DV re-commits, restores — keep theirs). Pure driver
    // arithmetic, idempotent across commit-race retries (nothing persists
    // until the record create wins). Files without a recorded row count
    // stay unallocated — readWithRowIds refuses them loudly rather than
    // inventing overlapping ranges.
    val rowTracking = ps0.get(ManagedTable.RowTrackingEnabledProp).contains("true")
    // every entry new to this commit is stamped with its commit version
    // (Delta's defaultRowCommitVersion) — entries carried through
    // re-commits (DV re-masks, restores, rebased maintenance) keep the
    // version that introduced their content. An unstamped add whose path
    // ALREADY exists in the base manifest is a carried legacy entry
    // (pre-dataVersion build, re-added verbatim by enableRowTracking /
    // restore): stamping it here would lift its rows past an ADD COLUMN
    // DEFAULT's sinceVersion and silently flip them from EXISTS_DEFAULT
    // to NULL — preserve "unknown" so the defaults predicate keeps
    // substituting.
    val basePaths = base.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    val stamped = adds.map(f =>
      if (f.dataVersion.isDefined || basePaths.contains(f.path)) f
      else f.copy(dataVersion = Some(next)))
    val (allocated, ps) =
      if (!rowTracking) (stamped, ps0)
      else {
        var hw = ps0.get(ManagedTable.RowTrackingWatermarkProp)
          .map(_.toLong).getOrElse(0L)
        val out = stamped.map { f =>
          if (f.baseRowId.isDefined) f
          else f.rows match {
            case Some(n) => val b = hw; hw += n; f.copy(baseRowId = Some(b))
            case None    => f
          }
        }
        (out, ps0 + (ManagedTable.RowTrackingWatermarkProp -> hw.toString))
      }
    val newFiles = survivors ++ allocated
    // per-commit operation metrics (Delta's operationMetrics): free
    // driver arithmetic over entries already in hand; row/byte sums only
    // when every added entry carries the stat (a partial sum would lie)
    val metrics = Map(
      "filesAdded" -> allocated.size.toLong,
      "filesRemoved" -> removes.size.toLong) ++
      (if (allocated.nonEmpty && allocated.forall(_.rows.isDefined))
        Map("rowsAdded" -> allocated.flatMap(_.rows).sum) else Map.empty) ++
      (if (allocated.nonEmpty && allocated.forall(_.bytes.isDefined))
        Map("bytesAdded" -> allocated.flatMap(_.bytes).sum) else Map.empty)
    val checkpoint = base.isEmpty ||
      next % Manifest.CheckpointInterval == 0 ||
      allocated.size + removes.size >= newFiles.size // delta wouldn't be smaller
    val (recordJson, snapshot) = Phase("cd:serialize") {
      if (checkpoint) {
        val m = Manifest(next, schemaJson, partitionBy, newFiles, operation, now,
          txn = txn, constraints = cs, metrics = metrics, columnMapping = cm,
          generated = gs, properties = ps)
        if (newFiles.size >= parquetCheckpointThreshold) {
          // large-table checkpoint: the file list goes to a parquet sidecar
          // written as a distributed dataset BEFORE the record that points
          // to it — a driver-serialized JSON of O(table) file entries is
          // the scaling wall at ~1M files, the sidecar is not
          val ref = f"v$next%020d${ManagedTable.SidecarSuffix}"
          writeSidecarFiles(ref, newFiles)
          (m.copy(files = Nil, filesRef = Some(ref)).toJsonString, m)
        } else (m.toJsonString, m)
      } else {
        val inc = IncrementalManifest(next, schemaJson, partitionBy,
          base.get.version, allocated, removes, operation, now, txn = txn,
          constraints = cs, metrics = metrics, columnMapping = cm,
          generated = gs, properties = ps)
        (inc.toJsonString,
          Manifest(next, schemaJson, partitionBy, newFiles, operation, now,
            txn = txn, constraints = cs, metrics = metrics, columnMapping = cm,
            generated = gs, properties = ps))
      }
    }
    fs.mkdirs(manifestsDir)
    // the record create is the commit ARBITER (Delta's log-file
    // put-if-absent): `create(overwrite = false)` is atomic on HDFS-like
    // stores, so of two processes racing to commit version `next`,
    // exactly one wins and the loser gets a ConcurrentWriteException
    // instead of silently orphaning the winner's files via a last-
    // pointer-wins overwrite. In-JVM writers never hit this (they
    // serialize on the table lock); it fires only for a cross-process
    // writer violating the single-writer deployment contract — turning
    // undetected data loss into a retryable error.
    val recordPath = new Path(manifestsDir, f"v$next%020d.json")
    Phase("cd:record")(writeFileNoOverwrite(recordPath, recordJson))
    // a successful put-if-absent CREATE proves any cached content under
    // this path belonged to a dead table generation (the directory was
    // deleted out-of-band and the version numbers restarted) — refresh
    // the global cache with the new truth; this also saves the read-back
    // every later reconstruction of this version would pay
    ManagedTable.recordStringCache.put(
      fs.makeQualified(recordPath).toString, recordJson)
    snapshotCache.put(next, snapshot)
    // atomic pointer swap: tmp write + rename-with-overwrite
    Phase("cd:pointer")(writeFileAtomic(pointerFile, next.toString))
    Phase("registerCatalog")(registerCatalog())
  }

  /** File count at/above which checkpoint file lists are externalized to
    * parquet sidecars (distributed write + columnar parse) instead of
    * inline JSON. */
  private def parquetCheckpointThreshold: Int =
    propOrConf("spark.graft.manifest.parquetCheckpointThreshold", "50000").toInt

  private def sidecarSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("stats", MapType(StringType, StructType(Seq(
        StructField("t", StringType),
        StructField("min", StringType),
        StructField("max", StringType))))),
      // nullable: sidecars written before these fields existed read as null
      StructField("rows", LongType),
      StructField("bytes", LongType),
      StructField("dv", StringType),
      StructField("dvRows", LongType),
      StructField("baseRow", LongType),
      StructField("dataV", LongType),
      StructField("nullCounts", MapType(StringType, LongType))))
  }

  private def writeSidecarFiles(name: String, files: Seq[TableFile]): Unit = {
    import org.apache.spark.sql.Row
    val rows = files.map(f => Row(f.path, f.partitionValues,
      f.stats.map { case (c, s) => c -> Row(s.typ, s.min, s.max) },
      f.rows.map(Long.box).orNull,
      f.bytes.map(Long.box).orNull,
      f.dv.orNull,
      f.dvRows.map(Long.box).orNull,
      f.baseRowId.map(Long.box).orNull,
      f.dataVersion.map(Long.box).orNull,
      if (f.nullCounts.isEmpty) null else f.nullCounts))
    // ~100k entries per task keeps sidecar files O(10 MB)
    val parts = math.max(1, files.size / 100000)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, parts), sidecarSchema)
      .write.mode("overwrite").options(commitWriteOpts)
      .parquet(new Path(manifestsDir, name).toString)
  }

  private def readSidecarFiles(name: String): Seq[TableFile] =
    spark.read.schema(sidecarSchema)
      .parquet(new Path(manifestsDir, name).toString)
      .collect().toSeq.map { r =>
        val pv = Option(r.getMap[String, String](1))
          .map(_.toMap).getOrElse(Map.empty)
        val st = Option(r.getMap[String, org.apache.spark.sql.Row](2))
          .map(_.toMap).getOrElse(Map.empty)
        TableFile(r.getString(0), pv,
          st.map { case (c, s) =>
            c -> ColStats(s.getString(0), s.getString(1), s.getString(2)) },
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          Option(r.getString(5)),
          if (r.isNullAt(6)) None else Some(r.getLong(6)),
          if (r.isNullAt(7)) None else Some(r.getLong(7)),
          if (r.isNullAt(8)) None else Some(r.getLong(8)),
          if (r.isNullAt(9)) Map.empty[String, Long]
          else r.getMap[String, Long](9).toMap)
      }

  private def writeFile(p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The store-matched atomic-publish primitives (see [[CommitArbiter]]):
    * `auto` picks the POSIX syscall path for `file:` tables (~0.05 ms
    * per publish vs ~18 ms through the checksummed FileContext — the
    * commit-latency constant of every commit and streaming micro-batch)
    * and the rename path for everything else; object-store deployments
    * select `condput`. */
  private lazy val arbiter: CommitArbiter =
    spark.conf.get("spark.graft.commit.arbiter", "auto") match {
      case "rename"  => new RenameCommitArbiter(fs, fileContext, metaDir)
      case "posix"   => new PosixCommitArbiter(metaDir)
      case "condput" => new ConditionalPutCommitArbiter(fs)
      case _ =>
        val scheme = fs.makeQualified(root).toUri.getScheme
        if (scheme == null || scheme == "file") new PosixCommitArbiter(metaDir)
        else new RenameCommitArbiter(fs, fileContext, metaDir)
    }

  /** Put-if-absent publish of a commit record, ALL-OR-NOTHING in content:
    * an existing record is always COMPLETE — a writer can crash before,
    * or after, but never inside it. That is what lets
    * [[healOrphanRecord]] safely roll a crashed writer's published
    * record forward instead of demanding manual repair. The atomic
    * arbiter contract: of two processes racing for version `next`, one
    * wins, the loser gets a [[ConcurrentWriteException]]. */
  private def writeFileNoOverwrite(p: Path, content: String): Unit =
    arbiter.putIfAbsent(p, content)

  /** Publish a small metadata file atomically, so lock-free readers
    * never observe a truncated file. */
  private def writeFileAtomic(target: Path, content: String): Unit =
    arbiter.putAtomic(target, content)
}

/** One [[ManagedTable.history]] entry. */
final case class TableDetail(
    version: Long,
    numFiles: Long,
    rows: Option[Long],
    sizeBytes: Long,
    partitionColumns: Seq[String],
    operation: String,
    timestampMs: Long,
    clusteringColumns: Seq[String] = Nil)

/** What a [[ManagedTable.vacuum]] with the same retention would delete
  * ([[ManagedTable.vacuumDryRun]]): the horizon it would publish, the
  * unreferenced commit DIRECTORIES (absolute paths), the dead
  * deletion-vector sidecar names, and the manifest-record versions it
  * would prune. */
final case class VacuumPlan(
    horizon: Long,
    dataDirs: Seq[String],
    dvSidecars: Seq[String],
    recordVersions: Seq[Long],
    /** Parquet bytes the commit-directory deletions reclaim ("how much
      * does this vacuum buy" — metadata-only, no data read). */
    dataBytes: Long = 0L,
    /** Versions whose parquet checkpoint SIDECAR directories vacuum also
      * removes — listed separately from [[recordVersions]] so the dry
      * run enumerates the full blast radius, not just the JSON records. */
    checkpointSidecarVersions: Seq[Long] = Nil,
    /** Converted-table files (outside `data/`) no retained version
      * references — the in-place adoption's leftovers vacuum reclaims. */
    adoptedOrphans: Seq[String] = Nil)

/** One audit row of [[ManagedTable.history]] (DESCRIBE HISTORY
  * equivalent). `metrics` is what the COMMIT did — filesAdded /
  * filesRemoved always, rowsAdded / bytesAdded when every added entry
  * carried the stat (empty for pre-metrics records). */
final case class TableHistory(
    version: Long, operation: String, timestampMs: Long, checkpoint: Boolean,
    metrics: Map[String, Long] = Map.empty)

/** Thrown when a write contains a row for which an active CHECK
  * constraint evaluates FALSE. The transaction wrote no manifest record:
  * readers still see the previous version. */
final class ConstraintViolationException(msg: String)
  extends graft.metadata.MetadataException(msg)

/** Thrown when the put-if-absent commit-record create loses to another
  * writer's record for the same version — a cross-process writer raced
  * this commit. The transaction wrote no pointer: readers still see the
  * previous version, and the caller may re-read the table and retry.
  *
  * `retryable = false` marks conflicts a rebase can NEVER clear: the txn
  * replay guard and anchor fence (recorded txns only advance, so a
  * duplicate batch stays duplicate on every re-read). Rebase loops fail
  * fast on those instead of burning their full retry budget re-reading
  * manifests for an outcome that cannot change. */
final class ConcurrentWriteException(msg: String, cause: Throwable = null,
    val retryable: Boolean = true)
  extends graft.metadata.MetadataException(msg, cause)

object ManagedTable {

  /** Bounded recommit attempts for a blind append that lost a
    * cross-process commit race (an orphan record never resolves —
    * retrying forever would hang the writer on operator error). */
  val MaxAppendRetries = 5

  /** Deletion-vector positions up to which a masked read or DV DML
    * broadcasts the DV side of its anti-join (~16 B each, so ≲ 64 MB). */
  private[tables] val DvBroadcastMaxPositions = 4000000L

  /** JVM-global cache of manifest-record file CONTENTS keyed by the
    * record's fully-qualified path. Records are immutable once published
    * (created put-if-absent, never rewritten), so sharing across
    * ManagedTable instances is safe — and instances are plentiful: one
    * per query step, per [[graft.sources.GraftRelation]] scan, per
    * stream batch. Without this, every fresh instance re-reads the whole
    * base chain up to its checkpoint; with it, a chain costs one storage
    * round trip per NEW record JVM-wide (on an object store that is the
    * difference between O(instances × chain) and O(records) GETs).
    * Byte-bounded LRU; oversized records skip it (sidecar-threshold
    * tables externalize their file lists anyway). Vacuum invalidates the
    * records it prunes. */
  private[tables] val recordStringCache =
    new RecordCache(maxBytes = 64L << 20, maxEntryBytes = 4L << 20)

  private[tables] final class RecordCache(maxBytes: Long,
      maxEntryBytes: Long) {
    private var bytes = 0L
    private val map =
      new java.util.LinkedHashMap[String, String](256, 0.75f, true)
    def get(k: String): String = synchronized(map.get(k))
    def put(k: String, v: String): Unit = synchronized {
      if (v.length * 2L > maxEntryBytes) return
      val old = map.put(k, v)
      if (old != null) bytes -= old.length * 2L
      bytes += v.length * 2L
      val it = map.entrySet().iterator()
      while (bytes > maxBytes && it.hasNext) {
        val e = it.next()
        bytes -= e.getValue.length * 2L
        it.remove()
      }
    }
    def invalidate(k: String): Unit = synchronized {
      val old = map.remove(k)
      if (old != null) bytes -= old.length * 2L
    }
    def clear(): Unit = synchronized { map.clear(); bytes = 0L }
  }

  /** Test hook: drop the global record cache after OUT-OF-BAND record
    * mutation (specs simulating legacy-library or corrupted logs). The
    * engine never mutates a published record, so production code never
    * needs this — a real deployment doing such surgery restarts its
    * drivers anyway. */
  private[graft] def clearRecordCache(): Unit = recordStringCache.clear()

  /** Directory marker Spark uses for null partition values. */
  val NullPartitionValue = "__HIVE_DEFAULT_PARTITION__"

  /** Table property marking a table adopted from a hive-layout parquet
    * directory ([[ManagedTable.convertInPlace]]): its imported files
    * carry partition values only in their DIRECTORY names (engine-written
    * files always store them in the data too), so snapshot reads
    * attach them from the manifest's per-file partition values and
    * deletion vectors stay disabled (the DV scan does not attach them). */
  val ConvertPartitionDirsProp = "graft.convert.partitionDirs"

  /** Permanent marker on every [[ManagedTable.convertInPlace]] table
    * (partitioned or not): adopted files live OUTSIDE data/, so vacuum
    * must run its full-root orphan sweep to ever reclaim them. */
  val ConvertedTableProp = "graft.convert.table"

  /** Suffix of parquet checkpoint sidecar directories in `_graft/manifests`. */
  val SidecarSuffix = ".files.parquet"

  /** Hive-style escaping for partition directory segments — the inverse
    * of `hiveUnescape`, matching Spark's `escapePathName` character set
    * so reconstructed `col=value` dirs round-trip through both Spark's
    * partition discovery and our own segment parser. */
  private[tables] def hiveEscape(s: String): String = {
    def needsEscaping(c: Char): Boolean = c < ' ' || c == '"' || c == '#' ||
      c == '%' || c == '\'' || c == '*' || c == '/' || c == ':' || c == '=' ||
      c == '?' || c == '\\' || c == '\u007F' || c == '{' || c == '[' ||
      c == ']' || c == '^'
    val sb = new StringBuilder(s.length)
    s.foreach { c =>
      if (needsEscaping(c)) sb.append(f"%%${c.toInt}%02X") else sb.append(c)
    }
    sb.result()
  }

  /** Helper column names for the deletion-vector anti-join (never visible
    * to callers — [[readDvFiltered]] projects them away). */
  private[tables] val DvFileCol = "__g_dv_file"
  private[tables] val DvPosCol = "__g_dv_pos"

  /** Row tracking (Delta row IDs). While [[RowTrackingEnabledProp]] is
    * "true", every data-adding commit allocates each new file a
    * contiguous row-ID range from [[RowTrackingWatermarkProp]]
    * (`TableFile.baseRowId`); row i of a fresh file has stable ID
    * `baseRowId + i`. Rewrites that preserve rows (compaction, Z-order,
    * DV purge, copy-on-write DML survivors, update images) materialize
    * the ID into the physical [[MatRowIdCol]] column inside the new
    * files — never part of the logical schema — and reads resolve
    * `coalesce(materialized, baseRowId + row_index)`. Enable via
    * [[ManagedTable.enableRowTracking]] (backfills existing files);
    * read via [[ManagedTable.readWithRowIds]]. */
  val RowTrackingEnabledProp = "graft.rowTracking.enabled"

  /** Next unallocated row ID (maintained by the commit path — direct
    * writes via setTableProperties are rejected). */
  val RowTrackingWatermarkProp = "graft.rowTracking.highWatermark"

  /** Physical column materializing preserved row IDs inside rewritten
    * parquet files. Excluded from every logical schema; fresh files
    * omit it entirely (their IDs derive from `baseRowId + row_index`). */
  private[graft] val MatRowIdCol = "_graft_row_id"

  /** One column's metadata-exact aggregate slice
    * ([[ManagedTable.statsAggregateRaw]]): typed `(min, max)` extrema
    * (meaningful only while `extremaExact`; None there ⇔ zero rows
    * carry a value) and the exact NON-NULL count (None ⇔ some file
    * lacks a recorded null count — `count(col)` cannot be answered).
    * `extremaExact` is false for types whose footer bounds are not
    * exact answers (strings may be truncated, decimals unscaled) or
    * when any file's stats are ambiguous — null counts can still be
    * exact there. */
  final case class ColAgg(field: org.apache.spark.sql.types.StructField,
      extrema: Option[(Any, Any)], nonNulls: Option[Long],
      extremaExact: Boolean = true)

  /** Field-metadata key recording the version a defaulted column was
    * ADDED at (rides next to Spark's own CURRENT_DEFAULT /
    * EXISTS_DEFAULT keys): files whose `dataVersion` precedes it
    * physically lack the column and read the EXISTS_DEFAULT. */
  val DefaultSinceKey = "graft.default.sinceVersion"

  /** Declared clustering columns (comma-joined; Delta liquid's role). */
  val ClusterByProp = "graft.clusterBy"

  /** Version of the last [[ManagedTable.cluster]] pass — files whose
    * `dataVersion` is at or below it are already clustered.
    * Engine-maintained. */
  val ClusterVersionProp = "graft.cluster.version"

  /** LOSSLESS type widenings: existing parquet pages of type `from` are
    * readable through a manifest schema declaring `to` (Spark 4 parquet
    * reader promotions; Delta's type-widening matrix). long→double is
    * NOT here — above 2⁵³ it loses precision. */
  private[tables] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType)            => true
      case (IntegerType, LongType | DoubleType)                        => true
      case (FloatType, DoubleType)                                     => true
      case _                                                           => false
    }
  }

  /** Physical column materializing preserved per-row commit versions
    * (the version that last MODIFIED the row) inside rewritten files —
    * same lifecycle as [[MatRowIdCol]]; fresh files fall back to their
    * manifest entry's `dataVersion`. */
  private[graft] val MatRowCvCol = "_graft_row_cv"

  /** DV sidecars key rows by data-file BASENAME — safe only when every
    * basename in the manifest is unique (always true for engine-written
    * part files, whose names embed a UUID) and filesystem-plain (no
    * characters a file-source `_metadata.file_name` could render
    * differently). DV creation checks this and falls back to the classic
    * rewrite when an imported file breaks it. */
  private[tables] def dvSafeBasename(name: String): Boolean =
    name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.' || c == '=')

  /** Txn appIds become filenames under `_graft/_txn/` — only
    * filesystem-safe names, and none that could escape the directory. */
  private[tables] def validTxnAppId(appId: String): Boolean =
    appId.nonEmpty && !appId.startsWith(".") &&
      appId.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.')

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[tables] def lockFor(qualifiedPath: String): Object =
    locks.computeIfAbsent(qualifiedPath, _ => new Object)

  /** One vacuum delete work item, runnable on driver pool threads or
    * executors (lives on the object so closures capture no table
    * instance). Glob items delete every match (bloom sidecars: one data
    * file, several indexed columns). */
  private[tables] def deleteWorkItem(
      conf: org.apache.hadoop.conf.Configuration,
      item: (String, Boolean, Boolean)): Unit = {
    val (p, recursive, isGlob) = item
    val path = new Path(p)
    val f = path.getFileSystem(conf)
    if (isGlob) {
      val matches = f.globStatus(path)
      if (matches != null) matches.foreach(st => f.delete(st.getPath, false))
    } else f.delete(path, recursive)
    ()
  }

  /** One deep-clone copy, runnable on driver pool threads or executors
    * (lives on the object so closures capture no table instance). */
  private[tables] def copyWorkItem(
      conf: org.apache.hadoop.conf.Configuration,
      src: String, dst: String): Unit = {
    val sp = new Path(src)
    val dp = new Path(dst)
    val sf = sp.getFileSystem(conf)
    val df = dp.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(sf, sp, df, dp,
      false /* keep source */, true /* overwrite partial retries */, conf)
    ()
  }

  def apply(spark: SparkSession, path: String): ManagedTable =
    new ManagedTable(spark, path)

  /** Resolve a metadata output location. Catalog tables (`db.table`) map to
    * a warehouse-dir layout — the offline container has no external
    * metastore; the layout matches what `saveAsTable` would use — AND are
    * registered in the session catalog (database created, `CREATE TABLE …
    * USING graft`) on their first commit, so `spark.table("db.t")` and SQL
    * SELECT work like the reference's catalog mode (reference:
    * Full.scala:47-66 saveAsTable). An already-written table registers
    * immediately on resolution. */
  def forLocation(spark: SparkSession, loc: OutputLocation): ManagedTable =
    loc match {
      case PathLocation(p) => new ManagedTable(spark, p)
      case TableLocation(t) =>
        val warehouse = spark.conf.get(
          "spark.sql.warehouse.dir", "spark-warehouse")
        val parts = t.split('.')
        val sub = if (parts.length == 2) s"${parts(0)}.db/${parts(1)}" else t
        val mt = new ManagedTable(spark, s"$warehouse/$sub")
        mt.catalogName = Some(t)
        if (mt.exists) mt.registerCatalog()
        mt
    }
}
