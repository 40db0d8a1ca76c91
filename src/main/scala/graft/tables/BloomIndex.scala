package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import java.nio.charset.StandardCharsets

/** Per-file Bloom-filter index for equality lookups — the complement to
  * min/max stats and Z-order clustering (Delta's BLOOMFILTER index
  * equivalent). Min/max skipping is useless for a high-cardinality
  * column the table is NOT sorted on: every file's [min, max] spans the
  * whole domain, so a point lookup `id = k` scans the table. A per-file
  * Bloom filter answers "might this file contain k?" probabilistically —
  * a false-positive rate of 1% turns a full-table point lookup into a
  * read of ~1% of files (plus the true match), with zero false
  * NEGATIVES, so skipping never drops rows.
  *
  * Layout: one sidecar blob per (data file, column) under
  * `<root>/_graft/_bloom/`, named by content-addressed hashes of the
  * file path and column name (filesystem-safe for any path/column).
  * Sidecars ride the data-file lifecycle: written when a commit's files
  * are written (or backfilled by `addBloomIndex`), deleted when vacuum
  * deletes the data files they describe. A missing sidecar degrades to
  * "keep the file" — blooms are an optimization, never a correctness
  * gate, so a crashed build or a legacy file costs speed, not rows.
  *
  * Probe domain: values are canonicalized before hashing (integrals →
  * long, dates → epoch days, strings raw) and the SAME canonicalization
  * is applied at query time; a probe value that cannot be canonicalized
  * safely disables bloom skipping for that query rather than risking a
  * wrong skip. Supported column types: byte/short/int/long, string,
  * date — the point-lookup key shapes.
  *
  * Scale shape (100 TB): build cost is one distributed pass over the
  * COMMIT's files (partial blooms per task, merged per file on the
  * driver — `fpp`-sized, ~1.2 MB per million expected items); probe
  * cost is one sidecar read per min/max-surviving candidate file,
  * driver-side, the same O(candidates) order as the manifest pruning
  * that precedes it. */
final case class BloomIndexConfig(fpp: Double, expectedItemsPerFile: Long)

object BloomIndex {

  /** Canonical hash domain of a column type; None = unsupported. */
  private[tables] def domain(dt: DataType): Option[Boolean] = dt match {
    // Some(true) = long domain, Some(false) = string domain
    case ByteType | ShortType | IntegerType | LongType | DateType => Some(true)
    case StringType                                               => Some(false)
    case _                                                        => None
  }

  def supported(dt: DataType): Boolean = domain(dt).isDefined

  /** Column expression producing the canonical hash representation. */
  private def canonical(name: String, dt: DataType): Column = dt match {
    case DateType   => unix_date(col(s"`$name`")).cast(LongType)
    case StringType => col(s"`$name`")
    case _          => col(s"`$name`").cast(LongType)
  }

  /** A query-time probe value in the canonical domain; None when no safe
    * translation exists (bloom skipping then stays off — conservative). */
  private[tables] def probe(dt: DataType, v: Any): Option[Either[Long, String]] =
    dt match {
      case StringType => v match {
        case s: String => Some(Right(s))
        case _         => None
      }
      case DateType => v match {
        case d: java.sql.Date       => Some(Left(d.toLocalDate.toEpochDay))
        case d: java.time.LocalDate => Some(Left(d.toEpochDay))
        case _                      => None
      }
      case ByteType | ShortType | IntegerType | LongType => v match {
        case n: java.lang.Byte    => Some(Left(n.longValue))
        case n: java.lang.Short   => Some(Left(n.longValue))
        case n: java.lang.Integer => Some(Left(n.longValue))
        case n: java.lang.Long    => Some(Left(n.longValue))
        case _                    => None
      }
      case _ => None
    }

  private[tables] def mightContain(
      bloom: BloomFilter, p: Either[Long, String]): Boolean = p match {
    case Left(l)  => bloom.mightContainLong(l)
    case Right(s) => bloom.mightContainString(s)
  }

  /** Filesystem-safe sidecar name: `<fileKey>.<columnKey>.bloom`. The
    * file key prefixes every sidecar of one data file, so lifecycle
    * cleanup is a single glob. */
  private[tables] def fileKey(relPath: String): String = sha(relPath).take(32)
  private[tables] def columnKey(column: String): String = sha(column).take(16)
  private def sidecarName(relPath: String, column: String): String =
    s"${fileKey(relPath)}.${columnKey(column)}.bloom"

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Build sidecars for `files` × the supported columns of `indexes` in
    * one distributed pass per column: partial blooms per task (files may
    * split across tasks), merged per file on the driver, then written.
    * Files whose sidecar already exists are skipped when `onlyMissing`. */
  private[tables] def build(
      spark: SparkSession,
      fs: FileSystem,
      root: Path,
      bloomDir: Path,
      files: Seq[TableFile],
      schema: StructType,
      indexes: Map[String, BloomIndexConfig],
      uriToRel: Map[String, String],
      onlyMissing: Boolean = false): Unit = {
    val cols = indexes.toSeq.flatMap { case (c, cfg) =>
      schema.fields.find(f => f.name == c && supported(f.dataType))
        .map(f => (c, f.dataType, cfg))
    }
    if (cols.isEmpty || files.isEmpty) return
    val existing: Set[String] =
      if (!onlyMissing || !fs.exists(bloomDir)) Set.empty
      else fs.listStatus(bloomDir).map(_.getPath.getName).toSet
    for ((c, dt, cfg) <- cols) {
      val todo = files.filterNot(f =>
        onlyMissing && existing.contains(sidecarName(f.path, c)))
      if (todo.nonEmpty) {
        val isLong = domain(dt).get
        val paths = todo.map(f => new Path(root, f.path).toString)
        val items = cfg.expectedItemsPerFile
        val fpp = cfg.fpp
        val sp = spark
        import sp.implicits._
        val partials = spark.read.schema(schema).parquet(paths: _*)
          .select(input_file_name().as("__f"), canonical(c, dt).as("__v"))
          .filter(col("__v").isNotNull)
          .mapPartitions { it =>
            val blooms = scala.collection.mutable.Map.empty[String, BloomFilter]
            it.foreach { row =>
              val b = blooms.getOrElseUpdate(row.getString(0),
                BloomFilter.create(items, fpp))
              if (isLong) b.putLong(row.getLong(1))
              else b.putString(row.getString(1))
            }
            blooms.iterator.map { case (f, b) =>
              val bos = new java.io.ByteArrayOutputStream()
              b.writeTo(bos)
              (f, bos.toByteArray)
            }
          }
        fs.mkdirs(bloomDir)
        // stream partials to the driver partition-by-partition and merge
        // incrementally — driver memory stays O(one partition's blobs),
        // never O(files), so a million-file backfill cannot OOM the
        // driver. A file's partials may span partitions (identical
        // (items, fpp) params make them mergeable); the first partial of
        // this build overwrites any stale sidecar, later ones merge in.
        val written = scala.collection.mutable.Set.empty[String]
        partials.toLocalIterator().forEachRemaining { case (uri, bytes) =>
          uriToRel.get(uri).foreach { rel =>
            val p = new Path(bloomDir, sidecarName(rel, c))
            val fresh = BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bytes))
            val merged =
              if (!written.contains(rel)) fresh
              else {
                val in = fs.open(p)
                val prev = try BloomFilter.readFrom(in) finally in.close()
                prev.mergeInPlace(fresh)
              }
            val out = fs.create(p, true)
            try merged.writeTo(out) finally out.close()
            written += rel
          }
        }
        // an empty file (no rows / all nulls) still gets a sidecar, so
        // probes can skip it outright
        todo.filterNot(f => written.contains(f.path)).foreach { f =>
          val out = fs.create(new Path(bloomDir, sidecarName(f.path, c)), true)
          try BloomFilter.create(items, fpp).writeTo(out) finally out.close()
        }
      }
    }
  }

  /** Executor-side probe for LARGE candidate sets: at ~1M min/max
    * survivors a driver-sequential sidecar read per file is the scaling
    * wall, so the paths fan out as an RDD and each task reads + probes
    * its own slice (Delta probes bloom blobs on executors during scan
    * planning for the same reason). Every failure path — filesystem not
    * constructible from the shipped conf, sidecar missing or unreadable —
    * keeps the file: distribution must never skip differently than the
    * driver-side probe would. Returns the surviving rel paths. */
  private[tables] def probeDistributed(
      spark: SparkSession,
      bloomDirStr: String,
      relPaths: Seq[String],
      column: String,
      probes: Seq[Either[Long, String]]): Set[String] = {
    val ser = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val parts = math.max(1, math.min(256, relPaths.size / 1024 + 1))
    spark.sparkContext.parallelize(relPaths, parts).mapPartitions { it =>
      val dir = new Path(bloomDirStr)
      val f =
        try dir.getFileSystem(ser.value)
        catch { case scala.util.control.NonFatal(_) => null }
      it.filter { rel =>
        f == null || (load(f, dir, rel, column) match {
          case None        => true
          case Some(bloom) => probes.exists(mightContain(bloom, _))
        })
      }
    }.collect().toSet
  }

  /** The (file, column) sidecar, or None when absent/unreadable —
    * callers keep the file in both cases. */
  private[tables] def load(
      fs: FileSystem, bloomDir: Path,
      relPath: String, column: String): Option[BloomFilter] = {
    val p = new Path(bloomDir, sidecarName(relPath, column))
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(BloomFilter.readFrom(in)) finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Delete every sidecar of one column (any file) — dropBloomIndex. */
  private[tables] def deleteColumn(
      fs: FileSystem, bloomDir: Path, column: String): Unit =
    if (fs.exists(bloomDir))
      fs.globStatus(new Path(bloomDir, s"*.${columnKey(column)}.bloom"))
        .foreach(st => fs.delete(st.getPath, false))

  // ------------------------------------------------------------- config

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private[tables] def configToJson(cfg: Map[String, BloomIndexConfig]): String =
    JsonMethods.compact(JsonMethods.render(JObject(cfg.map { case (c, x) =>
      c -> (JObject(
        "fpp" -> JDouble(x.fpp),
        "items" -> JLong(x.expectedItemsPerFile)): JValue)
    }.toList)))

  private[tables] def configFromJson(s: String): Map[String, BloomIndexConfig] =
    JsonMethods.parse(s) match {
      case JObject(kvs) => kvs.map { case (c, v) =>
        val fpp = v \ "fpp" match {
          case JDouble(x) => x; case JInt(x) => x.toDouble; case _ => 0.01
        }
        val items = v \ "items" match {
          case JLong(x) => x; case JInt(x) => x.toLong; case _ => 100000L
        }
        c -> BloomIndexConfig(fpp, items)
      }.toMap
      case _ => Map.empty
    }
}
