package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Processing
import graft.tables.ManagedTable
import graft.watermark.WatermarkStore

/** Daily incremental CDC path: a Merge entity partitioned by `year`, with
  * a `SeqNr` watermark and the run log on. Each op is one small CDC slice
  * (updates from the newest two partitions, new high keys, source-side
  * soft deletes) followed by a fixed read batch. Small slices make commit
  * overhead, snapshot resolution, touch detection and watermark reads
  * dominate, not the transform chain.
  *
  * The oracle is an in-memory model of the table built from the
  * generator's own choices; the initial load's per-year totals come from
  * plain Spark over the generated parquet. */
final class CdcMerge(root: String, seed: Long, scale: Double)(implicit spark: SparkSession)
    extends Workload {

  val rows: Long = math.max(1200L, (120000 * scale).toLong)
  val years = 6
  val firstYear = 2019
  val perYear: Long = rows / years
  val updates: Int = math.max(20, (1000 * scale).toInt)
  val inserts: Int = math.max(4, (200 * scale).toInt)
  val deletes: Int = math.max(2, (20 * scale).toInt)

  def yearOf(id: Long): Int = firstYear + math.min(id / perYear, years - 1L).toInt
  private val seedTerm = Math.floorMod(seed, 1000003L) * 12345L
  def amount0(id: Long): Long = Math.floorMod(id * 1103515245L + seedTerm, 1000003L)

  val md: graft.metadata.Metadata = Workload.metadata(root, """{
    "id": 1, "name": "cdc", "connection": "bench", "processtype": "merge",
    "watermark": [ { "column": "SeqNr" } ],
    "columns": [
      { "name": "ID", "datatype": "long", "fieldroles": ["businesskey"] },
      { "name": "year", "datatype": "integer", "fieldroles": ["partition"] } ] }""")
  val entity: graft.metadata.Entity = md.getEntity(1)
  private val bronze = md.bronzePath(entity)
  private lazy val watermarks = new WatermarkStore(spark, md.environment.systemPath)

  // ---- model of the silver table
  private val amount = mutable.LongMap.empty[Long]
  private val deleted = mutable.HashSet.empty[Long]
  private var maxId = rows - 1
  private val liveCount = new Array[Long](years)
  private val liveSum = new Array[Long](years)
  private var deletedCount = 0L
  private val byVersion = mutable.LongMap.empty[(Long, Long)]

  def amountOf(id: Long): Long = amount.getOrElse(id, amount0(id))
  def totals: (Long, Long) = (liveCount.sum, liveSum.sum)

  val schema: StructType = StructType(Seq(
    StructField("ID", LongType), StructField("year", IntegerType),
    StructField("amount", LongType), StructField("name", StringType),
    StructField("SeqNr", LongType), StructField("deleted", BooleanType)))

  def setup(): Unit = {
    spark.range(0, rows, 1, 4).selectExpr(
      "id AS ID",
      s"CAST(least(id div $perYear, ${years - 1}) + $firstYear AS INT) AS year",
      s"pmod(id * 1103515245 + $seedTerm, 1000003) AS amount",
      "concat('n', id) AS name", "0L AS SeqNr", "false AS deleted")
      .write.parquet(s"$bronze/initial.parquet")
    spark.read.parquet(s"$bronze/initial.parquet").groupBy("year")
      .agg(count(lit(1)), sum("amount")).collect().foreach { r =>
        liveCount(r.getInt(0) - firstYear) = r.getLong(1)
        liveSum(r.getInt(0) - firstYear) = r.getLong(2)
      }
    val s = new Processing(md, entity, "initial.parquet").process()
    require(s.inserted == rows, s"initial load inserted ${s.inserted}, expected $rows")
    val v = ManagedTable.forLocation(spark, md.silverLocation(entity)).manifest.get.version
    byVersion(v) = totals
  }

  /** The op's slice, chosen from the model: (updated ids with their new
    * amounts, inserted ids with amounts, deleted ids). */
  final case class Slice(upd: Seq[(Long, Long)], ins: Seq[(Long, Long)], del: Seq[Long]) {
    def size: Int = upd.size + ins.size + del.size
  }

  def plan(op: Int): Slice = {
    val rng = new scala.util.Random(seed * 1000003L + op)
    val lo = (years - 2) * perYear
    val chosen = mutable.HashSet.empty[Long]
    def pickLive(): Long = {
      var id = -1L
      while (id < 0 || deleted(id) || chosen(id)) id = lo + (rng.nextDouble() * (maxId - lo + 1)).toLong
      chosen += id
      id
    }
    val upd = Seq.fill(updates)(pickLive() -> rng.nextInt(1000003).toLong)
    val ins = (1 to inserts).map(j => (maxId + j) -> rng.nextInt(1000003).toLong)
    val del = Seq.fill(deletes)(pickLive())
    Slice(upd, ins, del)
  }

  /** Writes the slice as bronze parquet; returns (file name, bytes). */
  def writeSlice(op: Int, s: Slice): (String, Long) = {
    def row(id: Long, amt: Long, del: Boolean) =
      Row(id, yearOf(id), amt, s"n$id", op.toLong, del)
    val data = s.upd.map { case (id, a) => row(id, a, del = false) } ++
      s.ins.map { case (id, a) => row(id, a, del = false) } ++
      s.del.map(id => row(id, amountOf(id), del = true))
    val name = f"slice_$op%05d.parquet"
    spark.createDataFrame(data.asJava, schema).coalesce(1).write.parquet(s"$bronze/$name")
    (name, Workload.treeBytes(spark, s"$bronze/$name"))
  }

  private def applyToModel(s: Slice): Unit = {
    s.upd.foreach { case (id, a) =>
      liveSum(yearOf(id) - firstYear) += a - amountOf(id); amount(id) = a
    }
    s.ins.foreach { case (id, a) =>
      val y = yearOf(id) - firstYear
      liveCount(y) += 1; liveSum(y) += a; amount(id) = a
    }
    maxId += s.ins.size
    s.del.foreach { id =>
      val y = yearOf(id) - firstYear
      liveCount(y) -= 1; liveSum(y) -= amountOf(id); deleted += id
    }
    deletedCount += s.del.size
  }

  /** One op is the slice and then the read batch against the new
    * snapshot; its latency covers both, so a commit-path gain that costs
    * reads shows in `op_cpu_s`. Writing the bronze input, reading commit
    * counters and checking results happen outside the timing. */
  def runOp(op: Int, tr: Tracer, rec: Recorder): Seq[String] = {
    val s = plan(op)
    val (file, bytes) = writeSlice(op, s)
    val logBefore = Workload.treeFiles(spark, s"$root/log")
    // point lookups on a fresh key and an old key, two ways each
    val rng = new scala.util.Random(seed * 7919L + op)
    val keys = Seq(if (op % 2 == 0) s.upd.head._1 else s.ins.head._1,
      (rng.nextDouble() * (years - 2) * perYear).toLong)
    val newest = firstYear + years - 1
    def liveTotals(df: DataFrame) = {
      val r = df.filter(not(col("deleted")))
        .agg(count(lit(1)), coalesce(sum("amount"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    def timed[T](span: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tr.span(span)(body)
      rec.readSeconds += (System.nanoTime() - t0) / 1e9
      r
    }
    def lookup(span: String, df: => DataFrame) = timed(span) {
      val q = df.select("amount", "deleted")
      (q, q.collect())
    }

    val (summary, table, m, mark, lookups, part, prev, fast) = rec.timeOp {
      val summary = Workload.ingest(new Processing(md, entity, file), tr)
      val (table, m) = Workload.snapshot(spark, md, entity, tr)
      val mark = tr.span("watermark.last_value")(watermarks.lastValue(entity.id, "SeqNr"))
      val lookups = keys.flatMap(k => Seq(
        ("tables.read.point", k, lookup("tables.read.point", table.read().filter(col("ID") === k))),
        ("tables.read.equals", k, lookup("tables.read.equals", table.readEquals("ID", Seq(k))))))
      val part = timed("tables.read.partition")(
        liveTotals(table.read().filter(col("year") === newest)))
      val prev = timed("tables.read.timetravel")(liveTotals(table.readVersion(m.version - 1)))
      val fast = timed("tables.read.fastcount")(table.fastCount)
      (summary, table, m, mark, lookups, part, prev, fast)
    }
    rec.items += s.size

    Workload.commitCounters(spark, md, table, m, tr, rec, bytes, logBefore)
    val errs = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) errs += s"op $op: $what = $got, expected $want"
    expect("summary.recordsInSlice", summary.recordsInSlice, s.size.toLong)
    expect("summary.inserted", summary.inserted, s.ins.size.toLong)
    expect("summary.updated", summary.updated, s.upd.size.toLong)
    expect("summary.deleted", summary.deleted, s.del.size.toLong)
    applyToModel(s)
    byVersion(m.version) = totals
    expect("watermark", mark, Some(op.toString))
    lookups.foreach { case (span, k, (q, got)) =>
      val (files, scanned) = rec.scanCounts(q)
      rec.add("lookups", 1); rec.add("lookup.files", files.toDouble)
      rec.add("lookup.rows_scanned", scanned.toDouble); rec.add("lookup.rows", got.length)
      expect(s"$span($k)", got.map(r => (r.getLong(0), r.getBoolean(1))).toSeq,
        Seq((amountOf(k), deleted(k))))
    }
    expect("newest-partition (count, sum)", part, (liveCount(years - 1), liveSum(years - 1)))
    expect(s"readVersion(${m.version - 1}) (count, sum)", Some(prev), byVersion.get(m.version - 1))
    expect("fastCount", fast, Some(maxId + 1))
    errs.toSeq
  }

  def finalCheck(): Seq[String] = {
    val r = ManagedTable.forLocation(spark, md.silverLocation(entity)).read()
      .agg(sum(when(not(col("deleted")), 1L).otherwise(0L)),
        sum(when(col("deleted"), 1L).otherwise(0L)),
        sum(when(not(col("deleted")), col("amount")).otherwise(0L))).head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    val want = (liveCount.sum, deletedCount, liveSum.sum)
    if (got == want) Nil
    else Seq(s"final silver (live rows, soft-deleted rows, live sum(amount)) = $got, expected $want")
  }

  override def facts: Seq[(String, String)] = Seq(
    "initial_rows" -> rows.toString, "years" -> years.toString,
    "slice" -> s"$updates updates + $inserts inserts + $deletes deletes")
}
