package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.Processing
import graft.tables.ManagedTable

/** SCD2 full-extract path: a Historic entity partitioned by `region`.
  * Each op ingests a full snapshot in which about 2% of keys changed,
  * spread uniformly over every partition, plus a few new keys. The
  * transform chain hashes every row, and the join and rewrite touch every
  * partition: the layers `cdc_merge` barely uses. No reads.
  *
  * The oracle is the generator's model: the amount and version count of
  * each key. */
final class Scd2Snapshot(root: String, seed: Long, scale: Double)(implicit spark: SparkSession)
    extends Workload {

  val keys0: Long = math.max(500L, (30000 * scale).toLong)
  val regions = 8
  private val seedTerm = Math.floorMod(seed, 1000003L) * 12345L
  def amount0(id: Long): Long = Math.floorMod(id * 1103515245L + seedTerm, 1000003L)

  val md: graft.metadata.Metadata = Workload.metadata(root, """{
    "id": 2, "name": "scd2", "connection": "bench", "processtype": "historic",
    "columns": [
      { "name": "ID", "datatype": "long", "fieldroles": ["businesskey"] },
      { "name": "region", "datatype": "integer", "fieldroles": ["partition"] } ] }""")
  val entity: graft.metadata.Entity = md.getEntity(2)
  private val bronze = md.bronzePath(entity)

  // ---- model: current amount per changed key, and version totals
  private val amount = mutable.LongMap.empty[Long]
  private var keys = keys0
  private var versions = keys0
  private var currentSum = 0L

  def changesPerOp: Int = math.max(2, (keys * 0.02).toInt)
  def insertsPerOp: Int = math.max(1, (keys * 0.005).toInt)

  /** Writes the full extract of keys [0, n) as bronze parquet. Unchanged
    * keys repeat their content exactly, so their source hash repeats. */
  def writeSnapshot(op: Int, n: Long): (String, Long) = {
    import spark.implicits._
    val overrides = amount.toSeq.toDF("ID", "ov")
    val name = f"snap_$op%05d.parquet"
    spark.range(0, n, 1, 4).selectExpr("id AS ID")
      .join(broadcast(overrides), Seq("ID"), "left")
      .selectExpr("ID", s"CAST(ID % $regions AS INT) AS region",
        s"coalesce(ov, pmod(ID * 1103515245 + $seedTerm, 1000003)) AS amount",
        "concat('n', ID) AS name")
      .write.parquet(s"$bronze/$name")
    (name, Workload.treeBytes(spark, s"$bronze/$name"))
  }

  def setup(): Unit = {
    val (file, _) = writeSnapshot(0, keys0)
    currentSum = spark.read.parquet(s"$bronze/$file").agg(sum("amount")).head().getLong(0)
    val s = new Processing(md, entity, file).process()
    require(s.inserted == keys0, s"initial load inserted ${s.inserted}, expected $keys0")
  }

  def runOp(op: Int, tr: Tracer, rec: Recorder): Seq[String] = {
    val rng = new scala.util.Random(seed * 1000003L + op)
    val nChange = changesPerOp
    val nInsert = insertsPerOp
    val changed = mutable.LinkedHashSet.empty[Long]
    while (changed.size < nChange) changed += (rng.nextDouble() * keys).toLong
    changed.foreach { id =>
      val a = rng.nextInt(1000003).toLong
      val old = amount.getOrElse(id, amount0(id))
      // a new amount equal to the old one would be no change at all
      val b = if (a == old) (a + 1) % 1000003 else a
      currentSum += b - old
      amount(id) = b
    }
    (keys until keys + nInsert).foreach(id => currentSum += amount0(id))
    val prevKeys = keys
    keys += nInsert
    versions += nChange + nInsert
    val (file, bytes) = writeSnapshot(op, keys)

    val logBefore = Workload.treeFiles(spark, s"$root/log")
    val summary = rec.timeOp(Workload.ingest(new Processing(md, entity, file), tr))
    rec.items += keys
    val (table, m) = Workload.snapshot(spark, md, entity, tr)
    Workload.commitCounters(spark, md, table, m, tr, rec, bytes, logBefore)
    Seq(
      ("recordsInSlice", summary.recordsInSlice, keys),
      ("inserted", summary.inserted, nInsert.toLong),
      ("updated", summary.updated, nChange.toLong),
      ("unchanged", summary.unchanged, prevKeys - nChange),
      ("deleted", summary.deleted, 0L))
      .collect { case (what, got, want) if got != want =>
        s"op $op: summary.$what = $got, expected $want" }
  }

  def finalCheck(): Seq[String] = {
    val t = ManagedTable.forLocation(spark, md.silverLocation(entity)).read()
    val cur = col("IsCurrent")
    val r = t.agg(count(lit(1)), sum(when(cur, 1L).otherwise(0L)),
      sum(when(cur, col("amount")).otherwise(0L)),
      sum(when(col("deleted"), 1L).otherwise(0L))).head()
    val badKeys = t.groupBy("ID").agg(sum(when(cur, 1L).otherwise(0L)).as("c"))
      .filter(col("c") =!= 1L).count()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), badKeys)
    val want = (versions, keys, currentSum, 0L, 0L)
    if (got == want) Nil
    else Seq("final silver (versions, current rows, current sum(amount), " +
      s"soft-deleted rows, keys without exactly one current row) = $got, expected $want")
  }

  override def facts: Seq[(String, String)] = Seq(
    "initial_keys" -> keys0.toString, "regions" -> regions.toString,
    "per_op" -> "2% of keys changed + 0.5% new keys")
}
