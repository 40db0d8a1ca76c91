package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.TextOps

/** `graft_minhash_sketch(text)` — a document's whole MinHash substrate in
  * one per-row loop: word-bigram shingle hashes, their sorted distinct
  * set, and the k signature minima.
  *
  * Bit-identical to the column-algebra formulation it replaced
  * (`split(text, '\\s+')` → `portableHash` per word → adjacent-pair fold
  * → set and `min(pmod(a·s + b, p))` per slot), which ran as posexplode,
  * a doc-id shuffle, a `lead` window and a `collect_set` aggregate:
  *  - tokens are the pieces of Java `Pattern.split("\\s+", -1)` — leading
  *    and trailing empty tokens included. `\s` is ASCII-only and UTF-8
  *    multi-byte sequences never contain ASCII bytes, so the scan runs on
  *    the string's UTF-8 bytes directly;
  *  - a word hash is the first 4 bytes of SHA-256 over the word's UTF-8
  *    bytes, read unsigned (`TextOps.portableHash` without the hex and
  *    `conv` round trip);
  *  - shingle `i` is `(h(i) * 1000003 + h(i+1)) mod 2³²`;
  *  - slot `j` is `min over shingles of (a_j * s + b_j) mod MinHashPrime`.
  *
  * Result: `struct<n: bigint, hs: array<bigint>, m0..m15: bigint>` where
  * `n` counts shingle occurrences (repeats included) and `hs` is sorted
  * ascending. Null when the text is null or has fewer than 2 tokens — such
  * documents have no shingles.
  *
  * Each generated-code instance holds its own `MessageDigest`; the
  * interpreted path takes a thread-local one. No digest is ever shared
  * between threads. */
case class MinHashSketch(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.simpleString}")
  }
  override def dataType: DataType = MinHashSketch.ResultType
  override def nullable: Boolean = true
  override def prettyName: String = MinHashSketch.Name

  override protected def nullSafeEval(t: Any): Any =
    MinHashSketch.sketch(t.asInstanceOf[UTF8String], MinHashSketch.digest.get())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState(classOf[MessageDigest].getName, "sha256",
      v => s"$v = graft.functions.MinHashSketch.newDigest();")
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |${ev.value} = graft.functions.MinHashSketch.sketch($t, $md);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSketch {

  val Name = "graft_minhash_sketch"

  val ResultType: StructType = StructType(
    StructField("n", LongType, nullable = false) +:
      StructField("hs", ArrayType(LongType, containsNull = false), nullable = false) +:
      TextOps.MinHashA.indices.map(i => StructField(s"m$i", LongType, nullable = false)))

  private val A: Array[Long] = TextOps.MinHashA.toArray
  private val B: Array[Long] = TextOps.MinHashB.toArray
  private val P: Long = TextOps.MinHashPrime

  def newDigest(): MessageDigest = MessageDigest.getInstance("SHA-256")

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => newDigest())

  /** The sketch of `text` in frames of `spark`: registers the function
    * there first if it does not resolve yet, so operators built on it
    * work in a session nobody registered graft's functions in. */
  def column(spark: SparkSession, text: Column): Column = {
    GraftFunctions.ensure(spark, Name)
    call_function(Name, text)
  }

  /** Java `\s`: space, \t, \n, \x0B, \f, \r. */
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** The sketch of one document, or null below 2 tokens. */
  def sketch(text: UTF8String, md: MessageDigest): InternalRow = {
    // invalid UTF-8 is hashed as the split path saw it: decoded with
    // replacement characters, then re-encoded
    val bytes =
      if (text.isValid) text.getBytes
      else text.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val end = bytes.length
    val buf = new Array[Byte](32)
    var shingles = new Array[Long](math.min(end / 2 + 1, 64))
    var n = 0
    var tokens = 0
    var prev = 0L
    var start = 0
    var i = 0
    var more = true
    while (more) {
      while (i < end && !isSpace(bytes(i))) i += 1
      md.update(bytes, start, i - start)
      md.digest(buf, 0, 32)
      val h = ((buf(0) & 0xffL) << 24) | ((buf(1) & 0xffL) << 16) |
        ((buf(2) & 0xffL) << 8) | (buf(3) & 0xffL)
      if (tokens > 0) {
        if (n == shingles.length) shingles = java.util.Arrays.copyOf(shingles, n * 2)
        shingles(n) = (prev * 1000003L + h) & 0xffffffffL
        n += 1
      }
      tokens += 1
      prev = h
      // a separator run ends this token; the next one starts after it,
      // so text ending in whitespace yields a trailing empty token
      if (i == end) more = false
      else {
        while (i < end && isSpace(bytes(i))) i += 1
        start = i
      }
    }
    if (tokens < 2) return null
    java.util.Arrays.sort(shingles, 0, n)
    var d = 0
    var k = 0
    while (k < n) {
      if (d == 0 || shingles(k) != shingles(d - 1)) { shingles(d) = shingles(k); d += 1 }
      k += 1
    }
    val slots = A.length
    val mins = Array.fill(slots)(Long.MaxValue)
    k = 0
    while (k < d) {
      val s = shingles(k)
      var j = 0
      while (j < slots) {
        val v = (A(j) * s + B(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      k += 1
    }
    val out = new Array[Any](2 + slots)
    out(0) = n.toLong
    out(1) = UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(shingles, d))
    k = 0
    while (k < slots) { out(2 + k) = mins(k); k += 1 }
    new GenericInternalRow(out)
  }
}
