package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the vector hot path.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate
  * interpreted — fine for composition, slow in a kNN inner loop. These
  * expressions generate a tight Java loop via `doGenCode`, staying inside
  * whole-stage codegen (a custom Expression beats a Scala UDF beats
  * interpreted HOFs). The accumulation order is the same strict
  * left-to-right sequence as the HOF fold, so results are bit-identical —
  * the DuckDB oracle keeps hash-matching after the swap.
  */

/** `graft_dot(array<double>, array<double>)` — sequential dot product over
  * the common prefix of the two arrays. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprChecks.arraysOfDouble(prettyName, left, right)
  override def dataType: DataType = DoubleType
  // can yield null even for non-null inputs (null elements) — without
  // this Catalyst elides the null bit for non-nullable children
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null // fold semantics
      dot += a.getDouble(i) * b.getDouble(i); i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  ${ev.value}Acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_cosine(array<double>, array<double>)` — cosine similarity with
  * the same sequential accumulation as `dot/sqrt(dot(a,a)*dot(b,b))`. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprChecks.arraysOfDouble(prettyName, left, right)
  override def dataType: DataType = DoubleType
  // null for null elements AND zero-norm vectors
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null // fold semantics
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na * nb == 0.0) null // zero-norm vector: cosine undefined, not NaN
    else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $x = $a.getDouble($i); double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if ($na * $nb == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_lower_bound(double, array<double>)` — count of elements of the
  * SORTED array strictly below the value, by binary search. The
  * quantile-bucket assignment of [[graft.tables.ZOrder]]: 8 probes per row
  * instead of an interpreted 256-element lambda filter, and a flat
  * expression tree where a `when`-chain binary search would duplicate its
  * accumulator subtree exponentially. Null value → null (callers coalesce
  * to bucket 0); array elements must be non-null. */
case class LowerBoundCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double, array<double>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_lower_bound"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[Double]
    val b = r.asInstanceOf[ArrayData]
    var lo = 0
    var hi = b.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (b.getDouble(mid) < v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      s"""
         |int $lo = 0; int $hi = $b.numElements();
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($b.getDouble($mid) < $a) $lo = $mid + 1; else $hi = $mid;
         |}
         |${ev.value} = (long) $lo;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

private[functions] object VectorExprChecks {
  def arraysOfDouble(
      name: String, left: Expression, right: Expression): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
}

/** Registration: per-session (library use) or cluster-wide via
  * `spark.sql.extensions=graft.functions.GraftSparkExtensions`. */
object GraftFunctions {

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => DotProduct(es(0), es(1))),
    "graft_cosine" -> (es => CosineSimilarity(es(0), es(1))),
    "graft_lower_bound" -> (es => LowerBoundCount(es(0), es(1))),
    "graft_bpe_count" -> (es => BpeTokenCount(es(0), es(1))),
    "graft_bpe_encode" -> (es => BpeEncode(es(0), es(1))),
    MinHashSketch.Name -> (es => MinHashSketch(es(0))))

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** Registers `name` in `spark` unless it already resolves there. */
  def ensure(spark: SparkSession, name: String): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, all.toMap.apply(name), "built-in")
  }
}

/** `SparkSessionExtensions` installer — functions resolve in every session
  * of the cluster, including pure-SQL users. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name),
        builder))
    }
    // table_changes('t', from, to [, keys]) — Delta CDF's SQL TVF over
    // the row-level change feed (graft.plans.MaintenanceSql)
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[DotProduct].getName, "table_changes"),
      (es: Seq[Expression]) => graft.plans.MaintenanceSql.tableChangesPlan(es)))
    // SQL DML (MERGE INTO / UPDATE / DELETE) over catalog-registered
    // graft tables — see graft.plans.GraftDmlRule
    ext.injectPostHocResolutionRule(session =>
      new graft.plans.GraftDmlRule(session))
    // SQL time travel (VERSION/TIMESTAMP AS OF) — must precede the
    // built-in resolution, which rejects V1 time travel outright
    ext.injectHintResolutionRule(session =>
      new graft.plans.GraftTimeTravelRule(session))
    // maintenance statements Spark's grammar lacks (VACUUM / OPTIMIZE /
    // DESCRIBE HISTORY / RESTORE) — delegating sub-grammar parser
    ext.injectParser((_, delegate) =>
      new graft.plans.GraftSqlParser(delegate))
    // metadata-only count/min/max collapse over graft relations —
    // see graft.plans.GraftMetadataAggRule
    ext.injectOptimizerRule(session =>
      new graft.plans.GraftMetadataAggRule(session))
  }
}
