package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over two `array<double>` columns.
  *
  * The extension operators' hot path (cosine similarity in
  * `graft.ops.Similarity`/`Dedup`) originally folded with
  * `aggregate(zip_with(...))` — higher-order functions run interpreted
  * per element with boxed lambdas. This expression participates in
  * whole-stage codegen: one fused loop over the unsafe array data, no
  * allocation. Summation is sequential in index order, so results are
  * bit-identical to the HOF fold and to the DuckDB oracle's
  * list_reduce — including null semantics: a length mismatch or a
  * null element yields NULL, never a silently-truncated sum. When
  * both input types carry `containsNull=false` the per-element null
  * check is compiled out.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  private def elemNullable: Boolean = Seq(left, right).exists {
    _.dataType match { case ArrayType(_, n) => n; case _ => true }
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (elemNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** The native expressions by SQL name.
  * [[graft.sources.GraftSparkExtensions]] injects them into every
  * session, so no caller registers them.
  */
object GraftFunctions {
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VectorDot(exprs(0), exprs(1))),
    (FunctionIdentifier("fold_hash"),
      new ExpressionInfo(classOf[FoldHash].getName, "fold_hash"),
      (exprs: Seq[Expression]) => FoldHash.fromExprs(exprs)),
    (FunctionIdentifier("vec_l2sq"),
      new ExpressionInfo(classOf[VecL2Micro].getName, "vec_l2sq"),
      (exprs: Seq[Expression]) => VecL2Micro(exprs(0), exprs(1))),
    (FunctionIdentifier("stream_evolution_guard"),
      new ExpressionInfo(
        classOf[graft.streaming.StreamEvolutionGuard].getName,
        "stream_evolution_guard"),
      (exprs: Seq[Expression]) =>
        graft.streaming.StreamEvolutionGuard(exprs(0), exprs(1))),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => MinhashSig(exprs.head)),
    (FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimhashSig].getName, "simhash_sig"),
      (exprs: Seq[Expression]) => SimhashSig(exprs.head)),
    (FunctionIdentifier("bigram_stats"),
      new ExpressionInfo(classOf[BigramStats].getName, "bigram_stats"),
      (exprs: Seq[Expression]) => BigramStats(exprs.head)),
    (FunctionIdentifier("lsh_sig4"),
      new ExpressionInfo(classOf[LshSig4].getName, "lsh_sig4"),
      (exprs: Seq[Expression]) => LshSig4(exprs.head)))
}
