package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math (SURVEY.md §7.3's
  * "optional perf upgrade": custom `Expression` > UDF).
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`) evaluate the
  * lambda per element with boxed values and no whole-stage codegen — at
  * millions of candidate pairs × 64 dims that interpretation cost dominates
  * the plan (measured 82 s of a 133 s bench before this change). These
  * expressions generate a tight primitive `double` loop inside whole-stage
  * codegen instead, with an interpreted `nullSafeEval` fallback.
  *
  * Accumulation is sequential in element order, so results are bit-identical
  * to the `aggregate(zip_with(...))` formulation and to the DuckDB oracle's
  * `list_sum(list_transform(...))`.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  /** Null semantics match `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, +)`
    * exactly: unequal lengths → NULL (zip_with pads the shorter side with
    * nulls, which poison the sum), and any null element → NULL. This keeps
    * [[graft.plans.VecFusionRule]]'s rewrite observationally equivalent for
    * every input, not just well-formed embeddings.
    */
  override def nullable: Boolean = true

  private def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      // Per-element null checks compile away when the schema says
      // containsNull = false (the embeddings fast path).
      val nullCheck =
        if (elemNullable(left) || elemNullable(right))
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
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[FloatVecDot]]'s mixed-type sibling: `array<float>` data against
  * `array<double>` weights (the LSH plane-projection shape, where the
  * weights are plan-time double literals that must NOT be narrowed to
  * float — the sign of a near-zero projection decides a bucket bit, and
  * the DuckDB oracle computes it in double). Same sequential
  * accumulation and null semantics as [[FloatVecDot]].
  */
case class FloatVecDotD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dotd"

  override def nullable: Boolean = true

  private def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (elemNullable(left) || elemNullable(right))
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
         |    $acc += (double) $a.getFloat($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sequential-order L2 norm of an `array<float>` column (double result).
  * A null element yields NULL, matching
  * `sqrt(aggregate(transform(a, x -> x*x), 0.0, +))` null propagation.
  */
case class FloatVecNorm(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override def nullable: Boolean = true

  private def elemNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      val nullCheck =
        if (elemNullable) s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $v = (double) $a.getFloat($i);
         |  $acc += $v * $v;
         |}
         |if (!${ev.isNull}) { ${ev.value} = java.lang.Math.sqrt($acc); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VecFunctions {
  /** Register `vec_dot`/`vec_norm` in the session's function registry so
    * they are usable from `expr(...)` and `spark.sql(...)`. Idempotent.
    */
  private val registeredFlag = "spark.graft.vecFunctions.registered"

  def register(spark: SparkSession): Unit = {
    // Register once per session: createOrReplaceTempFunction logs a WARN
    // per call (noise at one call per query), but a plain skip-if-present
    // would silently defer to a foreign function of the same name. The
    // session-conf flag gives both: graft's binding is guaranteed (it
    // replaces anything pre-existing, once), and repeat calls are no-ops.
    if (!spark.conf.getOption(registeredFlag).contains("true")) {
      val reg = spark.sessionState.functionRegistry
      reg.createOrReplaceTempFunction("vec_dot",
        es => FloatVecDot(es.head, es(1)), "built-in")
      reg.createOrReplaceTempFunction("vec_dotd",
        es => FloatVecDotD(es.head, es(1)), "built-in")
      reg.createOrReplaceTempFunction("vec_norm",
        es => FloatVecNorm(es.head), "built-in")
      reg.createOrReplaceTempFunction("pq_encode",
        es => PqEncodeExpr(es.head), "built-in")
      reg.createOrReplaceTempFunction("pq_dist_tables",
        es => PqDistTablesExpr(es.head), "built-in")
      reg.createOrReplaceTempFunction("asof_le",
        es => graft.plans.AsofLE(es.head, es(1)), "built-in")
      spark.conf.set(registeredFlag, "true")
    }
  }
}
