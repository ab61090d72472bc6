package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Distance/similarity kernels over embedding columns, as native
  * Catalyst expressions with whole-stage codegen (`doGenCode`) —
  * the hot loop of every ANN scan. Matches the reference metrics in
  * /root/reference/bigvectorbench/distance.py:32-47 (euclidean,
  * angular=1-cosine, hamming) but computed distributively.
  *
  * Parity contract with the DuckDB oracle: elements are widened
  * float→double (exact), products/sums accumulate in double in index
  * order — the same left-to-right sequential loop DuckDB's
  * list_distance / list_cosine_similarity / list_inner_product run.
  */
abstract class VectorBinaryExpression extends BinaryExpression
    with Serializable {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected def get(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** java source for reading element i of `arr` as double */
  protected def cGet(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
}

/** Inner product: sum_i a_i * b_i */
case class VecDot(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var acc = 0.0
    var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) { acc += get(x, i, lf) * get(y, i, rf); i += 1 }
    acc
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
      // freshName on every statement-level local: with a non-nullable
      // child nullSafeCodeGen inlines this body unbraced, so fixed
      // names collide when one projection holds two instances
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  $acc += ${cGet(a, i, lf)} * ${cGet(b, i, rf)};
       |}
       |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Euclidean (L2) distance: sqrt(sum_i (a_i-b_i)^2) */
case class VecL2(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var acc = 0.0
    var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) {
      val d = get(x, i, lf) - get(y, i, rf); acc += d * d; i += 1
    }
    math.sqrt(acc)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $d = ${cGet(a, i, lf)} - ${cGet(b, i, rf)};
       |  $acc += $d * $d;
       |}
       |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Squared L2 — the ADC/quantized-scan kernel (no sqrt per subspace,
  * sums of per-subspace squared distances stay order-equivalent to L2).
  */
case class VecL2Sq(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var acc = 0.0
    var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) {
      val d = get(x, i, lf) - get(y, i, rf); acc += d * d; i += 1
    }
    acc
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $d = ${cGet(a, i, lf)} - ${cGet(b, i, rf)};
       |  $acc += $d * $d;
       |}
       |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Cosine similarity: dot/(|a||b|); angular distance = 1 - this. */
case class VecCosineSim(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) {
      val u = get(x, i, lf); val v = get(y, i, rf)
      dot += u * v; na += u * u; nb += v * v; i += 1
    }
    dot / math.sqrt(na * nb)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val u = ctx.freshName("u")
      val v = ctx.freshName("v")
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $dot = 0.0, $na = 0.0, $nb = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $u = ${cGet(a, i, lf)};
       |  double $v = ${cGet(b, i, rf)};
       |  $dot += $u * $v; $na += $u * $u; $nb += $v * $v;
       |}
       |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Sign-bit hamming distance: count_i [ (a_i>0) != (b_i>0) ].
  * Integer-valued ⇒ bit-exact across engines. Mirrors the reference's
  * boolean-xor hamming (distance.py:33) on sign-binarised embeddings.
  */
case class VecSignHamming(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var acc = 0L
    var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) {
      if ((get(x, i, lf) > 0) != (get(y, i, rf) > 0)) acc += 1L
      i += 1
    }
    acc
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |long $acc = 0L;
       |for (int $i = 0; $i < $n; $i++) {
       |  if ((${cGet(a, i, lf)} > 0) != (${cGet(b, i, rf)} > 0)) $acc++;
       |}
       |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Index of the nearest centroid — the IVF cell assignment — as one
  * codegen'd pass: each centroid's distance is VecL2's (float→double
  * widening, index-ordered sum over the shorter length, then sqrt),
  * and the first minimum wins under Spark's double ordering (NaN
  * above every number), which is what
  * `array_position(d, array_min(d)) - 1` over the distance array `d`
  * returns. Null for a null vector or no centroids.
  */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${t.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  // the centroids would print as an array reference
  override def stringArgs: Iterator[Any] = Iterator(child)

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val fl = isFloat
    var best = -1
    var bestD = 0.0
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      var acc = 0.0
      var i = 0
      val n = math.min(x.numElements(), ce.length)
      while (i < n) {
        val d = (if (fl) x.getFloat(i).toDouble else x.getDouble(i)) - ce(i)
        acc += d * d; i += 1
      }
      val dist = math.sqrt(acc)
      if (best < 0 || SQLOrderingUtil.compareDoubles(dist, bestD) < 0) {
        best = c; bestD = dist
      }
      c += 1
    }
    if (best < 0) null else best
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c")
      val ce = ctx.freshName("ce")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val dist = ctx.freshName("dist")
      s"""
       |int $n = $a.numElements();
       |double[] $v = new double[$n];
       |for (int $i = 0; $i < $n; $i++) {
       |  $v[$i] = ${if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"};
       |}
       |int $best = -1;
       |double $bestD = 0.0;
       |for (int $c = 0; $c < $centsRef.length; $c++) {
       |  double[] $ce = $centsRef[$c];
       |  int $m = java.lang.Math.min($n, $ce.length);
       |  double $acc = 0.0;
       |  for (int $i = 0; $i < $m; $i++) {
       |    double $d = $v[$i] - $ce[$i];
       |    $acc += $d * $d;
       |  }
       |  double $dist = java.lang.Math.sqrt($acc);
       |  if ($best < 0 || org.apache.spark.sql.catalyst.util.SQLOrderingUtil
       |      .compareDoubles($dist, $bestD) < 0) {
       |    $best = $c; $bestD = $dist;
       |  }
       |}
       |if ($best < 0) { ${ev.isNull} = true; } else { ${ev.value} = $best; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "nearest_centroid"
}
