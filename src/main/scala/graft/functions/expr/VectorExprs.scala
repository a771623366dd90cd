package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Input-type gate shared by the vector expressions: every child must be
  * `array<float>`. (`ExpectsInputTypes`' `AbstractDataType` is
  * `private[sql]` in Spark 4, so the check is spelled out.)
  */
private[expr] trait FloatArrayInputs extends Expression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.zipWithIndex.collect {
      case (c, i) if c.dataType != ArrayType(FloatType) &&
        c.dataType != ArrayType(FloatType, containsNull = false) =>
        s"argument $i has type ${c.dataType.simpleString}"
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs; ${bad.mkString("; ")}")
  }

  /** Whether any input schema admits NULL elements. When false (e.g. arrays
    * built by `array(lit...)`), the element null checks compile away and the
    * loop stays branch-free. A NULL element yields a NULL result — matching
    * the HOF forms, which null-poison their aggregate — never a silent 0.
    */
  protected lazy val elementsMayBeNull: Boolean = children.exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })
}

/** Native Catalyst expressions for the embedding-vector hot path.
  *
  * The HOF forms in the specs' `VectorTruth` (`zip_with` +
  * `aggregate`) are correct but interpret their lambda per element; these
  * expressions generate a tight primitive `for` loop inside whole-stage
  * codegen instead — the preference order mandated by SURVEY.md §7.3
  * ("custom Expression only if codegen perf demands it"). Arithmetic is
  * bit-identical to the HOF forms: per-element `(double)float` widening,
  * left-to-right accumulation in double, same zero-norm → NULL convention,
  * and a NULL element yields NULL (as the HOF aggregates null-poison) —
  * the checks compile away when the schema says containsNull=false.
  * (Exception: the HOF lshBucket degrades a NULL element to a garbage
  * bucket via `when(null >= 0)`→0 bits; the native form returns NULL.)
  *
  * All four are also SQL-registered (`graft_dot`, `graft_norm2`,
  * `graft_cosine`, `graft_lsh_bucket`) via [[graft.extensions.GraftExtensions]].
  */
object VectorExprs {
  /** Shared loop body: dot, |a|², |b|² of two float arrays in one pass. */
  @inline private[expr] def dotNorms(x: ArrayData, y: ArrayData, n: Int): (Double, Double, Double) = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      d += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    (d, na, nb)
  }
}

/** Σ aᵢ·bᵢ in double; NULL if the arrays differ in length. */
case class GraftDot(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayInputs {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var d = 0.0; var i = 0
      while (i < n) {
        if (elementsMayBeNull && (x.isNullAt(i) || y.isNullAt(i))) return null
        d += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1
      }
      d
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val d = ctx.freshName("d")
      val nullCheck = if (elementsMayBeNull)
        s"if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }" else ""
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $d += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $d; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftDot =
    copy(left = newLeft, right = newRight)
}

/** √(Σ aᵢ²) in double; NULL if any element is NULL. */
case class GraftNorm2(child: Expression)
    extends UnaryExpression with FloatArrayInputs {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable || elementsMayBeNull
  override def prettyName: String = "graft_norm2"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0; var i = 0; val n = x.numElements()
    while (i < n) {
      if (elementsMayBeNull && x.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble; s += xi * xi; i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val xi = ctx.freshName("xi")
      // ev.isNull may be referenced ONLY when this expression is nullable:
      // with a non-nullable child and containsNull=false elements, nullable
      // is false and nullSafeCodeGen never DECLARES the isNull variable —
      // an unconditional `if (!${ev.isNull})` then references an undeclared
      // name, Janino rejects the whole generated class, and every query
      // containing the expression silently falls back to interpreted
      // execution (exactly the non-codegen-in-hot-path smell this native
      // expression exists to avoid; surfaced by SimplifySelfCosine's
      // rewrite, whose GraftNorm2(array(lit...)) is non-nullable)
      val nullCheck = if (elementsMayBeNull)
        s"if ($x.isNullAt($i)) { ${ev.isNull} = true; break; }" else ""
      val assign =
        if (elementsMayBeNull)
          s"if (!${ev.isNull}) { ${ev.value} = java.lang.Math.sqrt($s); }"
        else s"${ev.value} = java.lang.Math.sqrt($s);"
      s"""
         |final int $n = $x.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  final double $xi = (double) $x.getFloat($i);
         |  $s += $xi * $xi;
         |}
         |$assign
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GraftNorm2 =
    copy(child = newChild)
}

/** Cosine similarity in one pass; NULL on length mismatch or zero norm
  * (NULL-not-NaN, the engine-wide convention per SURVEY.md §4.2).
  */
case class GraftCosine(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayInputs {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      if (elementsMayBeNull) {
        var i = 0
        while (i < n) { if (x.isNullAt(i) || y.isNullAt(i)) return null; i += 1 }
      }
      val (d, na, nb) = VectorExprs.dotNorms(x, y, n)
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn > 0.0) d / nn else null
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val d = ctx.freshName("d"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi"); val nn = ctx.freshName("nn")
      val nullCheck = if (elementsMayBeNull)
        s"if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }" else ""
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $d = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    final double $xi = (double) $x.getFloat($i);
         |    final double $yi = (double) $y.getFloat($i);
         |    $d += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    final double $nn = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($nn > 0.0) { ${ev.value} = $d / $nn; } else { ${ev.isNull} = true; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftCosine =
    copy(left = newLeft, right = newRight)
}

/** Sign-LSH bucket id — the native form of
  * the specs' `VectorTruth.lshBucket`, byte-identical output.
  *
  * The `nPlanes × dims` hyperplane weights are the same deterministic
  * pseudo-random sequence the HOF form folds into its plan
  * (`xxhash64(int literal p·dims+j, seed 42) % 1000001 / 1e6`), precomputed
  * once on the driver and shipped as a codegen reference object — so each
  * row costs one `nPlanes·dims` fused multiply-add loop instead of an
  * interpreted HOF tree. NULL if the vector length ≠ `dims` (the HOF form
  * yields a degenerate bucket there; malformed input is a validation error
  * upstream, see etl.Validate).
  */
case class GraftLshBucket(child: Expression, dims: Int, nPlanes: Int,
    family: Int = 0)
    extends UnaryExpression with FloatArrayInputs {
  require(nPlanes > 0 && nPlanes < 64, "nPlanes must be in [1, 63]")
  require(family >= 0, "family must be >= 0")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lsh_bucket"

  /** weights(p)(j) — must match `VectorTruth.lshBucket` exactly. The
    * family index scales by nPlanes HERE so families 0,1,2,… use disjoint
    * plane-index ranges (never share a hyperplane).
    */
  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(nPlanes, dims) { (p, j) =>
      (XXH64.hashInt((family * nPlanes + p) * dims + j, 42L) % 1000001L).toDouble / 1000000.0
    }

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    if (v.numElements() != dims) null
    else {
      if (elementsMayBeNull) {
        var j = 0
        while (j < dims) { if (v.isNullAt(j)) return null; j += 1 }
      }
      var acc = 0L; var p = 0
      while (p < nPlanes) {
        val w = planes(p); var d = 0.0; var j = 0
        while (j < dims) { d += v.getFloat(j).toDouble * w(j); j += 1 }
        if (d >= 0.0) acc += (1L << p)
        p += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val planesRef = ctx.addReferenceObj("graftLshPlanes", planes, "double[][]")
      val acc = ctx.freshName("acc"); val p = ctx.freshName("p")
      val j = ctx.freshName("j"); val d = ctx.freshName("d"); val w = ctx.freshName("w")
      val j2 = ctx.freshName("j2")
      val nullCheck = if (elementsMayBeNull)
        s"""for (int $j2 = 0; $j2 < $dims; $j2++) {
           |  if ($v.isNullAt($j2)) { ${ev.isNull} = true; break; }
           |}""".stripMargin else ""
      s"""
         |if ($v.numElements() != $dims) {
         |  ${ev.isNull} = true;
         |} else {
         |  $nullCheck
         |  if (!${ev.isNull}) {
         |    long $acc = 0L;
         |    for (int $p = 0; $p < $nPlanes; $p++) {
         |      final double[] $w = $planesRef[$p];
         |      double $d = 0.0;
         |      for (int $j = 0; $j < $dims; $j++) {
         |        $d += (double) $v.getFloat($j) * $w[$j];
         |      }
         |      if ($d >= 0.0) $acc += (1L << $p);
         |    }
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GraftLshBucket =
    copy(child = newChild)
}
