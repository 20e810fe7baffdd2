package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression for the similarity hot loop (SURVEY §4.3:
  * custom codegen `Expression` as the perf tier above higher-order
  * functions). `zip_with(a, b, *) |> aggregate(+)` materializes an
  * intermediate array per row-pair and walks it twice; this fuses the
  * multiply-accumulate into one codegen'd loop over the two ArrayData
  * buffers — no allocation, stays inside WholeStageCodegen.
  *
  * Registered as the SQL function `graft_dot` on the session's function
  * registry (idempotent), so plans keep a declarative form and the
  * DuckDB oracle keeps matching (`list_dot_product` computes the same
  * left-to-right sum). */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // Null semantics mirror the HOF form `aggregate(zip_with(a,b,*),0D,+)`
  // exactly: ragged lengths (zip_with pads with null) or any null
  // element poison the accumulator, so the result is NULL — never a
  // silently-truncated finite number.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |${ev.value} = 0.0;
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    ${ev.value} += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All `nTables` hyperplane-LSH bucket keys of a vector in ONE fused
  * codegen loop — array element t is table t's bucket (nPlanes sign
  * bits packed into a long), bit-identical to the declarative form
  * `array(lshBucket(vec, 0), …, lshBucket(vec, nTables-1))`
  * (SimilaritySpec pins the parity).
  *
  * Why an expression (round 16): the declarative form is
  * nTables × nPlanes independent `when(graft_dot(vec, coeffs) >= 0)`
  * subtrees — ~100 expressions × 64-element literal arrays at the
  * production plane counts, far past the whole-stage-codegen budget,
  * so the projection fell back to interpreted eval and the bucket
  * explode alone measured 52.9 s of cosineNearDupPairsOn's 57.6 s at
  * 100× (BASELINE.md round 16). Here the coefficients are ONE flat
  * Array[Double] reference ([[VectorExpressions.planeComponent]], the
  * same splitmix64 construction the det-rung oracle interpolates as
  * SQL literals) and the whole key derivation is three nested loops
  * inside WholeStageCodegen.
  *
  * Degenerate inputs mirror the declarative form: a wrong-length or
  * null-element vector makes every plane dot NULL, whose `when`
  * fell to `otherwise(0)` — i.e. bucket 0 in every table. */
case class LshBuckets(child: Expression, nPlanes: Int, nTables: Int, dims: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_lsh_buckets expects array<double>, got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  @transient private lazy val coeffs: Array[Double] = LshBuckets.coefficients(nPlanes, nTables, dims)

  private def compute(vec: ArrayData): GenericArrayData = {
    val out = new Array[Long](nTables)
    var clean = vec.numElements() == dims
    var d = 0
    while (clean && d < dims) { if (vec.isNullAt(d)) clean = false; d += 1 }
    if (clean) {
      var t = 0
      while (t < nTables) {
        var bucket = 0L
        var p = 0
        while (p < nPlanes) {
          var s = 0.0
          val base = (t * nPlanes + p) * dims
          var i = 0
          while (i < dims) { s += vec.getDouble(i) * coeffs(base + i); i += 1 }
          if (s >= 0) bucket |= 1L << p
          p += 1
        }
        out(t) = bucket
        t += 1
      }
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val c = ctx.addReferenceObj("lshCoeffs", coeffs, "double[]")
      val out = ctx.freshName("out")
      val clean = ctx.freshName("clean")
      val t = ctx.freshName("t"); val p = ctx.freshName("p")
      val i = ctx.freshName("i"); val s = ctx.freshName("s")
      val base = ctx.freshName("base"); val bucket = ctx.freshName("bucket")
      s"""
         |long[] $out = new long[$nTables];
         |boolean $clean = $v.numElements() == $dims;
         |for (int $i = 0; $clean && $i < $dims; $i++) {
         |  if ($v.isNullAt($i)) $clean = false;
         |}
         |if ($clean) {
         |  for (int $t = 0; $t < $nTables; $t++) {
         |    long $bucket = 0L;
         |    for (int $p = 0; $p < $nPlanes; $p++) {
         |      double $s = 0.0;
         |      int $base = ($t * $nPlanes + $p) * $dims;
         |      for (int $i = 0; $i < $dims; $i++) {
         |        $s += $v.getDouble($i) * $c[$base + $i];
         |      }
         |      if ($s >= 0) $bucket |= 1L << $p;
         |    }
         |    $out[$t] = $bucket;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBuckets {
  /** Flat (table·plane, dim) coefficient buffer from the shared
    * splitmix64 plane family — one JVM object per expression instance,
    * never a per-row literal-array materialization. */
  def coefficients(nPlanes: Int, nTables: Int, dims: Int): Array[Double] = {
    val c = new Array[Double](nTables * nPlanes * dims)
    var pl = 0
    while (pl < nTables * nPlanes) {
      var d = 0
      while (d < dims) {
        c(pl * dims + d) = VectorExpressions.planeComponent(pl, d)
        d += 1
      }
      pl += 1
    }
    c
  }
}

object VectorExpressions {
  /** Deterministic hyperplane coefficient (splitmix64 finalizer over
    * (plane, dim), scaled to [−1, 1]) — THE plane family shared by the
    * Column-level lshBucket, the fused LshBuckets expression, and the
    * det-rung DuckDB oracles (which interpolate these values as SQL
    * literals). */
  def planeComponent(plane: Int, dim: Int): Double = {
    var z = (plane.toLong * 1000003L + dim.toLong) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    z.toDouble / Long.MaxValue.toDouble
  }

  /** Idempotently register the vector expressions on this session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("graft_dot"))) {
      registry.createOrReplaceTempFunction("graft_dot",
        (children: Seq[Expression]) => DotProduct(children.head, children(1)),
        "built-in")
    }
    if (!registry.functionExists(FunctionIdentifier("graft_lsh_buckets"))) {
      registry.createOrReplaceTempFunction("graft_lsh_buckets",
        (children: Seq[Expression]) => {
          def intOf(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
          LshBuckets(children.head, intOf(children(1)), intOf(children(2)), intOf(children(3)))
        },
        "built-in")
    }
  }
}
