package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `nearest_centroid(vec)` → `struct<idx: int, d2: double>`: index of the
  * nearest candidate centroid by squared L2 distance (strict `<`, so the
  * LOWEST index wins ties) and that distance. The distributed workhorse of
  * k-means‖ training ([[graft.pipeline.Similarity]]): the per-round
  * "distance to the current candidate set" pass and the final weighting
  * pass are both one narrow codegen'd map with the candidates broadcast as
  * a reference object — no shuffle, no UDF, no per-element lambda
  * dispatch.
  *
  * Distances here are raw doubles (no rounding): they feed TRAINING
  * decisions only, which the invariant oracles never re-derive — the
  * cross-engine determinism contract applies to the exported artifacts and
  * assignment/search expressions, not to the sampler's internals.
  *
  * NULL for null/short vectors or null elements in the used prefix, like
  * [[PQEncodeCodes]].
  */
case class NearestCentroid(child: Expression, cands: Array[Array[Double]])
  extends UnaryExpression {

  require(cands.nonEmpty, "nearest_centroid requires at least one candidate")

  override def dataType: DataType = NearestCentroid.Shape
  override def nullable: Boolean  = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (PQKernels.vecTypeOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires array<float|double>, got ${child.dataType}")

  private lazy val isFloat = PQKernels.isFloatArray(child.dataType)

  override def nullSafeEval(input: Any): Any =
    NearestCentroid.nearest(input.asInstanceOf[ArrayData], cands, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val candsRef = ctx.addReferenceObj("ncCands", cands, "double[][]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.NearestCentroid.nearest($c, $candsRef, $isFloat);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  // content equality over the candidate array (see PQEncodeCodes)
  override def equals(other: Any): Boolean = other match {
    case NearestCentroid(c, b) =>
      c == child && java.util.Arrays.deepEquals(
        b.asInstanceOf[Array[AnyRef]], cands.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(cands.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {

  val Shape: DataType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))

  /** Static kernel invoked from generated code. Named `nearest`, NOT
    * `eval`: the case class inherits `eval(InternalRow)` from Expression,
    * which suppresses the companion's static forwarder for any method
    * also called `eval` — Janino then only sees the instance overloads
    * and the generated call fails to compile, silently demoting every
    * user of this kernel to the interpreted path (once caught in a
    * `graft.Stress` run via the logged CompileException, now pinned by
    * `CodegenCompileSpec`).
    */
  def nearest(vec: ArrayData, cands: Array[Array[Double]],
      isFloat: Boolean): GenericInternalRow = {
    val dim = cands(0).length
    if (vec.numElements() < dim) return null
    var i = 0
    while (i < dim) { if (vec.isNullAt(i)) return null; i += 1 }
    var bestI = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cands.length) {
      val cent = cands(c)
      var d2 = 0.0
      var j  = 0
      while (j < dim) {
        val x = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        val diff = x - cent(j)
        d2 += diff * diff
        j += 1
      }
      if (d2 < bestD) { bestD = d2; bestI = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestI, bestD))
  }

  /** Column API. */
  def nearestCentroid(c: Column, cands: Array[Array[Double]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      NearestCentroid(org.apache.spark.sql.graftbridge.Bridge.expression(c), cands))
}
