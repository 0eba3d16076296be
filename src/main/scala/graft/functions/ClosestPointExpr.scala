package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Input check of the (line array<struct<x:double,y:double>>, px
  * double, py double) expressions: [[ClosestPointExpr]] and
  * [[InsertionIndexExpr]]. */
trait LinePointInputs { self: TernaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = first.dataType match {
    case ArrayType(StructType(fields), _)
        if fields.length == 2 && fields.forall(_.dataType == DoubleType) &&
          second.dataType == DoubleType && third.dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<struct<x:double,y:double>>, double, double), " +
          s"got (${first.dataType}, ${second.dataType}, ${third.dataType})")
  }
}

/** Native closest-point-on-linestring: the codegen'd form of
  * graft.spatial.Geo.closestOnLineHof (segment-wise projection, min
  * candidate by (d2, seg)) — bit-identical IEEE op sequence per
  * segment, first-minimum-wins like the lexicographic `array_min`.
  *
  * Input: (line array<struct<x:double,y:double>>, px double, py
  * double); output struct<d2,seg,t,x,y>; null when the line has
  * fewer than 2 vertices or a null vertex.
  *
  * Reference semantics: changegen/db.py:129 (ST_ClosestPoint) and
  * generator.py:208-255 (projection parameterization).
  */
case class ClosestPointExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with LinePointInputs {

  override def dataType: DataType = StructType(Seq(
    StructField("d2", DoubleType), StructField("seg", IntegerType),
    StructField("t", DoubleType), StructField("x", DoubleType), StructField("y", DoubleType)))

  override def nullable: Boolean = true
  override def prettyName: String = "graft_closest_point"

  override protected def nullSafeEval(line: Any, px: Any, py: Any): Any =
    ClosestPointExpr.compute(line.asInstanceOf[ArrayData], px.asInstanceOf[Double], py.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (line, px, py) => {
      val r = ctx.freshName("r")
      s"""
         |InternalRow $r = graft.functions.ClosestPointExpr.compute($line, $px, $py);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object ClosestPointExpr {

  /** Projection of a point onto its closest segment: squared distance,
    * 0-based segment index, clamped parameter on that segment, and the
    * projected point. `seg` is -1 when no segment compares below
    * Double.MaxValue (NaN coordinates). */
  private[functions] final class Closest(val d2: Double, val seg: Int, val t: Double, val x: Double, val y: Double)

  /** The closest-segment walk over a flattened line (see
    * [[LineDistExpr.flatten]]); first strictly-smaller d2 wins. */
  private[functions] def closest(xs: Array[Double], ys: Array[Double], px: Double, py: Double): Closest = {
    var bestD2 = Double.MaxValue
    var bestSeg = -1
    var bestT = 0.0
    var bestX = 0.0
    var bestY = 0.0
    var i = 0
    while (i < xs.length - 1) {
      val ax = xs(i); val ay = ys(i)
      val dx = xs(i + 1) - ax; val dy = ys(i + 1) - ay
      val len2 = dx * dx + dy * dy
      val tRaw = if (len2 == 0.0) 0.0 else ((px - ax) * dx + (py - ay) * dy) / len2
      val t = math.min(math.max(tRaw, 0.0), 1.0)
      val cx = ax + t * dx; val cy = ay + t * dy
      val d2 = (cx - px) * (cx - px) + (cy - py) * (cy - py)
      if (d2 < bestD2) { bestD2 = d2; bestSeg = i; bestT = t; bestX = cx; bestY = cy }
      i += 1
    }
    new Closest(bestD2, bestSeg, bestT, bestX, bestY)
  }

  /** struct(d2, seg, t, x, y) of the closest point; null when the line
    * has fewer than 2 vertices or a null vertex. Called from generated
    * code. */
  def compute(line: ArrayData, px: Double, py: Double): InternalRow = {
    if (line.numElements() < 2) return null
    val f = LineDistExpr.flatten(line); if (f == null) return null
    val c = closest(f._1, f._2, px, py)
    new GenericInternalRow(Array[Any](c.d2, c.seg, c.t, c.x, c.y))
  }
}
