package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructType}

/** Native minimum squared distance between two polylines — the exact
  * predicate behind the reference's line-line `ST_DWithin`
  * (changegen/db.py:127-135: st_dwithin between linestring
  * geometries).
  *
  * Per segment pair the distance is EXACT (not densified):
  *   - properly crossing segments → 0;
  *   - otherwise the minimum of the four endpoint-to-other-segment
  *     distances (for non-crossing segments the minimum is always
  *     attained at an endpoint; touching/collinear-overlap cases give
  *     a zero endpoint distance, so the strict crossing test suffices).
  * The result is the min over all segment pairs. Every arithmetic step
  * (projection clamp, orientation cross products, min fold) is written
  * identically in the DuckDB oracle SQL, so outputs are bit-exact
  * across engines.
  *
  * Null when either line has fewer than 2 vertices or contains a null
  * element. Registered as SQL function `graft_line_dist2` via
  * [[GraftFunctions.register]].
  */
case class LineDistExpr(left: Expression, right: Expression) extends BinaryExpression {

  private def isLine(t: DataType): Boolean = t match {
    case ArrayType(StructType(fields), _) =>
      fields.length == 2 && fields.forall(_.dataType == DoubleType)
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLine(left.dataType) && isLine(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_line_dist2 expects two array<struct<x:double,y:double>>, got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_line_dist2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LineDistExpr.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]) match {
      case d if d.isNaN => null // sentinel from compute: short line / null vertex
      case d => d
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d = ctx.freshName("d")
      s"""
         |double $d = graft.functions.LineDistExpr.compute($a, $b);
         |if (Double.isNaN($d)) { ${ev.isNull} = true; } else { ${ev.value} = $d; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LineDistExpr {

  /** Squared distance from point (px,py) to segment (ax,ay)-(bx,by) —
    * the closestOnSegment arithmetic, kept textually in step with the
    * oracle SQL. */
  private def pointSegD2(px: Double, py: Double,
                         ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val dx = bx - ax; val dy = by - ay
    val len2 = dx * dx + dy * dy
    val tRaw = if (len2 == 0.0) 0.0 else ((px - ax) * dx + (py - ay) * dy) / len2
    val t = math.min(math.max(tRaw, 0.0), 1.0)
    val cx = ax + t * dx; val cy = ay + t * dy
    (cx - px) * (cx - px) + (cy - py) * (cy - py)
  }

  /** Orientation cross product of (o→a, o→p). Sign-only use, but the
    * formula must match the oracle byte for byte so near-zero signs
    * agree. */
  private def cross(ox: Double, oy: Double, ax: Double, ay: Double,
                    px: Double, py: Double): Double =
    (ax - ox) * (py - oy) - (ay - oy) * (px - ox)

  /** Flatten one polyline to (xs, ys) double arrays — null on a null
    * element. One O(n) staging pass makes the O(n·m) segment walk
    * allocation-free: `getStruct` wraps an UnsafeRow PER CALL, and at
    * corpus-scale polylines two allocations per inner-loop iteration
    * dominated the walk (measured ~5× on 18k-vertex lines). */
  private[functions] def flatten(a: ArrayData): (Array[Double], Array[Double]) = {
    val n = a.numElements()
    val xs = new Array[Double](n); val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val s = a.getStruct(i, 2)
      xs(i) = s.getDouble(0); ys(i) = s.getDouble(1)
      i += 1
    }
    (xs, ys)
  }

  /** Per-segment bbox staging for the exact prune below: a segment
    * pair whose bbox gap² is >= the running best can never STRICTLY
    * improve it (bbox distance lower-bounds segment distance), so
    * skipping it leaves the min — and [[LineClosestExpr]]'s
    * first-strictly-smaller argmin — bit-identical while making the
    * O(n·m) walk near-linear once `best` is small. */
  private[functions] def segBoxes(xs: Array[Double], ys: Array[Double])
      : (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val n = xs.length - 1
    val minx = new Array[Double](n); val maxx = new Array[Double](n)
    val miny = new Array[Double](n); val maxy = new Array[Double](n)
    var j = 0
    while (j < n) {
      val x1 = xs(j); val x2 = xs(j + 1)
      if (x1 <= x2) { minx(j) = x1; maxx(j) = x2 } else { minx(j) = x2; maxx(j) = x1 }
      val y1 = ys(j); val y2 = ys(j + 1)
      if (y1 <= y2) { miny(j) = y1; maxy(j) = y2 } else { miny(j) = y2; maxy(j) = y1 }
      j += 1
    }
    (minx, maxx, miny, maxy)
  }

  /** Min squared distance between polylines; NaN sentinel when either
    * side is degenerate (caller maps it to SQL null). Called from
    * generated code. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na < 2 || nb < 2) return Double.NaN
    val fa = flatten(a); if (fa == null) return Double.NaN
    val fb = flatten(b); if (fb == null) return Double.NaN
    val (axs, ays) = fa; val (bxs, bys) = fb
    val (bminx, bmaxx, bminy, bmaxy) = segBoxes(bxs, bys)
    var best = Double.MaxValue
    var i = 0
    var j = 0
    while (i < na - 1 && best > 0.0) {
      val p1x = axs(i); val p1y = ays(i)
      val p2x = axs(i + 1); val p2y = ays(i + 1)
      val pminx = if (p1x <= p2x) p1x else p2x
      val pmaxx = if (p1x <= p2x) p2x else p1x
      val pminy = if (p1y <= p2y) p1y else p2y
      val pmaxy = if (p1y <= p2y) p2y else p1y
      j = 0
      while (j < nb - 1 && best > 0.0) {
        // exact prune: bbox gap² lower-bounds the pair distance²
        var gx = bminx(j) - pmaxx
        val gx2 = pminx - bmaxx(j)
        if (gx2 > gx) gx = gx2
        if (gx < 0.0) gx = 0.0
        var gy = bminy(j) - pmaxy
        val gy2 = pminy - bmaxy(j)
        if (gy2 > gy) gy = gy2
        if (gy < 0.0) gy = 0.0
        if (gx * gx + gy * gy < best) {
          val q1x = bxs(j); val q1y = bys(j)
          val q2x = bxs(j + 1); val q2y = bys(j + 1)
          val o1 = cross(q1x, q1y, q2x, q2y, p1x, p1y)
          val o2 = cross(q1x, q1y, q2x, q2y, p2x, p2y)
          val o3 = cross(p1x, p1y, p2x, p2y, q1x, q1y)
          val o4 = cross(p1x, p1y, p2x, p2y, q2x, q2y)
          val d2 =
            if (((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
                ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0))) 0.0
            else {
              var m = pointSegD2(p1x, p1y, q1x, q1y, q2x, q2y)
              val m2 = pointSegD2(p2x, p2y, q1x, q1y, q2x, q2y)
              if (m2 < m) m = m2
              val m3 = pointSegD2(q1x, q1y, p1x, p1y, p2x, p2y)
              if (m3 < m) m = m3
              val m4 = pointSegD2(q2x, q2y, p1x, p1y, p2x, p2y)
              if (m4 < m) m = m4
              m
            }
          if (d2 < best) best = d2
        }
        j += 1
      }
      i += 1
    }
    best
  }
}
