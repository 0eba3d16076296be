package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native fractional-projection insertion index — the codegen'd form
  * of graft.spatial.Geo.insertionIndex (reference:
  * changegen/generator.py:208-255): project p onto the line (the
  * closest-segment walk of ClosestPointExpr), build cumulative length
  * fractions with a sequential left fold, and return the smallest
  * 0-based vertex index whose fraction exceeds the projected location
  * (else n-1).
  *
  * Bit-identical to the HOF composition (closestOnLine +
  * cumulativeFractions + array_position) — every add/div happens in
  * the same order; spec-checked against the HOF form.
  */
case class InsertionIndexExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with LinePointInputs {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_insertion_index"

  override protected def nullSafeEval(line: Any, px: Any, py: Any): Any =
    InsertionIndexExpr.compute(line.asInstanceOf[ArrayData], px.asInstanceOf[Double],
      py.asInstanceOf[Double]) match {
      case -1 => null // sentinel from compute: short line / null vertex / NaN
      case j => j
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (line, px, py) => {
      val j = ctx.freshName("j")
      s"""
         |int $j = graft.functions.InsertionIndexExpr.compute($line, $px, $py);
         |if ($j < 0) { ${ev.isNull} = true; } else { ${ev.value} = $j; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object InsertionIndexExpr {

  /** 0-based insertion index of (px, py) into `line`; -1 (SQL null)
    * when the line has fewer than 2 vertices, a null vertex, or no
    * closest segment (NaN coordinates). Called from generated code. */
  def compute(line: ArrayData, px: Double, py: Double): Int = {
    val n = line.numElements()
    if (n < 2) return -1
    val f = LineDistExpr.flatten(line); if (f == null) return -1
    val (xs, ys) = f
    val c = ClosestPointExpr.closest(xs, ys, px, py)
    if (c.seg < 0) return -1
    // cumulative lengths, same sequential fold order as
    // aggregate(concat(acc, last+len)); Geo.dist operand order
    val cums = new Array[Double](n)
    var i = 0
    while (i < n - 1) {
      val dx = xs(i) - xs(i + 1); val dy = ys(i) - ys(i + 1)
      cums(i + 1) = cums(i) + math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    val total = cums(n - 1)
    def frac(j: Int): Double = if (total == 0.0) 0.0 else cums(j) / total
    val segStart = frac(c.seg)
    val segEnd = frac(c.seg + 1)
    val loc = segStart + c.t * (segEnd - segStart)
    // fp9-quantized comparison: when the projection lands exactly ON a
    // vertex, `segStart + t*(segEnd-segStart)` is mathematically equal
    // to that vertex's fraction but can round one ulp under it — and
    // the best-SEGMENT tie (t=1 on seg i vs t=0 on seg i+1) can break
    // differently across engines, flipping a raw `<`. Quantizing both
    // sides at 1e-9 (fractions live in [0,1]; adjacent vertex fracs
    // are ~1/n apart) makes the tie land on "not less" — insertion
    // AFTER the coincident vertex — on every engine.
    def fp9(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    val locQ = fp9(loc)
    // 0-based j here equals the HOF's (1-based array_position) - 1
    var j = 0
    while (j < n) {
      if (locQ < fp9(frac(j))) return j
      j += 1
    }
    n - 1
  }
}
