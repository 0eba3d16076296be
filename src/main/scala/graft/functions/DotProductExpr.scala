package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Native codegen'd float-array dot product.
  *
  * Semantics match the composable form
  * `aggregate(zip_with(a, b, (x, y) -> double(x)*double(y)), 0d, +)`
  * exactly — strict left-to-right double accumulation, so results are
  * bit-identical to the interpreted HOF chain and to the DuckDB
  * oracle's list_reduce. The difference is purely mechanical: a tight
  * primitive loop inside whole-stage codegen vs. per-element lambda
  * dispatch with boxing (~10× on 64-dim vectors).
  *
  * Registered as SQL function `graft_dot` via
  * [[GraftFunctions.register]] (SparkSessionExtensions.injectFunction).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType, _) => true // any containsNull mix
        case _ => false
      }))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // length mismatch → null, matching the HOF form (zip_with pads the
    // shorter side with null, which nulls the whole fold); likewise a
    // null ELEMENT nulls the fold (null * anything → null → null sum)
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
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
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Extension installer for graft's native functions. */
object GraftFunctions {
  val dotInfo = new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot")
  val cpInfo = new ExpressionInfo(classOf[ClosestPointExpr].getName, "graft_closest_point")

  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      dotInfo,
      (children: Seq[Expression]) => DotProductExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_closest_point"),
      cpInfo,
      (children: Seq[Expression]) => ClosestPointExpr(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_insertion_index"),
      new ExpressionInfo(classOf[InsertionIndexExpr].getName, "graft_insertion_index"),
      (children: Seq[Expression]) => InsertionIndexExpr(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash32"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "graft_simhash32"),
      (children: Seq[Expression]) => SimhashExpr(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[Simhash64Expr].getName, "graft_simhash64"),
      (children: Seq[Expression]) => Simhash64Expr(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_line_dist2"),
      new ExpressionInfo(classOf[LineDistExpr].getName, "graft_line_dist2"),
      (children: Seq[Expression]) => LineDistExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_line_closest"),
      new ExpressionInfo(classOf[LineClosestExpr].getName, "graft_line_closest"),
      (children: Seq[Expression]) => LineClosestExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_trigram_score"),
      new ExpressionInfo(classOf[TrigramScoreExpr].getName, "graft_trigram_score"),
      (children: Seq[Expression]) => TrigramScoreExpr(children(0), children(1))))
    WkbGeomExpr.sqlNames.zipWithIndex.foreach { case (name, depth) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[WkbGeomExpr].getName, name),
        (children: Seq[Expression]) => WkbGeomExpr(children(0), depth)))
    }
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo(classOf[BpeEncodeExpr].getName, "graft_bpe_encode"),
      (children: Seq[Expression]) => BpeEncodeExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_cdc_cuts"),
      new ExpressionInfo(classOf[CdcCutsExpr].getName, "graft_cdc_cuts"),
      (children: Seq[Expression]) => CdcCutsExpr(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_tokens"),
      new ExpressionInfo(classOf[TokensExpr].getName, "graft_tokens"),
      (children: Seq[Expression]) => TokensExpr(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_ahash_half"),
      new ExpressionInfo(classOf[AHashHalfExpr].getName, "graft_ahash_half"),
      (children: Seq[Expression]) => AHashHalfExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_raster_sum"),
      new ExpressionInfo(classOf[RasterSumExpr].getName, "graft_raster_sum"),
      (children: Seq[Expression]) => RasterSumExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_raster_sumsq"),
      new ExpressionInfo(classOf[RasterSumSqExpr].getName, "graft_raster_sumsq"),
      (children: Seq[Expression]) => RasterSumSqExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_raster_sad"),
      new ExpressionInfo(classOf[RasterSadExpr].getName, "graft_raster_sad"),
      (children: Seq[Expression]) => RasterSadExpr(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_char_ngrams"),
      new ExpressionInfo(classOf[CharNgramsExpr].getName, "graft_char_ngrams"),
      (children: Seq[Expression]) => CharNgramsExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNgramsExpr].getName, "graft_word_ngrams"),
      (children: Seq[Expression]) => WordNgramsExpr(children(0), children(1), children(2), children(3))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashExpr].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinhashExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_long60"),
      new ExpressionInfo(classOf[Md5Long60Expr].getName, "graft_md5_long60"),
      (children: Seq[Expression]) => Md5Long60Expr(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowExpr].getName, "graft_winnow"),
      (children: Seq[Expression]) => WinnowExpr(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_wsum"),
      new ExpressionInfo(classOf[GramWsumExpr].getName, "graft_gram_wsum"),
      (children: Seq[Expression]) => GramWsumExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_agg"),
      new ExpressionInfo(classOf[GramAggExpr].getName, "graft_gram_agg"),
      (children: Seq[Expression]) => GramAggExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_wav_pcm16"),
      new ExpressionInfo(classOf[WavPcm16Expr].getName, "graft_wav_pcm16"),
      (children: Seq[Expression]) => WavPcm16Expr(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_pcm_stats"),
      new ExpressionInfo(classOf[PcmStatsExpr].getName, "graft_pcm_stats"),
      (children: Seq[Expression]) => PcmStatsExpr(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_frame_energies"),
      new ExpressionInfo(classOf[PcmFrameEnergiesExpr].getName, "graft_frame_energies"),
      (children: Seq[Expression]) => PcmFrameEnergiesExpr(children(0), children(1))))
    // Spark's own BloomFilterMightContain (the codegen'd probe behind
    // runtime row-group filtering) is shipped but not SQL-registered —
    // expose it so dedupAgainstBloom's pre-filter stays native instead
    // of a scalar UDF. Child 0 must be a foldable binary (the
    // bloom_filter_agg state), child 1 an xxhash64 long.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_dwithin"),
      new ExpressionInfo(classOf[graft.plans.GraftDWithin].getName, "graft_dwithin"),
      (children: Seq[Expression]) => {
        val d = children.map(c => if (c.dataType == DoubleType) c else Cast(c, DoubleType))
        graft.plans.GraftDWithin(d(0), d(1), d(2), d(3), d(4))
      }))
    // planner extension, not just a function: rewrites graft_dwithin
    // θ-joins into grid equi-joins (see GridDWithinJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.GridDWithinJoinRule)
  }
}
