package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `PqCodes(vec, books)`: product-quantization encoder — per subspace
  * `j`, the index of the codeword minimizing `‖v_j − c‖²` (computed as
  * the rank-equivalent `Σc² − 2·v_j·c`; ties to the LOWER index), one
  * byte per subspace. A native Catalyst expression with
  * whole-stage-codegen support.
  *
  * Rationale (the repo's hot-path rule: custom Expression beats UDF
  * beats HOF): the equivalent nested higher-order-function fold
  * evaluates ~2·m·ksub interpreted lambda arrays per row — measured
  * 2.4 ms/row at m=16/ksub=64 (4.8 s for a 2 000-row encode); this
  * expression is a primitive triple loop, microseconds per row, and
  * at corpus scale the encode is a map-only pass over every vector —
  * the difference is hours. The codebook must be a LITERAL (it is a
  * trained model, same posture as the k-means centroids in
  * `DetKMeans.Model.assignExpr`); codeword norms are precomputed once
  * per expression instance.
  */
case class PqCodes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val booksOk = right.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) =>
        right.foldable
      case _ => false
    }
    if (vecOk && booksOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "pq_codes expects (array<double>, foldable " +
          "array<array<array<double>>>), got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}" +
          (if (!right.foldable) " (codebook not foldable)" else ""))
  }

  /** Codebooks decoded from the literal once per expression instance:
    * books(j)(c) is a primitive codeword array. */
  @transient lazy val codebooks: Array[Array[Array[Double]]] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements()) { j =>
      val sub = arr.getArray(j)
      Array.tabulate(sub.numElements()) { c =>
        sub.getArray(c).toDoubleArray()
      }
    }
  }

  /** Σc² per codeword, left-to-right (fixed fold order — part of the
    * deterministic score contract). */
  @transient lazy val norms: Array[Array[Double]] =
    codebooks.map(_.map { cw =>
      var s = 0.0
      var d = 0
      while (d < cw.length) { s += cw(d) * cw(d); d += 1 }
      s
    })

  override def nullSafeEval(v: Any, ignored: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val m = codebooks.length
    val out = new Array[Byte](m)
    var j = 0
    var base = 0
    while (j < m) {
      val cws = codebooks(j)
      val ccs = norms(j)
      val subDim = if (cws.isEmpty) 0 else cws(0).length
      var best = Double.PositiveInfinity
      var bi = 0
      var c = 0
      while (c < cws.length) {
        val cw = cws(c)
        var dot = 0.0
        var d = 0
        while (d < subDim) { dot += vec.getDouble(base + d) * cw(d); d += 1 }
        val score = ccs(c) - 2.0 * dot
        if (score < best) { best = score; bi = c }
        c += 1
      }
      out(j) = bi.toByte
      base += subDim
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", codebooks,
      "double[][][]")
    val normsRef = ctx.addReferenceObj("pqNorms", norms, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      val base = ctx.freshName("base")
      val best = ctx.freshName("best")
      val bi = ctx.freshName("bi")
      val dot = ctx.freshName("dot")
      val cw = ctx.freshName("cw")
      val score = ctx.freshName("score")
      val sub = ctx.freshName("subDim")
      s"""
        |byte[] $out = new byte[$booksRef.length];
        |int $base = 0;
        |for (int $j = 0; $j < $booksRef.length; $j++) {
        |  double $best = Double.POSITIVE_INFINITY;
        |  int $bi = 0;
        |  int $sub = $booksRef[$j].length == 0 ? 0
        |    : $booksRef[$j][0].length;
        |  for (int $c = 0; $c < $booksRef[$j].length; $c++) {
        |    double[] $cw = $booksRef[$j][$c];
        |    double $dot = 0.0;
        |    for (int $d = 0; $d < $sub; $d++) {
        |      $dot += $v.getDouble($base + $d) * $cw[$d];
        |    }
        |    double $score = $normsRef[$j][$c] - 2.0 * $dot;
        |    if ($score < $best) { $best = $score; $bi = $c; }
        |  }
        |  $out[$j] = (byte) $bi;
        |  $base += $sub;
        |}
        |${ev.value} = org.apache.spark.sql.catalyst.expressions
        |  .UnsafeArrayData.fromPrimitiveArray($out);
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqCodes =
    copy(left = newLeft, right = newRight)
}

object PqCodes {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  val info: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("pq_codes"),
    new ExpressionInfo(classOf[PqCodes].getName, "pq_codes"),
    (children: Seq[Expression]) => PqCodes(children(0), children(1)))
}
