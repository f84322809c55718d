package graft.functions.expr

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

import graft.operators.Rounding

/** Native per-row array of `(rounded squared-L2 distance, cid)` structs
  * against a constant centroid matrix — the k-means assignment /
  * multi-probe primitive behind centroidCands (qe9/qe10/qe16/qe18 and
  * the qe15c/qe22c/qe25c gate).
  *
  * Why a custom Expression (builder preference order (b), and the exact
  * failure PqEncode's scaladoc records for the PQ codebooks): the
  * literal formulation — an `array()` of K `struct(dround(dot(v,v)
  * - 2·dot(v,c) + |c|²), cid)` with `typedLit` centroids — unrolls to
  * O(K·dim) generated code, which blows past janino's 64 KB method
  * limit near K ≈ 100 and silently falls back to interpreted eval
  * (measured by a 10× weak-scaled smoke: 16 codegen-failure stacks on
  * the 10×-corpus gate build at K = 142; BENCH_NOTES.md, "r12 10x
  * headroom smoke"). This compiles to two nested
  * primitive loops with the flattened centroid matrix as a referenced
  * `double[]` — whole-stage-codegen'd at ANY K, which is what √n-cell
  * IVF sizing needs at corpus scale.
  *
  * Bit-parity with the literal form is load-bearing (qe9/qe10 are
  * hash-match oracled on the identical arithmetic): same operation
  * order `(selfdot - 2·dot) + c2` with strictly left-to-right dots,
  * the SAME driver-side `c.map(x ⇒ x·x).sum` constant for |c|², and
  * `Rounding.droundD` (bit-identical to the dround Column by the
  * pinned property). A GraftProperties property pins native == literal
  * elementwise.
  */
case class CentroidDistances(child: Expression, cents: Array[Double],
    cids: Array[Int], c2: Array[Double], dim: Int)
    extends UnaryExpression with ExpectsInputTypes {

  private def k = cids.length

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("d", DoubleType, nullable = false),
      StructField("cid", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_centroid_dists"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) {
      throw new IllegalArgumentException(
        s"graft_centroid_dists: dimension mismatch (${v.numElements()} vs $dim)")
    }
    var self = 0.0
    var j = 0
    while (j < dim) { val x = v.getDouble(j); self += x * x; j += 1 }
    val out = new Array[Any](k)
    var c = 0
    while (c < k) {
      var dot = 0.0
      j = 0
      while (j < dim) { dot += v.getDouble(j) * cents(c * dim + j); j += 1 }
      out(c) = new GenericInternalRow(Array[Any](
        Rounding.droundD(self - 2.0 * dot + c2(c), 6), cids(c)))
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cm = ctx.addReferenceObj("centMatrix", cents, "double[]")
      val ci = ctx.addReferenceObj("centIds", cids, "int[]")
      val cc = ctx.addReferenceObj("centSelfdots", c2, "double[]")
      val self = ctx.freshName("self")
      val x = ctx.freshName("x")
      val dot = ctx.freshName("dot")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      s"""
         |if ($v.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "graft_centroid_dists: dimension mismatch (" +
         |      $v.numElements() + " vs $dim)");
         |}
         |double $self = 0.0;
         |for (int $j = 0; $j < $dim; $j++) {
         |  double $x = $v.getDouble($j);
         |  $self += $x * $x;
         |}
         |Object[] $out = new Object[$k];
         |for (int $c = 0; $c < $k; $c++) {
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $dim; $j++) {
         |    $dot += $v.getDouble($j) * $cm[$c * $dim + $j];
         |  }
         |  $out[$c] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{
         |      graft.operators.Rounding.droundD($self - 2.0 * $dot + $cc[$c], 6),
         |      $ci[$c]});
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CentroidDistances =
    copy(child = newChild)
}
