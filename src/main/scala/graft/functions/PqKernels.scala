package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst kernels for the PQ (product-quantization) hot loops.
  *
  * Why Expressions and not the HOF forms they replace: `transform` /
  * `zip_with` / `aggregate` are CodegenFallback — every subspace distance
  * in `VectorOps.pqEncode` was m·k interpreted `Expression.eval` calls
  * with boxing, measured as the dominant cost of every PQ query (encode
  * of the sf0.1 corpus ≈ 2.3 s of sim_pq_topk's 2.9 s). These kernels run
  * the same arithmetic as tight primitive loops inside whole-stage
  * codegen.
  *
  * Bit-exactness contract (PropertySpec pins kernel ≡ HOF form): float
  * element reads widen exactly to double; each subspace distance
  * accumulates left-to-right in dimension order (`acc += (c-v)²`), the
  * codeword scan tracks the FIRST strict minimum (`d < best`), exactly
  * `array_position(d2s, array_min(d2s)) − 1` for the non-null, non-NaN
  * distances this data produces; the ADC sum accumulates in subspace
  * order. Same IEEE ops in the same order ⇒ identical doubles, identical
  * codes, identical oracle hashes.
  */
object PqKernels {
  /** Flattened codebooks: cb(s)(c)(j) → flat[(s*k + c)*sub + j]. */
  private[functions] def flatten(cbs: Seq[Seq[Seq[Double]]]): Array[Double] = {
    val m = cbs.size; val k = cbs.head.size; val sub = cbs.head.head.size
    val out = new Array[Double](m * k * sub)
    var i = 0
    for (s <- 0 until m; c <- 0 until k; j <- 0 until sub) {
      out(i) = cbs(s)(c)(j); i += 1
    }
    out
  }

  /** The decoders' precondition: exactly `m` codes, none null, each in
    * `0 until k`. A null slot would decode whatever bytes it holds and an
    * out-of-range code would index another subspace's codeword (or past
    * the codebook), so bad input fails here, naming the kernel. Called by
    * the interpreted and the generated path alike. */
  def checkCodes(kernel: String, codes: ArrayData, m: Int, k: Int): Unit = {
    if (codes.numElements() != m) throw new IllegalArgumentException(
      s"$kernel: expected $m codes, got ${codes.numElements()}")
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s))
        throw new IllegalArgumentException(s"$kernel: code $s is null")
      val c = codes.getInt(s)
      if (c < 0 || c >= k) throw new IllegalArgumentException(
        s"$kernel: code $s is $c, outside 0..${k - 1}")
      s += 1
    }
  }
}

/** PQ encode: for each of `m` contiguous subspaces of `sub` dims, the
  * index of the L2-nearest codeword among `k` (tie → lowest index).
  * Input `array<float>` or `array<double>`; output `array<int>` of m. */
case class PqEncodeKernel(child: Expression, cb: Array[Double], m: Int,
                          k: Int, sub: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<float|double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // lazy: child.dataType is only legal after analysis (withNewChildInternal
  // copies this expression while the tree is still unresolved)
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        var d = 0.0
        var j = 0
        val base = (s * k + c) * sub
        val voff = s * sub
        while (j < sub) {
          val x = if (isFloat) v.getFloat(voff + j).toDouble
                  else v.getDouble(voff + j)
          val diff = cb(base + j) - x
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "double[]")
    val get = if (isFloat) "(double)" else ""
    val getter = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, v => {
      val codes = ctx.freshName("codes")
      val s = ctx.freshName("s"); val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val d = ctx.freshName("d"); val diff = ctx.freshName("diff")
      val base = ctx.freshName("base"); val voff = ctx.freshName("voff")
      s"""
         |int[] $codes = new int[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  int $best = 0;
         |  double $bestD = Double.POSITIVE_INFINITY;
         |  int $voff = $s * $sub;
         |  for (int $c = 0; $c < $k; $c++) {
         |    double $d = 0.0;
         |    int $base = ($s * $k + $c) * $sub;
         |    for (int $j = 0; $j < $sub; $j++) {
         |      double $diff = $cbRef[$base + $j] - $get$v.$getter($voff + $j);
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $c; }
         |  }
         |  $codes[$s] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeKernel =
    copy(child = newChild)
}

object PqEncodeKernel {
  import org.apache.spark.sql.graft.bridge
  def apply(vec: Column, cbs: Seq[Seq[Seq[Double]]]): Column =
    bridge.column(PqEncodeKernel(bridge.expression(vec),
      PqKernels.flatten(cbs), cbs.size, cbs.head.size, cbs.head.head.size))
}

/** ADC lookup sum: Σ_s lut[s][codes[s]] in subspace order — the
  * asymmetric-distance finish over PQ codes. `codes` is `array<int>`,
  * `lut` is `array<array<double>>` (one row per subspace). Identical
  * accumulation order to the `aggregate(zip_with(codes, lut, ...))` HOF
  * it replaces. */
case class AdcSumKernel(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_sum expects (array<int>, array<array<double>>), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val n = math.min(codes.numElements(), lut.numElements())
    var acc = 0.0
    var s = 0
    while (s < n) {
      acc += lut.getArray(s).getDouble(codes.getInt(s))
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($codes.numElements(), $lut.numElements());
         |double $acc = 0.0;
         |for (int $s = 0; $s < $n; $s++) {
         |  $acc += $lut.getArray($s).getDouble($codes.getInt($s));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSumKernel =
    copy(left = newLeft, right = newRight)
}

object AdcSumKernel {
  import org.apache.spark.sql.graft.bridge
  def apply(codes: Column, lut: Column): Column =
    bridge.column(AdcSumKernel(bridge.expression(codes), bridge.expression(lut)))
}

/** PQ decode: codeword concatenation — output element s·sub+j is
  * cb[s][codes[s]][j]. Pure array copy from the literal codebooks, no
  * arithmetic, so the result is bit-identical to the
  * flatten/transform/element_at HOF chain it replaces (r15 — that chain
  * was interpreted per ROW, and the gates evaluate it per corpus×query
  * pair in the brute-force reconstruction legs). Input `array<int>` of m
  * codes in `0 until k` ([[PqKernels.checkCodes]]); output
  * `array<double>` of m·sub. */
case class PqDecodeKernel(child: Expression, cb: Array[Double], m: Int,
                          k: Int, sub: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_decode expects array<int>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    PqKernels.checkCodes("PqDecodeKernel", codes, m, k)
    val out = new Array[Double](m * sub)
    var s = 0
    while (s < m) {
      System.arraycopy(cb, (s * k + codes.getInt(s)) * sub, out, s * sub, sub)
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "double[]")
    nullSafeCodeGen(ctx, ev, codes => {
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      s"""
         |graft.functions.PqKernels.checkCodes("PqDecodeKernel", $codes, $m, $k);
         |double[] $out = new double[${m * sub}];
         |for (int $s = 0; $s < $m; $s++) {
         |  System.arraycopy($cbRef, ($s * $k + $codes.getInt($s)) * $sub,
         |    $out, $s * $sub, $sub);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqDecodeKernel =
    copy(child = newChild)
}

object PqDecodeKernel {
  import org.apache.spark.sql.graft.bridge
  def apply(codes: Column, cbs: Seq[Seq[Seq[Double]]]): Column =
    bridge.column(PqDecodeKernel(bridge.expression(codes),
      PqKernels.flatten(cbs), cbs.size, cbs.head.size, cbs.head.head.size))
}

/** PQ reconstruction: base[i] + decode(codes)[i] elementwise — the
  * IVF-PQ two-stage reconstruction c + decode(codes) in one pass.
  * Identical element order and IEEE adds to the
  * `zip_with(base, pqDecode(codes), (a, b) => a + b)` HOF it replaces
  * (r15 — interpreted per corpus row in the ivfpq gate's recon leg).
  * `base` is `array<double>` of m·sub, `codes` as for [[PqDecodeKernel]];
  * output `array<double>` of m·sub. */
case class PqReconstructKernel(left: Expression, right: Expression,
                               cb: Array[Double], m: Int, k: Int, sub: Int)
    extends BinaryExpression {

  // left = base vector (array<double>), right = codes (array<int>)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_reconstruct expects (array<double>, array<int>), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val base = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    PqKernels.checkCodes("PqReconstructKernel", codes, m, k)
    val out = new Array[Double](m * sub)
    var s = 0
    while (s < m) {
      val off = (s * k + codes.getInt(s)) * sub
      val voff = s * sub
      var j = 0
      while (j < sub) {
        out(voff + j) = base.getDouble(voff + j) + cb(off + j)
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "double[]")
    nullSafeCodeGen(ctx, ev, (base, codes) => {
      val out = ctx.freshName("out")
      val s = ctx.freshName("s"); val j = ctx.freshName("j")
      val off = ctx.freshName("off"); val voff = ctx.freshName("voff")
      s"""
         |graft.functions.PqKernels.checkCodes("PqReconstructKernel", $codes, $m, $k);
         |double[] $out = new double[${m * sub}];
         |for (int $s = 0; $s < $m; $s++) {
         |  int $off = ($s * $k + $codes.getInt($s)) * $sub;
         |  int $voff = $s * $sub;
         |  for (int $j = 0; $j < $sub; $j++) {
         |    $out[$voff + $j] = $base.getDouble($voff + $j) + $cbRef[$off + $j];
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqReconstructKernel =
    copy(left = newLeft, right = newRight)
}

object PqReconstructKernel {
  import org.apache.spark.sql.graft.bridge
  def apply(base: Column, codes: Column, cbs: Seq[Seq[Seq[Double]]]): Column =
    bridge.column(PqReconstructKernel(bridge.expression(base),
      bridge.expression(codes), PqKernels.flatten(cbs), cbs.size,
      cbs.head.size, cbs.head.head.size))
}
