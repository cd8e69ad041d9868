package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Product-quantization kernels (see graft.index.PqCodebook for the tier's
  * role). Both are codegen'd the same way as NearestCentroid: the codebook /
  * lookup table rides into generated code via addReferenceObj (a 1 MB float
  * array must NEVER be inlined as a literal — it would blow the 64 KB
  * method limit and defeat codegen entirely), and the per-row work is a
  * static kernel call, so the scan stays inside whole-stage codegen. */

/** Encode a float vector to `m` PQ code bytes (one parquet BINARY per row).
  * Build-time only — one pass during the same assign-and-write job that
  * computes the int8 codes. */
case class PqEncode(child: Expression, dim: Int, m: Int, ksub: Int,
    cents: Array[Float]) extends UnaryExpression {
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true

  private val dsub = dim / m
  // flat doubles + per-centroid norms: argmin(|c|^2 - 2 x.c) — one fused
  // dot per centroid, |x|^2 constant within a subspace so never needed
  @transient private lazy val flat: Array[Double] = {
    val out = new Array[Double](cents.length)
    var i = 0
    while (i < cents.length) { out(i) = cents(i); i += 1 }
    out
  }
  @transient private lazy val norms: Array[Double] = {
    val out = new Array[Double](m * ksub)
    var c = 0
    while (c < m * ksub) {
      var acc = 0.0
      var j = 0
      while (j < dsub) { val x = cents(c * dsub + j).toDouble; acc += x * x; j += 1 }
      out(c) = acc
      c += 1
    }
    out
  }

  override def nullSafeEval(v: Any): Any =
    PqEncode.encode(v.asInstanceOf[ArrayData], flat, norms, m, dsub, ksub)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    val normsRef = ctx.addReferenceObj("pqNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.PqEncode$$.MODULE$$
         |  .encode($c, $flatRef, $normsRef, $m, $dsub, $ksub);""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PqEncode {
  def encode(a: ArrayData, flat: Array[Double], norms: Array[Double],
      m: Int, dsub: Int, ksub: Int): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](m)
    var sub = 0
    while (sub < m) {
      val vOff = sub * dsub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val cOff = (sub * ksub + c) * dsub
        var dot = 0.0
        var j = 0
        while (j < dsub) {
          val x = if (vOff + j < n) a.getFloat(vOff + j).toDouble else 0.0
          dot += x * flat(cOff + j)
          j += 1
        }
        val d = norms(sub * ksub + c) - 2.0 * dot
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(sub) = best.toByte
      sub += 1
    }
    out
  }
}

/** ADC score of a PQ code column against a per-query lookup table:
  * `m` array reads per row — the cheapest possible candidate scan (the
  * float column never leaves parquet). */
case class PqAdc(child: Expression, m: Int, ksub: Int, lut: Array[Double])
    extends UnaryExpression {
  override def prettyName: String = "pq_adc"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    PqAdc.score(v.asInstanceOf[Array[Byte]], lut, m, ksub)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("pqLut", lut, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.PqAdc$$.MODULE$$
         |  .score($c, $lutRef, $m, $ksub);""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PqAdc {
  def score(codes: Array[Byte], lut: Array[Double], m: Int, ksub: Int): Double = {
    var acc = 0.0
    var sub = 0
    val n = if (codes.length < m) codes.length else m
    while (sub < n) { acc += lut(sub * ksub + (codes(sub) & 0xff)); sub += 1 }
    acc
  }
}

/** RESIDUAL-coded PQ encode (classic IVFADC, Jegou et al.: code
  * `x − centroid(cluster(x))` instead of `x`). On clustered data the
  * residual lives at the noise scale, not the corpus scale, so the same
  * m bytes resolve neighbors a full-vector codebook blurs together —
  * the difference between 0.1 and ~1.0 ADC recall on tight clusters.
  * The per-cluster centroid rides in as (sorted ids, flat floats); rows
  * of unknown clusters encode absolutely (defensive — the scan is
  * always cluster-pruned). */
case class PqEncodeRes(left: Expression, right: Expression, dim: Int, m: Int,
    ksub: Int, cents: Array[Float], cIds: Array[Int], cFlat: Array[Float])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "pq_encode_res"
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  private val dsub = dim / m
  @transient private lazy val flat: Array[Double] = {
    val out = new Array[Double](cents.length)
    var i = 0
    while (i < cents.length) { out(i) = cents(i); i += 1 }
    out
  }
  override def nullSafeEval(v: Any, c: Any): Any =
    PqEncodeRes.encode(v.asInstanceOf[ArrayData], c.asInstanceOf[Int],
      flat, m, dsub, ksub, cIds, cFlat)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    val idsRef = ctx.addReferenceObj("pqCids", cIds, "int[]")
    val cRef = ctx.addReferenceObj("pqCents", cFlat, "float[]")
    nullSafeCodeGen(ctx, ev, (v, c) =>
      s"""${ev.value} = graft.functions.PqEncodeRes$$.MODULE$$
         |  .encode($v, $c, $flatRef, $m, $dsub, $ksub, $idsRef, $cRef);""".stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

object PqEncodeRes {
  def encode(a: ArrayData, cluster: Int, flat: Array[Double],
      m: Int, dsub: Int, ksub: Int, cIds: Array[Int],
      cFlat: Array[Float]): Array[Byte] = {
    val n = a.numElements()
    val dim = m * dsub
    val ci = java.util.Arrays.binarySearch(cIds, cluster)
    val cOff0 = if (ci >= 0) ci * dim else -1
    val out = new Array[Byte](m)
    var sub = 0
    while (sub < m) {
      val vOff = sub * dsub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val cOff = (sub * ksub + c) * dsub
        var acc = 0.0
        var j = 0
        while (j < dsub) {
          val x0 = if (vOff + j < n) a.getFloat(vOff + j).toDouble else 0.0
          val x = if (cOff0 >= 0) x0 - cFlat(cOff0 + vOff + j) else x0
          val d = x - flat(cOff + j)
          acc += d * d
          j += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      out(sub) = best.toByte
      sub += 1
    }
    out
  }
}

/** Residual-coded reconstruction error ‖x − x̂‖₂ (x̂ = centroid + decoded
  * residual): the same certification constant as PqRecErr, against the
  * residual codebook. */
case class PqRecErrRes(first: Expression, second: Expression,
    third: Expression, dim: Int, m: Int, ksub: Int, cents: Array[Float],
    cIds: Array[Int], cFlat: Array[Float])
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def prettyName: String = "pq_rec_err_res"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private val dsub = dim / m
  @transient private lazy val flat: Array[Double] = {
    val out = new Array[Double](cents.length)
    var i = 0
    while (i < cents.length) { out(i) = cents(i); i += 1 }
    out
  }
  override def nullSafeEval(v: Any, c: Any, cl: Any): Any =
    PqRecErrRes.err(v.asInstanceOf[ArrayData], c.asInstanceOf[Array[Byte]],
      cl.asInstanceOf[Int], flat, m, dsub, ksub, cIds, cFlat)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    val idsRef = ctx.addReferenceObj("pqCids", cIds, "int[]")
    val cRef = ctx.addReferenceObj("pqCents", cFlat, "float[]")
    nullSafeCodeGen(ctx, ev, (v, c, cl) =>
      s"""${ev.value} = graft.functions.PqRecErrRes$$.MODULE$$
         |  .err($v, $c, $cl, $flatRef, $m, $dsub, $ksub, $idsRef, $cRef);""".stripMargin)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
}

object PqRecErrRes {
  def err(a: ArrayData, codes: Array[Byte], cluster: Int,
      flat: Array[Double], m: Int, dsub: Int, ksub: Int,
      cIds: Array[Int], cFlat: Array[Float]): Double = {
    val n = a.numElements()
    val dim = m * dsub
    val ci = java.util.Arrays.binarySearch(cIds, cluster)
    val cOff0 = if (ci >= 0) ci * dim else -1
    var acc = 0.0
    var sub = 0
    val mEff = if (codes.length < m) codes.length else m
    while (sub < mEff) {
      val cOff = (sub * ksub + (codes(sub) & 0xff)) * dsub
      val vOff = sub * dsub
      var j = 0
      while (j < dsub) {
        val x0 = if (vOff + j < n) a.getFloat(vOff + j).toDouble else 0.0
        val x = if (cOff0 >= 0) x0 - cFlat(cOff0 + vOff + j) else x0
        val d = x - flat(cOff + j)
        acc += d * d
        j += 1
      }
      sub += 1
    }
    math.sqrt(acc)
  }
}

/** ADC score of residual-coded rows: per-probed-cluster lookup tables
  * (flattened, indexed by the sorted cluster-id array) plus a per-cluster
  * additive constant — L2 uses lut over (q − centroid_c); dot/cosine use
  * one shared negated-dot lut with constant −q·centroid_c. Rows of
  * clusters outside the probe set score +inf (they cannot be selected;
  * defensive against a racing split). */
case class PqAdcRes(left: Expression, right: Expression, m: Int, ksub: Int,
    cIds: Array[Int], luts: Array[Double], consts: Array[Double],
    sharedLut: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "pq_adc_res"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any, c: Any): Any =
    PqAdcRes.score(v.asInstanceOf[Array[Byte]], c.asInstanceOf[Int],
      luts, consts, cIds, m, ksub, sharedLut)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("pqLuts", luts, "double[]")
    val constRef = ctx.addReferenceObj("pqConsts", consts, "double[]")
    val idsRef = ctx.addReferenceObj("pqCids", cIds, "int[]")
    nullSafeCodeGen(ctx, ev, (v, c) =>
      s"""${ev.value} = graft.functions.PqAdcRes$$.MODULE$$
         |  .score($v, $c, $lutRef, $constRef, $idsRef, $m, $ksub, $sharedLut);""".stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

object PqAdcRes {
  def score(codes: Array[Byte], cluster: Int, luts: Array[Double],
      consts: Array[Double], cIds: Array[Int], m: Int, ksub: Int,
      sharedLut: Boolean): Double = {
    val ci = java.util.Arrays.binarySearch(cIds, cluster)
    if (ci < 0) return Double.MaxValue
    val base = if (sharedLut) 0 else ci * m * ksub
    var acc = consts(ci)
    var sub = 0
    val n = if (codes.length < m) codes.length else m
    while (sub < n) { acc += luts(base + sub * ksub + (codes(sub) & 0xff)); sub += 1 }
    acc
  }
}

/** Per-row PQ reconstruction error ‖x − x̂‖₂ from the float vector and its
  * already-computed codes — the one extra number that makes the PQ tier
  * PROVABLE: for L2, |d(q,x) − d(q,x̂)| ≤ ‖x−x̂‖ (triangle inequality); for
  * dot/cosine, |q·x − q·x̂| ≤ ‖q‖₂·‖x−x̂‖ (Cauchy–Schwarz). Build persists
  * it next to the codes; the quantized serving tier certifies top-k
  * boundaries against it (IvfIndex.serve on the PQ tier). Reading the codes
  * instead of re-running the argmin keeps this pass at O(dim) per row —
  * subexpression elimination already shares the PqEncode result in the
  * build projection, and appends reuse the frozen codebook the same way. */
case class PqRecErr(left: Expression, right: Expression, dim: Int, m: Int,
    ksub: Int, cents: Array[Float])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "pq_rec_err"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private val dsub = dim / m
  @transient private lazy val flat: Array[Double] = {
    val out = new Array[Double](cents.length)
    var i = 0
    while (i < cents.length) { out(i) = cents(i); i += 1 }
    out
  }

  override def nullSafeEval(v: Any, c: Any): Any =
    PqRecErr.err(v.asInstanceOf[ArrayData], c.asInstanceOf[Array[Byte]],
      flat, m, dsub, ksub)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (v, c) =>
      s"""${ev.value} = graft.functions.PqRecErr$$.MODULE$$
         |  .err($v, $c, $flatRef, $m, $dsub, $ksub);""".stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

object PqRecErr {
  def err(a: ArrayData, codes: Array[Byte], flat: Array[Double],
      m: Int, dsub: Int, ksub: Int): Double = {
    val n = a.numElements()
    var acc = 0.0
    var sub = 0
    val mEff = if (codes.length < m) codes.length else m
    while (sub < mEff) {
      val cOff = (sub * ksub + (codes(sub) & 0xff)) * dsub
      val vOff = sub * dsub
      var j = 0
      while (j < dsub) {
        val x = if (vOff + j < n) a.getFloat(vOff + j).toDouble else 0.0
        val d = x - flat(cOff + j)
        acc += d * d
        j += 1
      }
      sub += 1
    }
    math.sqrt(acc)
  }
}
