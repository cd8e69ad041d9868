package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Int8 affine vector quantization — the memory/IO lever for vector scans
  * at 100 TB: a float32 embedding column shrinks 4x (plus two floats of
  * scale metadata per vector), so a brute-force or IVF scan reads a
  * quarter of the bytes; the standard serving recipe is
  * quantized-scan-then-rerank (top candidates re-scored on the full
  * vectors). Per-vector affine coding (q = round((x-mn)/(mx-mn)*255))
  * keeps the math deterministic and SQL-mirrorable: rounding is the
  * explicit floor(y+0.5) form so both engines agree bit-for-bit.
  *
  * The reference keeps all vectors as float32 in RAM (table_segment_mvp
  * .cpp:106-111) — quantization is a beyond-reference addition, sized for
  * the north star's scale target.
  */
object Quantize {

  /** Deterministic ±1 Rademacher sign matrix for a Johnson–Lindenstrauss
    * random projection (public: the JL lemma; Achlioptas 2003 showed ±1
    * entries suffice). Signs derive from the parity of the SAME
    * md5-based 60-bit hash the DuckDB oracles mirror
    * (`CAST('0x'||substr(md5(s),1,15) AS BIGINT) % 2`), so both engines
    * build the identical matrix from scratch — no side-channel. The
    * matrix is outDim × dim doubles (kilobytes), built driver-side. */
  def jlSigns(dim: Int, outDim: Int, seed: String = "jl:"): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, dim) { (r, j) =>
      val hex = md.digest((seed + (r * dim + j)).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
  }

  /** Project a dense vector column through a JL sign matrix:
    * out[r] = Σ_j vec[j]·signs[r][j]. The matrix rides as ONE flat
    * literal array (O(1) `element_at` reads inside the fold); `vec` must
    * be a staged attribute (the re-evaluation trap). The reduced column
    * is the 100 TB pre-filter shape: a dim→m reduction cuts scan bytes
    * dim/m× for the candidate pass, with the exact rerank confined to
    * the candidate set. */
  def jlProject(vec: Column, signs: Array[Array[Double]]): Column = {
    val dim = signs(0).length
    val flat = lit(signs.flatten)
    transform(sequence(lit(0), lit(signs.length - 1)), r =>
      aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0),
        (acc, j) =>
          acc + element_at(vec, j + 1) * element_at(flat, r * dim + j + 1)))
  }

  /** Driver-side projection of the query vector (same math, same matrix). */
  def jlProjectLocal(q: Array[Float], signs: Array[Array[Double]]): Array[Double] =
    signs.map(row => row.zip(q).map { case (sg, x) => sg * x.toDouble }.sum)

  /** Add (qmin, qmax, q: array<int> of 0..255) for `vecCol`. Constant
    * vectors (max == min) code to all zeros. Scale params are staged as
    * real columns before the per-element lambdas reference them (the
    * re-evaluation trap). */
  def quantizeI8(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("qmin", array_min(col(vecCol)).cast("double"))
      .withColumn("qmax", array_max(col(vecCol)).cast("double"))
      .withColumn("q",
        when(col("qmax") === col("qmin"),
          transform(col(vecCol), _ => lit(0)))
        .otherwise(transform(col(vecCol), x =>
          floor((x.cast("double") - col("qmin")) / (col("qmax") - col("qmin"))
            * 255.0 + 0.5).cast("int"))))

  /** Reconstructed (dequantized) vector as array<double>. */
  def dequantized(qCol: Column, qmin: Column, qmax: Column): Column =
    transform(qCol, q => qmin + q.cast("double") * (qmax - qmin) / 255.0)

  /** Exact top-K over the QUANTIZED representation: squared-L2 of the
    * reconstructed vectors against a full-precision query, through the
    * codegen'd QuantizeVec/QuantizedL2 kernels (one fused loop per row —
    * replaces an interpreted `aggregate(zip_with(...))` HOF chain that
    * paid per-element lambda dispatch). Same affine math as `quantizeI8`,
    * so the SQL oracle is unchanged. The PERSISTED form of this path lives
    * in the IVF clustered layout (IvfIndex.search at ServeTier.Quantized), where the
    * scan genuinely reads a quarter of the vector bytes. */
  def topKL2Quantized(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int): DataFrame =
    df.withColumn("__qv", graft.functions.quantize_vec(col(vecCol)))
      .withColumn("@distance", graft.functions.quantized_l2(
        col("__qv.codes"), col("__qv.qmin"), col("__qv.qmax"), query))
      .drop("__qv")
      .orderBy(col("@distance").asc, col(idCol).asc)
      .limit(k)
}
