package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization codebook: `m` subspaces of `dsub = dim/m` floats,
  * each coded to one of `ksub <= 256` per-subspace centroids — one BYTE per
  * subspace, so a dim-960 float32 vector (3840 B) stores as 120 B of codes
  * (32x). This is the textbook ADC recipe (Jegou et al., "Product
  * Quantization for Nearest Neighbor Search", public knowledge): a query
  * precomputes one lookup table of partial distances per subspace, and each
  * row scores with `m` table lookups instead of `dim` multiplies.
  *
  * Role in the engine: a THIRD compression tier under the IVF layout
  * (float32 -> int8 affine -> PQ). The PQ candidate scan reads ~1/32 of the
  * vector bytes — at 100 TB that is the difference between scanning 3 TB
  * and scanning 100 GB for the same candidate set — then the exact rerank
  * on the float column recovers exact results, same contract as
  * the `Quantized` tier of `IvfIndex.search`. Beyond-reference addition: the reference
  * keeps all vectors float32 in RAM (table_segment_mvp.cpp:106-111) and has
  * no compressed tier at all.
  *
  * The fit is deterministic (hash-ordered sample, fixed seeds) so rebuilt
  * codebooks are stable across runs — gate queries rely on that.
  */
final case class PqCodebook(dim: Int, m: Int, ksub: Int, cents: Array[Float]) {
  require(dim % m == 0, s"dim $dim not divisible by m $m")
  val dsub: Int = dim / m
  require(cents.length == m * ksub * dsub,
    s"codebook size ${cents.length} != m*ksub*dsub ${m * ksub * dsub}")

  /** centroid j of subspace `sub` starts at ((sub*ksub + j) * dsub). */
  @inline def centOffset(sub: Int, cid: Int): Int = (sub * ksub + cid) * dsub

  /** ADC lookup table for squared-L2: lut(sub*ksub + c) = ||q_sub - cent||^2.
    * Summing the m entries selected by a row's codes gives the exact squared
    * L2 between the query and the row's RECONSTRUCTION (the quantization
    * error is in the reconstruction, not the table). */
  def lutL2(q: Array[Float]): Array[Double] = {
    val lut = new Array[Double](m * ksub)
    var sub = 0
    while (sub < m) {
      val qOff = sub * dsub
      var c = 0
      while (c < ksub) {
        val cOff = centOffset(sub, c)
        var acc = 0.0
        var j = 0
        while (j < dsub) {
          val d = q(qOff + j).toDouble - cents(cOff + j)
          acc += d * d
          j += 1
        }
        lut(sub * ksub + c) = acc
        c += 1
      }
      sub += 1
    }
    lut
  }

  /** ADC lookup table for inner-product metrics: lut entries are NEGATED
    * partial dots so ascending ADC order = descending dot (matches the
    * engine's distance convention for Dot/Cosine, where stored vectors are
    * already unit-normalized at build). */
  def lutNegDot(q: Array[Float]): Array[Double] = {
    val lut = new Array[Double](m * ksub)
    var sub = 0
    while (sub < m) {
      val qOff = sub * dsub
      var c = 0
      while (c < ksub) {
        val cOff = centOffset(sub, c)
        var acc = 0.0
        var j = 0
        while (j < dsub) { acc += q(qOff + j).toDouble * cents(cOff + j); j += 1 }
        lut(sub * ksub + c) = -acc
        c += 1
      }
      sub += 1
    }
    lut
  }

  /** Driver-side encode (the distributed path uses the PqEncode
    * expression; this one serves tests and fresh-tail packing). */
  def encode(v: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](m)
    var sub = 0
    while (sub < m) {
      val vOff = sub * dsub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val cOff = centOffset(sub, c)
        var acc = 0.0
        var j = 0
        while (j < dsub) {
          val d = (if (vOff + j < v.length) v(vOff + j).toDouble else 0.0) - cents(cOff + j)
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

  /** Exact squared L2 between `q` and the reconstruction encoded by
    * `codes` — the scalar mirror of lutL2+sum, for tests and oracles. */
  def adcL2(codes: Array[Byte], q: Array[Float]): Double = {
    val lut = lutL2(q)
    var acc = 0.0
    var sub = 0
    while (sub < m) { acc += lut(sub * ksub + (codes(sub) & 0xff)); sub += 1 }
    acc
  }

  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    (0 until m).flatMap { sub =>
      (0 until ksub).map { c =>
        val off = centOffset(sub, c)
        (sub, c, cents.slice(off, off + dsub).toSeq)
      }
    }.toDF("sub", "cid", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }
}

object PqCodebook {

  /** Subspace width: the largest of {8,6,5,4,3,2,1} dividing `dim` — dsub 8
    * is the classic operating point (96-128 codes for 768-1024 dims); odd
    * dims degrade gracefully instead of failing. */
  def chooseM(dim: Int): Int = {
    val dsub = Seq(8, 6, 5, 4, 3, 2, 1).find(dim % _ == 0).get
    dim / dsub
  }

  /** Per-subspace k-means over a driver-resident sample. Initial centroids
    * are evenly spaced sample rows (deterministic); empty cells keep their
    * previous centroid. The sample is bounded by the caller (a few thousand
    * rows train 256 centroids per subspace fine — this is the standard PQ
    * training regime, not a weakness: the codebook only has to cover the
    * marginal distribution of each dsub-dim slice). */
  def fit(sample: Array[Array[Float]], dim: Int, m: Int,
      maxIter: Int = 12): PqCodebook = {
    require(sample.nonEmpty, "PQ fit needs a non-empty sample")
    val n = sample.length
    val ksub = math.min(256, n)
    val dsub = dim / m
    val cents = new Array[Float](m * ksub * dsub)
    // the m sub-quantizers are independent k-means problems writing
    // DISJOINT cents regions: run them in parallel with per-subspace
    // scratch buffers (the within-subspace math is sequential and
    // unchanged, so the codebook is bit-identical to the serial fit —
    // this is driver-local model fitting, ~1 s single-threaded per
    // build and the largest single step of IvfIndex.build)
    java.util.stream.IntStream.range(0, m).parallel().forEach { sub =>
      val assign = new Array[Int](n)
      val sums = Array.ofDim[Double](ksub, dsub)
      val cnts = new Array[Long](ksub)
      val vOff = sub * dsub
      // init: evenly spaced rows' sub-vectors
      var c = 0
      while (c < ksub) {
        val src = sample(((c.toLong * n) / ksub).toInt)
        var j = 0
        while (j < dsub) {
          cents((sub * ksub + c) * dsub + j) =
            if (vOff + j < src.length) src(vOff + j) else 0f
          j += 1
        }
        c += 1
      }
      var iter = 0
      var moved = true
      while (iter < maxIter && moved) {
        // assignment
        var i = 0
        while (i < n) {
          val v = sample(i)
          var best = 0
          var bestD = Double.MaxValue
          var cc = 0
          while (cc < ksub) {
            val cOff = (sub * ksub + cc) * dsub
            var acc = 0.0
            var j = 0
            while (j < dsub) {
              val d = (if (vOff + j < v.length) v(vOff + j).toDouble else 0.0) - cents(cOff + j)
              acc += d * d
              j += 1
            }
            if (acc < bestD) { bestD = acc; best = cc }
            cc += 1
          }
          assign(i) = best
          i += 1
        }
        // update
        var cc = 0
        while (cc < ksub) {
          java.util.Arrays.fill(sums(cc), 0.0); cnts(cc) = 0L; cc += 1
        }
        i = 0
        while (i < n) {
          val v = sample(i)
          val s = sums(assign(i))
          var j = 0
          while (j < dsub) {
            s(j) += (if (vOff + j < v.length) v(vOff + j).toDouble else 0.0)
            j += 1
          }
          cnts(assign(i)) += 1
          i += 1
        }
        moved = false
        cc = 0
        while (cc < ksub) {
          if (cnts(cc) > 0) {
            val cOff = (sub * ksub + cc) * dsub
            var j = 0
            while (j < dsub) {
              val nv = (sums(cc)(j) / cnts(cc)).toFloat
              if (math.abs(nv - cents(cOff + j)) > 1e-7f) moved = true
              cents(cOff + j) = nv
              j += 1
            }
          }
          cc += 1
        }
        iter += 1
      }
    }
    PqCodebook(dim, m, ksub, cents)
  }

  def load(spark: SparkSession, path: String): Option[PqCodebook] = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) return None
    scala.util.Try {
      val rows = spark.read.parquet(path).collect()
        .map(r => ((r.getAs[Int]("sub"), r.getAs[Int]("cid")),
          r.getAs[scala.collection.Seq[Float]]("centroid").toArray))
        .sortBy(_._1)
      val m = rows.map(_._1._1).max + 1
      val ksub = rows.map(_._1._2).max + 1
      val dsub = rows.head._2.length
      require(rows.length == m * ksub, s"codebook holes: ${rows.length} != $m*$ksub")
      val cents = new Array[Float](m * ksub * dsub)
      rows.foreach { case ((sub, cid), c) =>
        System.arraycopy(c, 0, cents, (sub * ksub + cid) * dsub, dsub)
      }
      PqCodebook(m * dsub, m, ksub, cents)
    }.toOption
  }
}
