package graftbench

/** Plain-Scala exact top-k over a table snapshot (squared L2, the order of
  * EUCLIDEAN search) and the comparison a served answer must pass. Nothing
  * here calls the engine under test. */
final class Exact(val pks: Array[Long], val labels: Array[Int], val flat: Array[Float],
    val dim: Int) {
  private val at = new java.util.HashMap[Long, Int](pks.length * 2)
  pks.indices.foreach(i => at.put(pks(i), i))

  def contains(pk: Long): Boolean = at.containsKey(pk)
  def label(pk: Long): Int = labels(at.get(pk))

  private def d2(i: Int, q: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    val o = i * dim
    while (j < dim) { val x = flat(o + j).toDouble - q(j); s += x * x; j += 1 }
    s
  }

  def dist(pk: Long, q: Array[Float]): Double = d2(at.get(pk), q)

  /** PKs of the k nearest rows whose label passes `keep`, nearest first. */
  def topK(q: Array[Float], k: Int, keep: Int => Boolean): Array[Long] = {
    val bd = Array.fill(k)(Double.PositiveInfinity)
    val bi = Array.fill(k)(-1)
    var i = 0
    while (i < pks.length) {
      if (keep(labels(i))) {
        val d = d2(i, q)
        if (d < bd(k - 1)) {
          var p = k - 1
          while (p > 0 && bd(p - 1) > d) { bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1 }
          bd(p) = d; bi(p) = i
        }
      }
      i += 1
    }
    bi.filter(_ >= 0).map(pks(_))
  }

  /** None when `got` is an exact answer: as many distinct rows as
    * `expect`, every one live and passing `keep`, and position by position
    * the same true distances (relative 1e-5, so rows at exactly tied
    * distances may come in either order). `ordered` also requires `got` to
    * come nearest first; without it (a certified id set) only the set is
    * compared. */
  def check(got: Seq[Long], expect: Array[Long], q: Array[Float], keep: Int => Boolean,
      ordered: Boolean): Option[String] = {
    def show = s"got ${got.mkString(",")} expected ${expect.mkString(",")}"
    if (got.size != expect.length) return Some(s"${got.size} rows, expected ${expect.length}: $show")
    if (got.distinct.size != got.size) return Some(s"duplicate rows: $show")
    got.find(pk => !contains(pk)).foreach(pk => return Some(s"row $pk is not live: $show"))
    got.find(pk => !keep(label(pk))).foreach(pk => return Some(s"row $pk fails the filter: $show"))
    val gd = got.map(dist(_, q))
    val ed = expect.map(dist(_, q))
    val cmp = if (ordered) gd else gd.sorted
    val bad = cmp.indices.find(i => math.abs(cmp(i) - ed(i)) > 1e-5 * math.max(1.0, ed(i)))
    bad.map(i => s"position $i at distance ${cmp(i)}, expected ${ed(i)}: $show")
  }
}

object Exact {
  def of(v: Inputs.Vectors): Exact =
    new Exact(Array.tabulate(v.n)(_.toLong), v.labels, v.flat, v.dim)
}
