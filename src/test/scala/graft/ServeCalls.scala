package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.index.{IvfIndex, ServeProbe, ServeTier, Served, SparseIndex}
import graft.types.MetricType

/** Test shorthands over `IvfIndex.serve`, the one dense serve entry
  * point: `serveOne` answers one query (a batch of one), `serveAll` a
  * batch. Defaults: float tier, unfiltered, nothing excluded, no tail.
  * The sparse shorthands do the same over `SparseIndex.serve` and
  * `SparseIndex.search` in retrieval form: dot-product hits as
  * (id, dot), highest first. */
object ServeCalls {
  type Tail = Option[(Array[Long], Array[Double], Array[Double])]

  implicit class ServeOps(private val idx: IvfIndex) extends AnyVal {
    def serveOne(vecCol: String, q: Array[Float], k: Int, probe: ServeProbe,
        tier: ServeTier = ServeTier.Float,
        conds: Seq[graft.filter.SimpleConjuncts.Cond] = Nil,
        exclude: Long => Boolean = _ => false, tail: Tail = None)
        : Option[Served] =
      idx.serve(vecCol, Array(q), k, tier, probe, conds, exclude, tail).head

    def serveAll(vecCol: String, qs: Array[Array[Float]], k: Int,
        probe: ServeProbe, tier: ServeTier = ServeTier.Float,
        conds: Seq[graft.filter.SimpleConjuncts.Cond] = Nil,
        exclude: Long => Boolean = _ => false, tail: Tail = None)
        : Array[Option[Served]] =
      idx.serve(vecCol, qs, k, tier, probe, conds, exclude, tail)
  }

  implicit class SparseOps(private val idx: SparseIndex) extends AnyVal {
    /** Dot-product serve of one query: (id, dot) hits, dot desc. */
    def serveDot(qIdx: Array[Int], qVal: Array[Float], k: Int,
        exclude: Long => Boolean = _ => false,
        tail: Map[Int, SparseIndex.Postings] = Map.empty)
        : Option[Array[(Long, Double)]] =
      idx.serve(Array((qIdx, qVal)), k, MetricType.DotProduct, exclude, tail)
        .head.map(_.map { case (id, d) => (id, -d) })

    /** Euclidean serve of one query: (id, squared L2) hits ascending. */
    def serveEuclid(qIdx: Array[Int], qVal: Array[Float], k: Int,
        exclude: Long => Boolean = _ => false)
        : Option[Array[(Long, Double)]] =
      idx.serve(Array((qIdx, qVal)), k, MetricType.Euclidean, exclude).head

    /** Retrieval-mode job path: (idCol, dot), dot desc. */
    def searchDot(qIdx: Array[Int], qVal: Array[Float], k: Int,
        tailPostings: Option[DataFrame] = None,
        excludeIds: Option[DataFrame] = None,
        restrictIds: Option[DataFrame] = None): DataFrame =
      idx.search(MetricType.DotProduct, overlapOnly = true, qIdx, qVal, k,
          tailPostings = tailPostings, excludeIds = excludeIds,
          restrictIds = restrictIds)
        .select(col(idx.idCol), (-col("@distance")).as("dot"))
  }
}
