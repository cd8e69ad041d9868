package graft

import graft.index.{IvfIndex, ServeProbe, ServeTier, Served}

/** Test shorthands over `IvfIndex.serve`, the one dense serve entry
  * point: `serveOne` answers one query (a batch of one), `serveAll` a
  * batch. Defaults: float tier, unfiltered, nothing excluded, no tail. */
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
}
