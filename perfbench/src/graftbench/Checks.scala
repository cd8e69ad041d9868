package graftbench

/** The benchmark's answer checks as pure functions of what the program
  * returned and what the generated inputs say it must return. Each gives
  * None for a correct answer and a description of the fault otherwise.
  * (Top-k answers are checked by [[Exact.check]].) */
object Checks {
  def ascending(ds: Seq[Double]): Boolean =
    ds.zip(ds.drop(1)).forall { case (x, y) => y >= x - 1e-9 }

  /** A PK get of one live row: exactly that row, with its label. */
  def pkGet(got: Seq[(Long, Long)], pk: Long, label: Long): Option[String] =
    if (got == Seq((pk, label))) None else Some(s"PK get $pk returned $got, expected label $label")

  /** A paged get: the expected page of PKs, and a facet of one group with
    * the page's row count. */
  def page(got: Seq[Long], expect: Seq[Long], facet: Option[(Long, Long)], label: Long): Option[String] =
    if (got != expect) Some(s"paged get: got $got expected $expect")
    else if (facet != Some((label, expect.size.toLong))) Some(s"paged get facet $facet, expected ($label,${expect.size})")
    else None

  /** A job-path top-k under concurrent ingest, as (pk, label, distance):
    * k rows, all passing the filter, nearest first, none deleted before
    * the request was sent. */
  def liveTopK(rows: Seq[(Long, Long, Double)], k: Int, keep: Long => Boolean,
      deletedBeforeSend: Long => Boolean): Option[String] =
    if (rows.size != k) Some(s"${rows.size} rows, expected $k")
    else if (rows.exists(r => !keep(r._2))) Some(s"rows fail the filter: $rows")
    else if (!ascending(rows.map(_._3))) Some(s"out of order: ${rows.map(_._3)}")
    else rows.find(r => deletedBeforeSend(r._1)).map(r => s"returned ${r._1}, deleted before the request")

  /** A served answer under concurrent ingest, as row ids: each one a row
    * the table held (`pkOf`) whose PK was not deleted before the request
    * was sent. */
  def servedLive(rowIds: Seq[Long], pkOf: Long => Option[Long],
      deletedBeforeSend: Long => Boolean): Option[String] =
    rowIds.iterator.map(r => r -> pkOf(r)).collectFirst {
      case (r, None) => s"unknown row id $r"
      case (r, Some(pk)) if deletedBeforeSend(pk) => s"row $r (PK $pk) deleted before the request was sent"
    }

  /** Every acknowledged insert reads back by PK with its last label. */
  def readBack(expect: Map[Long, Long], got: Map[Long, Long]): Option[String] = {
    val bad = expect.keys.filter(pk => !got.get(pk).contains(expect(pk))).toSeq.sorted
    if (bad.isEmpty) None
    else Some(s"${bad.size} of ${expect.size} acknowledged inserts read back wrong, e.g. ${bad.take(5).mkString(",")}")
  }

  /** Deleted PKs never come back. */
  def stayDeleted(returned: Seq[Long]): Option[String] =
    if (returned.isEmpty) None else Some(s"deleted PKs came back: ${returned.take(5).mkString(",")}")

  /** The final count is loaded + inserted - deleted. */
  def count(got: Long, loaded: Long, inserted: Long, deleted: Long): Option[String] = {
    val expect = loaded + inserted - deleted
    if (got == expect) None
    else Some(s"count $got, expected $expect = $loaded loaded + $inserted inserted - $deleted deleted")
  }

  /** Clean-chain survivors, grouped (class, tokens left, docs), equal the
    * planted expectation. */
  def survivors(what: String, got: Set[(Int, Int, Int)], expect: Set[(Int, Int, Int)]): Option[String] =
    if (got == expect) None
    else Some(s"$what survivors (class, tokens, docs) ${got.toSeq.sorted} expected ${expect.toSeq.sorted}")

  /** The LM scores every doc: rows = scored = docs. */
  def lmCounts(rows: Long, scored: Long, docs: Long): Option[String] =
    if (rows == docs && scored == docs) None
    else Some(s"KN LM: $rows rows, $scored scored, expected $docs docs")
}
