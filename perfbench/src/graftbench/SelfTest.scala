package graftbench

import java.io.{ByteArrayOutputStream, DataOutputStream}

/** The benchmark's own tests: the percentile rule's edge cases, seeded
  * inputs that repeat byte for byte, every answer check rejecting a planted
  * wrong answer, and BENCHMARK.json naming exactly the metrics the runs
  * report. No Spark. Run by perfbench/test_bench.py; exits 1 on a failure. */
object SelfTest {
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  private def bytes(write: DataOutputStream => Unit): Array[Byte] = {
    val b = new ByteArrayOutputStream
    val out = new DataOutputStream(b)
    write(out); out.close(); b.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val r = (n: Int) => Array.tabulate(n)(_.toDouble)

    test("percentile: nothing to report without ten samples beyond it") {
      expect(Pct.at(Array.empty, 0.5).isEmpty, "empty")
      expect(Pct.at(r(19), 0.5).isEmpty, "19 samples support no p50")
      expect(Pct.at(r(20), 0.5).contains(9.0), s"p50 of 0..19 is ${Pct.at(r(20), 0.5)}")
      expect(Pct.at(r(99), 0.9).isEmpty, "99 samples support no p90")
      expect(Pct.at(r(100), 0.9).contains(89.0), s"p90 of 0..99 is ${Pct.at(r(100), 0.9)}")
      expect(Pct.at(r(999), 0.99).isEmpty, "999 samples support no p99")
      expect(Pct.at(r(1000), 0.99).contains(989.0), s"p99 of 0..999 is ${Pct.at(r(1000), 0.99)}")
    }
    test("percentile: the summary names the supported ones and the count") {
      val sum = (xs: Array[Double]) => Json.compact(Pct.summary(xs))
      expect(sum(r(150)) == """{"p50":74.0,"p90":134.0,"n":150}""", sum(r(150)))
      expect(sum(Array.empty) == """{"n":0}""", sum(Array.empty))
      expect(scala.util.Try(Pct.at(r(100), 1.0)).isFailure, "p = 1 accepted")
      expect(Pct.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Pct.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "median")
    }

    test("inputs: one seed gives byte-identical inputs, another seed other inputs") {
      val gens: Seq[(String, Long => Array[Byte])] = Seq(
        "vectors" -> (s => bytes(Inputs.writeVectors(_, Inputs.generateVectors(s, 500, 16)))),
        "queries" -> (s => bytes(o => Inputs.queries(s, 8, 16).foreach(_.foreach(o.writeFloat)))),
        "fresh rows" -> (s => bytes(Inputs.writeVectors(_, Inputs.freshRows(s, 50, 16)))),
        "clean corpus" -> (s => bytes(Inputs.writeDocs(_, Inputs.generateCleanCorpus(s, 200)))),
        "lm corpus" -> (s => bytes(Inputs.writeDocs(_, Inputs.generateLmCorpus(s, 200, 4)))))
      for ((name, g) <- gens) {
        expect(java.util.Arrays.equals(g(7), g(7)), s"$name differ under one seed")
        expect(!java.util.Arrays.equals(g(7), g(8)), s"$name equal under two seeds")
      }
    }
    test("inputs: a cache file reads back as generated") {
      val v = Inputs.vectors(7, 300, 8)
      val g = Inputs.generateVectors(7, 300, 8)
      expect(v.labels.sameElements(g.labels) && v.flat.sameElements(g.flat), "vectors")
      val d = Inputs.cleanCorpus(7, 200)
      expect(d.ids.sameElements(Inputs.generateCleanCorpus(7, 200).ids), "clean corpus")
    }
    test("inputs: the clean corpus plants its classes at the expected sizes") {
      val d = Inputs.generateCleanCorpus(3, 400)
      val base = Inputs.cleanBase(3)
      expect(d.ids.map(_ - base).sorted.sameElements(0L until 400L), "ids are base + 0..n-1")
      expect(d.ids.groupBy(_ % 10).values.forall(_.length == 40), "ten equal classes")
    }

    test("check: exact top-k rejects planted wrong answers") {
      val v = Inputs.generateVectors(5, 2000, 16)
      val ex = Exact.of(v)
      val q = Inputs.queries(5, 1, 16)(0)
      val all = (_: Int) => true
      val top = ex.topK(q, 10, all).toSeq
      val next = ex.topK(q, 11, all).last
      expect(ex.check(top, top.toArray, q, all, ordered = true).isEmpty, "the exact answer fails")
      expect(ex.check(top.reverse, top.toArray, q, all, ordered = false).isEmpty, "an exact id set fails")
      expect(ex.check(top.init :+ next, top.toArray, q, all, ordered = true).nonEmpty, "a farther row passes")
      expect(ex.check(top.reverse, top.toArray, q, all, ordered = true).nonEmpty, "a wrong order passes")
      expect(ex.check(top.init, top.toArray, q, all, ordered = true).nonEmpty, "a missing row passes")
      expect(ex.check(top.init :+ top.head, top.toArray, q, all, ordered = true).nonEmpty, "a duplicate passes")
      expect(ex.check(top.init :+ 999999L, top.toArray, q, all, ordered = true).nonEmpty, "an unknown row passes")
      val low = (l: Int) => l < 3
      val ft = ex.topK(q, 10, low).toSeq
      val outside = top.find(pk => !low(ex.label(pk))).get
      expect(ex.check(ft, ft.toArray, q, low, ordered = true).isEmpty, "the filtered answer fails")
      expect(ex.check(ft.init :+ outside, ft.toArray, q, low, ordered = true).nonEmpty, "a filtered-out row passes")
    }
    test("check: job-path reads reject planted wrong answers") {
      expect(Checks.pkGet(Seq((5L, 2L)), 5, 2).isEmpty, "PK get")
      expect(Checks.pkGet(Seq((5L, 3L)), 5, 2).nonEmpty, "PK get, wrong label")
      expect(Checks.pkGet(Nil, 5, 2).nonEmpty, "PK get, no row")
      expect(Checks.page(Seq(1L, 4L), Seq(1L, 4L), Some((3L, 2L)), 3).isEmpty, "page")
      expect(Checks.page(Seq(1L, 5L), Seq(1L, 4L), Some((3L, 2L)), 3).nonEmpty, "page, wrong row")
      expect(Checks.page(Seq(1L, 4L), Seq(1L, 4L), Some((3L, 3L)), 3).nonEmpty, "page, wrong facet")
      val rows = Seq((1L, 1L, 0.5), (2L, 7L, 0.7))
      val keep = (l: Long) => l == 1 || l == 7
      expect(Checks.liveTopK(rows, 2, keep, _ => false).isEmpty, "top-k under ingest")
      expect(Checks.liveTopK(rows.reverse, 2, keep, _ => false).nonEmpty, "top-k, wrong order")
      expect(Checks.liveTopK(rows :+ ((3L, 2L, 0.9)), 3, keep, _ => false).nonEmpty, "top-k, filtered-out row")
      expect(Checks.liveTopK(rows, 2, keep, _ == 2L).nonEmpty, "top-k, a deleted row")
      expect(Checks.liveTopK(rows.init, 2, keep, _ => false).nonEmpty, "top-k, too few rows")
      val pkOf = Map(10L -> 1L, 11L -> 2L).get _
      expect(Checks.servedLive(Seq(10L, 11L), pkOf, _ => false).isEmpty, "served rows")
      expect(Checks.servedLive(Seq(10L, 11L), pkOf, _ == 2L).nonEmpty, "served rows, a deleted row")
      expect(Checks.servedLive(Seq(10L, 12L), pkOf, _ => false).nonEmpty, "served rows, an unknown row")
    }
    test("check: ingest invariants reject planted wrong answers") {
      expect(Checks.readBack(Map(1L -> 2L), Map(1L -> 2L, 9L -> 0L)).isEmpty, "read back")
      expect(Checks.readBack(Map(1L -> 2L), Map(1L -> 3L)).nonEmpty, "read back, stale label")
      expect(Checks.readBack(Map(1L -> 2L), Map.empty).nonEmpty, "read back, lost insert")
      expect(Checks.stayDeleted(Nil).isEmpty && Checks.stayDeleted(Seq(4L)).nonEmpty, "deleted rows")
      expect(Checks.count(105, 100, 8, 3).isEmpty, "count")
      expect(Checks.count(106, 100, 8, 3).nonEmpty, "count, one too many")
    }
    test("check: pipeline outputs reject planted wrong answers") {
      val e = Inputs.cleanExpected(200)
      expect(Checks.survivors("clean", e, e).isEmpty, "survivors")
      val (c, f, n) = e.head
      expect(Checks.survivors("clean", e - e.head + ((c, f, n + 1)), e).nonEmpty, "one survivor too many")
      expect(Checks.survivors("clean", e - e.head, e).nonEmpty, "a class lost")
      expect(Checks.lmCounts(40, 40, 40).isEmpty, "LM counts")
      expect(Checks.lmCounts(40, 39, 40).nonEmpty, "LM, one doc unscored")
      expect(Checks.lmCounts(41, 41, 40).nonEmpty, "LM, one row too many")
    }

    test("BENCHMARK.json names exactly the metrics the runs report") {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("BENCHMARK.json")), "UTF-8"))
      def named(key: String): Seq[(String, String)] = (j \ key) match {
        case JArray(ms) => ms.map(m => ((m \ "name").values.toString, (m \ "unit").values.toString))
        case other => throw new AssertionError(s"$key: $other")
      }
      expect(named("end_to_end") == Main.EndToEnd, s"end_to_end ${named("end_to_end")}")
      expect(named("per_layer") == Main.PerLayer, s"per_layer ${named("per_layer")}")
      val ws = (j \ "workloads") match { case JArray(a) => a.map(w => (w \ "name").values.toString) }
      expect(ws == Main.Workloads, s"workloads $ws")
    }

    println(if (failed == 0) "all passed" else s"$failed failed")
    System.exit(if (failed == 0) 0 else 1)
  }
}
