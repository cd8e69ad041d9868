package graftbench

import java.io._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Seeded input generators. Plain Scala: nothing here calls graft or Spark,
  * so the inputs (and the answers derived from them) never depend on the
  * engine under test. The same (seed, size) always gives byte-identical
  * files; they are cached under `.bench_cache/` in the checkout. */
object Inputs {
  /** Bumped whenever a generator changes, so stale cache files are not
    * reused. */
  val Version = 2
  val CacheDir = ".bench_cache"

  /** `n` rows of `dim` floats; the primary key of row i is i. */
  final case class Vectors(dim: Int, labels: Array[Int], flat: Array[Float]) {
    def n: Int = labels.length
    def row(i: Int): Array[Float] = java.util.Arrays.copyOfRange(flat, i * dim, (i + 1) * dim)
  }

  /** `classes` is null for the clean corpus (it has no class column). */
  final case class Docs(ids: Array[Long], texts: Array[String], classes: Array[String]) {
    def n: Int = ids.length
  }

  // ---- deterministic randomness (no JDK algorithm that could change) ----

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(bound: Int): Int = r.nextInt(bound)
    def double(): Double = r.nextDouble()
    def gauss(): Double = { // Box-Muller, one value per call
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
  }

  /** Stream key of one generator under one seed. */
  def streamSeed(seed: Long, kind: String): Long = {
    var h = seed * 0x9E3779B97F4A7C15L
    kind.foreach(c => h = (h ^ c) * 0x100000001B3L)
    h
  }

  // ---- vectors: a low-rank clustered table ----

  /** Latent model shared by the corpus and its queries: a rank-16 basis
    * and 64 cluster centres of uneven size in latent space. */
  private final class VecModel(seed: Long, dim: Int) {
    val rank = 16
    val clusters = 64
    private val g = new Rng(streamSeed(seed, "vec-model"))
    val basis: Array[Double] = Array.fill(dim * rank)(g.gauss() / math.sqrt(rank))
    val centres: Array[Double] = Array.fill(clusters * rank)(g.gauss() * 3.0)
    def draw(r: Rng, out: Array[Float], off: Int): Unit = {
      val u = r.double()
      val c = (clusters * u * u).toInt // skewed cluster sizes
      val z = Array.tabulate(rank)(k => centres(c * rank + k) + 0.4 * r.gauss())
      var d = 0
      while (d < dim) {
        var s = 0.0
        var k = 0
        while (k < rank) { s += basis(d * rank + k) * z(k); k += 1 }
        out(off + d) = (s + 0.05 * r.gauss()).toFloat
        d += 1
      }
    }
  }

  def generateVectors(seed: Long, n: Int, dim: Int): Vectors = {
    val m = new VecModel(seed, dim)
    val r = new Rng(streamSeed(seed, "vec-rows"))
    val flat = new Array[Float](n * dim)
    val labels = new Array[Int](n)
    for (i <- 0 until n) { m.draw(r, flat, i * dim); labels(i) = r.int(10) }
    Vectors(dim, labels, flat)
  }

  /** Query vectors drawn from the corpus's own distribution. */
  def queries(seed: Long, count: Int, dim: Int): Array[Array[Float]] = {
    val m = new VecModel(seed, dim)
    val r = new Rng(streamSeed(seed, "vec-queries"))
    Array.fill(count) { val q = new Array[Float](dim); m.draw(r, q, 0); q }
  }

  /** Rows the online writer inserts: same distribution, other stream. */
  def freshRows(seed: Long, count: Int, dim: Int): Vectors = {
    val m = new VecModel(seed, dim)
    val r = new Rng(streamSeed(seed, "vec-fresh"))
    val flat = new Array[Float](count * dim)
    val labels = Array.tabulate(count) { i => m.draw(r, flat, i * dim); r.int(10) }
    Vectors(dim, labels, flat)
  }

  def vectors(seed: Long, n: Int, dim: Int): Vectors =
    cached(s"vec-v$Version-s$seed-n$n-d$dim.bin",
      writeVectors(_, generateVectors(seed, n, dim)), readVectors)

  def writeVectors(out: DataOutputStream, v: Vectors): Unit = {
    out.writeInt(v.n); out.writeInt(v.dim)
    v.labels.foreach(out.writeInt)
    v.flat.foreach(out.writeFloat)
  }

  def readVectors(in: DataInputStream): Vectors = {
    val n = in.readInt(); val dim = in.readInt()
    val labels = Array.fill(n)(in.readInt())
    Vectors(dim, labels, Array.fill(n * dim)(in.readFloat()))
  }

  // ---- the planted clean-chain corpus (PerfProbe's CLEAN_N shape) ----

  /** First doc id of the clean corpus: a seed-dependent multiple of 10, so
    * every token that carries an id changes with the seed while the
    * class of a doc stays `id % 10`. Ids have seven digits for every seed
    * and corpus size up to 10^6, so the corpus's raw bytes (the base of
    * batch_pipeline's space_amp) do not vary with the seed. */
  def cleanBase(seed: Long): Long =
    10L * (100000L + java.lang.Math.floorMod(streamSeed(seed, "clean-base"), 700000L))

  /** `n` docs (a multiple of 20) with violations planted by `id % 10`:
    *   0,8,9 healthy unique lines (two C4 line violations ride along)
    *   1 a `{` line, 2 "lorem ipsum" (C4 drops the doc)
    *   3 an 18-token doc (Gopher drops it)
    *   4 one identical 60-token doc (one survivor, the rest fully masked)
    *   5, 6 a unique 6-token prefix F_j (j = id / 10) + a 45-token span
    *     shared within the class: later docs mask down to F_j, and exact
    *     dedup then keeps the class-5 doc of each pair
    *   7 a shared 30-token span at an id-varying line offset
    * Rows come in a seeded order, not by id. */
  def generateCleanCorpus(seed: Long, n: Int): Docs = {
    require(n % 20 == 0 && n >= 40, "clean corpus size: a multiple of 20, >= 40")
    val base = cleanBase(seed)
    def ulines(id: Long, from: Int, to: Int): String =
      (from to to).map(l =>
        Seq(s"u${id}w${l}a", "holds the fine and", s"u${id}w${l}b", s"u${id}w${l}c",
          s"u${id}w${l}d", s"u${id}w${l}e", s"u${id}w${l}f.").mkString(" ")).mkString("\n")
    val span30 = (1 to 15).map(i => s"sp${i}a").mkString(" ") + ".\n" +
      (1 to 15).map(i => s"sp${i}b").mkString(" ") + "."
    def span45(tag: String) = (1 to 3).map(i =>
      (1 to 15).map(k => s"$tag${i}x$k").mkString(" ") + ".").mkString("\n")
    val template60 = (1 to 6).map(l =>
      s"tmpl${l}a holds the fine and tmpl${l}b tmpl${l}c tmpl${l}d tmpl${l}e stays.")
      .mkString("\n")
    def text(id: Long): String = {
      val j = id / 10
      val prefixLine = s"pfx${j}a hold${j}b the and mid${j}c end${j}d.\n"
      def healthy = ulines(id, 1, 5) +
        "\njavascript mention with five words here.\n" +
        "no terminal punctuation on this line at all"
      (id % 10).toInt match {
        case 1 => healthy + "\nbrace { line with words here."
        case 2 => healthy + "\nlorem ipsum here with more words."
        case 3 => Seq(s"tiny$id sits the line and stays.", s"tiny$id alsoa the line and stays.",
          s"tiny$id again the line and stays.").mkString("\n")
        case 4 => template60
        case 5 => prefixLine + span45("spw")
        case 6 => prefixLine + span45("sqw")
        case 7 =>
          val b = 1 + (id % 3).toInt
          ulines(id, 1, b) + "\n" + span30 + "\n" + ulines(id, b + 1, 5)
        case _ => healthy
      }
    }
    val order = permutation(n, new Rng(streamSeed(seed, "clean-order")))
    val ids = order.map(i => base + i)
    Docs(ids, ids.map(text), null)
  }

  /** (class, tokens left, docs) of every survivor of the batch clean chain
    * — and of the streaming chain fed by increasing-id snapshots. */
  def cleanExpected(n: Int): Set[(Int, Int, Int)] = {
    val g = n / 10
    Set((0, 50, g), (8, 50, g), (9, 50, g), // healthy
      (4, 60, 1), // identical flood: one whole survivor
      (5, 51, 1), (5, 6, g - 1), // first pair whole, later = F_j
      (6, 51, 1), // the first pair's partner; later partners exact-deduped
      (7, 80, 1), (7, 50, g - 1)) // shifted span masked in full
  }

  /** Survivors grouped as in [[cleanExpected]]. */
  def survivorClasses(rows: Seq[(Long, Int)]): Set[(Int, Int, Int)] =
    rows.groupBy { case (id, nFinal) => ((id % 10).toInt, nFinal) }
      .map { case ((c, f), xs) => (c, f, xs.size) }.toSet

  def cleanCorpus(seed: Long, n: Int): Docs =
    cached(s"clean-v$Version-s$seed-n$n.bin",
      writeDocs(_, generateCleanCorpus(seed, n)), readDocs)

  // ---- the multi-class LM corpus (PerfProbe's CCNET shape) ----

  /** Class of the small sample class the KN reference re-fits. */
  val SampleClass = "ks"
  val SampleDocs = 40

  /** `n` docs over `classes` classes plus [[SampleDocs]] docs of
    * [[SampleClass]]. A doc is `lang<c>`, a 20-token class backbone
    * cycling through 9 class words at a random phase, and for a third of
    * the docs 10 unique noise tokens. Sample-class docs draw 12 tokens
    * from a 6-word vocabulary, so every order of the model has repeats. */
  def generateLmCorpus(seed: Long, n: Int, classes: Int): Docs = {
    val r = new Rng(streamSeed(seed, "lm"))
    val base = 10L * java.lang.Math.floorMod(streamSeed(seed, "lm-base"), 100000L)
    val total = n + SampleDocs
    val ids = Array.tabulate(total)(i => base + i)
    val cls = new Array[String](total)
    val texts = Array.tabulate(total) { i =>
      val id = ids(i)
      val sb = new StringBuilder
      if (i < n) {
        val c = r.int(classes)
        cls(i) = s"c$c"
        val phase = r.int(5)
        sb.append(s"lang$c")
        (1 to 20).foreach(k => sb.append(s" w${c}_${(k + phase) % 9}"))
        if (r.int(3) == 0) (1 to 10).foreach(k => sb.append(s" n${id}_$k"))
      } else {
        cls(i) = SampleClass
        sb.append("langks")
        (1 to 12).foreach(_ => sb.append(s" k${r.int(6)}"))
        if (r.int(4) == 0) sb.append(s" kn$id")
      }
      sb.toString
    }
    Docs(ids, texts, cls)
  }

  def lmCorpus(seed: Long, n: Int, classes: Int): Docs =
    cached(s"lm-v$Version-s$seed-n$n-c$classes.bin",
      writeDocs(_, generateLmCorpus(seed, n, classes)), readDocs)

  def writeDocs(out: DataOutputStream, d: Docs): Unit = {
    out.writeInt(d.n); out.writeBoolean(d.classes != null)
    for (i <- 0 until d.n) {
      out.writeLong(d.ids(i))
      val b = d.texts(i).getBytes("UTF-8")
      out.writeInt(b.length); out.write(b)
      if (d.classes != null) out.writeUTF(d.classes(i))
    }
  }

  def readDocs(in: DataInputStream): Docs = {
    val n = in.readInt(); val hasClass = in.readBoolean()
    val ids = new Array[Long](n); val texts = new Array[String](n)
    val cls = if (hasClass) new Array[String](n) else null
    for (i <- 0 until n) {
      ids(i) = in.readLong()
      val b = new Array[Byte](in.readInt()); in.readFully(b)
      texts(i) = new String(b, "UTF-8")
      if (hasClass) cls(i) = in.readUTF()
    }
    Docs(ids, texts, cls)
  }

  // ---- helpers ----

  def permutation(n: Int, r: Rng): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) { val j = r.int(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  /** Read `name` from the cache, generating and writing it first if it is
    * not there (written to a temporary name, then moved into place). */
  def cached[A](name: String, write: DataOutputStream => Unit,
      read: DataInputStream => A): A = {
    val p = Paths.get(CacheDir, name)
    if (!Files.exists(p)) {
      Files.createDirectories(p.getParent)
      val tmp = Files.createTempFile(p.getParent, name, ".tmp")
      val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16))
      try write(out) finally out.close()
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(p), 1 << 16))
    try read(in) finally in.close()
  }
}
