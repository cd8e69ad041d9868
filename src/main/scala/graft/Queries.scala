package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.filter.FilterTranslator

/** The driver-checked operator inventory (SURVEY §2): every entry has a
  * Spark implementation and (where SQL-expressible) a DuckDB oracle on the
  * same parquet tables.
  *
  * Conventions for oracle hash-match:
  *  - every query's output is fully ordered (ORDER BY on a unique key) and
  *    the SQL mirrors the ordering;
  *  - double aggregates are rounded to fixed decimals on both sides;
  *  - vector queries output integer ids only (distance floats differ in the
  *    last ulps between engines, ids don't);
  *  - column names are aliased identically on both sides.
  */
object Queries {

  /** ONE shared serve-lifecycle fixture for the four serve gates
    * (`v4_serve_filtered`, `v11_serve_filtered_batch`,
    * `v11_serve_contract`, `g11_serve_facet`): store + dense IVF + sparse
    * prefix index built ONCE per (session, sf dir) — round 11's bench
    * spent ~35 s rebuilding four near-identical fixtures. The gates only
    * QUERY it (no row mutation), so sharing cannot leak state between
    * them; gates whose point is generation churn (`r3_rebuild_skip`,
    * `s2_time_travel`, …) keep their own roots.
    *
    * Layout: table emb(vec_id PK, label, bucket = vec_id % 7, embedding
    * EUCLIDEAN, SV = first-8-dim prefix DOT_PRODUCT), plus 32 pad rows
    * past MinimalIndexSize that are BOTH filter-rejected (label -1) and
    * geometrically FAR (embedding + 1000) — they enter no gate's top-k.
    * Declarations are fixed at build: embedding → (label, vec_id)
    * [filtered serving + facet values], SV → (label, bucket). `bucket`
    * lives ONLY on SV so the contract gate's sparse_self case provably
    * rides the sparse index's OWN residency (a dense donor declaring the
    * column would be preferred). */
  private val serveFixtures =
    scala.collection.concurrent.TrieMap[(Int, String), graft.api.GraftDb]()

  /** Fixture layout revision: bump when the build below changes shape, so
    * persisted roots from an older layout are never mistaken for current. */
  private val FixtureRev = 1

  /** Content address of the fixture: source-parquet identity (name, size,
    * mtime of every embeddings.parquet file) + layout revision + sf dir.
    * A testdata regeneration changes the fingerprint, so a stale root can
    * never serve against new source data; two sessions on the same dir
    * share one root instead of deleting it out from under each other
    * (round-12 ADVICE: the old root keyed on dir.hashCode alone). */
  private def fixtureKey(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val md = java.security.MessageDigest.getInstance("SHA-1")
    def feed(f: java.nio.file.Path): Unit =
      md.update((f.getFileName.toString + "|" + java.nio.file.Files.size(f) +
        "|" + java.nio.file.Files.getLastModifiedTime(f).toMillis).getBytes("UTF-8"))
    if (java.nio.file.Files.isDirectory(src)) {
      val w = java.nio.file.Files.walk(src)
      try w.iterator().asScala.toSeq
        .filter(java.nio.file.Files.isRegularFile(_))
        .sortBy(_.toString).foreach(feed)
      finally w.close()
    } else if (java.nio.file.Files.exists(src)) feed(src)
    md.update(s"|rev$FixtureRev|$dir".getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def serveFixture(s: SparkSession, dir: String): graft.api.GraftDb = {
    val key = fixtureKey(dir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_servefx_$key"
    serveFixtures.getOrElseUpdate((System.identityHashCode(s), root),
      this.synchronized {
        // this.synchronized serializes builders in ONE JVM; forked test
        // JVMs share the same content-addressed root, so a cold build is
        // additionally guarded by an OS file lock on a sidecar — the
        // second JVM blocks, then sees the stamped manifest and reuses
        // instead of deleting the root out from under the builder
        val lockCh = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(root + ".lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        val osLock = lockCh.lock()
        try {
        val manifest = java.nio.file.Paths.get(root, "fixture_manifest.json")
        // WARM PATH: the manifest stamp is written only after a complete
        // build, and the key embeds the source fingerprint — so a stamped
        // root IS this fixture for this testdata generation. The store's
        // own versioned manifests validate the segment files on open; a
        // probe read + declaration re-apply completes the reuse. Any
        // failure (torn root, old layout) falls through to a cold build.
        val reused =
          if (!java.nio.file.Files.exists(manifest)) None
          else try {
            val m = new String(java.nio.file.Files.readAllBytes(manifest), "UTF-8")
            if (!m.contains(s""""key":"$key"""")) None
            else {
              val db = new graft.api.GraftDb(s, root)
              require(db.store("emb").read().limit(1).count() == 1,
                "empty fixture store")
              db.setServeFilterColumns("emb", "embedding", Seq("label", "vec_id"))
              db.setServeFilterColumns("emb", "SV", Seq("label", "bucket"))
              Some(db)
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        reused.getOrElse(buildServeFixture(s, dir, root, key, manifest))
        } finally { osLock.release(); lockCh.close() }
      })
  }

  private def buildServeFixture(s: SparkSession, dir: String, root: String,
      key: String, manifest: java.nio.file.Path): graft.api.GraftDb = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally w.close()
    }
    val db = new graft.api.GraftDb(s, root)
      val emb = t(s, dir, "embeddings").orderBy("vec_id")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          (col("vec_id") % 7).as("bucket"), col("embedding"),
          struct(lit((0 until 8).toArray).as("indices"),
            slice(col("embedding"), 1, 8).as("values")).as("SV"))
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      db.createTable(
        s"""{"name":"emb","fields":[
           |  {"name":"vec_id","dataType":"BIGINT","primaryKey":true},
           |  {"name":"label","dataType":"BIGINT"},
           |  {"name":"bucket","dataType":"BIGINT"},
           |  {"name":"embedding","dataType":"VECTOR_FLOAT","dimensions":$dim,
           |   "metricType":"EUCLIDEAN"},
           |  {"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":8,
           |   "metricType":"DOT_PRODUCT"}]}""".stripMargin)
      val pad = emb.limit(32)
        .withColumn("vec_id", col("vec_id") + 2000000L)
        .withColumn("label", lit(-1L))
        .withColumn("embedding", transform(col("embedding"), x => x + lit(1000.0f)))
        .withColumn("SV", struct(lit((0 until 8).toArray).as("indices"),
          slice(col("embedding"), 1, 8).as("values")))
      db.store("emb").insert(emb.unionByName(pad))
      require(db.rebuildIndex("emb", "embedding"), "index build skipped")
      require(db.rebuildIndex("emb", "SV"), "sparse index build skipped")
      db.setServeFilterColumns("emb", "embedding", Seq("label", "vec_id"))
      db.setServeFilterColumns("emb", "SV", Seq("label", "bucket"))
      // stamp LAST: a crash anywhere above leaves no manifest, so the next
      // run rebuilds instead of reusing a torn root
      java.nio.file.Files.write(manifest,
        s"""{"key":"$key","dir":"$dir"}""".getBytes("UTF-8"))
      db
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** deterministic literal query vector = embedding of vec_id 0 at this SF */
  private def qvec(s: SparkSession, dir: String): Column =
    lit(SparkEntry.queryVectorOf(s, dir))

  // oracle fragment: the same query vector as a DuckDB scalar subquery
  private val QV = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"
  // V9's query embedding, inlined as a list literal: DeterministicEmbedder
  // is pure, so the exact floats the Spark query uses are computable here
  // (toDouble.toString round-trips the float value exactly)
  private val V9Q: String =
    new graft.embed.DeterministicEmbedder("fake/offline", 64)
      .embedBatch(Seq("spark join merge sort shuffle")).head
      .map(f => f.toDouble.toString).mkString("[", ", ", "]")
  // oracle fragments: double-precision distance over list<float>
  private def sqlL2sqr(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))**2))"
  private def sqlDot(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
  private def sqlNorm(a: String) =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
  private def sqlCosDist(a: String, b: String) =
    s"1.0 - ${sqlDot(a, b)} / (${sqlNorm(a)} * ${sqlNorm(b)})"

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.5/2.8: aggregation (TPC-H Q1 shape) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- §2.8 joins (free in Spark; broadcast the small dims) ----
    "q3_join_topk" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c.filter(col("c_mktsegment") === "BUILDING")),
          o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(20)
    }),

    // skew-safe physical variants, oracle-gated: the salted join and the
    // two-stage aggregation must equal their plain logical forms exactly
    // (SkewJoinSpec proves the salting mechanics on synthetic hot keys;
    // these rows prove the operators against DuckDB on the real tables)
    "sj_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.query.SkewJoin.saltedJoin(li, sup, Seq("l_suppkey"), saltFactor = 8)
        .groupBy(col("s_nationkey"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(col("s_nationkey").as("nationkey"), col("sum_qty"), col("cnt"))
        .orderBy(col("nationkey"))
    }),
    "sj_two_stage_agg" -> ((s, dir) => {
      graft.query.SkewJoin.twoStageSum(t(s, dir, "lineitem"),
          Seq("l_returnflag"), "l_quantity", saltFactor = 32)
        .select(col("l_returnflag"),
          round(col("sum_l_quantity"), 2).as("sum_qty"), col("n"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- §2.2 filter-expression language (P2-P8) ----
    "p2_filter_expr" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val filter = "l_quantity * (1 - l_discount) > 30 AND " +
        "l_returnflag IN ('A', 'R') AND NOT l_linestatus = 'O' AND " +
        "l_extendedprice % 10 < 5"
      li.filter(FilterTranslator.translate(filter, li.schema))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    // LIKE edge cases against values the fixtures actually contain:
    // '%red%' (contains), 'Brand#1_' (single-char wildcard — matches
    // Brand#10..19, NOT Brand#1), 'small %' (prefix); plus the
    // reference's edge semantics (expr.cpp:14-35): bare '%' matches every
    // non-null value and `x LIKE ''` only the empty string.
    "p7_like" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val f = "(p_name LIKE '%red%' OR p_brand LIKE 'Brand#1_' OR p_name LIKE 'small %') " +
        "AND p_name LIKE '%' AND NOT p_name LIKE ''"
      p.filter(FilterTranslator.translate(f, p.schema))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
        .orderBy(col("p_partkey"))
    }),
    "p4_arith_concat" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(FilterTranslator.translate("c_acctbal / 2 + 100 >= 2000", c.schema))
        .select(col("c_custkey"),
          FilterTranslator.translateScalar("c_name + '|' + c_mktsegment", c.schema).as("tag"),
          round(FilterTranslator.translateScalar("c_acctbal * 2 - 1", c.schema), 2).as("calc"))
        .orderBy(col("c_custkey"))
    }),

    // ---- §2.3 exact top-K vector search (V1/V3/V6) ----
    "v3_topk_l2" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .withColumn("@distance", l2sqr_distance(col("embedding"), qvec(s, dir)))
        .orderBy(col("@distance").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"))
    }),
    "v3_topk_cosine" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .withColumn("@distance", cosine_distance(col("embedding"), qvec(s, dir)))
        .orderBy(col("@distance").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"))
    }),
    "v3_topk_dot" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .withColumn("@distance", negative_dot(col("embedding"), qvec(s, dir)))
        .orderBy(col("@distance").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"))
    }),
    // V4: pre-filtered search — filter pushed below the distance projection
    "v4_filtered_topk" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .filter(col("label") >= 5)
        .withColumn("@distance", l2sqr_distance(col("embedding"), qvec(s, dir)))
        .orderBy(col("@distance").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("label"))
    }),

    // Batch exact top-k: 4 queries answered in ONE corpus pass via the
    // bounded-heap aggregate (TopKMin partial aggregation — map-side heaps,
    // shuffle carries only Q·k·tasks pairs). The oracle mirrors it as a
    // per-query window rank; the engine plan never materializes that
    // N·Q ranked relation.
    "v11_batch_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 4)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => graft.query.BatchSearch.BatchQuery(
          r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_.qid)
      graft.query.BatchSearch.topK(emb, "embedding", "vec_id", qs.toSeq, k = 10)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("id").as("vec_id"))
        .orderBy(col("qid"), col("rank"))
    }),

    // V2: sparse-vector top-K through the sparse merge-join expressions
    // (testdata embeddings densely encoded as struct<indices,values>; the
    // oracle computes the same distance from the dense column)
    "v2_sparse_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val sparse = emb.select(col("vec_id"),
        struct(
          sequence(lit(0), size(col("embedding")) - 1).cast("array<int>").as("indices"),
          col("embedding").as("values")).as("sv"))
      val q = SparkEntry.queryVectorOf(s, dir)
      val qc = struct(lit(q.indices.toArray).as("indices"), lit(q).as("values"))
      sparse
        .withColumn("@distance", sparse_l2sqr_distance(col("sv"), qc))
        .orderBy(col("@distance").asc, col("vec_id").asc)
        .limit(10).select(col("vec_id"))
    }),
    // int8-quantized vector scan: top-K over reconstructed vectors — the
    // 4x-fewer-bytes scan path; the affine code/decode is exact-mirrored
    // in the oracle (explicit floor(y+0.5) rounding both engines)
    // Johnson–Lindenstrauss prefilter + exact rerank (public: JL lemma /
    // Achlioptas 2003): project 64-dim embeddings through a deterministic
    // ±1 sign matrix to 16 dims, take the top-50 candidates by reduced-
    // space L2 (rounded to 6 places before the cut — both engines sum in
    // different orders), exact-rerank to the top-10. The scan-bytes shape
    // of a dim/m× cheaper candidate pass; the DuckDB oracle rebuilds the
    // SAME matrix from the md5-parity formula and mirrors both stages.
    "v12_jl_prefilter" -> ((s, dir) => {
      import graft.pipeline.Quantize
      val emb = t(s, dir, "embeddings")
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      val m = 16
      val signs = Quantize.jlSigns(dim, m)
      val q = SparkEntry.queryVectorOf(s, dir)
      val qr = Quantize.jlProjectLocal(q, signs)
      val staged = emb.select(col("vec_id"), col("embedding"))
        .withColumn("rv", Quantize.jlProject(col("embedding"), signs))
      val rd = staged.select(col("vec_id"), col("embedding"),
        round(aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, r) => {
            val d = element_at(col("rv"), r + 1) - element_at(lit(qr), r + 1)
            acc + d * d
          }), 6).as("rdist"))
      rd.orderBy(col("rdist").asc, col("vec_id").asc).limit(50)
        .withColumn("d", l2sqr_distance(col("embedding"), lit(q)))
        .orderBy(col("d").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),
    "vq_int8_topk" -> ((s, dir) => {
      val q = SparkEntry.queryVectorOf(s, dir).map(_.toDouble)
      graft.pipeline.Quantize.topKL2Quantized(
          t(s, dir, "embeddings"), "embedding", "vec_id", q, k = 10)
        .select(col("vec_id"))
    }),

    // V5/S3: IVF with nProbe = ALL clusters degenerates to exact search,
    // so the whole index lifecycle (k-means build -> save -> load ->
    // partition-pruned scan -> top-K merge) is value-checked against the
    // brute-force oracle — the approximation is ONLY the probe cut,
    // verified separately by recall gates.
    "v5_ivf_fullprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_full_${math.abs(dir.hashCode)}"
      val idx = graft.index.IvfIndex.build(s, emb, "embedding", "vec_id", path,
        graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
      idx.search("embedding", SparkEntry.queryVectorOf(s, dir), k = 10,
          nProbe = idx.centroids().length) // full probe even if skew-split added clusters
        .select(col("vec_id"))
    }),

    // Recall-targeted auto-probe: probeSetForRecall's geometric bound at
    // target 1.0 must reproduce the EXACT top-10 while choosing its own
    // probe set (ball-pruning off persisted per-cluster radii) — the
    // driver value-checks it against the brute-force oracle.
    "v5_auto_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfauto_${math.abs(dir.hashCode)}"
      val idx = graft.index.IvfIndex.build(s, emb, "embedding", "vec_id", path,
        graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
      idx.searchAuto("embedding", SparkEntry.queryVectorOf(s, dir), k = 10,
          recallTarget = 1.0)
        .select(col("vec_id"))
    }),

    // V5: IVF ANN search, emitted as a deterministic VERDICT row: the
    // probe-pruned cut starts at nProbe=4 of 8 clusters and WIDENS the
    // probe until recall@10 vs the in-query exact top-10 reaches 0.9 —
    // the serving-side answer to an under-filled probe (at full probe IVF
    // degenerates to exact search, so the loop always terminates at
    // recall 1.0). Tighter fixed-probe gates (>= 0.95) run in
    // SemicircleSpec/AnnBench where the geometry is controlled.
    "v5_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_r3_${math.abs(dir.hashCode)}"
      val q = SparkEntry.queryVectorOf(s, dir)
      val exactIds = emb
        .withColumn("@distance", l2sqr_distance(col("embedding"), lit(q)))
        .orderBy(col("@distance").asc, col("vec_id").asc)
        .limit(10).select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val idx = graft.index.IvfIndex.build(s, emb, "embedding", "vec_id", path,
        graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
      def recallAt(nProbe: Int): Double = {
        val ivfIds = idx.search("embedding", q, 10, nProbe)
          .select(col("vec_id")).collect().map(_.getLong(0)).toSet
        ivfIds.intersect(exactIds).size / 10.0
      }
      val nAll = idx.centroids().length // full probe stays exact post-split
      var nProbe = 4
      var recall = recallAt(nProbe)
      while (recall < 0.9 && nProbe < nAll) {
        nProbe = math.min(nAll, nProbe * 2)
        recall = recallAt(nProbe)
      }
      import s.implicits._
      Seq(if (recall >= 0.9) 1.0 else 0.0).toDF("recall_ok")
    }),
    // V13 / R2: NSG graph refinement + graph serving (the reference's
    // actual index family) — distributed MRNG build over the bucketed
    // kNN graph (fixed first-16 centroids, same oracle-reproducible
    // trick as r1_knn_graph), driver-resident bounded-queue best-first
    // serve starting at the reference's search_length 45 and widening
    // until recall@10 vs the in-query exact top-10 reaches 0.9; at
    // l = N the walk visits the whole (connectivity-spurred) graph, so
    // the loop always terminates at recall 1.0. The distributed search
    // path remains IVF (IvfIndex.scala:9-48); this gates the graph
    // refinement semantics and the reference's single-node serve regime.
    "v13_nsg_serve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = SparkEntry.queryVectorOf(s, dir)
      val exactIds = emb
        .withColumn("@distance", l2sqr_distance(col("embedding"), lit(q)))
        .orderBy(col("@distance").asc, col("vec_id").asc)
        .limit(10).select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect()
        .map { r =>
          val v = r.getSeq[Float](0).map(_.toDouble).toArray
          val n = math.sqrt(v.map(x => x * x).sum)
          v.map(_ / n)
        }
      val g = graft.index.NsgIndex.build(emb, "embedding", "vec_id",
        cents, knnK = 12, poolSize = 48, outDegree = 12)
      val srv = graft.index.NsgIndex.serve(g, emb, "embedding", "vec_id")
      def recallAt(l: Int): Double =
        srv.search(q, 10, l).map(_._1).toSet.intersect(exactIds).size / 10.0
      var l = 45
      var recall = recallAt(l)
      while (recall < 0.9 && l < srv.size) {
        l = math.min(srv.size, l * 2)
        recall = recallAt(l)
      }
      import s.implicits._
      Seq(if (recall >= 0.9) 1.0 else 0.0).toDF("recall_ok")
    }),
    // V9: search-by-content — embed the query text, then vector search.
    // The embedder is pure, so the SAME query embedding is inlined into
    // the oracle SQL as a list literal (V9Q below) => full hash check.
    "v9_search_by_content" -> ((s, dir) => {
      val svc = new graft.embed.DeterministicEmbedder("fake/offline", 64)
      val q = svc.embedBatch(Seq("spark join merge sort shuffle")).head
      t(s, dir, "embeddings")
        .withColumn("@distance", cosine_distance(col("embedding"), lit(q)))
        .orderBy(col("@distance").asc, col("vec_id").asc)
        .limit(10).select(col("vec_id"), col("label"))
    }),
    // Persisted int8 layout: quantized candidate scan over the IVF
    // clustered copy (reads codes, never the float column), reranked on
    // the full vectors — with every cluster probed the result is EXACTLY
    // the brute-force top-10, which the oracle value-checks.
    "vq_ivf_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfq_${math.abs(dir.hashCode)}"
      val idx = graft.index.IvfIndex.build(s, emb, "embedding", "vec_id", path,
        graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
      idx.searchQuantized("embedding", SparkEntry.queryVectorOf(s, dir), k = 10,
        nProbe = idx.centroids().length)
        .select(col("vec_id"))
    }),
    // Persisted PQ tier: ADC candidate scan over the m-byte product-
    // quantization codes (reads neither the float column nor the int8
    // codes — ~1/32 of the vector bytes), reranked exact on the floats.
    // Full probe + exact rerank => exactly the brute-force top-10, which
    // the oracle value-checks (the PQ approximation only shapes the
    // candidate set; the gate proves the candidates cover the answer).
    "vq_pq_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_${math.abs(dir.hashCode)}"
      val idx = graft.index.IvfIndex.build(s, emb, "embedding", "vec_id", path,
        graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
      idx.searchPq("embedding", SparkEntry.queryVectorOf(s, dir), k = 10,
        nProbe = idx.centroids().length)
        .select(col("vec_id"))
    }),
    // DRIVER-SIDE SERVING, oracle-gated: certification is what makes the
    // in-process answer driver-checkable — the certified id set is proven
    // exact (interval bounds + boundary rerank), so it must equal the
    // brute-force top-10 no matter which rows scored quantized. One gate
    // per code-resident tier (16-bit min-max, m-byte PQ).
    "vq_serve_cert" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfsc_${math.abs(dir.hashCode)}"
      val idx = graft.index.IvfIndex.build(s, emb, "embedding", "vec_id", path,
        graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
      val hits = idx.serve("embedding", Array(SparkEntry.queryVectorOf(s, dir)),
        10, graft.index.ServeTier.Quantized(certify = true),
        graft.index.ServeProbe.Nearest(idx.centroids().length), Nil,
        _ => false, None).head.get.hits
      hits.map(_._1).toSeq.toDF("vec_id")
    }),
    "vq_pq_serve_cert" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpsc_${math.abs(dir.hashCode)}"
      val idx = graft.index.IvfIndex.build(s, emb, "embedding", "vec_id", path,
        graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
      val hits = idx.serve("embedding", Array(SparkEntry.queryVectorOf(s, dir)),
        10, graft.index.ServeTier.Pq(certify = true),
        graft.index.ServeProbe.Nearest(idx.centroids().length), Nil,
        _ => false, None).head.get.hits
      hits.map(_._1).toSeq.toDF("vec_id")
    }),
    // V4 × serving: a `"serve":true` request CARRYING A FILTER through the
    // full GraftDb dispatch. The filter is a simple conjunct over a
    // declared resident column, so the serve tier answers it EXACTLY
    // (IvfIndex.serve evaluates the predicate in the sweep) — the gate
    // asserts the envelope says served+filtered (a silent decline would
    // still hash-equal via the job path and prove nothing), then
    // value-checks the id set against the DuckDB filtered brute force.
    // Full probe => the pruned sweep is exhaustive => exact.
    "v4_serve_filtered" -> ((s, dir) => {
      import org.json4s._
      val db = serveFixture(s, dir)
      val q = SparkEntry.queryVectorOf(s, dir)
      val resp = db.query(
        s"""{"table":"emb","queryField":"embedding",
           |  "queryVector":[${q.mkString(",")}],"limit":10,"nProbe":9999,
           |  "filter":"label >= 5","serve":true}""".stripMargin)
      require(resp.contains("\"served\":true") &&
        resp.contains("\"filtered\":true"),
        s"filtered request did not ride the serve tier: $resp")
      val ids: Seq[Long] =
        (org.json4s.jackson.JsonMethods.parse(resp) \ "result") match {
          case JArray(rows) => rows.map(r => (r \ "__row_id") match {
            case JInt(i) => i.toLong
            case JLong(l) => l
            case other => sys.error(s"bad __row_id: $other")
          })
          case other => sys.error(s"bad result: $other")
        }
      // map row ids -> vec_id (the driver compare sorts rows, so the gate
      // checks the served ID SET; rank order is asserted in Round10Spec)
      db.store("emb").read()
        .filter(col(graft.store.TableStore.RowId).isin(ids: _*))
        .select(col("vec_id")).orderBy("vec_id")
    }),
    // The BATCH form of the same contract: a `queryVectors` request with a
    // shared filter rides one filtered IvfIndex.serve (one passing-id set for
    // the whole batch); every entry must be marked served+filtered and
    // value-check against its own filtered brute force.
    "v11_serve_filtered_batch" -> ((s, dir) => {
      import org.json4s._
      val db = serveFixture(s, dir)
      val emb = t(s, dir, "embeddings")
      val qs = Seq(0L, 1L).map(i => emb.filter(col("vec_id") === i)
        .select(col("embedding")).head().getSeq[Float](0).toArray)
      val resp = db.query(
        s"""{"table":"emb","queryField":"embedding",
           |  "queryVectors":[[${qs(0).mkString(",")}],[${qs(1).mkString(",")}]],
           |  "limit":10,"nProbe":9999,"filter":"label >= 5","serve":true}""".stripMargin)
      val results = (org.json4s.jackson.JsonMethods.parse(resp) \ "results") match {
        case JArray(rs) => rs
        case other => sys.error(s"bad batch envelope: $other")
      }
      require(results.length == 2, resp)
      val perQuery: Seq[(Long, Seq[Long])] = results.zipWithIndex.map { case (r, qi) =>
        val txt = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(r))
        require(txt.contains("\"served\":true") && txt.contains("\"filtered\":true"),
          s"batch entry $qi did not ride the filtered serve path: $txt")
        val ids = (r \ "result") match {
          case JArray(rows) => rows.map(x => (x \ "__row_id") match {
            case JInt(i) => i.toLong
            case JLong(l) => l
            case other => sys.error(s"bad __row_id: $other")
          })
          case other => sys.error(s"bad result: $other")
        }
        (qi.toLong, ids)
      }
      val m = db.store("emb").read()
        .select(col(graft.store.TableStore.RowId), col("vec_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      import s.implicits._
      perQuery.flatMap { case (qi, ids) => ids.map(id => (qi, m(id))) }
        .toDF("qid", "vec_id").orderBy("qid", "vec_id")
    }),
    // Round 11 serve-contract matrix through the FULL GraftDb dispatch,
    // one fixture for four envelope-asserted cases:
    //  fq_cert / fpq_cert — attribute-FILTERED serving on the 16-bit and
    //    PQ code tiers with certification: the proven id set is the exact
    //    top-10 of the FILTERED universe (the passing-id mask composes
    //    into the code sweeps; certification runs over masked candidates);
    //  recall_filter — serve + recallTarget 1.0 + filter: the passing-
    //    count ball cover proves exactness over the filtered universe;
    //  rt_code_serve — recallTarget + a code tier SERVES with the proof
    //    composed (geometric cover × forced interval certification: the
    //    cover holds the true top-k, certification returns the cover's
    //    exact top-k — the floor is proven at code-tier bandwidth);
    //  rt_fpq_recall — recallTarget + filter + PQ: the passing-count
    //    cover bounds the FILTERED top-k and certification runs over the
    //    masked candidates — the exact filtered answer off PQ codes.
    // Every case's ids value-check against the DuckDB brute force.
    "v11_serve_contract" -> ((s, dir) => {
      import org.json4s._
      val db = serveFixture(s, dir)
      val q = SparkEntry.queryVectorOf(s, dir)
      val m = db.store("emb").read()
        .select(col(graft.store.TableStore.RowId), col("vec_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def ids(resp: String, key: String = "__row_id"): Seq[Long] =
        (org.json4s.jackson.JsonMethods.parse(resp) \ "result") match {
          case JArray(rows) => rows.map(r => (r \ key) match {
            case JInt(i) => i.toLong
            case JLong(l) => l
            case other => sys.error(s"bad $key: $other")
          })
          case other => sys.error(s"bad result: $other")
        }
      val out = Seq.newBuilder[(String, Long)]
      // filtered certified serving on both code tiers
      for ((tier, cid) <- Seq("quantized" -> "fq_cert", "pq" -> "fpq_cert")) {
        val r = db.query(
          s"""{"table":"emb","queryField":"embedding",
             |  "queryVector":[${q.mkString(",")}],"limit":10,"nProbe":9999,
             |  "filter":"label >= 5","serve":true,"$tier":true,
             |  "certified":true}""".stripMargin)
        require(r.contains("\"served\":true") && r.contains("\"filtered\":true") &&
          r.contains(s""""$tier":true""") && r.contains("\"certified\":true"),
          s"$cid did not ride the filtered $tier serve tier: $r")
        ids(r).map(m).foreach(v => out += ((cid, v)))
      }
      // proven-recall filtered serving (passing-count cover, target 1.0)
      val rr = db.query(
        s"""{"table":"emb","queryField":"embedding",
           |  "queryVector":[${q.mkString(",")}],"limit":10,
           |  "filter":"label >= 5","serve":true,"recallTarget":1.0}""".stripMargin)
      require(rr.contains("\"served\":true") && rr.contains("\"filtered\":true"),
        s"recall_filter did not serve with the passing-count cover: $rr")
      ids(rr).map(m).foreach(v => out += (("recall_filter", v)))
      // a declared floor on a code tier SERVES with certification forced:
      // the cover × interval proof composition makes target 1.0 the exact
      // top-10 off the 16-bit codes (the envelope must say so — a decline
      // would still match via the job path and prove nothing)
      val rd = db.query(
        s"""{"table":"emb","queryField":"embedding",
           |  "queryVector":[${q.mkString(",")}],"limit":10,"serve":true,
           |  "quantized":true,"recallTarget":1.0}""".stripMargin)
      require(rd.contains("\"served\":true") && rd.contains("\"quantized\":true")
          && rd.contains("\"certified\":true"),
        s"rt_code_serve did not ride the proven-recall 16-bit tier: $rd")
      ids(rd).map(m).foreach(v => out += (("rt_code_serve", v)))
      // floor + filter + PQ: passing-count cover over masked candidates
      val rf = db.query(
        s"""{"table":"emb","queryField":"embedding",
           |  "queryVector":[${q.mkString(",")}],"limit":10,"serve":true,
           |  "pq":true,"recallTarget":1.0,"filter":"label >= 5"}""".stripMargin)
      require(rf.contains("\"served\":true") && rf.contains("\"filtered\":true")
          && rf.contains("\"pq\":true") && rf.contains("\"certified\":true"),
        s"rt_fpq_recall did not ride the proven-recall filtered PQ tier: $rf")
      ids(rf).map(m).foreach(v => out += (("rt_fpq_recall", v)))
      // filtered SPARSE serving off the borrowed dense pass verdict
      // (round 11): retrieval-mode over the masked candidates == the
      // filtered brute force on this all-overlap prefix field
      val sq = q.take(8)
      val rs = db.query(
        s"""{"table":"emb","queryField":"SV",
           |  "queryVector":{"indices":[0,1,2,3,4,5,6,7],
           |    "values":[${sq.mkString(",")}]},"limit":10,"serve":true,
           |  "filter":"label >= 5"}""".stripMargin)
      require(rs.contains("\"served\":true") && rs.contains("\"filtered\":true"),
        s"sparse_filter did not ride the borrowed-verdict serve path: $rs")
      ids(rs).map(m).foreach(v => out += (("sparse_filter", v)))
      // sparse-ONLY verdict (round 12): a conjunction whose columns the
      // dense donor does NOT declare (bucket is declared only on SV —
      // see serveFixture) forces the self path: the sparse index's own
      // pass-set residency judges resident rows and the sparse tail
      // sidecar judges fresh ones; envelope-asserted like every cell
      val rss = db.query(
        s"""{"table":"emb","queryField":"SV",
           |  "queryVector":{"indices":[0,1,2,3,4,5,6,7],
           |    "values":[${sq.mkString(",")}]},"limit":10,"serve":true,
           |  "filter":"label >= 5 AND bucket < 3"}""".stripMargin)
      require(rss.contains("\"served\":true") && rss.contains("\"filtered\":true"),
        s"sparse_self did not ride the own-residency serve path: $rss")
      ids(rss).map(m).foreach(v => out += (("sparse_self", v)))
      // floored sparse dot (round 12): the zero-gap proof — every row
      // shares the query's 8 prefix dims with positive values, so the
      // k-th dot strictly clears the zero-overlap constant and the serve
      // answers the floor exactly (envelope-asserted; value-checked
      // against the filtered brute force like sparse_filter)
      val rsd = db.query(
        s"""{"table":"emb","queryField":"SV",
           |  "queryVector":{"indices":[0,1,2,3,4,5,6,7],
           |    "values":[${sq.mkString(",")}]},"limit":10,"serve":true,
           |  "filter":"label >= 5","recallTarget":1.0}""".stripMargin)
      require(rsd.contains("\"served\":true") && rsd.contains("\"filtered\":true"),
        s"rt_sparse_dot did not ride the zero-gap floored serve path: $rsd")
      ids(rsd).map(m).foreach(v => out += (("rt_sparse_dot", v)))
      import s.implicits._
      out.result().toDF("case_id", "vec_id").orderBy("case_id", "vec_id")
    }),

    // Round 11: serve-path FACETS — aggregate the served top-k from the
    // scalar residency (+ tail sidecar) through the SAME facet executor
    // the job path uses; the gate runs the faceted request through the
    // full dispatch, asserts the envelope says served (a decline would
    // still match via the job path and prove nothing), then value-checks
    // the facet rows against the DuckDB group-over-topk.
    "g11_serve_facet" -> ((s, dir) => {
      import org.json4s._
      val db = serveFixture(s, dir)
      val q = SparkEntry.queryVectorOf(s, dir)
      def facetRows(resp: String): Seq[(Long, Long, Long)] =
        (org.json4s.jackson.JsonMethods.parse(resp) \ "facets") match {
          case JArray(List(JArray(groups))) => groups.map { g =>
            def l(v: JValue): Long = v match {
              case JInt(i) => i.toLong
              case JLong(x) => x
              case other => sys.error(s"bad facet value: $other")
            }
            (l(g \ "label"), l(g \ "COUNT(*)"), l(g \ "SUM(vec_id)"))
          }
          case other => sys.error(s"bad facets envelope: $other")
        }
      val resp = db.query(
        s"""{"table":"emb","queryField":"embedding",
           |  "queryVector":[${q.mkString(",")}],"limit":100,"nProbe":9999,
           |  "serve":true,
           |  "facets":[{"group":["label"],
           |             "aggregate":["COUNT(*)","SUM(vec_id)"]}]}""".stripMargin)
      require(resp.contains("\"served\":true"),
        s"faceted request did not ride the serve tier: $resp")
      // sparse + filter + facets: the borrowed verdict masks the sparse
      // walk AND the donor's residency values the facet input
      val spResp = db.query(
        s"""{"table":"emb","queryField":"SV",
           |  "queryVector":{"indices":[0,1,2,3,4,5,6,7],
           |                 "values":[${q.take(8).mkString(",")}]},
           |  "limit":10,"serve":true,"filter":"label >= 5",
           |  "facets":[{"group":["label"],
           |             "aggregate":["COUNT(*)","SUM(vec_id)"]}]}""".stripMargin)
      require(spResp.contains("\"served\":true") &&
        spResp.contains("\"filtered\":true"),
        s"sparse faceted request did not ride the serve tier: $spResp")
      import s.implicits._
      (facetRows(resp).map(r => ("dense", r._1, r._2, r._3)) ++
        facetRows(spResp).map(r => ("sparse", r._1, r._2, r._3)))
        .toDF("case_id", "label", "n", "sum_id").orderBy("case_id", "label")
    }),

    // P10: @distance usable in the filter (post-filter mode)
    "v10_distance_filter" -> ((s, dir) => {
      val withDist = t(s, dir, "embeddings")
        .withColumn("@distance", l2sqr_distance(col("embedding"), qvec(s, dir)))
      withDist
        .filter(FilterTranslator.translate("@distance <= 1.4 AND label >= 3", withDist.schema))
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // ---- §2.4 attribute scan / pagination / PK lookup (A1/A2) ----
    "a1_scan_page" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type") =!= "click")
        .orderBy(col("event_id"))
        .offset(100).limit(50)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("value"))
    }),
    "a2_pk_lookup" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderkey").isin(1L, 7L, 42L, 100L, 999L, 1500L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- §2.5 facets: aggregate over the POST-LIMIT result (G1-G6) ----
    "g1_facet_over_topk" -> ((s, dir) => {
      val topk = t(s, dir, "embeddings")
        .withColumn("@distance", l2sqr_distance(col("embedding"), qvec(s, dir)))
        .orderBy(col("@distance").asc, col("vec_id").asc)
        .limit(100)
      topk.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("sum_id"))
        .orderBy(col("label"))
    }),

    // G7 (our AVG extension) through the facet executor itself
    "g7_avg_facet" -> ((s, dir) => {
      val topk = t(s, dir, "embeddings")
        .withColumn("@distance", l2sqr_distance(col("embedding"), qvec(s, dir)))
        .orderBy(col("@distance").asc, col("vec_id").asc)
        .limit(50)
      graft.query.QueryEngine.facet(topk,
          graft.query.QueryEngine.Facet(Seq("label"), Seq("AVG(vec_id)", "COUNT(*)", "MAX(vec_id)")))
        .toDF("label", "avg_id", "n", "max_id") // parquet forbids ()* in names
        .orderBy(col("label"))
    }),

    // ---- §2.8 free ops: sort, set ops, window, distinct agg ----
    "w1_window_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("running", round(sum(col("value")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("rn"), col("running"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    // exact percentiles (stat functions; interpolated, matching quantile_cont)
    "q9_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"),
          round(stddev_pop(col("l_quantity")), 4).as("sd_qty"))
        .orderBy(col("l_returnflag"))
    }),
    // grouping sets / rollup + distinct aggregation (§2.8 free ops)
    "q8_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    // scalar function library sampler (dates, strings, math — all built-ins)
    "p11_scalar_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
        .withColumn("mo", month(col("o_orderdate")))
        .groupBy(col("yr"), col("mo"))
        .agg(count(lit(1)).as("n"),
          round(avg(length(col("o_orderpriority"))), 4).as("avg_prio_len"),
          // ascii() keeps the agg buffer fixed-width: max(string) would
          // force SortAggregate (2 extra sorts) instead of HashAggregate
          max(ascii(upper(substring(col("o_orderstatus"), 1, 1)))).as("max_status"),
          round(sum(sqrt(abs(col("o_totalprice")))), 4).as("sum_sqrt_price"))
        .orderBy(col("yr"), col("mo"))
    }),
    "so_set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 200000).select(col("o_custkey"))
      val pri = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      hi.intersect(pri).unionByName(
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
          .except(pri)).distinct()
        .orderBy(col("o_custkey"))
    }),

    // A4: default projection = every NON-vector field, in schema order
    // (table_mvp.cpp:462-594 — vectors are returned only when asked for),
    // routed through QueryEngine.get's pagination path.
    "a4_project_all" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn(graft.store.TableStore.RowId, col("vec_id"))
      val schema = graft.types.TableSchema("embeddings", Seq(
        graft.types.FieldSchema("vec_id", graft.types.FieldType.BigInt, primaryKey = true),
        graft.types.FieldSchema("embedding", graft.types.FieldType.VectorFloat, dimensions = 64),
        graft.types.FieldSchema("label", graft.types.FieldType.Int4)))
      graft.query.QueryEngine.get(emb, schema,
        graft.query.QueryEngine.GetRequest(filter = "label >= 3", skip = 10, limit = 25))
    }),

    // G6: global aggregate — a facet with ZERO group expressions aggregates
    // the whole result set into one row (db_server.cpp:395-397), through the
    // same facet executor as the grouped path.
    "g6_global_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_type") === "view")
      graft.query.QueryEngine.facet(ev,
          graft.query.QueryEngine.Facet(Nil,
            Seq("COUNT(*)", "SUM(value)", "AVG(value)", "MIN(value)", "MAX(value)")))
        .toDF("n", "sum_v", "avg_v", "min_v", "max_v")
        .select(col("n"), round(col("sum_v"), 2).as("sum_v"),
          round(col("avg_v"), 4).as("avg_v"), round(col("min_v"), 4).as("min_v"),
          round(col("max_v"), 4).as("max_v"))
    }),

    // V7: below MinimalIndexSize (512) the rebuild scheduler declines to
    // build and search brute-forces (MinimalGraphSize config.hpp:22 +
    // BruteforceThreshold vec_search_executor.hpp:28) — the oracle checks
    // BOTH the no-index decision and the exact fallback result.
    "v7_bruteforce_small" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 400)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_small_${math.abs(dir.hashCode)}"
      val (idx, built) = graft.index.IvfIndex.rebuildVerbose(
        s, emb, "embedding", "vec_id", path, graft.types.MetricType.Euclidean)
      val q = SparkEntry.queryVectorOf(s, dir)
      val res = idx match {
        case Some(i) => i.search("embedding", q, 10, nProbe = Int.MaxValue)
        case None => emb
          .withColumn("@distance", l2sqr_distance(col("embedding"), lit(q)))
          .orderBy(col("@distance").asc, col("vec_id").asc).limit(10)
      }
      res.select(col("vec_id"))
        .withColumn("used_index", lit(idx.isDefined || built))
    }),

    // R4: fresh rows above the indexed watermark are searched EXACTLY and
    // unioned before the cut (graph-over-prefix + brute-force-tail,
    // vec_search_executor.cpp:885-904): index the low half only, full-probe
    // + tail == brute force over the whole table, which the oracle checks.
    "r4_fresh_tail" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cut = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_tail_${math.abs(dir.hashCode)}"
      val idx = graft.index.IvfIndex.build(s, emb.filter(col("vec_id") <= cut),
        "embedding", "vec_id", path, graft.types.MetricType.Euclidean,
        nClusters = 8, maxIter = 3)
      idx.search("embedding", SparkEntry.queryVectorOf(s, dir), k = 10,
          nProbe = idx.centroids().length,
          freshTail = Some(emb.filter(col("vec_id") > cut)))
        .select(col("vec_id"))
    }),

    // V10: multi-vector-field dispatch — the request names WHICH vector
    // field to search (web_controller.hpp:700-719 queryField resolution);
    // here the second field is the element-reversed embedding, which the
    // oracle reproduces with list_reverse.
    "v10_multi_field" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("embedding_rev", reverse(col("embedding")))
        .withColumn(graft.store.TableStore.RowId, col("vec_id"))
      val schema = graft.types.TableSchema("emb2", Seq(
        graft.types.FieldSchema("vec_id", graft.types.FieldType.BigInt, primaryKey = true),
        graft.types.FieldSchema("embedding", graft.types.FieldType.VectorFloat, dimensions = 64),
        graft.types.FieldSchema("embedding_rev", graft.types.FieldType.VectorFloat, dimensions = 64),
        graft.types.FieldSchema("label", graft.types.FieldType.Int4)))
      graft.query.QueryEngine.search(emb, schema,
        graft.query.QueryEngine.SearchRequest("embedding_rev",
          graft.query.QueryEngine.DenseQuery(SparkEntry.queryVectorOf(s, dir)),
          limit = 10, outputFields = Seq("vec_id", "label")))
    }),

    // R3: rebuild-scheduler skip semantics (table_mvp.cpp:94-203, invoked
    // every 60 s): a second rebuild over an UNCHANGED table is skipped
    // (count AND max-id match); growing the table past the watermark forces
    // a real rebuild.
    "r3_rebuild_skip" -> ((s, dir) => {
      import s.implicits._
      // 600 rows at every SF: clears MinimalIndexSize (512) while keeping
      // the two builds control-plane sized (v7_bruteforce_small covers the
      // below-threshold branch)
      val base = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val emb = base.unionByName(base.withColumn("vec_id", col("vec_id") + 1000000L))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_r3skip_${math.abs(dir.hashCode)}"
      // stale meta from a previous run would make the FIRST rebuild skip
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$path/ivf_meta.json"))
      def rebuild(df: DataFrame) = graft.index.IvfIndex.rebuildVerbose(
        s, df, "embedding", "vec_id", path, graft.types.MetricType.Euclidean,
        nClusters = 8)._2
      val b1 = rebuild(emb)
      val b2 = rebuild(emb) // unchanged -> skipped
      val b3 = rebuild(emb.unionByName( // one fresh row past the watermark
        base.filter(col("vec_id") === 0).withColumn("vec_id", lit(2000000L))))
      Seq((0L, b1), (1L, b2), (2L, b3)).toDF("step", "rebuilt").orderBy("step")
    }),

    // P11: unsupported-operator parity — the reference's expression language
    // REJECTS these (expr.cpp:64-69 ALL/ANY/BETWEEN/EXISTS/SOME; bitwise
    // ops; IN is string-only, expr_evaluator.cpp): each case must throw,
    // emitted as driver-checkable verdict rows.
    "p11_parity_errors" -> ((s, dir) => {
      import s.implicits._
      val schema = t(s, dir, "lineitem").schema
      val cases = Seq(
        "l_orderkey BETWEEN 1 AND 10",
        "EXISTS l_orderkey",
        "l_orderkey = ALL 1",
        "l_orderkey = ANY 1",
        "l_orderkey = SOME 1",
        "l_orderkey & 3 = 1",
        "l_orderkey | 3 = 1",
        "l_quantity IN (1, 2)")
      cases.zipWithIndex.map { case (f, i) =>
        val rejected = scala.util.Try(FilterTranslator.translate(f, schema)).isFailure
        (i.toLong, f, rejected)
      }.toDF("case_id", "filter_expr", "rejected").orderBy("case_id")
    }))

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join_topk" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 20""".stripMargin,
    "sj_salted_join" ->
      """SELECT s_nationkey AS nationkey, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY nationkey""".stripMargin,
    "sj_two_stage_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "p2_filter_expr" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |  round(l_extendedprice, 2) AS price
        |FROM lineitem
        |WHERE l_quantity * (1 - l_discount) > 30 AND l_returnflag IN ('A','R')
        |  AND NOT l_linestatus = 'O' AND fmod(l_extendedprice, 10) < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p7_like" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE (p_name LIKE '%red%' OR p_brand LIKE 'Brand#1_' OR p_name LIKE 'small %')
        |  AND p_name LIKE '%' AND NOT p_name LIKE ''
        |ORDER BY p_partkey""".stripMargin,
    "p4_arith_concat" ->
      """SELECT c_custkey, c_name || '|' || c_mktsegment AS tag,
        |  round(c_acctbal * 2 - 1, 2) AS calc
        |FROM customer WHERE c_acctbal / 2 + 100 >= 2000
        |ORDER BY c_custkey""".stripMargin,
    "v3_topk_l2" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "v3_topk_cosine" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY ${sqlCosDist("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "v3_topk_dot" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY -${sqlDot("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "v4_filtered_topk" ->
      s"""SELECT vec_id, label FROM embeddings WHERE label >= 5
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "v2_sparse_topk" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "v11_batch_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |           FROM embeddings WHERE vec_id < 4),
         |sc AS (SELECT q.qid, e.vec_id, ${sqlL2sqr("e.embedding", "q.qv")} AS d
         |       FROM embeddings e CROSS JOIN q),
         |rk AS (SELECT qid, vec_id,
         |         row_number() OVER (PARTITION BY qid ORDER BY d ASC, vec_id ASC) AS rank
         |       FROM sc)
         |SELECT qid, rank, vec_id FROM rk WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    "v5_ivf_fullprobe" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "v5_ann_ivf" -> "SELECT CAST(1.0 AS DOUBLE) AS recall_ok",
    "v13_nsg_serve" -> "SELECT CAST(1.0 AS DOUBLE) AS recall_ok",
    "v5_auto_probe" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "v9_search_by_content" ->
      s"""SELECT vec_id, label FROM embeddings
         |ORDER BY ${sqlCosDist("embedding", V9Q)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "vq_ivf_rerank" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "vq_pq_rerank" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    // certified serving: the proven id SET equals brute-force (driver
    // compare sorts rows, so serve rank order need not be asserted)
    "vq_serve_cert" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "vq_pq_serve_cert" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    // the pad rows (label -1) never pass the filter, so the oracle is the
    // plain filtered brute force over the original corpus
    "v4_serve_filtered" ->
      s"""SELECT vec_id FROM embeddings WHERE label >= 5
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    // the serve-contract matrix: code-tier certified filtered sets,
    // the passing-count recall cover, and the code-tier proven-recall
    // serves — each case is its brute-force mirror (pad rows never pass)
    "v11_serve_contract" ->
      s"""WITH fb AS (SELECT vec_id FROM embeddings WHERE label >= 5
         |            ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10),
         |     ub AS (SELECT vec_id FROM embeddings
         |            ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10),
         |     sp AS (SELECT vec_id FROM embeddings WHERE label >= 5
         |            ORDER BY -${sqlDot("embedding[1:8]", s"($QV)[1:8]")} ASC,
         |              vec_id ASC LIMIT 10),
         |     ss AS (SELECT vec_id FROM embeddings
         |            WHERE label >= 5 AND (vec_id % 7) < 3
         |            ORDER BY -${sqlDot("embedding[1:8]", s"($QV)[1:8]")} ASC,
         |              vec_id ASC LIMIT 10)
         |SELECT * FROM (
         |  SELECT 'fq_cert' AS case_id, vec_id FROM fb
         |  UNION ALL SELECT 'fpq_cert', vec_id FROM fb
         |  UNION ALL SELECT 'recall_filter', vec_id FROM fb
         |  UNION ALL SELECT 'rt_code_serve', vec_id FROM ub
         |  UNION ALL SELECT 'rt_fpq_recall', vec_id FROM fb
         |  UNION ALL SELECT 'sparse_filter', vec_id FROM sp
         |  UNION ALL SELECT 'sparse_self', vec_id FROM ss
         |  UNION ALL SELECT 'rt_sparse_dot', vec_id FROM sp)
         |ORDER BY case_id, vec_id""".stripMargin,
    // serve-path facets: group-over-topk mirrors (dense top-100; sparse
    // filtered prefix-dot top-10 — same cut the sparse_filter case pins)
    "g11_serve_facet" ->
      s"""WITH topk AS (
         |  SELECT vec_id, label FROM embeddings
         |  ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 100),
         |sptop AS (
         |  SELECT vec_id, label FROM embeddings WHERE label >= 5
         |  ORDER BY -${sqlDot("embedding[1:8]", s"($QV)[1:8]")} ASC,
         |    vec_id ASC LIMIT 10)
         |SELECT * FROM (
         |  SELECT 'dense' AS case_id, label, count(*) AS n,
         |         CAST(sum(vec_id) AS BIGINT) AS sum_id
         |  FROM topk GROUP BY label
         |  UNION ALL
         |  SELECT 'sparse', label, count(*), CAST(sum(vec_id) AS BIGINT)
         |  FROM sptop GROUP BY label)
         |ORDER BY case_id, label""".stripMargin,
    "v11_serve_filtered_batch" ->
      s"""WITH q AS (
         |  SELECT CAST(0 AS BIGINT) AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id = 0
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), embedding FROM embeddings WHERE vec_id = 1),
         |sc AS (SELECT q.qid, e.vec_id, ${sqlL2sqr("e.embedding", "q.qv")} AS d
         |       FROM embeddings e CROSS JOIN q WHERE e.label >= 5),
         |rk AS (SELECT qid, vec_id,
         |         row_number() OVER (PARTITION BY qid ORDER BY d ASC, vec_id ASC) AS rank
         |       FROM sc)
         |SELECT qid, vec_id FROM rk WHERE rank <= 10
         |ORDER BY qid, vec_id""".stripMargin,
    "v12_jl_prefilter" ->
      s"""WITH dm AS (SELECT len($QV) AS dim),
         |rj AS (SELECT r.r, j.j
         |  FROM (SELECT unnest(range(0, 16)) AS r) r,
         |       (SELECT unnest(range(0, (SELECT dim FROM dm))) AS j) j),
         |sgn AS (SELECT r, j,
         |  CASE WHEN CAST(('0x' || substr(md5('jl:' ||
         |      CAST(r * (SELECT dim FROM dm) + j AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
         |  FROM rj),
         |rv AS (SELECT e.vec_id, g.r, sum(e.embedding[g.j + 1] * g.s) AS v
         |  FROM embeddings e, sgn g GROUP BY e.vec_id, g.r),
         |qr AS (SELECT g.r, sum(qv.q[g.j + 1] * g.s) AS v
         |  FROM (SELECT $QV AS q) qv, sgn g GROUP BY g.r),
         |rd AS (SELECT rv.vec_id,
         |    round(sum((rv.v - qr.v) * (rv.v - qr.v)), 6) AS rdist
         |  FROM rv JOIN qr ON rv.r = qr.r GROUP BY rv.vec_id),
         |cand AS (SELECT vec_id FROM rd ORDER BY rdist ASC, vec_id ASC LIMIT 50),
         |topk AS (SELECT e.vec_id FROM embeddings e
         |  JOIN cand c ON e.vec_id = c.vec_id
         |  ORDER BY ${sqlL2sqr("e.embedding", QV)} ASC, e.vec_id ASC LIMIT 10)
         |SELECT vec_id FROM topk ORDER BY vec_id""".stripMargin,
    "vq_int8_topk" -> {
      val qd = s"(SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) FROM embeddings WHERE vec_id = 0)"
      s"""WITH qz AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_min(embedding) AS DOUBLE) AS mn,
         |    CAST(list_max(embedding) AS DOUBLE) AS mx
         |  FROM embeddings),
         |dq AS (
         |  SELECT vec_id,
         |    CASE WHEN mx = mn THEN list_transform(embedding, x -> mn)
         |         ELSE list_transform(embedding, x ->
         |           mn + floor((CAST(x AS DOUBLE) - mn) / (mx - mn) * 255.0 + 0.5)
         |                * (mx - mn) / 255.0) END AS v
         |  FROM qz)
         |SELECT vec_id FROM dq
         |ORDER BY list_sum(list_transform(list_zip(v, $qd),
         |  p -> (p[1] - p[2]) * (p[1] - p[2]))) ASC, vec_id ASC
         |LIMIT 10""".stripMargin
    },
    "v10_distance_filter" ->
      s"""SELECT vec_id, label FROM embeddings
         |WHERE ${sqlL2sqr("embedding", QV)} <= 1.4 AND label >= 3
         |ORDER BY vec_id""".stripMargin,
    "g7_avg_facet" ->
      s"""WITH topk AS (
         |  SELECT vec_id, label FROM embeddings
         |  ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 50)
         |SELECT label, avg(vec_id) AS avg_id, count(*) AS n, max(vec_id) AS max_id
         |FROM topk GROUP BY label ORDER BY label""".stripMargin,
    "a1_scan_page" ->
      """SELECT event_id, user_id, event_type, round(value, 2) AS value
        |FROM events WHERE event_type <> 'click'
        |ORDER BY event_id LIMIT 50 OFFSET 100""".stripMargin,
    "a2_pk_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderkey IN (1, 7, 42, 100, 999, 1500)
        |ORDER BY o_orderkey""".stripMargin,
    "g1_facet_over_topk" ->
      s"""WITH topk AS (
         |  SELECT vec_id, label FROM embeddings
         |  ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 100)
         |SELECT label, count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS sum_id
         |FROM topk GROUP BY label ORDER BY label""".stripMargin,
    "w1_window_running" ->
      """SELECT user_id, event_id, rn, running FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |    round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |  FROM events)
        |WHERE rn <= 3 ORDER BY user_id, event_id""".stripMargin,
    "q9_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |  round(stddev_pop(l_quantity), 4) AS sd_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q8_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "p11_scalar_funcs" ->
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |  count(*) AS n,
        |  round(avg(length(o_orderpriority)), 4) AS avg_prio_len,
        |  max(ascii(upper(substr(o_orderstatus, 1, 1)))) AS max_status,
        |  round(sum(sqrt(abs(o_totalprice))), 4) AS sum_sqrt_price
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,
    "a4_project_all" ->
      """SELECT vec_id, label FROM embeddings WHERE label >= 3
        |ORDER BY vec_id LIMIT 25 OFFSET 10""".stripMargin,
    "g6_global_agg" ->
      """SELECT count(*) AS n, round(sum(value), 2) AS sum_v,
        |  round(avg(value), 4) AS avg_v, round(min(value), 4) AS min_v,
        |  round(max(value), 4) AS max_v
        |FROM events WHERE event_type = 'view'""".stripMargin,
    "v7_bruteforce_small" ->
      s"""SELECT vec_id, FALSE AS used_index FROM embeddings WHERE vec_id < 400
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "r4_fresh_tail" ->
      s"""SELECT vec_id FROM embeddings
         |ORDER BY ${sqlL2sqr("embedding", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "v10_multi_field" ->
      s"""SELECT vec_id, label FROM embeddings
         |ORDER BY ${sqlL2sqr("list_reverse(embedding)", QV)} ASC, vec_id ASC LIMIT 10""".stripMargin,
    "r3_rebuild_skip" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), TRUE),
        |  (CAST(1 AS BIGINT), FALSE),
        |  (CAST(2 AS BIGINT), TRUE))
        |  t(step, rebuilt)
        |ORDER BY step""".stripMargin,
    "p11_parity_errors" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'l_orderkey BETWEEN 1 AND 10', TRUE),
        |  (CAST(1 AS BIGINT), 'EXISTS l_orderkey', TRUE),
        |  (CAST(2 AS BIGINT), 'l_orderkey = ALL 1', TRUE),
        |  (CAST(3 AS BIGINT), 'l_orderkey = ANY 1', TRUE),
        |  (CAST(4 AS BIGINT), 'l_orderkey = SOME 1', TRUE),
        |  (CAST(5 AS BIGINT), 'l_orderkey & 3 = 1', TRUE),
        |  (CAST(6 AS BIGINT), 'l_orderkey | 3 = 1', TRUE),
        |  (CAST(7 AS BIGINT), 'l_quantity IN (1, 2)', TRUE))
        |  t(case_id, filter_expr, rejected)
        |ORDER BY case_id""".stripMargin,
    "so_set_ops" ->
      """SELECT DISTINCT o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |   EXCEPT
        |   SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'))
        |ORDER BY o_custkey""".stripMargin)
}
