package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, TextAnalysis, Multimodal, Pipelines}
import graft.functions._

/** Training-data-pipeline operators for the driver gate: dedup family, text
  * analysis, kNN, event-stream analytics, multimodal plumbing. Each query
  * has a DuckDB oracle that recomputes the SAME deterministic algorithm
  * (shared md5-based hashing), so even the approximate operators (minhash
  * LSH, simhash) are value-checked, not just row-counted.
  */
object QueriesPipeline {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---------- shared oracle SQL fragments (DuckDB dialect) ----------
  // tokens of trimmed text (empty -> [])
  private val sqlToks =
    "CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END"
  // 60-bit md5 hash of a string expression
  private def sqlHash60(e: String) =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  // Corpus bigram-LM scores, the shared CTE chain of the tx_lm_score /
  // pl_lm_buckets oracles — mirrors TextAnalysis.bigramLmScore term by
  // term (capped tokens, compressed (doc,bigram,multiplicity), add-0.5
  // smoothing, m·ln p, round 4). Yields table lm(doc_id, lm_nll).
  /** Bigram add-k LM chain ending in `${p}m(doc_id, lm_nll)`, fit on
    * (and scoring) `src` — parameterized so per-language CCNet fits one
    * chain per predicted-language subset. */
  private def sqlLmNllFor(p: String, src: String): String =
    s"""${p}tok AS (SELECT doc_id, ($sqlToks)[1:512] AS toks FROM $src),
       |${p}bge AS (SELECT doc_id,
       |    unnest(CASE WHEN len(toks) >= 2
       |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |      ELSE CAST([] AS VARCHAR[]) END) AS bg
       |  FROM ${p}tok),
       |${p}dbg AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1, count(*) AS m
       |  FROM ${p}bge GROUP BY 1, 2, 3),
       |${p}bgc AS (SELECT bg, sum(m) AS c_bg FROM ${p}dbg GROUP BY bg),
       |${p}lc AS (SELECT w1, sum(m) AS c_left FROM ${p}dbg GROUP BY w1),
       |${p}v AS (SELECT count(DISTINCT w) AS v
       |  FROM (SELECT unnest(toks) AS w FROM ${p}tok) u),
       |${p}sc AS (SELECT d.doc_id,
       |    -sum(d.m * ln((c.c_bg + 0.5) / (l.c_left + 0.5 * ${p}v.v))) / sum(d.m) AS nll
       |  FROM ${p}dbg d JOIN ${p}bgc c USING (bg) JOIN ${p}lc l USING (w1) CROSS JOIN ${p}v
       |  GROUP BY d.doc_id),
       |${p}m AS (SELECT d.doc_id, round(s.nll, 4) AS lm_nll
       |  FROM $src d LEFT JOIN ${p}sc s ON d.doc_id = s.doc_id)""".stripMargin

  private val sqlLmNll = sqlLmNllFor("l", "documents")

  /** Stupid-backoff trigram chain ending in `${p}m(doc_id, lm_nll)`:
    * counts fit on `fitSrc`, every `scoreSrc` doc scored through the
    * three backoff branches (alpha = 0.4 inlined) — ONE copy of the
    * trigram mirror semantics, parameterized for the held-out
    * tx_lm_trigram split (fit < 250 / score >= 250) AND the
    * per-language gates (fit = score = a predicted-language subset). */
  private def sqlTrigramNllFor(p: String, src: String): String =
    sqlTrigramNllFor(p, src, src)

  private def sqlTrigramNllFor(p: String, fitSrc: String,
      scoreSrc: String): String =
    sqlTrigramNllFor(p, fitSrc, scoreSrc, 1)

  /** `minCount` > 1 adds the SAME HAVING floor to all three count CTEs
    * that ngramLmFit(ByClass)'s pruning applies (n, v stay the full
    * fit-corpus totals) — the pruned-model mirror. */
  private def sqlTrigramNllFor(p: String, fitSrc: String,
      scoreSrc: String, minCount: Int): String =
    s"""${p}ftok AS (SELECT doc_id, ($sqlToks)[1:512] AS toks FROM $fitSrc),
       |${p}tre AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
       |      THEN list_transform(range(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |      ELSE CAST([] AS VARCHAR[]) END) AS tg
       |  FROM ${p}ftok),
       |${p}c3 AS (SELECT tg, count(*) AS c3 FROM ${p}tre GROUP BY tg
       |  HAVING count(*) >= $minCount),
       |${p}bge AS (SELECT unnest(CASE WHEN len(toks) >= 2
       |      THEN list_transform(range(1, len(toks)),
       |        i -> toks[i] || ' ' || toks[i+1])
       |      ELSE CAST([] AS VARCHAR[]) END) AS bg
       |  FROM ${p}ftok),
       |${p}c2 AS (SELECT bg, count(*) AS c2 FROM ${p}bge GROUP BY bg
       |  HAVING count(*) >= $minCount),
       |${p}une AS (SELECT unnest(toks) AS w FROM ${p}ftok),
       |${p}c1 AS (SELECT w, count(*) AS c1 FROM ${p}une GROUP BY w
       |  HAVING count(*) >= $minCount),
       |${p}nv AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM ${p}une),
       |${p}stok AS (SELECT doc_id, ($sqlToks)[1:512] AS toks FROM $scoreSrc),
       |${p}ste AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
       |      THEN list_transform(range(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |      ELSE CAST([] AS VARCHAR[]) END) AS tg
       |  FROM ${p}stok),
       |${p}dtg AS (SELECT doc_id, tg, count(*) AS m FROM ${p}ste GROUP BY 1, 2),
       |${p}sp AS (SELECT doc_id, tg, m, string_split(tg, ' ') AS ws FROM ${p}dtg),
       |${p}sc AS (SELECT a.doc_id, a.m,
       |    CASE WHEN c3.c3 IS NOT NULL THEN CAST(c3.c3 AS DOUBLE) / b12.c2
       |         WHEN b23.c2 IS NOT NULL THEN 0.4 * CAST(b23.c2 AS DOUBLE) / u2.c1
       |         ELSE 0.4 * 0.4 * (coalesce(u3.c1, 0) + 1.0) / (nv.n + nv.v)
       |    END AS s
       |  FROM ${p}sp a LEFT JOIN ${p}c3 c3 ON a.tg = c3.tg
       |    LEFT JOIN ${p}c2 b12 ON a.ws[1] || ' ' || a.ws[2] = b12.bg
       |    LEFT JOIN ${p}c2 b23 ON a.ws[2] || ' ' || a.ws[3] = b23.bg
       |    LEFT JOIN ${p}c1 u2 ON a.ws[2] = u2.w
       |    LEFT JOIN ${p}c1 u3 ON a.ws[3] = u3.w
       |    CROSS JOIN ${p}nv nv),
       |${p}lp AS (SELECT doc_id, -sum(m * ln(s)) / sum(m) AS nll
       |  FROM ${p}sc GROUP BY doc_id),
       |${p}m AS (SELECT d.doc_id, round(l.nll, 4) AS lm_nll
       |  FROM $scoreSrc d LEFT JOIN ${p}lp l ON d.doc_id = l.doc_id)""".stripMargin

  /** GENERIC order-n stupid-backoff chain ending in
    * `${p}m(doc_id, lm_nll)` — the mirror of
    * ngramLmFitByClass/ngramLmApplyJoined on one fit/score subset:
    * count CTEs per order (with the minCount HAVING floor), (N, V) from
    * the unpruned unigram enumeration, then the n-branch backoff CASE
    * (suffix_k seen -> c_k/c_{k-1}(prefix); else alpha * next). The
    * trigram mirror above stays as the independently-written r12
    * formulation; this one is generated per order. */
  private def sqlNgramNllFor(p: String, fitSrc: String, scoreSrc: String,
      order: Int, minCount: Int): String = {
    val n = order
    def gramList(k: Int): String =
      if (k == 1) "toks"
      else s"""CASE WHEN len(toks) >= $k THEN list_transform(range(1, len(toks) - ${k - 2}),
         |      i -> ${(0 until k).map(o => s"toks[i+$o]").mkString(" || ' ' || ")})
         |    ELSE CAST([] AS VARCHAR[]) END""".stripMargin
    val countCtes = (1 to n).map { k =>
      s"""${p}g$k AS (SELECT gram, count(*) AS c FROM (
         |  SELECT unnest(${gramList(k)}) AS gram FROM ${p}ftok) x
         |  GROUP BY gram HAVING count(*) >= $minCount)""".stripMargin
    }.mkString(",\n")
    // suffix_k = ws[n-k+1 : n]; its denominator (the k-1 prefix) =
    // ws[n-k+1 : n-1] — the same slice minus the last token
    def sufExpr(k: Int): String =
      if (k == 1) s"a.ws[$n]" else s"array_to_string(a.ws[${n - k + 1}:$n], ' ')"
    def denExpr(k: Int): String =
      if (k == 1) s"a.ws[${n - 1}]"
      else s"array_to_string(a.ws[${n - k}:${n - 1}], ' ')"
    val joins =
      ((n to 2 by -1).flatMap { k =>
        Seq(s"LEFT JOIN ${p}g$k s$k ON ${sufExpr(k)} = s$k.gram",
          s"LEFT JOIN ${p}g${k - 1} d${k - 1} ON ${denExpr(k - 1)} = d${k - 1}.gram")
      } :+ s"LEFT JOIN ${p}g1 s1 ON ${sufExpr(1)} = s1.gram")
        .mkString("\n    ")
    def aPow(e: Int): String = Seq.fill(e)("0.4").mkString(" * ")
    val branches = (n to 2 by -1).map { k =>
      val pre = if (k == n) "" else aPow(n - k) + " * "
      s"WHEN s$k.c IS NOT NULL THEN ${pre}CAST(s$k.c AS DOUBLE) / d${k - 1}.c"
    }.mkString("\n         ")
    s"""${p}ftok AS (SELECT doc_id, ($sqlToks)[1:512] AS toks FROM $fitSrc),
       |$countCtes,
       |${p}une AS (SELECT unnest(toks) AS w FROM ${p}ftok),
       |${p}nv AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM ${p}une),
       |${p}stok AS (SELECT doc_id, ($sqlToks)[1:512] AS toks FROM $scoreSrc),
       |${p}ste AS (SELECT doc_id, unnest(${gramList(n)}) AS tg FROM ${p}stok),
       |${p}dtg AS (SELECT doc_id, tg, count(*) AS m FROM ${p}ste GROUP BY 1, 2),
       |${p}sp AS (SELECT doc_id, tg, m, string_split(tg, ' ') AS ws FROM ${p}dtg),
       |${p}sc AS (SELECT a.doc_id, a.m,
       |    CASE $branches
       |         ELSE ${aPow(n - 1)} * (coalesce(s1.c, 0) + 1.0) / (nv.n + nv.v)
       |    END AS s
       |  FROM ${p}sp a
       |    $joins
       |    CROSS JOIN ${p}nv nv),
       |${p}lp AS (SELECT doc_id, -sum(m * ln(s)) / sum(m) AS nll
       |  FROM ${p}sc GROUP BY doc_id),
       |${p}m AS (SELECT d.doc_id, round(l.nll, 4) + 0.0 AS lm_nll
       |  FROM $scoreSrc d LEFT JOIN ${p}lp l ON d.doc_id = l.doc_id)""".stripMargin
    // (+ 0.0 normalizes IEEE -0.0: an all-seen doc with equal
    // numerator/denominator counts scores ln(1)=0 per gram, and DuckDB's
    // round keeps the negated sum's -0.0 where Spark's BigDecimal round
    // does not; NULL + 0.0 stays NULL)
  }

  /** LangID + per-predicted-language order-n chains ending in
    * `allq(pred_class, doc_id, lm_nll)` — the mirror of the
    * tx_lm_5gram_perlang gate. */
  private def sqlNgramPerlangChain(order: Int, minCount: Int): String =
    s"""$sqlLangIdChain,
       |pred AS (SELECT doc_id, c AS pred_class FROM lr WHERE rn = 1),
       |src_de AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'de'),
       |${sqlNgramNllFor("qde", "src_de", "src_de", order, minCount)},
       |src_en AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'en'),
       |${sqlNgramNllFor("qen", "src_en", "src_en", order, minCount)},
       |src_fr AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'fr'),
       |${sqlNgramNllFor("qfr", "src_fr", "src_fr", order, minCount)},
       |allq AS (SELECT 'de' AS pred_class, doc_id, lm_nll FROM qdem UNION ALL SELECT 'en' AS pred_class, doc_id, lm_nll FROM qenm UNION ALL SELECT 'fr' AS pred_class, doc_id, lm_nll FROM qfrm)""".stripMargin

  /** GENERIC interpolated modified-Kneser-Ney order-n chain ending in
    * `${p}m(doc_id, lm_nll)` — the mirror of
    * knLmFitByClass/knLmApplyJoined on one fit/score subset. Same
    * statistic definitions, generated per order: raw k-gram type
    * tables, adjusted (continuation) counts, Chen-Goodman discounts
    * from count-of-counts (guarded + clamped exactly as the engine),
    * prefix-history stats, class scalars; the probability recursion is
    * a CTE chain (pp1..ppn) so the nested backoff never duplicates
    * subexpressions. `minCount` prunes the numerator joins only —
    * every statistic CTE reads the unpruned adjusted tables, the
    * engine's pruning recipe. */
  private def sqlKnNllFor(p: String, fitSrc: String, scoreSrc: String,
      order: Int, minCount: Int): String = {
    val n = order
    def gramList(k: Int): String =
      if (k == 1) "toks"
      else s"""CASE WHEN len(toks) >= $k THEN list_transform(range(1, len(toks) - ${k - 2}),
         |      i -> ${(0 until k).map(o => s"toks[i+$o]").mkString(" || ' ' || ")})
         |    ELSE CAST([] AS VARCHAR[]) END""".stripMargin
    val rawCtes = (2 to n).map { k =>
      s"""${p}r$k AS (SELECT gram, count(*) AS c FROM (
         |  SELECT unnest(${gramList(k)}) AS gram FROM ${p}ftok) x
         |  GROUP BY gram)""".stripMargin
    }.mkString(",\n")
    // adjusted counts: raw at order n; CONTINUATION below — rows of the
    // (k+1)-type table grouped by its k-suffix (each type has a distinct
    // first word given the suffix, so count(*) is the predecessor count)
    val adjCtes = ((1 until n).map { k =>
      s"""${p}a$k AS (SELECT array_to_string(string_split(gram, ' ')[2:${k + 1}], ' ') AS gram,
         |  count(*) AS a FROM ${p}r${k + 1} GROUP BY 1)""".stripMargin
    } :+ s"${p}a$n AS (SELECT gram, c AS a FROM ${p}r$n)").mkString(",\n")
    val discCtes = (1 to n).map { k =>
      s"""${p}d$k AS (SELECT
         |    greatest(0.0, least(1.0, CASE WHEN n1 > 0 THEN 1.0 - 2.0 * y * n2 / n1 ELSE 0.5 END)) AS d1,
         |    greatest(0.0, least(2.0, CASE WHEN n2 > 0 THEN 2.0 - 3.0 * y * n3 / n2 ELSE 1.0 END)) AS d2,
         |    greatest(0.0, least(3.0, CASE WHEN n3 > 0 THEN 3.0 - 4.0 * y * n4 / n3 ELSE 1.5 END)) AS d3
         |  FROM (SELECT n1, n2, n3, n4,
         |      CASE WHEN n1 + 2*n2 > 0 THEN CAST(n1 AS DOUBLE) / (n1 + 2*n2) ELSE 0.5 END AS y
         |    FROM (SELECT
         |        sum(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS n1,
         |        sum(CASE WHEN a = 2 THEN 1 ELSE 0 END) AS n2,
         |        sum(CASE WHEN a = 3 THEN 1 ELSE 0 END) AS n3,
         |        sum(CASE WHEN a = 4 THEN 1 ELSE 0 END) AS n4 FROM ${p}a$k) cc) y)""".stripMargin
    }.mkString(",\n")
    val psCtes = (2 to n).map { k =>
      s"""${p}ps$k AS (SELECT array_to_string(string_split(gram, ' ')[1:${k - 1}], ' ') AS hist,
         |    sum(a) AS s,
         |    sum(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS h1,
         |    sum(CASE WHEN a = 2 THEN 1 ELSE 0 END) AS h2,
         |    sum(CASE WHEN a >= 3 THEN 1 ELSE 0 END) AS h3p
         |  FROM ${p}a$k GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    def sufExpr(k: Int): String =
      if (k == 1) s"a.ws[$n]" else s"array_to_string(a.ws[${n - k + 1}:$n], ' ')"
    def denExpr(k: Int): String =
      if (k == 1) s"a.ws[${n - 1}]"
      else s"array_to_string(a.ws[${n - k}:${n - 1}], ' ')"
    def numSrc(k: Int): String =
      if (minCount == 1) s"${p}a$k"
      else s"(SELECT * FROM ${p}a$k WHERE a >= $minCount)"
    val joinCols =
      (1 to n).map(k => s"s$k.a AS a_$k") ++
      (2 to n).flatMap(k => Seq(s"px$k.s AS s_$k", s"px$k.h1 AS h1_$k",
        s"px$k.h2 AS h2_$k", s"px$k.h3p AS h3p_$k")) ++
      Seq("cs.s1 AS s1", "cs.u1 AS u1", "cs.u2 AS u2", "cs.u3p AS u3p",
        "cs.v AS v") ++
      (1 to n).flatMap(k => Seq(s"dd$k.d1 AS d1_$k", s"dd$k.d2 AS d2_$k",
        s"dd$k.d3 AS d3_$k"))
    val joins =
      ((n to 2 by -1).flatMap { k =>
        Seq(s"LEFT JOIN ${numSrc(k)} s$k ON ${sufExpr(k)} = s$k.gram",
          s"LEFT JOIN ${p}ps$k px$k ON ${denExpr(k - 1)} = px$k.hist")
      } ++ Seq(s"LEFT JOIN ${numSrc(1)} s1 ON ${sufExpr(1)} = s1.gram",
        s"CROSS JOIN ${p}cs cs") ++
        (1 to n).map(k => s"CROSS JOIN ${p}d$k dd$k"))
        .mkString("\n    ")
    def dsel(a: String, k: Int): String =
      s"CASE WHEN $a >= 3 THEN d3_$k WHEN $a = 2 THEN d2_$k WHEN $a = 1 THEN d1_$k ELSE 0.0 END"
    val pCtes = (1 to n).map { k =>
      if (k == 1)
        s"""${p}q1 AS (SELECT *,
           |    greatest(CAST(av1 AS DOUBLE) - ${dsel("av1", 1)}, 0.0) / s1
           |    + ((d1_1 * u1 + d2_1 * u2 + d3_1 * u3p) / s1) / v AS pp1
           |  FROM (SELECT *, coalesce(a_1, 0) AS av1 FROM ${p}j) x)""".stripMargin
      else
        s"""${p}q$k AS (SELECT *, CASE WHEN s_$k IS NOT NULL THEN
           |    greatest(CAST(av$k AS DOUBLE) - ${dsel(s"av$k", k)}, 0.0) / s_$k
           |    + ((d1_$k * h1_$k + d2_$k * h2_$k + d3_$k * h3p_$k) / s_$k) * pp${k - 1}
           |  ELSE pp${k - 1} END AS pp$k
           |  FROM (SELECT *, coalesce(a_$k, 0) AS av$k FROM ${p}q${k - 1}) x)""".stripMargin
    }.mkString(",\n")
    s"""${p}ftok AS (SELECT doc_id, ($sqlToks)[1:512] AS toks FROM $fitSrc),
       |$rawCtes,
       |$adjCtes,
       |$discCtes,
       |$psCtes,
       |${p}cs AS (SELECT sum(a) AS s1,
       |    sum(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS u1,
       |    sum(CASE WHEN a = 2 THEN 1 ELSE 0 END) AS u2,
       |    sum(CASE WHEN a >= 3 THEN 1 ELSE 0 END) AS u3p,
       |    count(*) AS v FROM ${p}a1),
       |${p}stok AS (SELECT doc_id, ($sqlToks)[1:512] AS toks FROM $scoreSrc),
       |${p}ste AS (SELECT doc_id, unnest(${gramList(n)}) AS tg FROM ${p}stok),
       |${p}dtg AS (SELECT doc_id, tg, count(*) AS m FROM ${p}ste GROUP BY 1, 2),
       |${p}sp AS (SELECT doc_id, tg, m, string_split(tg, ' ') AS ws FROM ${p}dtg),
       |${p}j AS (SELECT a.doc_id, a.m,
       |    ${joinCols.mkString(",\n    ")}
       |  FROM ${p}sp a
       |    $joins),
       |$pCtes,
       |${p}lp AS (SELECT doc_id, -sum(m * ln(greatest(pp$n, 1e-10))) / sum(m) AS nll
       |  FROM ${p}q$n GROUP BY doc_id),
       |${p}m AS (SELECT d.doc_id, round(l.nll, 4) + 0.0 AS lm_nll
       |  FROM $scoreSrc d LEFT JOIN ${p}lp l ON d.doc_id = l.doc_id)""".stripMargin
  }

  /** LangID + per-predicted-language modified-KN chains ending in
    * `allk(pred_class, doc_id, lm_nll)` — the mirror of the
    * tx_lm_kn5_perlang gate. */
  private def sqlKnPerlangChain(order: Int, minCount: Int): String =
    s"""$sqlLangIdChain,
       |pred AS (SELECT doc_id, c AS pred_class FROM lr WHERE rn = 1),
       |src_de AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'de'),
       |${sqlKnNllFor("kde", "src_de", "src_de", order, minCount)},
       |src_en AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'en'),
       |${sqlKnNllFor("ken", "src_en", "src_en", order, minCount)},
       |src_fr AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'fr'),
       |${sqlKnNllFor("kfr", "src_fr", "src_fr", order, minCount)},
       |allk AS (SELECT 'de' AS pred_class, doc_id, lm_nll FROM kdem UNION ALL SELECT 'en' AS pred_class, doc_id, lm_nll FROM kenm UNION ALL SELECT 'fr' AS pred_class, doc_id, lm_nll FROM kfrm)""".stripMargin

  /** LangID + per-predicted-language trigram chains ending in
    * `allg(pred_class, doc_id, lm_nll)` — shared verbatim by
    * tx_lm_trigram_perlang (scores) and pl_ccnet_trigram (the composed
    * tercile/mix tail): one copy of the per-language wiring. */
  private def sqlTrigramPerlangChain: String = sqlTrigramPerlangChain(1)

  private def sqlTrigramPerlangChain(minCount: Int): String =
    s"""$sqlLangIdChain,
       |pred AS (SELECT doc_id, c AS pred_class FROM lr WHERE rn = 1),
       |src_de AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'de'),
       |${sqlTrigramNllFor("gde", "src_de", "src_de", minCount)},
       |src_en AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'en'),
       |${sqlTrigramNllFor("gen", "src_en", "src_en", minCount)},
       |src_fr AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'fr'),
       |${sqlTrigramNllFor("gfr", "src_fr", "src_fr", minCount)},
       |allg AS (SELECT 'de' AS pred_class, doc_id, lm_nll FROM gdem UNION ALL SELECT 'en' AS pred_class, doc_id, lm_nll FROM genm UNION ALL SELECT 'fr' AS pred_class, doc_id, lm_nll FROM gfrm)""".stripMargin

  // the fixed keyword query shared by the BM25 / hybrid-fusion gates
  private[graft] val Bm25Terms = Seq("vector", "join", "spark")

  // the fixed keyword-query BATCH shared by the batch-BM25 gate: overlapping
  // term sets so the fan-out join genuinely shares per-(doc, term) impacts
  private[graft] val Bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Bm25Terms,
    1L -> Seq("hash", "merge", "join"),
    2L -> Seq("stream", "window", "spark"))

  /** BM25 oracle CTE block ending in `bm25(doc_id, score)` — arithmetic
    * op order mirrors Bm25.impactCol exactly (IEEE doubles are
    * deterministic given identical inputs and op order; only ln() is
    * libm-dependent, absorbed by the 4-decimal round). */
  private def sqlBm25Ctes: String = sqlBm25CtesFor(Bm25Terms)

  private def sqlBm25CtesFor(terms: Seq[String],
      src: String = "documents"): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""btok AS (SELECT doc_id, $sqlToks toks FROM $src),
       |bdl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) dl FROM btok),
       |bstats AS (SELECT CAST(count(*) AS DOUBLE) n_docs,
       |                  avg(CAST(len(toks) AS DOUBLE)) avgdl FROM btok),
       |bex AS (SELECT doc_id, unnest(toks) term FROM btok),
       |btf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) tf FROM bex
       |        WHERE term IN ($inList) GROUP BY doc_id, term),
       |bdf AS (SELECT term, CAST(count(*) AS DOUBLE) df FROM btf GROUP BY term),
       |bscored AS (
       |  SELECT btf.doc_id, btf.term,
       |    ln(1.0 + (s.n_docs - bdf.df + 0.5) / (bdf.df + 0.5)) *
       |      (btf.tf * (1.2 + 1.0)) /
       |      (btf.tf + 1.2 * (1.0 - 0.75 + 0.75 * bdl.dl / s.avgdl)) AS impact
       |  FROM btf JOIN bdf USING (term) JOIN bdl USING (doc_id), bstats s),
       |bm25 AS (SELECT doc_id, round(sum(impact), 4) AS score
       |         FROM bscored GROUP BY doc_id)""".stripMargin
  }
  private val P = 2147483647L

  // per-token 31-bit hashes, then polynomial 3-gram shingle combine —
  // mirrors TextAnalysis.tokenHashesMod / shingleHashesFromTokenHashes
  private def sqlTokenHashes =
    s"list_transform(toks, t -> ${sqlHash60("t")} % $P)"
  private val sqlShingleHashes =
    s"""CASE WHEN len(th) = 0 THEN CAST([] AS BIGINT[])
       |  WHEN len(th) = 1 THEN [th[1]]
       |  WHEN len(th) = 2 THEN [(th[1]*1000003 + th[2]*2000003) % $P]
       |  ELSE list_transform(range(len(th) - 2),
       |         i -> (th[i+1]*1000003 + th[i+2]*2000003 + th[i+3]*3000017) % $P) END""".stripMargin

  /** Fixed tokenizer vocabulary for the BPE gates — the stand-in for a
    * vocab-file input (TextAnalysis.loadBpeVocab reads real ones), shared
    * verbatim with the DuckDB oracle below. */
  private[graft] val BpeVocab: Seq[String] = Seq(
    "the", "ing", "ion", "ent", "tion", "and", "er", "in", "on", "at",
    "en", "re", "an", "or", "es", "ed", "te", "ti", "st", "ar", "nd",
    "al", "le", "is", "it", "of", "to", "as", "ou", "ll", "se", "ve",
    "ro", "ly", "ta", "ne", "co", "de", "ra", "row", "scan", "sort",
    "data", "tab", "key", "val", "qu")

  /** Fixed classifier weights for the quality-model gate — the stand-in
    * for a trained fastText-style model file
    * (TextAnalysis.loadLinearWeights reads real ones), shared verbatim
    * with the DuckDB oracle. Mixed signs on the corpus vocabulary. */
  private[graft] val QualityWeights: Map[String, Double] = Map(
    "the" -> 0.8, "data" -> 0.5, "query" -> 0.4, "table" -> 0.3,
    "join" -> 0.25, "order" -> 0.2, "group" -> 0.15, "column" -> 0.1,
    "slow" -> -0.6, "dup" -> -0.9, "big" -> -0.2, "hash" -> -0.05,
    "spark" -> 0.35, "stream" -> 0.3, "vector" -> 0.45)

  private def sqlQualityWeights: String =
    QualityWeights.toSeq.sorted
      .map { case (t, w) => s"('$t', $w)" }.mkString(",")

  /** Fixed multi-class classifier model for the language-ID gate — the
    * stand-in for a trained fastText-style language-ID model file
    * (TextAnalysis.loadLinearClassWeights reads real ones), shared
    * verbatim with the DuckDB oracle. Classes sorted asc so the argmax
    * tie-break (first class wins) is canonical. */
  private[graft] val LangIdClasses: Seq[String] = Seq("de", "en", "fr")
  private[graft] val LangIdBiases: Seq[Double] = Seq(0.02, 0.01, 0.03)
  private[graft] val LangIdWeights: Map[String, Seq[Double]] = Map(
    "the" -> Seq(-0.3, 0.9, -0.2), "data" -> Seq(0.2, 0.5, 0.1),
    "window" -> Seq(0.7, 0.1, -0.4), "group" -> Seq(0.4, 0.2, 0.6),
    "join" -> Seq(-0.5, 0.3, 0.8), "table" -> Seq(0.1, 0.4, 0.5),
    "scan" -> Seq(0.6, -0.2, 0.2), "query" -> Seq(0.3, 0.6, -0.1),
    "fast" -> Seq(-0.2, 0.2, 0.4), "slow" -> Seq(0.5, -0.3, 0.1),
    "value" -> Seq(0.2, 0.1, 0.3), "hash" -> Seq(0.8, -0.1, -0.6))

  /** BPE TRAINING mirror: Sennrich's loop unrolled to `rounds` SQL
    * stages (DuckDB recursion disallows aggregates over the recursive
    * reference, so each round is its own CTE chain over the tiny
    * distinct-word table). Per round: overlap-counting pair counts via a
    * positional lateral unnest, argmax with the (count desc, left, right)
    * tie-break, greedy-leftmost kept matches (alternating rows inside
    * each run of CONSECUTIVE match positions — the row_number-difference
    * run grouping), and the list rebuild that emits the merged symbol at
    * kept positions and drops the consumed right symbol. State CTEs are
    * AS MATERIALIZED: DuckDB inlines plain CTEs, and each stage
    * references its predecessor ~4 times — unmaterialized, the
    * expansion is 4^rounds parquet scans. */
  private def sqlBpeFit(rounds: Int): String =
    s"""WITH ${sqlBpeFitChain(rounds)}
       |SELECT * FROM (${(0 until rounds).map { k =>
            s"SELECT ${k + 1} AS rank, l AS lft, r AS rgt, l || r AS merged, " +
              s"CAST(c AS BIGINT) AS pair_count FROM b$k"
          }.mkString(" UNION ALL ")}) ORDER BY rank""".stripMargin

  /** The shared fit-chain CTE block of [[sqlBpeFit]] /
    * `tx_bpe_apply_merges`: word counts, char-split w0, and `rounds`
    * unrolled merge stages ending in w`rounds` (each word's segmentation
    * after ALL merges — which IS the merge-order apply result for the
    * training corpus). */
  private def sqlBpeFitChain(rounds: Int): String = {
    val stages = (0 until rounds).map { k =>
      s"""p$k AS MATERIALIZED (SELECT t.toks[u.i] AS l, t.toks[u.i+1] AS r, sum(t.cnt) AS c
         |  FROM w$k t, unnest(range(1, len(t.toks))) u(i) GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |mt$k AS (SELECT t.w, u.i
         |  FROM w$k t, unnest(range(1, len(t.toks))) u(i), b$k b
         |  WHERE t.toks[u.i] = b.l AND t.toks[u.i+1] = b.r),
         |kp$k AS MATERIALIZED (SELECT w, i FROM (
         |    SELECT w, i, row_number() OVER (PARTITION BY w, i - rn ORDER BY i) AS rn2
         |    FROM (SELECT w, i, row_number() OVER (PARTITION BY w ORDER BY i) AS rn
         |          FROM mt$k)) WHERE rn2 % 2 = 1),
         |ex$k AS (SELECT t.w, t.cnt, u.i AS p, t.toks[u.i] AS tok
         |  FROM w$k t, unnest(range(1, len(t.toks)+1)) u(i)),
         |w${k + 1} AS MATERIALIZED (SELECT e.w, any_value(e.cnt) AS cnt,
         |    list(CASE WHEN m.i IS NOT NULL THEN (SELECT l || r FROM b$k)
         |         ELSE e.tok END ORDER BY e.p) AS toks
         |  FROM ex$k e
         |  LEFT JOIN kp$k m  ON e.w = m.w  AND e.p = m.i
         |  LEFT JOIN kp$k m2 ON e.w = m2.w AND e.p = m2.i + 1
         |  WHERE m2.i IS NULL GROUP BY e.w)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (SELECT doc_id, $sqlToks toks FROM documents),
       |wc AS (SELECT w, count(*) AS cnt
       |  FROM (SELECT unnest(toks) w FROM tok) GROUP BY w),
       |w0 AS MATERIALIZED (SELECT w, cnt,
       |  list_transform(range(1, length(w)+1), i -> w[i]) AS toks FROM wc),
       |$stages""".stripMargin
  }

  /** Logistic-regression TRAINING mirror: [[TextAnalysis.linearFit]]'s
    * full-batch GD unrolled to `iters` SQL stages (same reason as
    * [[sqlBpeFit]]). Every cross-doc accumulation is integer (micro-unit
    * weights, 1e-9-quantized per-doc gradient factors), so the unrolled
    * chain is bit-deterministic; the only floats are per-doc sigmoids
    * and the bias chain, with round-half-away-from-zero on both engines.
    * Label: lang = 'en'. */
  private def sqlLinearFit(iters: Int, lr: Double, ngrams: Int = 1,
      buckets: Int = 0): String = {
    // fastText wordNgrams: features = unigrams (++ space-joined bigrams,
    // optionally hashed into `buckets` bucket tokens)
    val bg =
      if (buckets == 0) "toks[i] || ' ' || toks[i+1]"
      else s"'#' || CAST(${sqlHash60("toks[i] || ' ' || toks[i+1]")} % $buckets AS VARCHAR)"
    val feat = if (ngrams == 1) "toks" else
      s"""toks || CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)), i -> $bg)
         |    ELSE CAST([] AS VARCHAR[]) END""".stripMargin
    val stages = (0 until iters).map { k =>
      s"""s$k AS (SELECT c.doc_id, sum(w.wm * c.c) AS sm
         |  FROM cnt c JOIN w$k w ON c.t = w.tok GROUP BY 1),
         |z$k AS (SELECT d.doc_id, d.y, d.n,
         |    (SELECT b FROM b$k) + CASE WHEN d.n > 0
         |      THEN (CAST(coalesce(s.sm, 0) AS DOUBLE) / 1e6) / d.n
         |      ELSE 0.0 END AS z
         |  FROM d LEFT JOIN s$k s USING (doc_id)),
         |f$k AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN n > 0 THEN CAST(round((1.0/(1.0+exp(-z)) - y)/n*1e9) AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS fq,
         |    CAST(round((1.0/(1.0+exp(-z)) - y)*1e9) AS BIGINT) AS fb
         |  FROM z$k),
         |g$k AS (SELECT c.t AS tok, sum(f.fq * c.c) AS g
         |  FROM cnt c JOIN f$k f USING (doc_id) GROUP BY 1),
         |w${k + 1} AS MATERIALIZED (SELECT w.tok,
         |    w.wm - CAST(round($lr * coalesce(g.g, 0) /
         |      ((SELECT nn FROM nd) * 1e3)) AS BIGINT) AS wm
         |  FROM w$k w LEFT JOIN g$k g USING (tok)),
         |b${k + 1} AS (SELECT (SELECT b FROM b$k) -
         |    $lr * (SELECT sum(fb) FROM f$k) /
         |    ((SELECT nn FROM nd) * 1e9) AS b)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok0 AS (SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    $sqlToks toks FROM documents),
       |tok AS (SELECT doc_id, y, $feat AS toks FROM tok0),
       |d AS MATERIALIZED (SELECT doc_id, y, len(toks) AS n FROM tok),
       |cnt AS MATERIALIZED (SELECT doc_id, t, count(*) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS t FROM tok) GROUP BY 1, 2),
       |nd AS (SELECT count(*) AS nn FROM d),
       |w0 AS MATERIALIZED (SELECT DISTINCT t AS tok, CAST(0 AS BIGINT) AS wm FROM cnt),
       |b0 AS (SELECT 0.0 AS b),
       |$stages
       |SELECT tok, wm AS w_micro FROM w$iters
       |UNION ALL SELECT '__bias__' AS tok,
       |  CAST(round((SELECT b FROM b$iters) * 1e6) AS BIGINT) AS w_micro
       |ORDER BY tok""".stripMargin
  }

  /** DSIR oracle chain (Xie et al. 2023 recomputed in SQL — an
    * independent formulation: explode + model join + group-by, where the
    * engine is a map-only hash-kernel sum): hashed unigram+bigram bucket
    * counts of target (lang = 'en') vs raw (all docs) in one conditional
    * aggregate, add-1 log-ratios micro-quantized to BIGINT over the FULL
    * B-bucket domain (range join keeps unseen buckets), per-doc integer
    * sums. Yields ds(doc_id, dsir_logw_micro). */
  private def sqlDsirChain(buckets: Int): String = {
    val ug = s"${sqlHash60("t")} % $buckets"
    val bg = s"${sqlHash60("toks[i] || ' ' || toks[i+1]")} % $buckets"
    s"""dtok AS (SELECT doc_id, lang, $sqlToks toks FROM documents),
       |dfeat AS (SELECT doc_id, lang,
       |    list_transform(toks, t -> $ug) ||
       |    CASE WHEN len(toks) >= 2
       |      THEN list_transform(range(1, len(toks)), i -> $bg)
       |      ELSE CAST([] AS BIGINT[]) END AS bs
       |  FROM dtok),
       |dex AS MATERIALIZED (SELECT doc_id, lang, unnest(bs) AS b FROM dfeat),
       |dcnt AS (SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
       |    count(*) AS cr FROM dex GROUP BY 1),
       |dtotal AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM dcnt),
       |dmodel AS MATERIALIZED (SELECT r.range AS b,
       |    CAST(round((ln(coalesce(c.ct, 0) + 1.0)
       |      - ln((SELECT tt FROM dtotal) + 1.0 * $buckets)
       |      - ln(coalesce(c.cr, 0) + 1.0)
       |      + ln((SELECT tr FROM dtotal) + 1.0 * $buckets)) * 1e6) AS BIGINT) AS lrm
       |  FROM range($buckets) r LEFT JOIN dcnt c ON r.range = c.b),
       |dsum AS (SELECT e.doc_id, sum(m.lrm) AS micro
       |  FROM dex e JOIN dmodel m ON e.b = m.b GROUP BY 1),
       |ds AS (SELECT k.doc_id, CAST(coalesce(s.micro, 0) AS BIGINT) AS dsir_logw_micro
       |  FROM dtok k LEFT JOIN dsum s USING (doc_id))""".stripMargin
  }

  /** Contamination mirror — shared by the broadcast-exact operator
    * (dd_contamination) and the bloom pre-filter twin
    * (dd_contamination_bloom), which is exact by construction. */
  private def sqlContamination: String =
    s"""WITH tok AS (SELECT doc_id, $sqlToks toks FROM documents),
       |tkh AS (SELECT doc_id, $sqlTokenHashes th FROM tok),
       |h AS (SELECT doc_id, list_distinct($sqlShingleHashes) hs FROM tkh),
       |bench AS (SELECT DISTINCT x.h FROM (
       |  SELECT unnest(hs) AS h FROM h WHERE doc_id < 20) x),
       |cand AS (SELECT doc_id, len(hs) AS n_shingles, unnest(hs) AS h
       |  FROM h WHERE doc_id >= 20)
       |SELECT c.doc_id, c.n_shingles, CAST(count(*) AS BIGINT) AS n_shared,
       |  round(CAST(count(*) AS DOUBLE) / c.n_shingles, 6) AS overlap
       |FROM cand c JOIN bench b ON c.h = b.h
       |GROUP BY c.doc_id, c.n_shingles ORDER BY c.doc_id""".stripMargin

  // (token, class, weight) triples for the oracle's literal model table
  private def sqlLangIdWeights: String =
    LangIdWeights.toSeq.sortBy(_._1).flatMap { case (t, ws) =>
      LangIdClasses.zip(ws).map { case (c, w) => s"('$t', '$c', $w)" }
    }.mkString(",")

  private def sqlLangIdClasses: String =
    LangIdClasses.zip(LangIdBiases)
      .map { case (c, b) => s"('$c', $b)" }.mkString(",")

  /** LangID-apply oracle chain ending in `lr(doc_id, c, zz, rn)` — the
    * per-class scores ranked per doc (rn = 1 is the argmax row with the
    * first-class tie-break). Shared by tx_langid_model / st_langid_stream
    * / pl_ccnet; names prefixed `l?` to compose with other chains. */
  private def sqlLangIdChain: String =
    s"""lw(tok, c, wt) AS (SELECT * FROM (VALUES $sqlLangIdWeights) v(tok, c, wt)),
       |lcls(c, bias) AS (SELECT * FROM (VALUES $sqlLangIdClasses) v(c, bias)),
       |litok AS (SELECT doc_id, $sqlToks toks FROM documents),
       |liex AS (SELECT doc_id, unnest(toks) t FROM litok),
       |lism AS (SELECT liex.doc_id, lw.c,
       |    sum(CAST(round(lw.wt * 1e6) AS BIGINT)) AS micro
       |  FROM liex JOIN lw ON liex.t = lw.tok GROUP BY liex.doc_id, lw.c),
       |libase AS (SELECT t.doc_id, len(t.toks) n, lcls.c, lcls.bias
       |  FROM litok t CROSS JOIN lcls),
       |liz AS (SELECT b.doc_id, b.c,
       |    b.bias + CASE WHEN b.n > 0
       |      THEN (CAST(coalesce(s.micro, 0) AS DOUBLE) / 1e6) / b.n
       |      ELSE 0.0 END AS zz
       |  FROM libase b LEFT JOIN lism s ON b.doc_id = s.doc_id AND b.c = s.c),
       |lr AS (SELECT doc_id, c, zz,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY zz DESC, c ASC) rn
       |  FROM liz)""".stripMargin

  /** The five-stage clean-chain mirror (C4 -> Gopher -> first-seen
    * span mask -> fully-masked drop -> exact dedup) over the injected
    * corpus — shared verbatim by pl_clean_full (the batch chain) and
    * st_clean_stream (the streaming twin: one AvailableNow batch makes
    * its deterministic winner — first batch, then min(id, pos) — equal
    * the batch chain's). */
  private def sqlCleanFullSql: String = {
      val stops = TextAnalysis.GopherStops.map(s => s"'$s'").mkString(", ")
      val sqlCtToks =
        "CASE WHEN length(trim(ct)) = 0 THEN [] ELSE regexp_split_to_array(trim(ct), '\\s+') END"
      s"""WITH inj AS (SELECT doc_id,
         |    text || '.' || chr(10) || 'short line' || chr(10) ||
         |    'another good line with words here.' || chr(10) ||
         |    'this good line has five words.' || chr(10) ||
         |    'javascript line with five good words.' || chr(10) ||
         |    (CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum here' || chr(10) ELSE '' END) ||
         |    (CASE WHEN doc_id % 11 = 0 THEN 'brace { line' || chr(10) ELSE '' END) AS t2
         |  FROM documents),
         |ck AS (SELECT doc_id, t2,
         |    list_filter(string_split(t2, chr(10)),
         |      l -> regexp_matches(trim(l), '[.!?"]$$')
         |        AND len(regexp_split_to_array(trim(l), '\\s+')) >= 5
         |        AND NOT contains(lower(l), 'javascript')) kept
         |  FROM inj),
         |c4s AS (SELECT doc_id, array_to_string(kept, chr(10)) ct FROM ck
         |  WHERE NOT contains(lower(t2), 'lorem ipsum')
         |    AND NOT contains(t2, '{')
         |    AND len(regexp_extract_all(array_to_string(kept, chr(10)), '[.!?]')) >= 3),
         |gt AS (SELECT doc_id, ct, $sqlCtToks gtoks,
         |    list_filter(string_split(ct, chr(10)),
         |      l -> length(trim(l)) > 0) glines
         |  FROM c4s),
         |gp AS (SELECT doc_id, ct FROM gt
         |  WHERE len(gtoks) >= 50 AND len(gtoks) <= 100000
         |    AND (CASE WHEN len(gtoks) = 0 THEN false ELSE
         |      CAST(list_sum(list_transform(gtoks, t -> length(t))) AS DOUBLE)
         |        / len(gtoks) BETWEEN 3.0 AND 10.0 END)
         |    AND (CASE WHEN len(gtoks) = 0 THEN false ELSE
         |      CAST(length(ct) - length(replace(ct, '#', '')) +
         |        len(regexp_extract_all(ct, '\\.\\.\\.')) AS DOUBLE)
         |        / len(gtoks) <= 0.1 END)
         |    AND (CASE WHEN len(glines) = 0 THEN true ELSE
         |      CAST(len(list_filter(glines,
         |          l -> regexp_matches(trim(l), '^[•\\-\\*]'))) AS DOUBLE)
         |        / len(glines) <= 0.9 END)
         |    AND (CASE WHEN len(glines) = 0 THEN true ELSE
         |      CAST(len(list_filter(glines,
         |          l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)
         |        / len(glines) <= 0.3 END)
         |    AND (CASE WHEN len(gtoks) = 0 THEN false ELSE
         |      CAST(len(list_filter(gtoks, t -> regexp_matches(t, '[A-Za-z]')))
         |        AS DOUBLE) / len(gtoks) >= 0.8 END)
         |    AND len(list_filter([$stops],
         |      s -> list_contains(list_transform(gtoks, t -> lower(t)), s))) >= 2),
         |tok AS (SELECT doc_id, $sqlCtToks toks FROM gp),
         |${sqlSpanOcc(8)},
         |ranked AS (SELECT *, row_number()
         |    OVER (PARTITION BY h ORDER BY doc_id, pos) rn FROM occ),
         |smask AS (SELECT DISTINCT doc_id, pos + u.j AS p
         |          FROM ranked, unnest(range(0, least(8, n))) u(j)
         |          WHERE rn > 1),
         |tr AS (SELECT t.doc_id, CAST(u.i AS INT) p, toks[u.i+1] tk
         |       FROM tok t, unnest(range(0, len(toks))) u(i)),
         |mr AS (SELECT tr.doc_id, tr.p, tr.tk, m.p IS NOT NULL msk
         |       FROM tr LEFT JOIN smask m
         |         ON tr.doc_id = m.doc_id AND tr.p = m.p),
         |fin AS (SELECT doc_id,
         |    coalesce(array_to_string(list(tk ORDER BY p)
         |      FILTER (WHERE NOT msk), ' '), '') ftext,
         |    count(*) FILTER (WHERE NOT msk) n_final
         |  FROM mr GROUP BY doc_id
         |  HAVING count(*) > count(*) FILTER (WHERE msk)),
         |dd AS (SELECT doc_id, ftext, n_final,
         |    row_number() OVER (PARTITION BY md5(ftext) ORDER BY doc_id) rn
         |  FROM fin)
         |SELECT doc_id, md5(ftext) AS digest, CAST(n_final AS BIGINT) AS n_final
         |FROM dd WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** Per-class tercile VALUE-CUTOFF buckets — mirrors
    * Pipelines.quantileBuckets(q=3): cutoff i = the smallest score whose
    * per-class running count reaches ⌈i·n/3⌉ (exact integer arithmetic,
    * `cum·3 >= i·n`), bucket = compare against the two cutoffs. Expects
    * a `tscored($cls, doc_id, lm_nll)` CTE with non-null scores; yields
    * `b` = tscored + bucket. (The oracle may use a window over the
    * DISTINCT-score table — value-level, small; the Spark side folds a
    * sorted per-class array instead, no window at all.) */
  private def sqlTercileBuckets(cls: String): String =
    s"""tcnts AS (SELECT $cls AS tcls, lm_nll, count(*) c
       |  FROM tscored GROUP BY 1, 2),
       |tcum AS (SELECT tcls, lm_nll, c,
       |    sum(c) OVER (PARTITION BY tcls ORDER BY lm_nll) cum,
       |    sum(c) OVER (PARTITION BY tcls) n FROM tcnts),
       |tcut AS (SELECT tcls,
       |    min(CASE WHEN cum*3 >= n THEN lm_nll END) t1,
       |    min(CASE WHEN cum*3 >= 2*n THEN lm_nll END) t2
       |  FROM tcum GROUP BY tcls),
       |b AS (SELECT s.*, CASE WHEN s.lm_nll <= t.t1 THEN 1
       |    WHEN s.lm_nll <= t.t2 THEN 2 ELSE 3 END AS bucket
       |  FROM tscored s JOIN tcut t ON s.$cls = t.tcls)""".stripMargin

  /** The per-language CCNet mirror (classifier langID -> one bigram-LM
    * chain fit+applied PER predicted language -> per-language terciles
    * -> keep/sample/drop) — shared VERBATIM by pl_ccnet_perlang (the
    * per-class apply chains) and pl_ccnet_joined (the one-pass
    * bigramLmFitByClass / single-join bigramLmApplyJoined engine): one
    * oracle, two engines. */
  private def sqlCcnetPerlang: String =
    s"""WITH $sqlLangIdChain,
       |pred AS (SELECT doc_id, c AS pred_class FROM lr WHERE rn = 1),
       |src_de AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'de'),
       |${sqlLmNllFor("xde", "src_de")},
       |src_en AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'en'),
       |${sqlLmNllFor("xen", "src_en")},
       |src_fr AS (SELECT d.* FROM documents d JOIN pred p USING (doc_id)
       |  WHERE p.pred_class = 'fr'),
       |${sqlLmNllFor("xfr", "src_fr")},
       |allscored AS (SELECT 'de' AS pred_class, doc_id, lm_nll FROM xdem UNION ALL SELECT 'en' AS pred_class, doc_id, lm_nll FROM xenm UNION ALL SELECT 'fr' AS pred_class, doc_id, lm_nll FROM xfrm),
       |tscored AS (SELECT pred_class, doc_id, lm_nll
       |  FROM allscored WHERE lm_nll IS NOT NULL),
       |${sqlTercileBuckets("pred_class")}
       |SELECT doc_id, pred_class, bucket FROM b
       |WHERE bucket = 1 OR (bucket = 2 AND
       |  ${sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000 < 500)
       |ORDER BY doc_id""".stripMargin

  /** Greedy longest-match BPE apply as a recursive CTE over DISTINCT
    * words: each step consumes the longest vocab entry prefixing the
    * remaining suffix (char fallback when none). Yields wp(w, parts).
    * Expects a `tok(doc_id, toks)` CTE and WITH RECURSIVE upstream. */
  private def sqlBpeWordParts: String =
    s"""vocab(v) AS (SELECT * FROM (VALUES ${BpeVocab.map(v => s"('$v')").mkString(",")}) t(v)),
       |words AS (SELECT DISTINCT unnest(toks) w FROM tok),
       |steps AS (
       |  SELECT w, w AS rest, CAST([] AS VARCHAR[]) parts FROM words
       |  UNION ALL
       |  SELECT s.w,
       |    substr(s.rest, 1 + coalesce((SELECT max(len(v.v)) FROM vocab v
       |      WHERE starts_with(s.rest, v.v)), 1)),
       |    list_append(s.parts, substr(s.rest, 1,
       |      coalesce((SELECT max(len(v.v)) FROM vocab v
       |        WHERE starts_with(s.rest, v.v)), 1)))
       |  FROM steps s WHERE len(s.rest) > 0),
       |wp AS (SELECT w, parts FROM steps WHERE rest = '')""".stripMargin

  /** Span-mask occurrence CTEs: one row per k-token shingle START with a
    * hash60 key over the SUBSTRING — mirrors Dedup.maskRepeatedSpans /
    * DocStream.incrementalSpanDedup (60-bit md5, not the 31-bit minhash
    * polynomial: span masking deletes text on key equality). Expects a
    * `tok(doc_id, toks)` CTE; yields occ(doc_id, n, pos, h). */
  private def sqlSpanOcc(k: Int): String =
    s"""tl AS (SELECT doc_id, toks, len(toks) n FROM tok),
       |occ AS (SELECT doc_id, n, CAST(u.i AS INT) pos,
       |    ${sqlHash60(s"array_to_string(toks[(u.i+1):least(u.i+$k, n)], ' ')")} h
       |  FROM tl, unnest(range(0, CASE WHEN n = 0 THEN 0
       |    WHEN n < $k THEN 1 ELSE n - ${k - 1} END)) u(i))""".stripMargin

  /** minhash signature as a DuckDB list literal expression over `hs`
    * (list of shingle hashes already mod P), using the same xorshift-derived
    * affine family as Dedup.hashFamily. */
  private def sqlMinhashSig(k: Int): String = {
    val fam = Dedup.hashFamily(k)
    val entries = fam.map { case (a, b) =>
      s"CASE WHEN len(hs) = 0 THEN $P ELSE list_min(list_transform(hs, x -> ($a * x + $b) % $P)) END"
    }
    entries.mkString("[", ",\n ", "]")
  }

  /** The LSH→Jaccard-verify→connected-components CTE chain ending in
    * `reach(id, comp)` — shared by the dup-cluster and survivorship
    * oracles (mirrors minhashNearDuplicates + duplicateClusters). */
  private def sqlDupClusterCtes: String =
    s"""tok AS (
       |  SELECT doc_id, $sqlToks toks FROM documents),
       |tkh AS (SELECT doc_id, $sqlTokenHashes th FROM tok),
       |h AS (SELECT doc_id, $sqlShingleHashes hs FROM tkh),
       |sig AS (SELECT doc_id, ${sqlMinhashSig(32)} sig FROM h),
       |bands AS (
       |  SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS key
       |  FROM sig, (SELECT unnest(range(8)) b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
       |tokd AS (SELECT doc_id, list_distinct(toks) toks FROM tok),
       |edges AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN tokd x ON cand.id_a = x.doc_id
       |  JOIN tokd y ON cand.id_b = y.doc_id
       |  WHERE CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE) /
       |    (len(x.toks) + len(y.toks) - len(list_intersect(x.toks, y.toks))) >= 0.5),
       |und AS (SELECT id_a AS s, id_b AS d FROM edges
       |        UNION ALL SELECT id_b AS s, id_a AS d FROM edges),
       |nodes AS (SELECT DISTINCT s AS id FROM und),
       |reach AS (
       |  SELECT id, id AS comp FROM nodes
       |  UNION
       |  SELECT u.s AS id, r.comp FROM und u JOIN reach r ON u.d = r.id)""".stripMargin

  /** simhash as a DuckDB sum of 60 per-bit sign votes over `hs`. */
  private def sqlSimhash: String = {
    val bits = (0 until 60).map { i =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $i) & 1) * 2 - 1)) > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END)"
    }
    s"CASE WHEN len(hs) = 0 THEN 0 ELSE ${bits.mkString(" + ")} END"
  }

  // memory-sink names must be unique per run within a session
  private val evStreamRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------- dedup family ----------
    "dd_exact_dups" -> ((s, dir) => {
      Dedup.exactDuplicates(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("digest"))
    }),
    "dd_jaccard_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val ids = docs.select(col("doc_id"))
      val pairs = ids.as("x").join(ids.as("y"),
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      Dedup.withJaccard(pairs, docs, "text", "doc_id")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Paragraph/span-level dedup (Lee et al. 2022): repeated 25-token
    // spans are scrubbed corpus-wide, first occurrence survives. The
    // synthetic docs have no blank-line structure, so the fixed-window
    // span unit is the exercisable form here; blankLineParagraphs is the
    // production splitter (PipelineSpec covers it).
    "dd_paragraph_dedup" -> ((s, dir) => {
      val staged = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("__toks"))
        .select(col("doc_id"), Dedup.tokenWindows(col("__toks"), 25).as("paras"))
      Dedup.dropDuplicateParagraphs(staged, "doc_id", col("paras"), " ")
        .select(col("doc_id"), col("clean_text"), col("n_paras"), col("n_dropped"))
        .orderBy(col("doc_id"))
    }),
    // Arbitrary-alignment span masking (Lee et al. 2022's substring
    // dedup): repeated 8-token spans are masked at every non-first
    // occurrence at single-token alignment — the duplicates the
    // fixed-window gate above cannot see (a shifted span straddles
    // window boundaries). PipelineSpec proves the evasion pair.
    "dd_span_mask" -> ((s, dir) => {
      Dedup.maskRepeatedSpans(t(s, dir, "documents"), "doc_id", "text", k = 8)
        .select(col("doc_id"), col("clean_text"), col("n_tokens"), col("n_masked"))
        .orderBy(col("doc_id"))
    }),
    "dd_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashNearDuplicates(t(s, dir, "documents"), "text", "doc_id",
          threshold = 0.5, numHashes = 32, bands = 8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "dd_simhash_fp" -> ((s, dir) => {
      Dedup.simhashes(t(s, dir, "documents").filter(col("doc_id") < 500), "text", "doc_id")
        .select(col("id").as("doc_id"), col("sim").as("simhash"))
        .orderBy(col("doc_id"))
    }),
    // PII/noise scrubbing over text with injected URLs/emails/digit runs
    // (the raw corpus is clean prose, so the fixtures are planted
    // identically in both engines before scrubbing)
    "tx_scrub" -> ((s, dir) => {
      val injected = t(s, dir, "documents").withColumn("t",
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com see http://ex.com/p/"), col("doc_id").cast("string"),
              lit(" ref 1234567890"))).otherwise(lit(""))))
      injected.select(col("doc_id"),
          TextAnalysis.scrub(col("t")).as("scrubbed"),
          regexp_count(col("t"), lit(TextAnalysis.UrlPattern)).as("n_urls"),
          regexp_count(col("t"), lit(TextAnalysis.EmailPattern)).as("n_emails"),
          regexp_count(col("t"), lit(TextAnalysis.LongDigitsPattern)).as("n_nums"))
        .orderBy(col("doc_id"))
    }),

    // deterministic data mixing: hash-bucket stratified sample by language
    "pl_stratified_sample" -> ((s, dir) =>
      Pipelines.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),

    // temperature-flattened mixture sampling (alpha=0.5 -> sqrt weights,
    // IEEE-exact so the oracle reproduces the thresholds bit-for-bit)
    "pl_mixture_sample" -> ((s, dir) =>
      Pipelines.mixtureSample(t(s, dir, "documents"), "lang", "doc_id",
          alpha = 0.5, targetFraction = 0.3)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),

    // greedy BPE apply from an input vocabulary — the real-tokenizer path
    // the heuristic subwordCount approximates. The vocabulary is shared
    // verbatim with the oracle; the gate hashes the first 12 subwords too,
    // so the SPLIT is verified, not just the fertility count.
    "tx_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeTokens(col("text"), BpeVocab).as("__bpe"))
        .select(col("doc_id"), size(col("__bpe")).cast("long").as("n_bpe"),
          array_join(slice(col("__bpe"), 1, 12), " ").as("bpe_head"))
        .orderBy(col("doc_id"))
    }),
    // C4 line/document cleaning (Raffel et al. 2020 §2.2): the raw corpus
    // has no newlines or punctuation, so the line structure is planted
    // identically in both engines (same pattern as tx_scrub) — good
    // lines, a short line, a javascript line, and doc-level lorem/brace
    // poisons on arithmetic id subsets
    "tx_c4_clean" -> ((s, dir) => {
      val injected = t(s, dir, "documents").withColumn("t2",
        concat(col("text"),
          lit(".\nshort line\nanother good line with words here.\n" +
            "this good line has five words.\n" +
            "javascript line with five good words.\n"),
          when(col("doc_id") % 7 === 0, lit("lorem ipsum here\n"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("brace { line\n"))
            .otherwise(lit(""))))
      TextAnalysis.c4Clean(injected, "t2", "doc_id")
        .orderBy(col("doc_id"))
    }),
    // the full composed production chain over the same planted corpus:
    // C4 rules -> Gopher rules -> span masking (first occurrence
    // survives corpus-wide) -> fully-masked drop -> exact dedup
    "pl_clean_full" -> ((s, dir) => {
      val injected = t(s, dir, "documents").withColumn("t2",
        concat(col("text"),
          lit(".\nshort line\nanother good line with words here.\n" +
            "this good line has five words.\n" +
            "javascript line with five good words.\n"),
          when(col("doc_id") % 7 === 0, lit("lorem ipsum here\n"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("brace { line\n"))
            .otherwise(lit(""))))
      Pipelines.cleanCorpusFull(injected, "t2", "doc_id")
        .select(col("doc_id"), md5(col("clean_text")).as("digest"),
          col("n_final"))
        .orderBy(col("doc_id"))
    }),
    // Gopher App. A document-quality rules (Rae et al. 2021): the seven
    // public doc-level filters as booleans + the conjunction
    "tx_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherQualityFlags(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // fastText-style linear quality-classifier APPLY from input weights
    // (the model-driven filter step of CCNet-class pipelines): logistic
    // over the mean token weight, micro-quantized Long accumulation so
    // the score is order-free and bit-identical cross-engine
    "tx_quality_model" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.linearQualityScore(col("text"), QualityWeights,
            bias = 0.1), 6).as("q_model"))
        .orderBy(col("doc_id"))
    }),
    // BPE vocabulary TRAINING (Sennrich et al. 2016): learn the merge
    // table from the corpus itself — iterative most-frequent-pair
    // counting over the distinct-word table, one groupBy per round
    "tx_bpe_fit" -> ((s, dir) => {
      TextAnalysis.bpeFit(t(s, dir, "documents"), "text", numMerges = 12)
        .orderBy(col("rank"))
    }),
    // classifier TRAINING: binary logistic regression (label: lang='en')
    // by full-batch GD — 3 iterations, lr 0.5; output = the learned
    // micro-unit weight per token + the bias row
    "tx_linear_fit" -> ((s, dir) => {
      val (w, b) = TextAnalysis.linearFit(
        t(s, dir, "documents").withColumn("__lab",
          when(col("lang") === "en", 1.0).otherwise(0.0)),
        "text", "__lab", iterations = 3, lr = 0.5)
      import s.implicits._
      def micro(x: Double): Long = new java.math.BigDecimal(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      (w.toSeq.map { case (t, wv) => (t, micro(wv)) } :+
        (("__bias__", micro(b))))
        .toDF("tok", "w_micro").orderBy(col("tok"))
    }),
    // ... and the merge-ORDER apply of the freshly fit model (fit +
    // encode end-to-end, no pre-trained file): the canonical BPE
    // inference, vs tx_bpe_tokens' longest-match heuristic
    "tx_bpe_apply_merges" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.loadBpeMerges(
        TextAnalysis.bpeFit(docs, "text", numMerges = 12))
      docs
        .select(col("doc_id"),
          TextAnalysis.bpeTokensByMerges(col("text"), merges).as("__sub"))
        .select(col("doc_id"), size(col("__sub")).cast("long").as("n_sub"),
          md5(concat_ws(" ", slice(col("__sub"), 1, 12))).as("first12_md5"))
        .orderBy(col("doc_id"))
    }),
    // the same trainer with fastText wordNgrams=2: unigram + word-bigram
    // features (bigrams stay strings — the weight table IS the bucket
    // table), exercising feature extraction through fit AND the exact
    // integer gradient chains over a 10x bigger feature space
    "tx_linear_fit_bigram" -> ((s, dir) => {
      val (w, b) = TextAnalysis.linearFit(
        t(s, dir, "documents").withColumn("__lab",
          when(col("lang") === "en", 1.0).otherwise(0.0)),
        "text", "__lab", iterations = 2, lr = 0.5, wordNgrams = 2)
      import s.implicits._
      def micro(x: Double): Long = new java.math.BigDecimal(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      (w.toSeq.map { case (tk, wv) => (tk, micro(wv)) } :+
        (("__bias__", micro(b))))
        .toDF("tok", "w_micro").orderBy(col("tok"))
    }),
    // the SCALE form of the bigram trainer: n-grams hashed into 64
    // bucket tokens (fastText's `bucket` option) — the weight table is
    // capped at |unigrams| + buckets no matter how large the corpus
    "tx_linear_fit_hashed" -> ((s, dir) => {
      val (w, b) = TextAnalysis.linearFit(
        t(s, dir, "documents").withColumn("__lab",
          when(col("lang") === "en", 1.0).otherwise(0.0)),
        "text", "__lab", iterations = 2, lr = 0.5, wordNgrams = 2,
        hashBuckets = 64)
      import s.implicits._
      def micro(x: Double): Long = new java.math.BigDecimal(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      (w.toSeq.map { case (tk, wv) => (tk, micro(wv)) } :+
        (("__bias__", micro(b))))
        .toDF("tok", "w_micro").orderBy(col("tok"))
    }),
    // the same trainer through the JOINED-WEIGHT-TABLE path
    // (linearFitDf, vocabCutover = 0 forces the 10⁷-vocab engine): the
    // weight state lives in a DataFrame and every lookup/gradient is a
    // join — the oracle is tx_linear_fit's SQL verbatim, so this gate IS
    // the bit-equality proof of the cutover
    "tx_linear_fit_joined" -> ((s, dir) => {
      val (wdf, b) = TextAnalysis.linearFitDf(
        t(s, dir, "documents").withColumn("__lab",
          when(col("lang") === "en", 1.0).otherwise(0.0)),
        "text", "__lab", iterations = 3, lr = 0.5, vocabCutover = 0L)
      import s.implicits._
      def micro(x: Double): Long = new java.math.BigDecimal(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      wdf.select(col("token").as("tok"),
          round(col("weight") * lit(1e6), 0).cast("long").as("w_micro"))
        .unionByName(Seq(("__bias__", micro(b))).toDF("tok", "w_micro"))
        .orderBy(col("tok"))
    }),
    // model-driven language ID: multi-class linear classifier apply
    // (fastText-style argmax over per-class weight tables — the CCNet
    // pipeline's first stage), from a fixed input model
    "tx_langid_model" -> ((s, dir) => {
      val z = TextAnalysis.linearClassifyScores(col("text"), LangIdClasses,
        LangIdWeights, LangIdBiases)
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"),
          round(array_max(z), 6).as("z_max"))
        .orderBy(col("doc_id"))
    }),
    // the same langID through the JOINED-MODEL apply
    // (linearClassifyLabelJoined): the model rides as a (token, class,
    // weight) DataFrame and every lookup is a join — the 10⁷-vocab
    // twin of the reference-object kernel. Oracle is tx_langid_model's
    // SQL verbatim: two engines, one contract.
    "tx_langid_joined" -> ((s, dir) => {
      import s.implicits._
      val wdf = LangIdWeights.toSeq.flatMap { case (tk, ws) =>
        LangIdClasses.zip(ws).map { case (c, w) => (tk, c, w) }
      }.toDF("token", "class", "weight")
      TextAnalysis.linearClassifyLabelJoined(t(s, dir, "documents"),
          "text", "doc_id", wdf, LangIdClasses.zip(LangIdBiases))
        .select(col("doc_id"), col("pred_class"),
          round(col("z_max"), 6).as("z_max"))
        .orderBy(col("doc_id"))
    }),
    // token-budget packing keyed to the BPE vocab's TRUE fertility — the
    // production form of pl_pack_batches when a tokenizer vocab exists
    "pl_pack_bpe" -> ((s, dir) => {
      val sized = t(s, dir, "documents")
        .withColumn("n_tokens",
          size(TextAnalysis.bpeTokens(col("text"), BpeVocab)).cast("long"))
      Pipelines.packBySize(sized, "n_tokens", "doc_id", budget = 2000L)
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("batch_id"))
    }),
    // TOKENIZER-TRUE chunking (Pipelines.chunkTokensBpe): the
    // pl_chunk_train windows computed over the BPE SUBWORD stream
    // (greedy longest-match under the fixture vocab) instead of
    // whitespace tokens — context-window budgets match what the trained
    // tokenizer emits. Same overlap + doc-end stop rule; the mirror
    // re-derives the subword stream with the tx_bpe recursive-CTE split
    // and applies the pl_chunk_train chunk CTE to it.
    "pl_chunk_bpe" -> ((s, dir) => {
      Pipelines.chunkTokensBpe(t(s, dir, "documents"), "text", "doc_id",
          BpeVocab, maxLen = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),
    // fixed-context training chunks with overlap: sliding window of 64
    // tokens advancing by 48 (HF return_overflowing_tokens semantics) —
    // the training-sample split, map-only, no shuffle
    "pl_chunk_train" -> ((s, dir) => {
      Pipelines.chunkTokens(t(s, dir, "documents"), "text", "doc_id",
          maxLen = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),
    // token-budget sequence packing: greedy running-sum batches
    "pl_pack_batches" -> ((s, dir) => {
      val sized = t(s, dir, "documents")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))).cast("long"))
      Pipelines.packBySize(sized, "n_tokens", "doc_id", budget = 2000L)
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("batch_id"))
    }),
    // the scale form: per-language packing — the window partitions by
    // lang, so no single-partition global window appears in the plan
    "pl_pack_sharded" -> ((s, dir) => {
      val sized = t(s, dir, "documents")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))).cast("long"))
      Pipelines.packBySizeSharded(sized, "lang", "n_tokens", "doc_id", budget = 2000L)
        .groupBy(col("lang"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("lang"), col("batch_id"))
    }),

    // train/test decontamination: shingle overlap of the training split
    // (doc_id >= 20) against the "benchmark" split (doc_id < 20)
    "dd_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contamination(docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20), "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_shared"), col("overlap"))
        .orderBy(col("doc_id"))
    }),

    // decontamination — the contamination check's end-use: training docs
    // over the overlap threshold are DROPPED, zero-overlap docs survive
    // via the anti-join (they never appear in the contamination frame).
    // Runs the bloom engine end-to-end so the composed op exercises the
    // at-scale path; digest column proves full-row retention.
    "dd_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20), "text", "doc_id",
          maxOverlap = 0.2, useBloom = true)
        .select(col("doc_id"), md5(col("text")).as("digest"))
        .orderBy(col("doc_id"))
    }),

    // the bloom pre-filter twin for benchmark sets too big to broadcast:
    // the doc-shingle stream is thinned map-side by a bloom over the
    // distributed benchmark set before the exact semi-join — identical
    // output (no false negatives + exact re-check), so it runs against
    // dd_contamination's oracle verbatim
    "dd_contamination_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationBloom(docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20), "text", "doc_id", fpp = 0.03)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_shared"), col("overlap"))
        .orderBy(col("doc_id"))
    }),

    // sparse search at corpus scale: hashed-vocab tf vectors scored from
    // the PERSISTED inverted index (SparseIndex: postings bucketed by dim
    // on disk, built once and skip-guarded by the count+watermark stamp) —
    // the per-query work is a partition-pruned read of the query's dims,
    // never a corpus re-explode (V2/V5 sparse analog); integral tf values
    // keep the dot products exact in both engines
    "v2_sparse_inverted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def posting = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          pmod(graft.functions.hash60(col("tok")), lit(1024)).cast("int").as("dim"))
        .groupBy(col("doc_id"), col("dim")).agg(count(lit(1)).cast("float").as("v"))
      val stats = docs.agg(count(lit(1)), max(col("doc_id").cast("long"))).head()
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_spidx_${math.abs(dir.hashCode)}"
      val (idx, _) = graft.index.SparseIndex.rebuildFromPostingsVerbose(
        s, posting, "doc_id", path, rowCount = stats.getLong(0),
        maxId = stats.getLong(1), buckets = 16)
      // query vector = doc 0's postings (a pruned read of the persisted
      // index would also work; recomputing prunes to one doc via pushdown)
      val q0 = posting.filter(col("doc_id") === 0).select("dim", "v").collect()
      idx.search(graft.types.MetricType.DotProduct, overlapOnly = true,
          q0.map(_.getInt(0)), q0.map(_.getFloat(1)), k = 20)
        .select(col("doc_id"), (-col("@distance")).cast("long").as("dot"))
    }),

    // rebuild-while-querying lifecycle, driver-checked: the index covers
    // only the first half of the corpus (its watermark), the second half
    // arrives as the FRESH TAIL unioned per query — the result must equal
    // the full-corpus scan exactly (reference semantics:
    // InsertAndQuerySparseVectorDuringRebuild, db_server.cpp)
    "v2_sparse_tail" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def posting(src: DataFrame) = src
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          pmod(graft.functions.hash60(col("tok")), lit(1024)).cast("int").as("dim"))
        .groupBy(col("doc_id"), col("dim")).agg(count(lit(1)).cast("float").as("v"))
      val cutoff = docs.agg(max(col("doc_id").cast("long"))).head().getLong(0) / 2
      val base = docs.filter(col("doc_id") <= cutoff)
      val bStats = base.agg(count(lit(1)), max(col("doc_id").cast("long"))).head()
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_spidx_tl_${math.abs(dir.hashCode)}"
      val (idx, _) = graft.index.SparseIndex.rebuildFromPostingsVerbose(
        s, posting(base), "doc_id", path, rowCount = bStats.getLong(0),
        maxId = bStats.getLong(1), buckets = 16)
      val tail = posting(docs.filter(col("doc_id") > idx.indexedWatermark()))
      val q0 = posting(docs).filter(col("doc_id") === 0).select("dim", "v").collect()
      idx.search(graft.types.MetricType.DotProduct, overlapOnly = true,
          q0.map(_.getInt(0)), q0.map(_.getFloat(1)), k = 20,
          tailPostings = Some(tail))
        .select(col("doc_id"), (-col("@distance")).cast("long").as("dot"))
    }),

    // canonical-doc selection: connected components over the LSH near-dup
    // pairs, min-id label per component (what a dedup pipeline keeps)
    "dd_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDuplicates(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.5, numHashes = 32, bands = 8)
      Dedup.duplicateClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy(col("doc_id"))
    }),
    // Survivorship policy over the same clusters: a training pipeline
    // keeps the BEST copy of each near-dup family (here: longest text,
    // doc_id tie-break), not the earliest — unclustered docs untouched.
    "dd_dup_survivors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        threshold = 0.5, numHashes = 32, bands = 8)
      Dedup.keepClusterSurvivors(docs, "doc_id",
          Dedup.duplicateClusters(pairs), Seq(col("n_chars").desc))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    "dd_embed_cosine" -> ((s, dir) => {
      Dedup.embeddingNearDuplicates(
          t(s, dir, "embeddings").filter(col("vec_id") < 300), "embedding", "vec_id",
          minCosine = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // the scale path: same predicate, but candidates restricted to pairs
    // sharing an L2-argmin bucket on the unit sphere (equi-join, never
    // all-pairs); centroids = the first 16 embeddings, so the oracle can
    // reproduce the assignment exactly
    "dd_embed_bucketed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect()
        .map { r =>
          val v = r.getSeq[Float](0).map(_.toDouble).toArray
          val n = math.sqrt(v.map(x => x * x).sum)
          v.map(_ / n)
        }
      Dedup.embeddingNearDuplicatesBucketed(emb, "embedding", "vec_id", cents,
          minCosine = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDeDup (Abbas et al. 2023): semantic near-dup removal inside
    // embedding clusters, one survivor per duplicate component by
    // priority (highest label, id tie-break) — the composed pipeline
    // form of the dd_embed_bucketed + dd_dup_clusters + survivorship
    // primitives
    "pl_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect()
        .map { r =>
          val v = r.getSeq[Float](0).map(_.toDouble).toArray
          val n = math.sqrt(v.map(x => x * x).sum)
          v.map(_ / n)
        }
      Pipelines.semDedup(emb, "embedding", "vec_id", cents, minCosine = 0.2,
          priority = Seq(col("label").desc))
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // ---------- text analysis ----------
    "tx_stats" -> ((s, dir) => {
      TextAnalysis.annotate(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_chars"),
          col("avg_token_len"), col("stopword_ratio"), col("punct_ratio"),
          col("lang_pred"), col("fingerprint"), col("dup_shingle_ratio"))
        .orderBy(col("doc_id"))
    }),
    "tx_quality_agg" -> ((s, dir) => {
      // annotate stages tokenization once; qualityScore(text) standalone
      // would re-split the text per feature
      TextAnalysis.annotate(t(s, dir, "documents"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), round(avg(col("quality")), 6).as("avg_quality"),
          round(min(col("quality")), 6).as("min_quality"))
        .orderBy(col("lang"))
    }),
    // Corpus-statistics diagnostic: the Zipf slope of the term-frequency
    // distribution (OLS of ln f on ln rank over the top-100 terms) plus
    // type/token counts — natural text sits near −1; a synthetic or
    // template-heavy corpus flags as anomalous (flat) and a
    // boilerplate-dominated one as steep. Scale shape: ONE groupBy(term)
    // shuffle (map-side combined), top-100 via TakeOrdered, the
    // regression over 100 rows. The OLS is written as explicit avg()
    // moments so both engines compute the identical formula.
    "tx_zipf_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val totals = tf.agg(count(lit(1)).as("n_types"),
        sum(col("f")).as("n_tokens"))
      val top = tf.orderBy(col("f").desc, col("w")).limit(100)
        .withColumn("r",
          row_number().over(Window.orderBy(col("f").desc, col("w"))))
        .select(log(col("r").cast("double")).as("x"),
          log(col("f").cast("double")).as("y"))
      val slope = top.agg(round(
        (avg(col("x") * col("y")) - avg(col("x")) * avg(col("y"))) /
          (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))),
        4).as("zipf_slope"))
      totals.crossJoin(broadcast(slope)) // two 1-row frames
        .select(col("n_types"), col("n_tokens"), col("zipf_slope"))
    }),
    // Gopher-style repetition filters (Rae et al. 2021 App. A, public):
    // per-document line/n-gram repetition fractions — the boilerplate/spam
    // signals a corpus-cleaning pipeline cuts on. Pure map, no shuffle.
    "tx_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionSignals(t(s, dir, "documents"))
        .select(col("doc_id"), col("dup_line_frac"),
          col("dup_line_char_frac"), col("top_bigram_frac"),
          col("dup_trigram_frac"), col("adj_dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style corpus LM scoring (Wenzek et al. 2019): per-doc negative
    // mean bigram log-likelihood under the corpus's own smoothed bigram
    // model — the standard head/middle/tail quality axis.
    "tx_lm_score" -> ((s, dir) => {
      TextAnalysis.bigramLmScore(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
    // ... the fit/apply split — the actual CCNet deployment shape: the
    // model is estimated on a REFERENCE slice (doc_id < 250 stands in for
    // the clean wiki-grade corpus) and applied to held-out docs, with
    // out-of-vocabulary bigrams degrading to the smoothing floor.
    "tx_lm_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.bigramLmFit(docs.filter(col("doc_id") < 250))
      TextAnalysis.bigramLmApply(lm, docs.filter(col("doc_id") >= 250))
        .orderBy(col("doc_id"))
    }),
    // Trigram LM with STUPID BACKOFF (Brants et al. 2007; the order-n
    // engine at order 3) — the higher-order upgrade of the bigram
    // model, same fit/apply split: the reference slice (doc_id < 250)
    // estimates the counts, held-out docs score through all three
    // backoff levels (unseen trigram → α · bigram; unseen bigram → α² ·
    // add-one unigram — the held-out docs exercise every branch,
    // value-checked against the DuckDB mirror).
    "tx_lm_trigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.ngramLmFit(docs.filter(col("doc_id") < 250),
        order = 3)
      TextAnalysis.ngramLmApply(lm, docs.filter(col("doc_id") >= 250))
        .orderBy(col("doc_id"))
    }),
    // HELD-OUT modified-KN: fit a global order-3 KN model on the first
    // half, score the disjoint second half — the OOV and unseen-history
    // interpolation branches (continuation-count unigram floor, full
    // backoff on unseen histories, the 1e-10 guard) exercised at gate
    // scale on text the model never saw, unpruned so the recursion is
    // pure KN end to end
    "tx_lm_kn_heldout" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.knLmFit(docs.filter(col("doc_id") < 250),
        order = 3)
      TextAnalysis.knLmApply(lm, docs.filter(col("doc_id") >= 250))
        .orderBy(col("doc_id"))
    }),
    // ... and the bucketing that consumes it: per-LANGUAGE terciles of
    // the rounded score (CCNet buckets per language), summarized per
    // bucket. Buckets come from BROADCAST VALUE CUTOFFS
    // (Pipelines.quantileBuckets) — no per-language window: language is
    // the canonical skewed key of a crawl, and an ntile over it would
    // sort the heaviest language in one task. Cutoffs are exact integer
    // count thresholds over the 4-rounded scores, so the cut is
    // deterministic and engine-independent; min/max over 4-rounded
    // values are exact.
    "pl_lm_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.bigramLmScore(docs)
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(lm, "doc_id")
        .filter(col("lm_nll").isNotNull)
      graft.pipeline.Pipelines.quantileBuckets(scored, "lang", "lm_nll", 3)
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("lm_nll")).as("min_nll"),
          max(col("lm_nll")).as("max_nll"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // ... and the mixing flow the score/buckets exist FOR: keep the head
    // tercile, hash-sample the middle at 50% (deterministic — the same
    // content-hash sampler as pl_stratified_sample), drop the tail
    // (Pipelines.ccnetMix). Everything upstream is a map, a partial
    // aggregate, or a broadcast join; the sampler adds no shuffle.
    "pl_lm_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.bigramLmScore(docs)
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(lm, "doc_id").filter(col("lm_nll").isNotNull)
      graft.pipeline.Pipelines.ccnetMix(
          graft.pipeline.Pipelines.quantileBuckets(scored, "lang", "lm_nll", 3),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // the COMPOSED CCNet flow (Wenzek et al. 2019, public method) as the
    // exported library operator (Pipelines.ccnetGlobalLm) with the
    // MODEL-predicted language, not the table's label column: classifier
    // langID (map-only) -> per-predicted-language perplexity terciles by
    // broadcast value cutoffs (no skewed window) -> keep head,
    // hash-sample middle at 50%, drop tail.
    "pl_ccnet" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.Pipelines.ccnetGlobalLm(docs, "text", "doc_id",
          LangIdClasses, LangIdWeights, LangIdBiases,
          TextAnalysis.bigramLmFit(docs))
        .orderBy(col("doc_id"))
    }),

    // the TRUE CCNet scoring (Pipelines.ccnet): one LM PER predicted
    // language, each doc scored by its own language's model (Wenzek et
    // al. 2019 fit one KenLM per language) — here each class's model is
    // FITTED on its predicted partition then applied through the
    // fit/apply split the library operator consumes; a many-language
    // production run loads persisted BigramLmByClass models instead.
    // Classes are bounded, so per-class fits grow the plan linearly.
    "pl_ccnet_perlang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // cache: three per-class FITS consume this frame (model counts +
      // vocab sizes each) — uncached, the classifier column re-runs
      // over the whole corpus per consuming job
      val pred = docs.select(col("doc_id"), col("text"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"))
        .cache().transform(graft.pipeline.StageCaches.track)
      val lms = LangIdClasses.map { c =>
        c -> TextAnalysis.bigramLmFit(pred.filter(col("pred_class") === c))
      }.toMap
      graft.pipeline.Pipelines.ccnet(docs, "text", "doc_id",
          LangIdClasses, LangIdWeights, LangIdBiases, lms)
        .orderBy(col("doc_id"))
    }),

    // the JOINED-ENGINE twin of pl_ccnet_perlang — same oracle, second
    // engine (the tx_langid_joined discipline): ALL per-language LMs fit
    // in ONE groupBy(class, bg, w1) pass (bigramLmFitByClass — no
    // sequential per-class fit jobs), every doc scored against ITS
    // language's model in ONE join on (class, bg)
    // (bigramLmApplyJoined — the prediction frame is scanned once; no
    // C-way filter/union). At 3 classes this must land on the per-class
    // chains' exact rows; at ~100 languages it is the only shape whose
    // plan and job count don't grow with the language set.
    "pl_ccnet_joined" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // cache: the one-pass fit consumes this frame twice (model counts
      // + vocab sizes) — the classifier column must not re-run per pass
      val pred = docs.select(col("doc_id"), col("text"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"))
        .cache().transform(graft.pipeline.StageCaches.track)
      val lm = TextAnalysis.bigramLmFitByClass(pred, "text", "doc_id",
        "pred_class")
      graft.pipeline.Pipelines.ccnet(docs, "text", "doc_id",
          LangIdClasses, LangIdWeights, LangIdBiases, lm, 500)
        .orderBy(col("doc_id"))
    }),

    // the FULLY-DISTRIBUTED production CCNet — langID model as a
    // (token, class, weight) DataFrame AND the per-language LMs as the
    // long model frame: both model sides stay distributed, which is the
    // only shape that fits a real ~100-language identifier (10^7 hashed
    // buckets) + 100 reference LMs. The gate classifies ONCE (cached),
    // fits on the predicted partitions, and buckets through
    // ccnetPreClassified — the classify-and-delegate ccnet overload is
    // pinned equal in Round16Spec. Fourth engine on the per-language
    // oracle, verbatim.
    "pl_ccnet_distributed" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val wdf = LangIdWeights.toSeq.flatMap { case (tk, ws) =>
        LangIdClasses.zip(ws).map { case (c, w) => (tk, c, w) }
      }.toDF("token", "class", "weight")
      // classify once (joined engine, bit-equal to the kernel's
      // predictions); the cache feeds the one-pass fit AND the bucket
      // tail — the expensive classify shuffle runs a single time
      val pred = TextAnalysis.linearClassifyLabelJoined(docs, "text",
          "doc_id", wdf, LangIdClasses.zip(LangIdBiases))
        .select(col("doc_id"), col("pred_class"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .cache().transform(graft.pipeline.StageCaches.track)
      val lm = TextAnalysis.bigramLmFitByClass(pred, "text", "doc_id",
        "pred_class")
      graft.pipeline.Pipelines.ccnetPreClassified(pred, "text", "doc_id",
          "pred_class", lm, 500)
        .orderBy(col("doc_id"))
    }),

    // the COMPOSED trigram CCNet: predicted-language trigram scoring
    // through the joined engine, then the window-free tercile/mix tail
    // (ccnetPreClassified on the order-3 NgramLmByClass) — CCNet at
    // the n-gram order its published pipeline ran, every model side
    // distributed
    "pl_ccnet_trigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = docs.select(col("doc_id"), col("text"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"))
        .cache().transform(graft.pipeline.StageCaches.track)
      val lm = TextAnalysis.ngramLmFitByClass(pred, "text", "doc_id",
        "pred_class", order = 3)
      graft.pipeline.Pipelines.ccnetPreClassified(pred, "text", "doc_id",
          "pred_class", lm, 500)
        .orderBy(col("doc_id"))
    }),

    // CCNet at Wenzek et al.'s ACTUAL configuration end to end:
    // predicted language -> per-language 5-GRAM stupid-backoff models on
    // a PRUNED count set (minCount=2) through the order-n joined engine
    // -> the same window-free tercile/mix tail
    "pl_ccnet_5gram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = docs.select(col("doc_id"), col("text"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"))
        .cache().transform(graft.pipeline.StageCaches.track)
      val lm = TextAnalysis.ngramLmFitByClass(pred, "text", "doc_id",
        "pred_class", order = 5, minCount = 2)
      graft.pipeline.Pipelines.ccnetPreClassified(pred, "text", "doc_id",
          "pred_class", lm, 500)
        .orderBy(col("doc_id"))
    }),

    // ... and with the published SMOOTHING: the same end-to-end CCNet
    // with per-language interpolated modified-KN 5-gram models
    // (knLmFitByClass at the same floor) feeding the same tercile/mix
    // tail — langID -> KenLM-math scoring -> keep/sample/drop, the
    // full published configuration
    "pl_ccnet_kn5" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = docs.select(col("doc_id"), col("text"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"))
        .cache().transform(graft.pipeline.StageCaches.track)
      val lm = TextAnalysis.knLmFitByClass(pred, "text", "doc_id",
        "pred_class", order = 5, minCount = 2)
      graft.pipeline.Pipelines.ccnetPreClassified(pred, "text", "doc_id",
          "pred_class", lm, 500)
        .orderBy(col("doc_id"))
    }),

    // per-language TRIGRAM scoring through the JOINED engine: all
    // per-class stupid-backoff models fit in three aggregates
    // (ngramLmFitByClass at order 3), every doc scored against its
    // predicted language's model in one five-join pass
    // (ngramLmApplyJoined) — the n-gram-order step toward Wenzek et
    // al.'s per-language KenLM with every model side distributed.
    // Oracle fits one parameterized trigram chain per predicted-language
    // subset.
    "tx_lm_trigram_perlang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // cache: the fit reads it three times (one per order) and
      // the apply once more — classify must not re-run per pass
      val pred = docs.select(col("doc_id"), col("text"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"))
        .cache().transform(graft.pipeline.StageCaches.track)
      val lm = TextAnalysis.ngramLmFitByClass(pred, "text", "doc_id",
        "pred_class", order = 3)
      TextAnalysis.ngramLmApplyJoined(lm, pred, "text", "doc_id",
          "pred_class")
        .orderBy(col("doc_id"))
    }),

    // the PRUNED per-language trigram model (minCount = 2 — KenLM's
    // count-pruning recipe): every singleton n-gram drops from all three
    // count frames AFTER the aggregate and falls through the existing
    // backoff branches at score time; (N, V) stay the full-partition
    // totals. The oracle applies the identical HAVING floor — this pins
    // the pruned-model SEMANTICS, not just "fewer rows". At crawl scale
    // the floor is what keeps the model side of the joined apply fixed
    // instead of corpus-sized (SCALE.md).
    "tx_lm_trigram_pruned" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = docs.select(col("doc_id"), col("text"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"))
        .cache().transform(graft.pipeline.StageCaches.track)
      val lm = TextAnalysis.ngramLmFitByClass(pred, "text", "doc_id",
        "pred_class", order = 3, minCount = 2)
      TextAnalysis.ngramLmApplyJoined(lm, pred, "text", "doc_id",
          "pred_class")
        .orderBy(col("doc_id"))
    }),

    // Wenzek et al.'s ACTUAL configuration: a 5-GRAM per-language model
    // on a PRUNED count set (minCount=2) through the generic order-n
    // stupid-backoff engine — ngramLmFitByClass (one count frame per
    // order, all classes in n aggregates) + ngramLmApplyJoined (2n-1
    // left joins + broadcast totals, flat in class count). The oracle
    // generates the same n-branch backoff CASE with the same HAVING
    // floor per order.
    "tx_lm_5gram_perlang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = docs.select(col("doc_id"), col("text"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"))
        .cache().transform(graft.pipeline.StageCaches.track)
      val lm = TextAnalysis.ngramLmFitByClass(pred, "text", "doc_id",
        "pred_class", order = 5, minCount = 2)
      TextAnalysis.ngramLmApplyJoined(lm, pred, "text", "doc_id",
          "pred_class")
        .orderBy(col("doc_id"))
    }),

    // Wenzek et al.'s actual SMOOTHING on top of the r17 configuration:
    // interpolated modified Kneser-Ney (KenLM's math — continuation
    // counts below the top order, Chen-Goodman D1/D2/D3+ from
    // count-of-counts, history-mass interpolation weights) as a
    // per-language 5-gram on the pruned count set, through
    // knLmFitByClass + the flat-in-class-count knLmApplyJoined. The
    // oracle generates the same recursion per order: adjusted-count
    // CTEs, discount CTEs with identical guards and clamps, and the
    // pp1..pp5 interpolation chain. Stupid backoff stays the documented
    // at-scale default (tx_lm_5gram_perlang); this is the published
    // scorer's semantics.
    "tx_lm_kn5_perlang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = docs.select(col("doc_id"), col("text"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"))
        .cache().transform(graft.pipeline.StageCaches.track)
      val lm = TextAnalysis.knLmFitByClass(pred, "text", "doc_id",
        "pred_class", order = 5, minCount = 2)
      TextAnalysis.knLmApplyJoined(lm, pred, "text", "doc_id",
          "pred_class")
        .orderBy(col("doc_id"))
    }),

    "tx_tfidf_topterms" -> ((s, dir) => {
      TextAnalysis.topTermsTfIdf(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---------- BM25 keyword retrieval + hybrid fusion ----------
    // BM25 top-10 for a fixed 3-term query; the ordering (and the k-cut)
    // is on the 4-decimal-rounded score with doc_id tie-break so the cut
    // reproduces across engines. The same doc-side impact math also feeds
    // the persisted sparse inverted index (Bm25.impactPostings ->
    // SparseIndex -> WAND serving, proven equal in Bm25Spec); this gate
    // value-checks the scoring itself.
    "tx_bm25_topk" -> ((s, dir) => {
      graft.pipeline.Bm25.scoreTopK(t(s, dir, "documents"), "text", "doc_id",
        Bm25Terms, k = 10)
    }),
    // Batch BM25: three keyword queries with overlapping term sets in one
    // pair of corpus passes (union-term stats + one scoring pass, then a
    // broadcast (qid, term) fan-out and per-query bounded-heap cut).
    "tx_bm25_batch" -> ((s, dir) => {
      graft.pipeline.Bm25.scoreTopKBatch(t(s, dir, "documents"), "text",
          "doc_id", Bm25BatchQueries, k = 10)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("score"))
        .orderBy(col("qid"), col("rank"))
    }),
    // Hybrid retrieval: reciprocal-rank fusion (k=60) of the dense cosine
    // ranking and the BM25 keyword ranking over the aligned doc/vec ids.
    // Both sides cut to top-50 via TakeOrderedAndProject BEFORE the
    // unpartitioned row_number ranks them — the global window only ever
    // sees 50 rows regardless of corpus size.
    "hy_rrf_fusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val qv = lit(SparkEntry.queryVectorOf(s, dir))
      val dense = t(s, dir, "embeddings")
        .withColumn("d", cosine_distance(col("embedding"), qv))
        .orderBy(col("d").asc, col("vec_id").asc).limit(50)
        .withColumn("drank",
          row_number().over(Window.orderBy(col("d").asc, col("vec_id").asc)))
        .select(col("vec_id").as("id"), col("drank"))
      val text = graft.pipeline.Bm25.scoreTopK(
          t(s, dir, "documents"), "text", "doc_id", Bm25Terms, k = 50)
        .withColumn("trank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id").as("id"), col("trank"))
      // RRF is a SUM of per-ranking contributions, so fuse by union +
      // groupBy, not a full-outer join (Spark can't broadcast either side
      // of a full outer, so a join here would shuffle; the union groupBy
      // is one exchange over <=100 rows, and double addition of the two
      // contributions is order-independent)
      dense.select(col("id"), (lit(1.0) / (lit(60) + col("drank"))).as("c"))
        .unionAll(text.select(col("id"), (lit(1.0) / (lit(60) + col("trank"))).as("c")))
        .groupBy(col("id"))
        .agg(round(sum(col("c")), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("id").asc)
        .limit(10)
        .select(col("id"), col("rrf"))
    }),
    // FILTERED hybrid retrieval: both sides rank over the FILTERED corpus
    // before fusion (filter-then-rank, the same semantics the single-query
    // path has). This gate pins the library composition with
    // fresh-filtered BM25 stats; the API path (GraftDb.hybridQuery), which
    // keeps the impact index's frozen full-corpus stats and restricts
    // CANDIDATES to the filtered live ids instead, is behavior-tested in
    // Round10Spec (a doc the filter excludes must vanish from the fusion).
    "hy_rrf_filtered" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val qv = lit(SparkEntry.queryVectorOf(s, dir))
      val langEn = t(s, dir, "documents").filter(col("lang") === "en")
      val dense = t(s, dir, "embeddings")
        .join(langEn.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi")
        .withColumn("d", cosine_distance(col("embedding"), qv))
        .orderBy(col("d").asc, col("vec_id").asc).limit(50)
        .withColumn("drank",
          row_number().over(Window.orderBy(col("d").asc, col("vec_id").asc)))
        .select(col("vec_id").as("id"), col("drank"))
      val text = graft.pipeline.Bm25.scoreTopK(
          langEn, "text", "doc_id", Bm25Terms, k = 50)
        .withColumn("trank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id").as("id"), col("trank"))
      dense.select(col("id"), (lit(1.0) / (lit(60) + col("drank"))).as("c"))
        .unionAll(text.select(col("id"), (lit(1.0) / (lit(60) + col("trank"))).as("c")))
        .groupBy(col("id"))
        .agg(round(sum(col("c")), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("id").asc)
        .limit(10)
        .select(col("id"), col("rrf"))
    }),

    // ---------- composed end-to-end corpus cleaning ----------
    "pl_clean_corpus" -> ((s, dir) => {
      Pipelines.cleanCorpus(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---------- kNN join (R1 analog) ----------
    "r1_knn_join" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val joined = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
        .crossJoin(broadcast(queries))
        .filter(col("qid") =!= col("nid"))
        .withColumn("d", l2sqr_distance(col("qv"), col("nv")))
      val w = Window.partitionBy(col("qid")).orderBy(col("d").asc, col("nid").asc)
      joined.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("nid"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Full kNN GRAPH (every row a query): bucketed join + bounded-heap
    // aggregate — the scale path the broadcast r1_knn_join can't take
    // (its query side must stay driver-small). Fixed first-16 "centroids"
    // make the multi-probe assignment oracle-reproducible, same trick as
    // dd_embed_bucketed.
    "r1_knn_graph" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect()
        .map { r =>
          val v = r.getSeq[Float](0).map(_.toDouble).toArray
          val n = math.sqrt(v.map(x => x * x).sum)
          v.map(_ / n)
        }
      graft.pipeline.KnnGraph.bucketed(emb, "embedding", "vec_id", cents,
          k = 5, probes = 2)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"))
        .orderBy(col("qid"), col("rank"))
    }),

    // ---------- event-stream analytics (batch mirror of the streaming ops) ----------
    "ev_hour_window" -> ((s, dir) => {
      // ts normalized to epoch-nanos; bucket with exact integer division
      graft.EventTime.tsNanos(t(s, dir, "events"))
        .withColumn("hour_bucket", expr("ts div 3600000000000"))
        .groupBy(col("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("hour_bucket"), col("event_type"))
    }),
    // the SAME hourly aggregation executed BY THE STREAMING ENGINE: an
    // AvailableNow run of EventStream.hourlyAggregate (watermarked
    // stateful agg) into a memory sink, hash-compared against the batch
    // oracle. Complete output mode, deliberately: append mode would hold
    // back every window the final watermark has not passed (the last
    // partial hour never emits), so only complete mode can equal the
    // batch answer on a bounded input.
    "ev_hour_stream" -> ((s, dir) => {
      val schema = t(s, dir, "events").schema
      // the streaming file source lists a DIRECTORY; the testdata tables
      // are single parquet files — stream through a symlinked temp dir
      val streamDir = java.nio.file.Files.createTempDirectory("ev_stream_src")
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val src = s.readStream.schema(schema)
        .parquet(streamDir.toString)
      val sink = s"ev_hour_stream_sink_${evStreamRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream.hourlyAggregate(src)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // materialize the (tiny: hours x event types) sink, then free the
      // per-run resources — repeated gate runs in one session must not
      // accumulate complete-mode memory sinks and temp symlink dirs
      val out = s.table(sink)
        .select(expr("unix_timestamp(window.start) div 3600").as("hour_bucket"),
          col("event_type"), col("n"), round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("hour_bucket"), col("event_type"))
      val local = s.createDataFrame(out.collectAsList(), out.schema)
      s.catalog.dropTempView(sink)
      java.nio.file.Files.deleteIfExists(streamDir.resolve("events.parquet"))
      java.nio.file.Files.deleteIfExists(streamDir)
      local
    }),
    // Streaming INCREMENTAL exact dedup (DocStream.incrementalDedup): the
    // crawl-snapshot ingest shape — dropDuplicates state in the checkpoint
    // dedups each new batch against everything already seen. The gate runs
    // one AvailableNow pass over the documents table; output is the
    // deterministic digest SET (the surviving row per digest depends on
    // arrival order, so only the digest column is part of the contract).
    "st_dedup_stream" -> ((s, dir) => {
      val schema = t(s, dir, "documents").schema
      val streamDir = java.nio.file.Files.createTempDirectory("st_dedup_src")
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("documents.parquet"),
        java.nio.file.Paths.get(s"$dir/documents.parquet"))
      val src = s.readStream.schema(schema).parquet(streamDir.toString)
      val sink = s"st_dedup_stream_sink_${evStreamRuns.incrementAndGet()}"
      val q = graft.streaming.DocStream.incrementalDedup(src)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = s.table(sink).select(col("digest")).orderBy(col("digest"))
      val local = s.createDataFrame(out.collectAsList(), out.schema)
      s.catalog.dropTempView(sink)
      java.nio.file.Files.deleteIfExists(streamDir.resolve("documents.parquet"))
      java.nio.file.Files.deleteIfExists(streamDir)
      local
    }),
    // Streaming INCREMENTAL paragraph dedup (DocStream
    // .incrementalParagraphDedup): the span-level twin of
    // st_dedup_stream — 25-token windows deduped by digest with the
    // state in the checkpoint. Contract = the surviving digest SET (and
    // the paragraph text, digest-determined); which occurrence survives
    // follows arrival order, so ids stay out of the hash.
    "st_paragraph_stream" -> ((s, dir) => {
      val schema = t(s, dir, "documents").schema
      val streamDir = java.nio.file.Files.createTempDirectory("st_para_src")
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("documents.parquet"),
        java.nio.file.Paths.get(s"$dir/documents.parquet"))
      val src = s.readStream.schema(schema).parquet(streamDir.toString)
        .select(col("doc_id"), split(col("text"), " ").as("__toks"))
        .select(col("doc_id"),
          graft.pipeline.Dedup.tokenWindows(col("__toks"), 25).as("paras"))
      val sink = s"st_para_stream_sink_${evStreamRuns.incrementAndGet()}"
      val q = graft.streaming.DocStream
        .incrementalParagraphDedup(src, "doc_id", col("paras"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = s.table(sink).select(col("digest"), col("para"))
        .orderBy(col("digest"))
      val local = s.createDataFrame(out.collectAsList(), out.schema)
      s.catalog.dropTempView(sink)
      java.nio.file.Files.deleteIfExists(streamDir.resolve("documents.parquet"))
      java.nio.file.Files.deleteIfExists(streamDir)
      local
    }),
    // streaming twin of maskRepeatedSpans (DocStream.incrementalSpanDedup):
    // k-gram shingle starts deduped by hash with checkpoint state — the
    // incremental form of arbitrary-alignment span dedup. Contract = the
    // distinct shingle-hash SET (which occurrence survives follows
    // arrival order, so ids/positions stay out of the hash).
    "st_span_stream" -> ((s, dir) => {
      val schema = t(s, dir, "documents").schema
      val streamDir = java.nio.file.Files.createTempDirectory("st_span_src")
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("documents.parquet"),
        java.nio.file.Paths.get(s"$dir/documents.parquet"))
      val src = s.readStream.schema(schema).parquet(streamDir.toString)
      val sink = s"st_span_stream_sink_${evStreamRuns.incrementAndGet()}"
      val q = graft.streaming.DocStream
        .incrementalSpanDedup(src, "doc_id", "text", k = 8)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = s.table(sink).select(col("h")).orderBy(col("h"))
      val local = s.createDataFrame(out.collectAsList(), out.schema)
      s.catalog.dropTempView(sink)
      java.nio.file.Files.deleteIfExists(streamDir.resolve("documents.parquet"))
      java.nio.file.Files.deleteIfExists(streamDir)
      local
    }),
    // streaming cleanCorpusFull twin: the C4+Gopher rule stages run
    // map-only INSIDE the microbatch, the span first-seen state lives in
    // the checkpoint (DocStream.cleanStreamEmit — deterministic
    // first-batch-then-min(id, pos) winners via flatMapGroupsWithState),
    // and the batch consumer (DocStream.cleanConsume) masks each doc
    // against the emitted set, drops fully-masked docs, exact-dedups.
    // One AvailableNow batch makes the winners equal the batch chain's,
    // so the mirror is pl_clean_full's SQL verbatim (same injected
    // corpus).
    "st_clean_stream" -> ((s, dir) => {
      val schema = t(s, dir, "documents").schema
      val streamDir = java.nio.file.Files.createTempDirectory("st_clean_src")
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("documents.parquet"),
        java.nio.file.Paths.get(s"$dir/documents.parquet"))
      def inject(df: org.apache.spark.sql.DataFrame) = df.withColumn("t2",
        concat(col("text"),
          lit(".\nshort line\nanother good line with words here.\n" +
            "this good line has five words.\n" +
            "javascript line with five good words.\n"),
          when(col("doc_id") % 7 === 0, lit("lorem ipsum here\n"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("brace { line\n"))
            .otherwise(lit(""))))
      val src = inject(s.readStream.schema(schema).parquet(streamDir.toString))
      val sink = s"st_clean_sink_${evStreamRuns.incrementAndGet()}"
      val q = graft.streaming.DocStream.cleanStreamEmit(src, "t2", "doc_id", 8)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = graft.streaming.DocStream.cleanConsume(
          inject(t(s, dir, "documents")), s.table(sink), "t2", "doc_id", 8)
        .select(col("doc_id"), md5(col("clean_text")).as("digest"),
          col("n_final"))
        .orderBy(col("doc_id"))
      val local = s.createDataFrame(out.collectAsList(), out.schema)
      s.catalog.dropTempView(sink)
      java.nio.file.Files.deleteIfExists(streamDir.resolve("documents.parquet"))
      java.nio.file.Files.deleteIfExists(streamDir)
      local
    }),
    // ALWAYS-ON streaming clean (DocStream.cleanConsumeIncremental): TWO
    // crawl snapshots (doc_id < 250, then the rest) each fold into the
    // span state via cleanStreamEmit on a SHARED checkpoint, mask
    // against the accumulated winner set, and exact-dedup through the
    // checkpointed digest state — snapshot 2 dedups against snapshot 1's
    // masked ingest WITHOUT re-reading it, across separate streaming
    // query restarts. Snapshot ids increase, so the accumulated output
    // equals the batch chain on the union corpus: the mirror is
    // pl_clean_full's SQL verbatim (a third engine on that oracle —
    // batch, one-shot stream, and now the always-on two-snapshot form).
    "st_clean_incr" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("st_clean_incr")
      val srcDir = base.resolve("src").toString
      val winsDir = base.resolve("winners").toString
      val ckEmit = base.resolve("ck_emit").toString
      val inbox = base.resolve("inbox").toString
      val ckDedup = base.resolve("ck_dedup").toString
      val outDir = base.resolve("out").toString
      val docs = t(s, dir, "documents")
      val schema = docs.schema
      def inject(df: org.apache.spark.sql.DataFrame) = df.withColumn("t2",
        concat(col("text"),
          lit(".\nshort line\nanother good line with words here.\n" +
            "this good line has five words.\n" +
            "javascript line with five good words.\n"),
          when(col("doc_id") % 7 === 0, lit("lorem ipsum here\n"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("brace { line\n"))
            .otherwise(lit(""))))
      def snapshot(pred: Column): Unit = {
        docs.filter(pred).write.mode("append").parquet(srcDir)
        val src = inject(s.readStream.schema(schema).parquet(srcDir))
        val q = graft.streaming.DocStream
          .cleanStreamEmit(src, "t2", "doc_id", 8)
          .writeStream.format("parquet")
          .option("path", winsDir).option("checkpointLocation", ckEmit)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.streaming.DocStream.cleanConsumeIncremental(
          inject(docs.filter(pred)), s.read.parquet(winsDir),
          inbox, ckDedup, outDir, "t2", "doc_id", 8)
      }
      snapshot(col("doc_id") < 250)
      snapshot(col("doc_id") >= 250)
      val out = s.read.parquet(outDir)
        .select(col("id").as("doc_id"), md5(col("clean_text")).as("digest"),
          col("n_final"))
        .orderBy(col("doc_id"))
      val local = s.createDataFrame(out.collectAsList(), out.schema)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      local
    }),
    // The RECOMMENDED always-on deployment shape, driver-gated: the same
    // two-snapshot fixture through the FULLY TTL-BOUNDED chain —
    // cleanStreamEmitTtl (span-winner state with event-time eviction) +
    // cleanConsumeIncremental(ttlMs) (TTL digest state) — so BOTH state
    // stores are bounded by the trailing window. The TTL (1h) spans the
    // gate's snapshots, and in-window the TTL and all-history semantics
    // COINCIDE (Round17Spec's equality, now oracle-checked): the mirror
    // is pl_clean_full's SQL verbatim — a fourth engine on that oracle.
    "st_clean_ttl" -> ((s, dir) => {
      val ttlMs = 3600L * 1000
      val base = java.nio.file.Files.createTempDirectory("st_clean_ttl")
      val srcDir = base.resolve("src").toString
      val winsDir = base.resolve("winners").toString
      val ckEmit = base.resolve("ck_emit").toString
      val inbox = base.resolve("inbox").toString
      val ckDedup = base.resolve("ck_dedup").toString
      val outDir = base.resolve("out").toString
      val docs = t(s, dir, "documents")
      val schema = docs.schema
      def inject(df: org.apache.spark.sql.DataFrame) = df.withColumn("t2",
        concat(col("text"),
          lit(".\nshort line\nanother good line with words here.\n" +
            "this good line has five words.\n" +
            "javascript line with five good words.\n"),
          when(col("doc_id") % 7 === 0, lit("lorem ipsum here\n"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("brace { line\n"))
            .otherwise(lit(""))))
      def snapshot(pred: Column): Unit = {
        docs.filter(pred).write.mode("append").parquet(srcDir)
        val src = inject(s.readStream.schema(schema).parquet(srcDir))
        val q = graft.streaming.DocStream
          .cleanStreamEmitTtl(src, ttlMs, "t2", "doc_id", 8)
          .writeStream.format("parquet")
          .option("path", winsDir).option("checkpointLocation", ckEmit)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.streaming.DocStream.cleanConsumeIncremental(
          inject(docs.filter(pred)), s.read.parquet(winsDir),
          inbox, ckDedup, outDir, "t2", "doc_id", 8, ttlMs = ttlMs)
      }
      snapshot(col("doc_id") < 250)
      snapshot(col("doc_id") >= 250)
      val out = s.read.parquet(outDir)
        .select(col("id").as("doc_id"), md5(col("clean_text")).as("digest"),
          col("n_final"))
        .orderBy(col("doc_id"))
      val local = s.createDataFrame(out.collectAsList(), out.schema)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      local
    }),
    // streaming twin of tx_langid_model: the classifier apply is
    // STATELESS map-only, so the same Column expression (hash-kernel
    // micro-sums included) runs unchanged in a microbatch plan — the
    // crawl-ingest shape: language-route documents as they arrive, no
    // state, no shuffle
    "st_langid_stream" -> ((s, dir) => {
      val schema = t(s, dir, "documents").schema
      val streamDir = java.nio.file.Files.createTempDirectory("st_langid_src")
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("documents.parquet"),
        java.nio.file.Paths.get(s"$dir/documents.parquet"))
      val src = s.readStream.schema(schema).parquet(streamDir.toString)
      val sink = s"st_langid_sink_${evStreamRuns.incrementAndGet()}"
      val q = src
        .select(col("doc_id"),
          TextAnalysis.linearClassifyLabel(col("text"), LangIdClasses,
            LangIdWeights, LangIdBiases).as("pred_class"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = s.table(sink).orderBy(col("doc_id"))
      val local = s.createDataFrame(out.collectAsList(), out.schema)
      s.catalog.dropTempView(sink)
      java.nio.file.Files.deleteIfExists(streamDir.resolve("documents.parquet"))
      java.nio.file.Files.deleteIfExists(streamDir)
      local
    }),
    "ev_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapNs = 30L * 60 * 1000000000L
      val sessioned = graft.EventTime.tsNanos(t(s, dir, "events"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessioned.groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
        .orderBy(col("user_id"), col("session_idx"))
    }),
    // as-of join: each purchase matched to the user's most recent prior
    // signup. Spark has no asof-join operator; the windowed last-match
    // formulation is the distributed equivalent (one shuffle on user_id,
    // no point-in-time cross join).
    "ev_asof_join" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .filter(col("event_type").isin("signup", "purchase"))
        .withColumn("last_signup",
          last(when(col("event_type") === "signup", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("last_signup"))
        .orderBy(col("event_id"))
    }),
    // non-equi interval join done scalably: purchases matched into the
    // 10-minute promo window after ANY signup (cross-user, so there is no
    // equi key) via bin-explode + equi-join — never a BNLJ/cartesian
    "ev_range_join" -> ((s, dir) => {
      val ev = graft.EventTime.tsNanos(t(s, dir, "events"))
      val win = 600L * 1000000000L // 10 min in ns
      val intervals = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("ts").as("w_start"),
          (col("ts") + win).as("w_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts"))
      Pipelines.rangeJoinBinned(purchases, "ts", intervals, "w_start", "w_end", win)
        .select(col("purchase_id"), col("signup_id"))
        .orderBy(col("purchase_id"), col("signup_id"))
    }),
    // sketch accuracy as a deterministic verdict row: HLL++ distinct and
    // approximate percentile within 5% of exact (both sketches are
    // deterministic for fixed input) — DuckDB cannot mirror Spark's sketch
    // internals, but it can assert the CONTRACT
    "q10_sketches" -> ((s, dir) => {
      import s.implicits._
      // exact distinct runs as its own HashAggregate job: a DISTINCT
      // aggregate mixed into the same agg() as the sketch aggregates
      // (TypedImperativeAggregate) forces an Expand + single-partition
      // SortAggregate over 2x the rows — 43 s vs ~3 s at sf0.1
      val li = t(s, dir, "lineitem")
      val exactD = li.select(col("l_orderkey")).distinct().count().toDouble
      val r = li.agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.01).cast("double"),
        expr("percentile(l_extendedprice, 0.5)"),
        expr("percentile_approx(l_extendedprice, 0.5, 1000)").cast("double")).head()
      val dOk = math.abs(r.getDouble(0) - exactD) / exactD <= 0.05
      val pOk = math.abs(r.getDouble(2) - r.getDouble(1)) / r.getDouble(1) <= 0.05
      Seq(((if (dOk) 1L else 0L), (if (pOk) 1L else 0L))).toDF("distinct_ok", "p50_ok")
    }),
    "js_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))
    }),

    // ---------- geo (P9 NEARBY) ----------
    "p9_geo_nearby" -> ((s, dir) => {
      // deterministic synthetic coordinates from the integer key
      val c = t(s, dir, "customer")
        .withColumn("lat", (col("c_custkey") * 37 % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("c_custkey") * 73 % 360 - 180).cast("double") + 0.5)
      val geo = c.withColumn("geo", struct(col("lat").as("latitude"), col("lon").as("longitude")))
      geo.filter(graft.filter.FilterTranslator.translate(
          "NEARBY(geo, 10.5, 20.5, 3000)", geo.schema))
        .select(col("c_custkey"),
          round(haversine_km(col("lat"), col("lon"), lit(10.5), lit(20.5)), 3).as("dist_km"))
        .orderBy(col("c_custkey"))
    }),

    // A3: geo-index uplift — prune to the grid cells intersecting the
    // query circle (the reference's R-tree candidate fetch,
    // expr_evaluator.cpp:260-282), then re-verify the exact predicate.
    // The oracle is the predicate WITHOUT pruning: a dropped candidate
    // would hash-fail, so the prune's completeness is driver-checked.
    "a3_geo_prune" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("lat", (col("c_custkey") * 37 % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("c_custkey") * 73 % 360 - 180).cast("double") + 0.5)
      val (cLat, cLon, r) = (0.5, 0.5, 2000.0)
      val cells = graft.functions.geoCellsForRadius(cLat, cLon, r, cellDeg = 5.0)
      c.withColumn("cell", graft.functions.geo_cell(col("lat"), col("lon"), 5.0))
        .filter(col("cell").isin(cells: _*)) // index prune
        .filter(graft.functions.haversine_km(col("lat"), col("lon"),
          lit(cLat), lit(cLon)) <= r) // residual verify
        .select(col("c_custkey")).orderBy(col("c_custkey"))
    }),

    // S6: CSV source round-trip — write scalar columns as CSV, read back
    // through the CSV source; identity vs the parquet-sourced oracle
    "s6_csv_load" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_csv_${math.abs(dir.hashCode)}"
      t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT").csv(out)
        .orderBy(col("doc_id"))
    }),

    // ---------- multimodal plumbing ----------
    "mm_features" -> ((s, dir) => {
      Multimodal.extractFeatures(
          Multimodal.withBinaryPayload(t(s, dir, "documents"), "text"))
        .select(col("doc_id"), col("n_bytes"), col("first_byte"), col("checksum"))
        .orderBy(col("doc_id"))
    }),

    // Real media decode, end-to-end on executors: synthesize a PNG per doc
    // (dims a pure function of doc_id), decode it back through ImageIO, and
    // report the MEASURED dims/bands — the oracle recomputes them
    // arithmetically, so any decode failure or dimension drift hash-fails.
    "mm_decode" -> ((s, dir) => {
      Multimodal.extractFeatures(
          Multimodal.synthesizeImages(
            t(s, dir, "documents").filter(col("doc_id") < 400)))
        .select(col("doc_id"), col("width"), col("height"), col("n_channels"))
        .orderBy(col("doc_id"))
    }),

    // Typed media classification, end-to-end on executors: each doc gets a
    // payload whose FORMAT is a pure function of doc_id (real PNG; webp /
    // mp3 / mp4 headers the JDK cannot decode; plain text), and the
    // extraction's media_status verdict must match the oracle's CASE
    // arithmetic — a decodable format misrouted to the stub, or an
    // unsupported one faked through it, hash-fails.
    "mm_status" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id").cast(LongType))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val rows = docs.rdd.map { r =>
        val id = r.getLong(0)
        val payload: Array[Byte] = (id % 5) match {
          case 0 => Multimodal.syntheticPng((8 + id % 16).toInt, (8 + id % 7).toInt, id)
          case 1 => "RIFF\u0000\u0000\u0000\u0000WEBPVP8 ".getBytes("ISO-8859-1") ++
            new Array[Byte](16)
          case 2 => "ID3\u0004\u0000".getBytes("ISO-8859-1") ++ new Array[Byte](16)
          case 3 => Array[Byte](0, 0, 0, 0x20) ++ "ftypisom".getBytes("ISO-8859-1") ++
            new Array[Byte](16)
          case _ => s"plain text $id".getBytes("UTF-8")
        }
        Row(id, payload)
      }
      Multimodal.extractFeatures(s.createDataFrame(rows, schema))
        .select(col("doc_id"), col("media_status"))
        .orderBy(col("doc_id"))
    }),

    // WebP header-metadata decode, end-to-end on executors: per-doc VP8L
    // (lossless) containers whose packed 14-bit dims are a pure function
    // of doc_id; the pure-JVM header parser must recover them exactly —
    // the oracle recomputes the dims arithmetically (the webp analog of
    // mm_decode's PNG round-trip).
    "mm_webp" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id").cast(LongType))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val rows = docs.rdd.map { r =>
        val id = r.getLong(0)
        val w = 1 + (id % 64).toInt
        val h = 1 + (id % 31).toInt
        val v = (w - 1) | ((h - 1) << 14)
        val payload = "RIFF".getBytes("ISO-8859-1") ++ Array[Byte](0, 0, 0, 0) ++
          "WEBP".getBytes("ISO-8859-1") ++ "VP8L".getBytes("ISO-8859-1") ++
          Array[Byte](0, 0, 0, 0, 0x2f,
            (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
            ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte) ++
          new Array[Byte](16)
        Row(id, payload)
      }
      Multimodal.extractFeatures(s.createDataFrame(rows, schema))
        .select(col("doc_id"), col("media_status"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    }),

    // MP4 header-metadata decode: per-doc ISO-BMFF containers (ftyp +
    // moov{mvhd, trak{tkhd}}) whose duration and track dims are pure
    // functions of doc_id; the box-walking parser must recover them, the
    // oracle recomputes them arithmetically.
    "mm_mp4" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id").cast(LongType))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val rows = docs.rdd.map { r =>
        val id = r.getLong(0)
        val w = 100 + (id % 50).toInt
        val h = 50 + (id % 25).toInt
        val durMs = 1000 + (id % 977).toInt
        val bb = java.nio.ByteBuffer.allocate(152)
        bb.putInt(16); bb.put("ftypisom".getBytes("ISO-8859-1")); bb.putInt(0)
        bb.putInt(136); bb.put("moov".getBytes("ISO-8859-1"))
        bb.putInt(28); bb.put("mvhd".getBytes("ISO-8859-1"))
        bb.putInt(0); bb.putInt(0); bb.putInt(0) // ver/flags, ctime, mtime
        bb.putInt(1000); bb.putInt(durMs) // timescale 1000 -> duration IS ms
        bb.putInt(100); bb.put("trak".getBytes("ISO-8859-1"))
        bb.putInt(92); bb.put("tkhd".getBytes("ISO-8859-1"))
        (0 until 19).foreach(_ => bb.putInt(0)) // v0 header through the matrix
        bb.putInt(w << 16); bb.putInt(h << 16) // 16.16 fixed
        Row(id, bb.array())
      }
      Multimodal.extractFeatures(s.createDataFrame(rows, schema))
        .select(col("doc_id"), col("media_status"), col("width"),
          col("height"), col("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // MP3 header-metadata decode: per-doc CBR streams (one valid MPEG-1
    // Layer III 128 kbps joint-stereo frame header + doc_id-sized padding);
    // channels and the CBR duration estimate (bytes*8/bitrate) must match
    // the oracle's arithmetic.
    "mm_mp3" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id").cast(LongType))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val rows = docs.rdd.map { r =>
        val id = r.getLong(0)
        // 0xff 0xfb 0x90 0x64 = MPEG-1 Layer III, 128 kbps, 44.1 kHz,
        // joint stereo; payload length = 4 + id % 1000
        val payload = Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0x64) ++
          new Array[Byte]((id % 1000).toInt)
        Row(id, payload)
      }
      Multimodal.extractFeatures(s.createDataFrame(rows, schema))
        .select(col("doc_id"), col("media_status"), col("n_channels"),
          col("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // DSIR importance scoring (Xie et al. 2023): hashed unigram+bigram
    // bucket models (B = 256) fit on target (lang = 'en') vs raw (all
    // docs) with add-1 smoothing; each doc's log importance weight is
    // an EXACT micro-unit Long (quantized ratios summed per occurrence
    // through the map-only langID kernel), so both engines hash-compare
    // integers — zero float drift in the headline column. Fit is one
    // tagged-union count aggregate bounded by B rows.
    "tx_dsir_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.pipeline.Dsir.fit(docs.filter(col("lang") === "en"),
        docs, "text", wordNgrams = 2, buckets = 256, alpha = 1.0)
      graft.pipeline.Dsir.score(docs, "text", model)
        .select(col("doc_id"), col("dsir_logw_micro"))
        .orderBy(col("doc_id"))
    }),

    // the end-to-end DSIR pipeline: score (above) + Gumbel top-k
    // resampling — k = 25% of the corpus drawn without replacement
    // ∝ the importance weight, the Gumbel noise a deterministic
    // md5-hash of the doc id so the "random" sample replays identically
    // in DuckDB. One TakeOrderedAndProject, never a global sort.
    "pl_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.pipeline.Dsir.fit(docs.filter(col("lang") === "en"),
        docs, "text", wordNgrams = 2, buckets = 256, alpha = 1.0)
      val k = (docs.count() / 4).toInt
      graft.pipeline.Dsir.resample(
          graft.pipeline.Dsir.score(docs, "text", model), "doc_id", k)
        .select(col("doc_id"), round(col("dsir_key"), 4).as("dsir_key"))
        .orderBy(col("doc_id"))
    }))

  val oracle: Map[String, String] = Map(
    "dd_exact_dups" ->
      """SELECT md5(text) AS digest, count(*) AS n, min(doc_id) AS min_id
        |FROM documents GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY digest""".stripMargin,
    "dd_paragraph_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, CAST(i AS INT) AS idx,
        |    array_to_string(t[((i-1)*25+1):least(i*25, len(t))], ' ') AS para
        |  FROM toks, unnest(range(1, CAST(ceil(len(t)/25.0) AS BIGINT) + 1)) u(i)),
        |kept AS (SELECT doc_id, idx, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
        |  FROM chunks)
        |SELECT doc_id,
        |  coalesce(array_to_string(list(para ORDER BY idx) FILTER (WHERE rn = 1), ' '), '') AS clean_text,
        |  count(*) AS n_paras,
        |  count(*) FILTER (WHERE rn > 1) AS n_dropped
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_span_mask" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks toks FROM documents),
         |${sqlSpanOcc(8)},
         |ranked AS (SELECT *, row_number()
         |    OVER (PARTITION BY h ORDER BY doc_id, pos) rn FROM occ),
         |masked AS (SELECT DISTINCT doc_id, pos + u.j AS p
         |           FROM ranked, unnest(range(0, least(8, n))) u(j)
         |           WHERE rn > 1),
         |tr AS (SELECT t.doc_id, CAST(u.i AS INT) p, toks[u.i+1] tk
         |       FROM tok t, unnest(range(0, len(toks))) u(i)),
         |mr AS (SELECT tr.doc_id, tr.p, tr.tk, m.p IS NOT NULL msk
         |       FROM tr LEFT JOIN masked m
         |         ON tr.doc_id = m.doc_id AND tr.p = m.p),
         |agg AS (SELECT doc_id,
         |    coalesce(array_to_string(list(tk ORDER BY p)
         |      FILTER (WHERE NOT msk), ' '), '') clean_text,
         |    count(*) n_tokens,
         |    count(*) FILTER (WHERE msk) n_masked
         |  FROM mr GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |  coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.n_masked, 0) AS n_masked
         |FROM tok t LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dd_jaccard_pairs" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_distinct($sqlToks) toks FROM documents WHERE doc_id < 200)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
         |FROM tok a JOIN tok b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    "dd_minhash_lsh" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $sqlToks toks FROM documents),
         |tkh AS (SELECT doc_id, $sqlTokenHashes th FROM tok),
         |h AS (SELECT doc_id, $sqlShingleHashes hs FROM tkh),
         |sig AS (SELECT doc_id, ${sqlMinhashSig(32)} sig FROM h),
         |bands AS (
         |  SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS key
         |  FROM sig, (SELECT unnest(range(8)) b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
         |tokd AS (SELECT doc_id, list_distinct(toks) toks FROM tok),
         |jac AS (
         |  SELECT id_a, id_b,
         |    CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE) /
         |      (len(x.toks) + len(y.toks) - len(list_intersect(x.toks, y.toks))) AS j
         |  FROM cand JOIN tokd x ON cand.id_a = x.doc_id JOIN tokd y ON cand.id_b = y.doc_id)
         |SELECT id_a, id_b, round(j, 6) AS jaccard FROM jac WHERE j >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    "tx_scrub" -> {
      import graft.pipeline.TextAnalysis.{UrlPattern, EmailPattern, LongDigitsPattern}
      s"""WITH base AS (
         |  SELECT doc_id, text || CASE WHEN doc_id % 5 = 0
         |    THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
         |         '@example.com see http://ex.com/p/' || CAST(doc_id AS VARCHAR) ||
         |         ' ref 1234567890'
         |    ELSE '' END AS t FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$UrlPattern', '<URL>', 'g'),
         |    '$EmailPattern', '<EMAIL>', 'g'),
         |    '$LongDigitsPattern', '<NUM>', 'g') AS scrubbed,
         |  len(regexp_extract_all(t, '$UrlPattern')) AS n_urls,
         |  len(regexp_extract_all(t, '$EmailPattern')) AS n_emails,
         |  len(regexp_extract_all(t, '$LongDigitsPattern')) AS n_nums
         |FROM base ORDER BY doc_id""".stripMargin
    },
    "pl_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000 <
         |  CASE WHEN lang = 'en' THEN 500 WHEN lang = 'de' THEN 250 ELSE 100 END
         |ORDER BY doc_id""".stripMargin,
    "pl_mixture_sample" ->
      s"""WITH cnt AS (
         |  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
         |tot AS (SELECT sum(n) AS nn, sum(sqrt(n)) AS z FROM cnt),
         |rates AS (
         |  SELECT lang, round(least(1.0, 0.3 * tot.nn * sqrt(cnt.n) / tot.z / cnt.n), 6) AS rate
         |  FROM cnt, tot)
         |SELECT d.doc_id, d.lang FROM documents d JOIN rates r ON d.lang = r.lang
         |WHERE ${sqlHash60("CAST(d.doc_id AS VARCHAR)")} % 1000 < r.rate * 1000
         |ORDER BY d.doc_id""".stripMargin,
    "tx_bpe_tokens" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, $sqlToks toks FROM documents),
         |$sqlBpeWordParts,
         |occ AS (SELECT doc_id, CAST(u.i AS INT) pos, toks[u.i+1] w
         |        FROM tok, unnest(range(0, len(toks))) u(i)),
         |subs AS (SELECT o.doc_id, o.pos, CAST(u.j AS INT) sj, wp.parts[u.j+1] sub
         |         FROM occ o JOIN wp ON o.w = wp.w,
         |           unnest(range(0, len(wp.parts))) u(j)),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_bpe,
         |        array_to_string((list(sub ORDER BY pos, sj))[1:12], ' ') bpe_head
         |        FROM subs GROUP BY doc_id)
         |SELECT t.doc_id, CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_bpe,
         |  coalesce(a.bpe_head, '') AS bpe_head
         |FROM tok t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    "pl_semdedup" -> {
      val dot = "list_sum(list_transform(list_zip(a.v, b.v), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
      val na = "sqrt(list_sum(list_transform(a.v, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
      val nb = "sqrt(list_sum(list_transform(b.v, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
      s"""WITH RECURSIVE nrm AS (
         |  SELECT vec_id, embedding,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
         |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS nv
         |  FROM embeddings),
         |asg AS (
         |  SELECT x.vec_id AS id, x.embedding AS v,
         |    (SELECT c.vec_id FROM nrm c WHERE c.vec_id < 16
         |     ORDER BY list_sum(list_transform(list_zip(x.nv, c.nv),
         |       p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, c.vec_id ASC LIMIT 1) AS cluster
         |  FROM nrm x),
         |edges AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
         |  WHERE $dot / ($na * $nb) >= 0.2),
         |und AS (SELECT id_a AS s, id_b AS d FROM edges
         |        UNION ALL SELECT id_b AS s, id_a AS d FROM edges),
         |nodes AS (SELECT DISTINCT s AS id FROM und),
         |reach AS (
         |  SELECT id, id AS comp FROM nodes
         |  UNION
         |  SELECT u.s AS id, r.comp FROM und u JOIN reach r ON u.d = r.id),
         |labs AS (SELECT id AS vec_id, CAST(min(comp) AS BIGINT) AS cluster
         |         FROM reach GROUP BY id),
         |j AS (SELECT e.vec_id, e.label, coalesce(l.cluster, e.vec_id) AS grp
         |      FROM embeddings e LEFT JOIN labs l USING (vec_id)),
         |rk AS (SELECT vec_id, label,
         |         row_number() OVER (PARTITION BY grp
         |           ORDER BY label DESC, vec_id ASC) AS rn
         |       FROM j)
         |SELECT vec_id, label FROM rk WHERE rn = 1 ORDER BY vec_id""".stripMargin
    },
    "pl_clean_full" -> sqlCleanFullSql,
    "st_clean_stream" -> sqlCleanFullSql,
    // the fully TTL-bounded always-on chain: in-window, TTL and
    // all-history semantics coincide, so the batch mirror serves verbatim
    "st_clean_ttl" -> sqlCleanFullSql,
    // third engine on the same oracle: two snapshots + shared
    // checkpoints must reproduce the batch chain on the union corpus
    "st_clean_incr" -> sqlCleanFullSql,
    "tx_c4_clean" ->
      s"""WITH inj AS (SELECT doc_id,
         |    text || '.' || chr(10) || 'short line' || chr(10) ||
         |    'another good line with words here.' || chr(10) ||
         |    'this good line has five words.' || chr(10) ||
         |    'javascript line with five good words.' || chr(10) ||
         |    (CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum here' || chr(10) ELSE '' END) ||
         |    (CASE WHEN doc_id % 11 = 0 THEN 'brace { line' || chr(10) ELSE '' END) AS t2
         |  FROM documents),
         |st AS (SELECT doc_id, t2, string_split(t2, chr(10)) lines FROM inj),
         |k AS (SELECT doc_id, t2, lines,
         |    list_filter(lines, l -> regexp_matches(trim(l), '[.!?"]$$')
         |      AND len(regexp_split_to_array(trim(l), '\\s+')) >= 5
         |      AND NOT contains(lower(l), 'javascript')) kept
         |  FROM st),
         |c AS (SELECT doc_id, t2, lines, kept,
         |    array_to_string(kept, chr(10)) clean_text FROM k)
         |SELECT doc_id, clean_text,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS BIGINT) AS n_sentences,
         |  (NOT contains(lower(t2), 'lorem ipsum') AND NOT contains(t2, '{')
         |   AND len(regexp_extract_all(clean_text, '[.!?]')) >= 3) AS keep_doc
         |FROM c ORDER BY doc_id""".stripMargin,
    "tx_gopher_rules" -> {
      val stops = TextAnalysis.GopherStops.map(s => s"'$s'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, text, $sqlToks toks FROM documents),
         |st AS (SELECT doc_id, text, toks, len(toks) n,
         |    list_filter(string_split(text, chr(10)),
         |      l -> length(trim(l)) > 0) lines
         |  FROM tok),
         |r AS (SELECT doc_id, n, len(lines) nl,
         |    (n >= 50 AND n <= 100000) AS word_count_ok,
         |    CASE WHEN n = 0 THEN false ELSE
         |      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / n
         |        BETWEEN 3.0 AND 10.0 END AS mean_word_len_ok,
         |    CASE WHEN n = 0 THEN false ELSE
         |      CAST(length(text) - length(replace(text, '#', '')) +
         |        len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) / n
         |        <= 0.1 END AS symbol_ratio_ok,
         |    CASE WHEN len(lines) = 0 THEN true ELSE
         |      CAST(len(list_filter(lines,
         |          l -> regexp_matches(trim(l), '^[•\\-\\*]'))) AS DOUBLE)
         |        / len(lines) <= 0.9 END AS bullet_ratio_ok,
         |    CASE WHEN len(lines) = 0 THEN true ELSE
         |      CAST(len(list_filter(lines,
         |          l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)
         |        / len(lines) <= 0.3 END AS ellipsis_ratio_ok,
         |    CASE WHEN n = 0 THEN false ELSE
         |      CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
         |        AS DOUBLE) / n >= 0.8 END AS alpha_word_ok,
         |    len(list_filter([$stops],
         |      s -> list_contains(list_transform(toks, t -> lower(t)), s))) >= 2
         |      AS stop_word_ok
         |  FROM st)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_words, word_count_ok,
         |  mean_word_len_ok, symbol_ratio_ok, bullet_ratio_ok,
         |  ellipsis_ratio_ok, alpha_word_ok, stop_word_ok,
         |  (word_count_ok AND mean_word_len_ok AND symbol_ratio_ok AND
         |   bullet_ratio_ok AND ellipsis_ratio_ok AND alpha_word_ok AND
         |   stop_word_ok) AS pass_gopher
         |FROM r ORDER BY doc_id""".stripMargin
    },
    "tx_quality_model" ->
      s"""WITH w(tok, wt) AS (SELECT * FROM (VALUES $sqlQualityWeights) v(tok, wt)),
         |tok AS (SELECT doc_id, $sqlToks toks FROM documents),
         |ex AS (SELECT doc_id, len(toks) n, unnest(toks) t FROM tok),
         |sc AS (SELECT ex.doc_id, any_value(ex.n) AS n,
         |    sum(coalesce(CAST(round(w.wt * 1e6) AS BIGINT), 0)) AS sm
         |  FROM ex LEFT JOIN w ON ex.t = w.tok GROUP BY ex.doc_id),
         |z AS (SELECT t.doc_id,
         |    0.1 + CASE WHEN coalesce(sc.n, 0) > 0
         |      THEN (CAST(sc.sm AS DOUBLE) / 1e6) / sc.n ELSE 0.0 END AS zz
         |  FROM tok t LEFT JOIN sc USING (doc_id))
         |SELECT doc_id, round(1.0 / (1.0 + exp(-zz)), 6) AS q_model
         |FROM z ORDER BY doc_id""".stripMargin,
    "tx_bpe_fit" -> sqlBpeFit(12),
    "tx_linear_fit" -> sqlLinearFit(3, 0.5),
    "tx_linear_fit_bigram" -> sqlLinearFit(2, 0.5, ngrams = 2),
    "tx_linear_fit_hashed" -> sqlLinearFit(2, 0.5, ngrams = 2, buckets = 64),
    // the joined-weight path must land on the SAME model as the driver
    // path — one oracle, two engines
    "tx_linear_fit_joined" -> sqlLinearFit(3, 0.5),
    // w12 of the fit chain IS each training word's merge-order apply
    // result (applying a learned list in rank order = the training
    // segmentation); join word occurrences back in document order
    "tx_bpe_apply_merges" ->
      s"""WITH ${sqlBpeFitChain(12)},
         |occ AS (SELECT t.doc_id, u.i AS pos, t.toks[u.i] AS w
         |  FROM tok t, unnest(range(1, len(t.toks)+1)) u(i)),
         |sub AS (SELECT o.doc_id, o.pos, w12.toks AS parts
         |  FROM occ o JOIN w12 ON o.w = w12.w),
         |agg AS (SELECT doc_id, sum(len(parts)) AS n_sub,
         |    flatten(list(parts ORDER BY pos)) AS allsub
         |  FROM sub GROUP BY doc_id),
         |base AS (SELECT d.doc_id, coalesce(a.n_sub, 0) AS n_sub,
         |    coalesce(a.allsub, CAST([] AS VARCHAR[])) AS allsub
         |  FROM documents d LEFT JOIN agg a USING (doc_id))
         |SELECT doc_id, CAST(n_sub AS BIGINT) AS n_sub,
         |  md5(array_to_string(allsub[1:12], ' ')) AS first12_md5
         |FROM base ORDER BY doc_id""".stripMargin,
    "st_langid_stream" ->
      s"""WITH $sqlLangIdChain
         |SELECT doc_id, c AS pred_class FROM lr WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    "pl_ccnet_perlang" -> sqlCcnetPerlang,
    // ONE ORACLE, MANY ENGINES: the joined-model gates reuse the
    // per-language mirror VERBATIM — the one-pass fit and the single
    // (class, bg) join must land on exactly the per-class chains' rows
    "pl_ccnet_joined" -> sqlCcnetPerlang,
    // ... and the fully-distributed form (DataFrame langID + long LM)
    "pl_ccnet_distributed" -> sqlCcnetPerlang,
    "tx_lm_trigram_perlang" ->
      s"""WITH $sqlTrigramPerlangChain
         |SELECT doc_id, pred_class, lm_nll FROM allg
         |ORDER BY doc_id""".stripMargin,
    // same chain with the minCount=2 HAVING floor on all three count
    // CTEs — the pruned-model mirror
    "tx_lm_trigram_pruned" ->
      s"""WITH ${sqlTrigramPerlangChain(2)}
         |SELECT doc_id, pred_class, lm_nll FROM allg
         |ORDER BY doc_id""".stripMargin,
    // the generated order-5 backoff chain at the same floor
    "tx_lm_5gram_perlang" ->
      s"""WITH ${sqlNgramPerlangChain(5, 2)}
         |SELECT doc_id, pred_class, lm_nll FROM allq
         |ORDER BY doc_id""".stripMargin,
    // the generated order-5 interpolated modified-KN chain at the same
    // floor — the published scorer's smoothing
    "tx_lm_kn5_perlang" ->
      s"""WITH ${sqlKnPerlangChain(5, 2)}
         |SELECT doc_id, pred_class, lm_nll FROM allk
         |ORDER BY doc_id""".stripMargin,
    // the composed 5-gram CCNet: the SAME generated chains feeding the
    // tercile/mix tail
    "pl_ccnet_5gram" ->
      s"""WITH ${sqlNgramPerlangChain(5, 2)},
         |tscored AS (SELECT pred_class, doc_id, lm_nll
         |  FROM allq WHERE lm_nll IS NOT NULL),
         |${sqlTercileBuckets("pred_class")}
         |SELECT doc_id, pred_class, bucket FROM b
         |WHERE bucket = 1 OR (bucket = 2 AND
         |  ${sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000 < 500)
         |ORDER BY doc_id""".stripMargin,
    // the composed KN CCNet: the SAME generated modified-KN chains
    // feeding the same tercile/mix tail
    "pl_ccnet_kn5" ->
      s"""WITH ${sqlKnPerlangChain(5, 2)},
         |tscored AS (SELECT pred_class, doc_id, lm_nll
         |  FROM allk WHERE lm_nll IS NOT NULL),
         |${sqlTercileBuckets("pred_class")}
         |SELECT doc_id, pred_class, bucket FROM b
         |WHERE bucket = 1 OR (bucket = 2 AND
         |  ${sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000 < 500)
         |ORDER BY doc_id""".stripMargin,
    // the composed trigram CCNet: the SAME per-language trigram chains
    // feeding the tercile/mix tail
    "pl_ccnet_trigram" ->
      s"""WITH $sqlTrigramPerlangChain,
         |tscored AS (SELECT pred_class, doc_id, lm_nll
         |  FROM allg WHERE lm_nll IS NOT NULL),
         |${sqlTercileBuckets("pred_class")}
         |SELECT doc_id, pred_class, bucket FROM b
         |WHERE bucket = 1 OR (bucket = 2 AND
         |  ${sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000 < 500)
         |ORDER BY doc_id""".stripMargin,
    "pl_ccnet" ->
      s"""WITH $sqlLmNll,
         |$sqlLangIdChain,
         |pred AS (SELECT doc_id, c AS pred_class FROM lr WHERE rn = 1),
         |tscored AS (SELECT p.pred_class, lm.doc_id, lm.lm_nll
         |  FROM lm JOIN pred p ON lm.doc_id = p.doc_id
         |  WHERE lm.lm_nll IS NOT NULL),
         |${sqlTercileBuckets("pred_class")}
         |SELECT doc_id, pred_class, bucket FROM b
         |WHERE bucket = 1 OR (bucket = 2 AND
         |  ${sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000 < 500)
         |ORDER BY doc_id""".stripMargin,
    "tx_langid_model" ->
      s"""WITH $sqlLangIdChain
         |SELECT doc_id, c AS pred_class, round(zz, 6) AS z_max
         |FROM lr WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // the joined-model apply must land on the SAME predictions and
    // scores — one oracle, two engines
    "tx_langid_joined" ->
      s"""WITH $sqlLangIdChain
         |SELECT doc_id, c AS pred_class, round(zz, 6) AS z_max
         |FROM lr WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "pl_pack_bpe" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, $sqlToks toks FROM documents),
         |$sqlBpeWordParts,
         |wc AS (SELECT w, CAST(len(parts) AS BIGINT) n_sub FROM wp),
         |occ AS (SELECT doc_id, unnest(toks) w FROM tok),
         |sized0 AS (SELECT o.doc_id, sum(wc.n_sub) n_tokens
         |           FROM occ o JOIN wc USING (w) GROUP BY o.doc_id),
         |sized AS (SELECT t.doc_id, CAST(coalesce(s.n_tokens, 0) AS BIGINT) n_tokens
         |          FROM tok t LEFT JOIN sized0 s USING (doc_id)),
         |packed AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         |      / 2000.0) AS BIGINT) AS batch_id
         |  FROM sized)
         |SELECT batch_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM packed GROUP BY batch_id ORDER BY batch_id""".stripMargin,
    "pl_chunk_bpe" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, $sqlToks toks FROM documents),
         |$sqlBpeWordParts,
         |occ AS (SELECT t.doc_id, u.i AS pos, t.toks[u.i] AS w
         |  FROM tok t, unnest(range(1, len(t.toks)+1)) u(i)),
         |sub AS (SELECT o.doc_id, o.pos, wp.parts
         |  FROM occ o JOIN wp ON o.w = wp.w),
         |agg AS (SELECT doc_id, flatten(list(parts ORDER BY pos)) AS subs
         |  FROM sub GROUP BY doc_id),
         |st AS (SELECT doc_id, subs AS toks2, len(subs) AS n FROM agg
         |  WHERE len(subs) > 0),
         |ch AS (SELECT s.doc_id, u.i AS chunk_idx,
         |    array_to_string(s.toks2[(u.i*48+1):(u.i*48+64)], ' ') AS ctext,
         |    least(64, s.n - u.i*48) AS nc
         |  FROM st s, unnest(range(0, CAST(ceil((s.n - 1) / 48.0) AS BIGINT) + 1)) u(i)
         |  WHERE u.i = 0 OR (u.i - 1)*48 + 64 < s.n)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(nc AS BIGINT) AS n_chunk_tokens, md5(ctext) AS chunk_md5
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "pl_chunk_train" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks toks FROM documents),
         |st AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0),
         |ch AS (SELECT s.doc_id, u.i AS chunk_idx,
         |    array_to_string(s.toks[(u.i*48+1):(u.i*48+64)], ' ') AS ctext,
         |    least(64, s.n - u.i*48) AS nc
         |  FROM st s, unnest(range(0, CAST(ceil((s.n - 1) / 48.0) AS BIGINT) + 1)) u(i)
         |  WHERE u.i = 0 OR (u.i - 1)*48 + 64 < s.n)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(nc AS BIGINT) AS n_chunk_tokens, md5(ctext) AS chunk_md5
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "pl_pack_batches" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks toks FROM documents),
         |sized AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok),
         |packed AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         |      / 2000.0) AS BIGINT) AS batch_id
         |  FROM sized)
         |SELECT batch_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM packed GROUP BY batch_id ORDER BY batch_id""".stripMargin,
    "pl_pack_sharded" ->
      s"""WITH tok AS (SELECT doc_id, lang, $sqlToks toks FROM documents),
         |sized AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok),
         |packed AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         |      / 2000.0) AS BIGINT) AS batch_id
         |  FROM sized)
         |SELECT lang, batch_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM packed GROUP BY lang, batch_id ORDER BY lang, batch_id""".stripMargin,
    "dd_contamination" -> sqlContamination,
    // the bloom pre-filter form is EXACT (no false negatives + exact
    // re-check), so it shares the exact operator's oracle verbatim —
    // the fourth-engine-on-one-oracle pattern
    "dd_contamination_bloom" -> sqlContamination,

    // contamination chain + threshold anti-join; zero-overlap docs are
    // absent from the overlap frame and therefore survive the NOT IN
    "dd_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks toks FROM documents),
         |tkh AS (SELECT doc_id, $sqlTokenHashes th FROM tok),
         |h AS (SELECT doc_id, list_distinct($sqlShingleHashes) hs FROM tkh),
         |bench AS (SELECT DISTINCT x.h FROM (
         |  SELECT unnest(hs) AS h FROM h WHERE doc_id < 20) x),
         |cand AS (SELECT doc_id, len(hs) AS n_shingles, unnest(hs) AS h
         |  FROM h WHERE doc_id >= 20),
         |ov AS (SELECT c.doc_id,
         |    round(CAST(count(*) AS DOUBLE) / c.n_shingles, 6) AS overlap
         |  FROM cand c JOIN bench b ON c.h = b.h
         |  GROUP BY c.doc_id, c.n_shingles),
         |flagged AS (SELECT doc_id FROM ov WHERE overlap > 0.2)
         |SELECT doc_id, md5(text) AS digest FROM documents
         |WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM flagged)
         |ORDER BY doc_id""".stripMargin,
    "v2_sparse_inverted" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $sqlToks toks FROM documents),
         |posting AS (
         |  SELECT doc_id, ${sqlHash60("t.tok")} % 1024 AS dim, count(*) AS v
         |  FROM tok, unnest(toks) AS t(tok) GROUP BY 1, 2),
         |q AS (SELECT dim, v AS qval FROM posting WHERE doc_id = 0)
         |SELECT p.doc_id, CAST(sum(p.v * q.qval) AS BIGINT) AS dot
         |FROM posting p JOIN q ON p.dim = q.dim
         |GROUP BY p.doc_id
         |ORDER BY dot DESC, p.doc_id ASC LIMIT 20""".stripMargin,
    // index-over-prefix + fresh-tail union must equal the FULL corpus scan
    "v2_sparse_tail" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $sqlToks toks FROM documents),
         |posting AS (
         |  SELECT doc_id, ${sqlHash60("t.tok")} % 1024 AS dim, count(*) AS v
         |  FROM tok, unnest(toks) AS t(tok) GROUP BY 1, 2),
         |q AS (SELECT dim, v AS qval FROM posting WHERE doc_id = 0)
         |SELECT p.doc_id, CAST(sum(p.v * q.qval) AS BIGINT) AS dot
         |FROM posting p JOIN q ON p.dim = q.dim
         |GROUP BY p.doc_id
         |ORDER BY dot DESC, p.doc_id ASC LIMIT 20""".stripMargin,
    "dd_dup_clusters" ->
      s"""WITH RECURSIVE $sqlDupClusterCtes
         |SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS cluster
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "dd_dup_survivors" ->
      s"""WITH RECURSIVE $sqlDupClusterCtes,
         |labs AS (SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS cluster
         |         FROM reach GROUP BY id),
         |j AS (SELECT d.doc_id, d.n_chars, coalesce(l.cluster, d.doc_id) AS grp
         |      FROM documents d LEFT JOIN labs l USING (doc_id)),
         |rk AS (SELECT doc_id,
         |         row_number() OVER (PARTITION BY grp
         |           ORDER BY n_chars DESC, doc_id ASC) AS rn
         |       FROM j)
         |SELECT doc_id FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dd_simhash_fp" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $sqlToks toks FROM documents WHERE doc_id < 500),
         |h AS (SELECT doc_id, list_transform(toks, s -> ${sqlHash60("s")}) hs FROM tok)
         |SELECT doc_id, $sqlSimhash AS simhash FROM h ORDER BY doc_id""".stripMargin,
    "dd_embed_cosine" -> {
      val dot = "list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
      val na = "sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
      val nb = "sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round($dot / ($na * $nb), 6) AS cos_sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE a.vec_id < 300 AND b.vec_id < 300 AND $dot / ($na * $nb) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin
    },
    "dd_embed_bucketed" -> {
      val dot = "list_sum(list_transform(list_zip(a.v, b.v), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
      val na = "sqrt(list_sum(list_transform(a.v, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
      val nb = "sqrt(list_sum(list_transform(b.v, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
      s"""WITH nrm AS (
         |  SELECT vec_id, embedding,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
         |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS nv
         |  FROM embeddings),
         |asg AS (
         |  SELECT x.vec_id AS id, x.embedding AS v,
         |    (SELECT c.vec_id FROM nrm c WHERE c.vec_id < 16
         |     ORDER BY list_sum(list_transform(list_zip(x.nv, c.nv),
         |       p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, c.vec_id ASC LIMIT 1) AS cluster
         |  FROM nrm x)
         |SELECT a.id AS id_a, b.id AS id_b, round($dot / ($na * $nb), 6) AS cos_sim
         |FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
         |WHERE $dot / ($na * $nb) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin
    },
    "tx_stats" -> {
      val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      val langCases = {
        val scores = TextAnalysis.LangProfiles.map { case (lang, markers) =>
          lang -> s"len(list_filter(ltoks, w -> w IN (${markers.map(m => s"'$m'").mkString(", ")})))"
        }
        val best = s"greatest(${scores.map(_._2).mkString(", ")})"
        val whens = scores.map { case (lang, sc) =>
          s"WHEN $sc = $best AND $sc > 0 THEN '$lang'"
        }.mkString(" ")
        s"CASE $whens ELSE 'und' END"
      }
      s"""WITH tok AS (
         |  SELECT doc_id, text, $sqlToks toks FROM documents),
         |tok2 AS (
         |  SELECT *, list_transform(toks, w -> lower(w)) ltoks, $sqlTokenHashes th FROM tok),
         |tok3 AS (
         |  SELECT *, $sqlShingleHashes hs FROM tok2)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  round(CASE WHEN len(toks) > 0 THEN CAST(length(text) AS DOUBLE)/len(toks) ELSE 0 END, 4) AS avg_token_len,
         |  round(CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, w -> w IN ($stop))) AS DOUBLE)/len(toks) ELSE 0 END, 4) AS stopword_ratio,
         |  round(CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)/length(text) ELSE 0 END, 4) AS punct_ratio,
         |  $langCases AS lang_pred,
         |  CASE WHEN len(hs) = 0 THEN 0 ELSE list_min(hs) END AS fingerprint,
         |  CASE WHEN len(hs) = 0 THEN 0.0
         |       ELSE round(1.0 - CAST(len(list_distinct(hs)) AS DOUBLE) / len(hs), 4) END AS dup_shingle_ratio
         |FROM tok3 ORDER BY doc_id""".stripMargin
    },
    "tx_quality_agg" -> {
      val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, lang, text, $sqlToks toks FROM documents),
         |q AS (
         |  SELECT doc_id, lang,
         |    least(CAST(length(text) AS DOUBLE)/500.0, 1.0) AS len_score,
         |    CASE WHEN len(toks) > 0 AND CAST(length(text) AS DOUBLE)/len(toks) >= 3
         |              AND CAST(length(text) AS DOUBLE)/len(toks) <= 12 THEN 1.0 ELSE 0.3 END AS toklen_score,
         |    least(CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, w -> w IN ($stop))) AS DOUBLE)/len(toks) ELSE 0 END * 4.0, 1.0) AS stop_score,
         |    CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)/length(text) ELSE 0 END) <= 0.2 THEN 1.0
         |         ELSE greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)/length(text)) * 2) END AS punct_score
         |  FROM tok),
         |scored AS (
         |  SELECT lang, round(len_score*0.3 + toklen_score*0.2 + stop_score*0.3 + punct_score*0.2, 6) AS quality FROM q)
         |SELECT lang, count(*) AS n, round(avg(quality), 6) AS avg_quality,
         |  round(min(quality), 6) AS min_quality
         |FROM scored GROUP BY lang ORDER BY lang""".stripMargin
    },
    "tx_zipf_stats" ->
      s"""WITH tok AS (SELECT unnest($sqlToks) AS w FROM documents),
         |tf AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
         |               CAST(sum(f) AS BIGINT) AS n_tokens FROM tf),
         |top AS (SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, w) AS DOUBLE)) AS x,
         |               ln(CAST(f AS DOUBLE)) AS y
         |        FROM tf ORDER BY f DESC, w LIMIT 100),
         |sl AS (SELECT round((avg(x*y) - avg(x)*avg(y)) /
         |                    (avg(x*x) - avg(x)*avg(x)), 4) AS zipf_slope
         |       FROM top)
         |SELECT tot.n_types, tot.n_tokens, sl.zipf_slope FROM tot, sl""".stripMargin,
    "tx_repetition" ->
      s"""WITH tok AS (SELECT doc_id, text, $sqlToks toks0 FROM documents),
         |capped AS (SELECT doc_id, text, toks0[1:512] AS toks FROM tok),
         |lns AS (SELECT doc_id, toks,
         |  list_filter(string_split(text, chr(10)), x -> len(trim(x)) > 0) AS lines
         |  FROM capped),
         |g AS (SELECT doc_id, lines, toks,
         |  CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) ELSE CAST([] AS VARCHAR[]) END AS bg,
         |  CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) ELSE CAST([] AS VARCHAR[]) END AS tg,
         |  CASE WHEN len(toks) >= 2 THEN len(list_filter(range(1, len(toks)), i -> toks[i] = toks[i+1])) ELSE 0 END AS adj
         |  FROM lns),
         |g2 AS (SELECT *,
         |  CASE WHEN len(bg) > 0 THEN list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) ELSE 0 END AS topbg
         |  FROM g)
         |SELECT doc_id,
         |  CASE WHEN len(lines) > 0 THEN round(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines), 6) ELSE 0.0 END AS dup_line_frac,
         |  CASE WHEN list_sum(list_transform(lines, x -> len(x))) > 0
         |       THEN round(CAST(list_sum(list_transform(lines, x -> len(x))) - list_sum(list_transform(list_distinct(lines), x -> len(x))) AS DOUBLE) / list_sum(list_transform(lines, x -> len(x))), 6)
         |       ELSE 0.0 END AS dup_line_char_frac,
         |  CASE WHEN topbg > 1 THEN round(CAST(topbg AS DOUBLE) / len(bg), 6) ELSE 0.0 END AS top_bigram_frac,
         |  CASE WHEN len(tg) > 0 THEN round(1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg), 6) ELSE 0.0 END AS dup_trigram_frac,
         |  CASE WHEN len(toks) >= 2 THEN round(CAST(adj AS DOUBLE) / (len(toks) - 1), 6) ELSE 0.0 END AS adj_dup_frac
         |FROM g2 ORDER BY doc_id""".stripMargin,
    "tx_lm_score" ->
      s"""WITH $sqlLmNll
         |SELECT doc_id, lm_nll FROM lm ORDER BY doc_id""".stripMargin,
    "tx_lm_apply" ->
      s"""WITH ttok AS (SELECT doc_id, ($sqlToks)[1:512] AS toks
         |    FROM documents WHERE doc_id < 250),
         |tbge AS (SELECT doc_id,
         |    unnest(CASE WHEN len(toks) >= 2
         |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |      ELSE CAST([] AS VARCHAR[]) END) AS bg
         |  FROM ttok),
         |tdbg AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1, count(*) AS m
         |  FROM tbge GROUP BY 1, 2, 3),
         |tm AS (SELECT bg, w1, sum(m) AS c_bg FROM tdbg GROUP BY bg, w1),
         |tlc AS (SELECT w1, sum(c_bg) AS c_left FROM tm GROUP BY w1),
         |tv AS (SELECT count(DISTINCT w) AS v
         |  FROM (SELECT unnest(toks) AS w FROM ttok) u),
         |atok AS (SELECT doc_id, ($sqlToks)[1:512] AS toks
         |    FROM documents WHERE doc_id >= 250),
         |abge AS (SELECT doc_id,
         |    unnest(CASE WHEN len(toks) >= 2
         |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |      ELSE CAST([] AS VARCHAR[]) END) AS bg
         |  FROM atok),
         |adbg AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1, count(*) AS m
         |  FROM abge GROUP BY 1, 2, 3),
         |alp AS (SELECT a.doc_id,
         |    -sum(a.m * ln((coalesce(tm.c_bg, 0) + 0.5) /
         |                  (coalesce(tlc.c_left, 0) + 0.5 * tv.v))) / sum(a.m) AS nll
         |  FROM adbg a LEFT JOIN tm ON a.bg = tm.bg
         |    LEFT JOIN tlc ON a.w1 = tlc.w1 CROSS JOIN tv
         |  GROUP BY a.doc_id)
         |SELECT d.doc_id, round(l.nll, 4) AS lm_nll
         |FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
         |  LEFT JOIN alp l ON d.doc_id = l.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // the held-out fit/apply split on the SAME parameterized chain the
    // per-language gates use — one copy of the trigram mirror semantics
    "tx_lm_trigram" ->
      s"""WITH tfit AS (SELECT * FROM documents WHERE doc_id < 250),
         |tscore AS (SELECT * FROM documents WHERE doc_id >= 250),
         |${sqlTrigramNllFor("t", "tfit", "tscore")}
         |SELECT doc_id, lm_nll FROM tm ORDER BY doc_id""".stripMargin,
    // held-out KN: the generated recursion with fit/score split
    "tx_lm_kn_heldout" ->
      s"""WITH kfit AS (SELECT * FROM documents WHERE doc_id < 250),
         |kscore AS (SELECT * FROM documents WHERE doc_id >= 250),
         |${sqlKnNllFor("kh", "kfit", "kscore", 3, 1)}
         |SELECT doc_id, lm_nll FROM khm ORDER BY doc_id""".stripMargin,
    "pl_lm_buckets" ->
      s"""WITH $sqlLmNll,
         |tscored AS (SELECT d.lang, lm.doc_id, lm.lm_nll
         |  FROM lm JOIN documents d ON lm.doc_id = d.doc_id
         |  WHERE lm.lm_nll IS NOT NULL),
         |${sqlTercileBuckets("lang")}
         |SELECT lang, bucket, count(*) AS n_docs,
         |  min(lm_nll) AS min_nll, max(lm_nll) AS max_nll
         |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "pl_lm_mix" ->
      s"""WITH $sqlLmNll,
         |tscored AS (SELECT d.lang, lm.doc_id, lm.lm_nll
         |  FROM lm JOIN documents d ON lm.doc_id = d.doc_id
         |  WHERE lm.lm_nll IS NOT NULL),
         |${sqlTercileBuckets("lang")}
         |SELECT doc_id, lang, bucket FROM b
         |WHERE bucket = 1 OR (bucket = 2 AND
         |  ${sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000 < 500)
         |ORDER BY doc_id""".stripMargin,
    "tx_tfidf_topterms" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks toks FROM documents),
         |ex AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM ex GROUP BY doc_id, word),
         |docf AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM ex) GROUP BY word),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.word, tf.tf * ln(n.n / docf.df) AS score
         |  FROM tf JOIN docf ON tf.word = docf.word, n),
         |ranked AS (
         |  SELECT doc_id, word, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, word, round(score, 4) AS score
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "tx_bm25_topk" ->
      s"""WITH $sqlBm25Ctes
         |SELECT doc_id, score FROM bm25
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "tx_bm25_batch" -> {
      val allTerms = Bm25BatchQueries.flatMap { case (_, ts) => ts }.distinct
      val qvals = Bm25BatchQueries.flatMap { case (qid, ts) =>
        ts.map(t => s"(CAST($qid AS BIGINT), '$t')") }.mkString(", ")
      s"""WITH ${sqlBm25CtesFor(allTerms)},
         |qterms(qid, term) AS (VALUES $qvals),
         |bq AS (SELECT q.qid, s.doc_id, round(sum(s.impact), 4) AS score
         |       FROM bscored s JOIN qterms q USING (term)
         |       GROUP BY q.qid, s.doc_id),
         |brk AS (SELECT qid, doc_id, score,
         |          row_number() OVER (PARTITION BY qid
         |            ORDER BY score DESC, doc_id ASC) AS rank
         |        FROM bq)
         |SELECT qid, rank, doc_id, score FROM brk WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin
    },
    "hy_rrf_fusion" -> {
      val dot = "list_sum(list_transform(list_zip(e.embedding, q.embedding), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
      def norm(a: String) = s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
      s"""WITH $sqlBm25Ctes,
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |dsc AS (SELECT e.vec_id,
         |          1.0 - $dot / (${norm("e.embedding")} * ${norm("q.embedding")}) AS d
         |        FROM embeddings e, qv q),
         |d50 AS (SELECT vec_id, d FROM dsc ORDER BY d ASC, vec_id ASC LIMIT 50),
         |dense AS (SELECT vec_id AS id,
         |            row_number() OVER (ORDER BY d ASC, vec_id ASC) AS drank
         |          FROM d50),
         |t50 AS (SELECT doc_id, score FROM bm25
         |        ORDER BY score DESC, doc_id ASC LIMIT 50),
         |txt AS (SELECT doc_id AS id,
         |          row_number() OVER (ORDER BY score DESC, doc_id ASC) AS trank
         |        FROM t50),
         |fused AS (
         |  SELECT coalesce(dense.id, txt.id) AS id,
         |    round(coalesce(1.0 / (60 + drank), 0.0) +
         |          coalesce(1.0 / (60 + trank), 0.0), 6) AS rrf
         |  FROM dense FULL OUTER JOIN txt ON dense.id = txt.id)
         |SELECT id, rrf FROM fused ORDER BY rrf DESC, id ASC LIMIT 10""".stripMargin
    },
    "hy_rrf_filtered" -> {
      val dot = "list_sum(list_transform(list_zip(e.embedding, q.embedding), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
      def norm(a: String) = s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
      s"""WITH fdocs AS (SELECT * FROM documents WHERE lang = 'en'),
         |${sqlBm25CtesFor(Bm25Terms, "fdocs")},
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |dsc AS (SELECT e.vec_id,
         |          1.0 - $dot / (${norm("e.embedding")} * ${norm("q.embedding")}) AS d
         |        FROM embeddings e JOIN fdocs f ON e.vec_id = f.doc_id, qv q),
         |d50 AS (SELECT vec_id, d FROM dsc ORDER BY d ASC, vec_id ASC LIMIT 50),
         |dense AS (SELECT vec_id AS id,
         |            row_number() OVER (ORDER BY d ASC, vec_id ASC) AS drank
         |          FROM d50),
         |t50 AS (SELECT doc_id, score FROM bm25
         |        ORDER BY score DESC, doc_id ASC LIMIT 50),
         |txt AS (SELECT doc_id AS id,
         |          row_number() OVER (ORDER BY score DESC, doc_id ASC) AS trank
         |        FROM t50),
         |fused AS (
         |  SELECT coalesce(dense.id, txt.id) AS id,
         |    round(coalesce(1.0 / (60 + drank), 0.0) +
         |          coalesce(1.0 / (60 + trank), 0.0), 6) AS rrf
         |  FROM dense FULL OUTER JOIN txt ON dense.id = txt.id)
         |SELECT id, rrf FROM fused ORDER BY rrf DESC, id ASC LIMIT 10""".stripMargin
    },
    "pl_clean_corpus" -> {
      val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, text, $sqlToks toks FROM documents),
         |q AS (
         |  SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    round(
         |      least(CAST(length(text) AS DOUBLE)/500.0, 1.0) * 0.3 +
         |      (CASE WHEN len(toks) > 0 AND CAST(length(text) AS DOUBLE)/len(toks) >= 3
         |            AND CAST(length(text) AS DOUBLE)/len(toks) <= 12 THEN 1.0 ELSE 0.3 END) * 0.2 +
         |      least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, w -> w IN ($stop))) AS DOUBLE)/len(toks) ELSE 0 END) * 4.0, 1.0) * 0.3 +
         |      (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)/length(text) ELSE 0 END) <= 0.2 THEN 1.0
         |            ELSE greatest(0.0, 1.0 - (CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)/length(text) ELSE 0 END) * 2) END) * 0.2,
         |      6) AS quality
         |  FROM tok),
         |qual AS (SELECT * FROM q WHERE quality >= 0.5),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM qual),
         |ex AS (SELECT doc_id, text, toks, n_tokens, quality FROM ranked WHERE rn = 1),
         |tkh AS (SELECT doc_id, $sqlTokenHashes th FROM ex),
         |h AS (SELECT doc_id, $sqlShingleHashes hs FROM tkh),
         |sig AS (SELECT doc_id, ${sqlMinhashSig(32)} sig FROM h),
         |bands AS (
         |  SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS key
         |  FROM sig, (SELECT unnest(range(8)) b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
         |tokd AS (SELECT doc_id, list_distinct(toks) dtoks FROM ex),
         |losers AS (
         |  SELECT DISTINCT id_b FROM cand
         |  JOIN tokd x ON cand.id_a = x.doc_id JOIN tokd y ON cand.id_b = y.doc_id
         |  WHERE CAST(len(list_intersect(x.dtoks, y.dtoks)) AS DOUBLE) /
         |    (len(x.dtoks) + len(y.dtoks) - len(list_intersect(x.dtoks, y.dtoks))) >= 0.5)
         |SELECT doc_id, n_tokens, quality FROM ex
         |WHERE doc_id NOT IN (SELECT id_b FROM losers)
         |ORDER BY doc_id""".stripMargin
    },
    "r1_knn_join" -> {
      val d = "list_sum(list_transform(list_zip(q.embedding, n.embedding), x -> (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))**2))"
      s"""WITH ranked AS (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $d ASC, n.vec_id ASC) AS rank
         |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 20)
         |SELECT qid, rank, nid FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
    },
    "r1_knn_graph" -> {
      val asgDist = "list_sum(list_transform(list_zip(x.nv, c.nv), p -> (p[1]-p[2])*(p[1]-p[2])))"
      val d = "list_sum(list_transform(list_zip(q.qv, n.nv2), x -> (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))**2))"
      s"""WITH nrm AS (
         |  SELECT vec_id, embedding,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
         |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS nv
         |  FROM embeddings),
         |prox AS (
         |  SELECT x.vec_id AS id, x.embedding AS v, c.vec_id AS cluster,
         |    row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY $asgDist ASC, c.vec_id ASC) AS pr
         |  FROM nrm x JOIN nrm c ON c.vec_id < 16),
         |asgq AS (SELECT id AS qid, v AS qv, cluster FROM prox WHERE pr <= 2),
         |asgn AS (SELECT id AS nid, v AS nv2, cluster FROM prox WHERE pr = 1),
         |ranked AS (
         |  SELECT q.qid, n.nid,
         |    row_number() OVER (PARTITION BY q.qid ORDER BY $d ASC, n.nid ASC) AS rank
         |  FROM asgq q JOIN asgn n ON q.cluster = n.cluster AND q.qid <> n.nid)
         |SELECT qid, rank, nid FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
    },
    "ev_hour_window" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin,
    // the streaming twin must land on the exact same batch answer
    "st_dedup_stream" ->
      """SELECT DISTINCT md5(text) AS digest FROM documents
        |ORDER BY digest""".stripMargin,
    "st_paragraph_stream" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id,
        |    array_to_string(t[((i-1)*25+1):least(i*25, len(t))], ' ') AS para
        |  FROM toks, unnest(range(1, CAST(ceil(len(t)/25.0) AS BIGINT) + 1)) u(i))
        |SELECT DISTINCT md5(para) AS digest, para FROM chunks
        |ORDER BY digest""".stripMargin,
    "st_span_stream" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks toks FROM documents),
         |${sqlSpanOcc(8)}
         |SELECT DISTINCT h FROM occ ORDER BY h""".stripMargin,
    "ev_hour_stream" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin,
    "ev_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_tns
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, tns,
        |    CASE WHEN prev_tns IS NULL OR tns - prev_tns > 1800000000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |sess AS (
        |  SELECT user_id, event_id,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM m)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(event_id) AS first_event, max(event_id) AS last_event
        |FROM sess GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "ev_asof_join" ->
      """SELECT event_id, user_id, last_signup FROM (
        |  SELECT event_id, user_id, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup
        |  FROM events WHERE event_type IN ('signup', 'purchase'))
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "ev_range_join" ->
      """SELECT p.event_id AS purchase_id, s.event_id AS signup_id
        |FROM events p, events s
        |WHERE p.event_type = 'purchase' AND s.event_type = 'signup'
        |  AND epoch_ns(p.ts) >= epoch_ns(s.ts)
        |  AND epoch_ns(p.ts) <= epoch_ns(s.ts) + 600000000000
        |ORDER BY purchase_id, signup_id""".stripMargin,
    "q10_sketches" ->
      "SELECT CAST(1 AS BIGINT) AS distinct_ok, CAST(1 AS BIGINT) AS p50_ok",
    "js_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "p9_geo_nearby" -> {
      val lat = "(CAST(c_custkey * 37 % 180 - 90 AS DOUBLE) + 0.5)"
      val lon = "(CAST(c_custkey * 73 % 360 - 180 AS DOUBLE) + 0.5)"
      val rad = "0.017453292519943295" // Pi/180, exact double literal both engines
      val d = s"2.0 * 6371.0 * asin(sqrt(pow(sin(($lat - 10.5) * $rad / 2.0), 2) + " +
        s"cos(10.5 * $rad) * cos($lat * $rad) * pow(sin(($lon - 20.5) * $rad / 2.0), 2)))"
      s"""SELECT c_custkey, round($d, 3) AS dist_km FROM customer
         |WHERE $d <= 3000 ORDER BY c_custkey""".stripMargin
    },
    "a3_geo_prune" -> {
      val lat = "(CAST(c_custkey * 37 % 180 - 90 AS DOUBLE) + 0.5)"
      val lon = "(CAST(c_custkey * 73 % 360 - 180 AS DOUBLE) + 0.5)"
      val rad = "0.017453292519943295" // Pi/180, exact double literal both engines
      val d = s"2.0 * 6371.0 * asin(sqrt(pow(sin(($lat - 0.5) * $rad / 2.0), 2) + " +
        s"cos(0.5 * $rad) * cos($lat * $rad) * pow(sin(($lon - 0.5) * $rad / 2.0), 2)))"
      s"""SELECT c_custkey FROM customer
         |WHERE $d <= 2000 ORDER BY c_custkey""".stripMargin
    },
    "s6_csv_load" ->
      """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""",
    "mm_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
        |  CAST(list_sum(list_transform(range(length(text)), i -> ascii(substr(text, i+1, 1)))) % 997 AS BIGINT) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_decode" ->
      """SELECT doc_id, CAST(8 + doc_id % 16 AS INT) AS width,
        |  CAST(8 + doc_id % 7 AS INT) AS height, CAST(3 AS INT) AS n_channels
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,
    "mm_status" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'ok:png' WHEN 1 THEN 'unsupported:webp'
        |    WHEN 2 THEN 'unsupported:mp3' WHEN 3 THEN 'unsupported:mp4'
        |    ELSE 'stub' END AS media_status
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,
    "mm_webp" ->
      """SELECT doc_id, 'ok:webp' AS media_status,
        |  CAST(1 + doc_id % 64 AS INT) AS width,
        |  CAST(1 + doc_id % 31 AS INT) AS height
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,
    "mm_mp4" ->
      """SELECT doc_id, 'ok:mp4' AS media_status,
        |  CAST(100 + doc_id % 50 AS INT) AS width,
        |  CAST(50 + doc_id % 25 AS INT) AS height,
        |  CAST(1000 + doc_id % 977 AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,
    "mm_mp3" ->
      """SELECT doc_id, 'ok:mp3' AS media_status,
        |  CAST(2 AS INT) AS n_channels,
        |  CAST((4 + doc_id % 1000) * 8 // 128 AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,

    "tx_dsir_score" ->
      s"""WITH ${sqlDsirChain(256)}
         |SELECT doc_id, dsir_logw_micro FROM ds ORDER BY doc_id""".stripMargin,

    // Gumbel top-k: key = logw + (-ln(-ln u)), u a deterministic hash of
    // the id; rank by (key desc, id) and keep the top count/4 — drawn
    // without replacement ∝ the importance weight. round-4 on the key
    // follows the LM gates' ln-math discipline.
    "pl_dsir_select" ->
      s"""WITH ${sqlDsirChain(256)},
         |dkey AS (SELECT doc_id,
         |    CAST(dsir_logw_micro AS DOUBLE) / 1e6
         |    - ln(-ln((CAST(${sqlHash60("'g:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS DOUBLE) + 0.5) / 1e6)) AS kk
         |  FROM ds),
         |dnum AS (SELECT CAST(count(*) // 4 AS BIGINT) AS k FROM ds),
         |dsel AS (SELECT doc_id, kk,
         |    row_number() OVER (ORDER BY kk DESC, doc_id ASC) AS rn FROM dkey)
         |SELECT doc_id, round(kk, 4) AS dsir_key FROM dsel
         |WHERE rn <= (SELECT k FROM dnum) ORDER BY doc_id""".stripMargin)
}
