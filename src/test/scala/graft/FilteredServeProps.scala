package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index.{ServeProbe, ServeTier}
import ServeCalls._

/** Randomized equivalence harness for the filtered serving tier: the
  * SimpleConjuncts comparison kernels (evaluated over the scalar
  * residency) must agree with the Catalyst plan FilterTranslator compiles
  * from the SAME filter string, on NULL-bearing data across every typed
  * column, operator, and conjunction width the serve sub-grammar admits.
  * One index build; every trial is a full-probe serve (exhaustive sweep ⇒
  * the mask is the only variable) against `search(preFilter)`. This is
  * the property-style backstop behind the hand-picked Round10/11
  * equality tests — a kernel/coercion divergence on any reachable
  * (type, op, literal, null) combination fails here. */
class FilteredServeProps extends SparkSpec {

  test("servePointFiltered equals search+preFilter over random conjunctions and NULL-bearing data") {
    val rnd = new scala.util.Random(421100L)
    val n = 700
    def maybeNull[A <: AnyRef](v: A): A =
      if (rnd.nextInt(8) == 0) null.asInstanceOf[A] else v
    val rows = (0 until n).map { i =>
      Row(i.toLong,
        maybeNull(java.lang.Long.valueOf(rnd.nextInt(50).toLong)),
        maybeNull(java.lang.Double.valueOf(math.rint(rnd.nextDouble() * 1000) / 10.0)),
        maybeNull("s" + rnd.nextInt(20)),
        maybeNull(java.lang.Boolean.valueOf(rnd.nextBoolean())),
        Seq.fill(4)(rnd.nextFloat()))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("lc", LongType, nullable = true),
        StructField("dc", DoubleType, nullable = true),
        StructField("sc", StringType, nullable = true),
        StructField("bc", BooleanType, nullable = true),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
    val path = tmpDir("r11_filter_props")
    val idx = graft.index.IvfIndex.build(spark, df, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
    idx.setServeFilterColumns(Seq("lc", "dc", "sc", "bc"))
    val schema = graft.types.TableSchema("P", Seq(
      graft.types.FieldSchema("id", graft.types.FieldType.BigInt, primaryKey = true),
      graft.types.FieldSchema("lc", graft.types.FieldType.BigInt),
      graft.types.FieldSchema("dc", graft.types.FieldType.Double8),
      graft.types.FieldSchema("sc", graft.types.FieldType.Str),
      graft.types.FieldSchema("bc", graft.types.FieldType.Bool),
      graft.types.FieldSchema("vec", graft.types.FieldType.VectorFloat, dimensions = 4)))
    val nAll = idx.centroids().length
    val q = Array(0.5f, 0.5f, 0.5f, 0.5f)
    val ordOps = Array("<", "<=", ">", ">=", "=", "<>")
    var nonEmptyTrials = 0
    for (trial <- 0 until 30) {
      val parts = (0 to rnd.nextInt(2)).map { _ =>
        rnd.nextInt(5) match {
          case 0 => s"lc ${ordOps(rnd.nextInt(6))} ${rnd.nextInt(50)}"
          // integral-literal-vs-double-column coercion is a trap the
          // kernels must share with Catalyst — exercise it explicitly
          case 1 => s"dc ${ordOps(rnd.nextInt(6))} ${rnd.nextInt(100)}"
          case 2 => s"dc ${ordOps(rnd.nextInt(6))} ${math.rint(rnd.nextDouble() * 1000) / 10.0}"
          case 3 => s"sc ${if (rnd.nextBoolean()) "=" else "<>"} 's${rnd.nextInt(20)}'"
          case 4 => s"bc ${if (rnd.nextBoolean()) "=" else "<>"} ${if (rnd.nextBoolean()) "TRUE" else "FALSE"}"
        }
      }
      val filter = parts.mkString(" AND ")
      val conds = graft.filter.SimpleConjuncts.parse(filter, schema)
        .getOrElse(fail(s"sub-grammar rejected its own production: $filter"))
      val got = idx.serveOne("vec", q, 10, ServeProbe.Nearest(nAll), conds = conds)
        .map(_.hits)
      assert(got.isDefined, s"trial $trial declined: $filter")
      val expect = idx.search("vec", q, 10, ServeProbe.Nearest(nAll),
          preFilter = Some(graft.filter.FilterTranslator.translate(filter, df.schema)))
        .select(col("id")).collect().map(_.getLong(0)).toSeq
      assert(got.get.map(_._1).toSeq == expect,
        s"trial $trial diverged on: $filter\n" +
          s"served ${got.get.map(_._1).toSeq} vs plan $expect")
      if (expect.nonEmpty) nonEmptyTrials += 1
    }
    // the harness must actually exercise matches, not vacuous empties
    assert(nonEmptyTrials >= 15, s"fixture too selective: $nonEmptyTrials")
  }
}
