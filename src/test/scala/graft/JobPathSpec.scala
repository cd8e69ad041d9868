package graft

import graft.api.GraftDb
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The job path: reads the serve tier does not answer (PK gets, paged
  * gets with facets, queries whose filter the serve grammar declines).
  * Live rows come from a driver-cached tombstone mask shipped once per
  * tombstone version, or, above `maxServeTombstones`, from an anti-join
  * against the tombstone files; a bounded render is one collect. */
class JobPathSpec extends SparkSpec {

  private val pkGet = """{"table":"T","primaryKeys":[10,11,12],"response":["ID","label"]}"""
  private val pagedGet =
    """{"table":"T","filter":"label = 3 AND ID < 400","skip":2,"limit":5,
      |"response":["ID","Doc"],
      |"facets":[{"group":["label"],"aggregate":["COUNT(*)"]}]}""".stripMargin
  private val orQuery =
    """{"table":"T","queryVector":[0.5,0.5,0.5,0.5],"limit":10,
      |"filter":"label = 1 OR label = 7","withDistance":true}""".stripMargin

  /** 600 rows, then two PK deletes and one upsert: three tombstones. */
  private def fixture(dir: String): GraftDb = {
    val db = new GraftDb(spark, tmpDir(dir))
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"label","dataType":"INT"},
        |{"name":"Doc","dataType":"STRING"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val rows = (1 to 600).map { i =>
      Row(i.toLong, i % 10, s"doc $i", Seq((i % 83) / 83.0f, (i % 47) / 47.0f,
        (i % 29) / 29.0f, (i % 13) / 13.0f))
    }
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("label", IntegerType),
        StructField("Doc", StringType),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    db.delete("""{"table":"T","primaryKeys":[11,23]}""")
    db.insert(
      """{"table":"T","upsert":true,"data":[
        |{"ID":33,"label":3,"Doc":"doc 33 v2","V":[0.5,0.5,0.5,0.5]}]}""".stripMargin)
    db
  }

  private def ids(resp: String): Seq[Long] =
    (JsonMethods.parse(resp) \ "result").asInstanceOf[JArray].arr.map(r =>
      (r \ "ID") match {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case other => fail(s"no ID: $other")
      })

  test("each bounded job-path read is one Spark job after warm-up") {
    val db = fixture("jp_jobs")
    Seq(pkGet, pagedGet).foreach(db.get)
    db.query(orQuery)
    val (pk, pkJobs) = countJobs(db.get(pkGet))
    assert(ids(pk) == Seq(10L, 12L), pk)
    assert(pkJobs.n == 1, s"PK get ran ${pkJobs.n} jobs")
    val (or, orJobs) = countJobs(db.query(orQuery))
    assert(ids(or).size == 10, or)
    assert(orJobs.n == 1, s"OR-filter query ran ${orJobs.n} jobs")
    val (paged, pagedJobs) = countJobs(db.get(pagedGet))
    assert(ids(paged) == Seq(43L, 53L, 63L, 73L, 83L), paged)
    assert(pagedJobs.n <= 2, s"paged get + facet ran ${pagedJobs.n} jobs")
  }

  test("cached-mask and over-cap anti-join reads render byte-identical JSON") {
    val db = fixture("jp_parity")
    val st = db.store("T")
    val tombs = st.tombstoneIds().get.count()
    assert(tombs == 3)
    def reads(): Seq[String] =
      Seq(db.get(pkGet), db.get(pagedGet), db.query(orQuery),
        db.get("""{"table":"T","filter":"ID <= 40","unbounded":true}"""),
        st.count().toString, db.statistics("T"))
    def plan(): String = db.getDataFrame(pkGet).queryExecution.executedPlan.toString
    assert(plan().contains("not_tombstoned") && !plan().contains("LeftAnti"), plan())
    val masked = reads()
    db.maxServeTombstones = tombs.toInt - 1
    assert(plan().contains("LeftAnti") && !plan().contains("not_tombstoned"), plan())
    val antiJoined = reads()
    masked.zip(antiJoined).foreach { case (m, a) => assert(m == a) }
    assert(masked(4) == "598")
    assert(masked(5) == """{"table":"T","totalRecords":598}""")
    // raising the cap again returns to the mask
    db.maxServeTombstones = tombs.toInt
    assert(plan().contains("not_tombstoned"), plan())
    assert(reads() == masked)
  }

  test("the mask refreshes on every commit: the next read sees a delete or upsert") {
    val db = fixture("jp_fresh")
    val one = """{"table":"T","primaryKeys":[50],"response":["ID","Doc"]}"""
    assert(db.get(one).contains("\"doc 50\""))
    db.delete("""{"table":"T","primaryKeys":[50]}""")
    assert(ids(db.get(one)).isEmpty)
    assert(db.store("T").count() == 597)
    val two = """{"table":"T","primaryKeys":[60],"response":["ID","Doc"]}"""
    assert(db.get(two).contains("\"doc 60\""))
    db.insert("""{"table":"T","upsert":true,"data":[
      |{"ID":60,"label":0,"Doc":"doc 60 v2","V":[0,0,0,0]}]}""".stripMargin)
    val after = db.get(two)
    assert(ids(after) == Seq(60L) && after.contains("\"doc 60 v2\""), after)
    assert(db.store("T").count() == 597)
    // a compaction folds the tombstones away: no mask, same live rows
    val before = db.get("""{"table":"T","filter":"ID < 100","unbounded":true}""")
    db.store("T").compact()
    assert(db.store("T").tombstoneIds().isEmpty)
    assert(db.get("""{"table":"T","filter":"ID < 100","unbounded":true}""").replaceAll(
      "\"__row_id\":\\d+,?", "") == before.replaceAll("\"__row_id\":\\d+,?", ""))
  }

  test("bounded render: to_json(struct(*)) equals toJSON byte for byte") {
    val sparse = StructType(Seq(
      StructField("indices", ArrayType(IntegerType, containsNull = false)),
      StructField("values", ArrayType(FloatType, containsNull = false))))
    val schema = StructType(Seq(
      StructField("ID", LongType, nullable = false),
      StructField("s", StringType),
      StructField("d", DoubleType),
      StructField("f", FloatType),
      StructField("arr", ArrayType(DoubleType)),
      StructField("sv", sparse),
      StructField("@distance", DoubleType)))
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val rows = Seq(
      Row(1L, null, null, null, null, null, null),
      Row(2L, "say \"hi\" \\ back\\slash", nan, Float.NaN, Seq(nan, inf, -inf), null, nan),
      Row(3L, "ctl \u0000\u0001\b\f\n\r\t\u001f end", inf, Float.PositiveInfinity,
        Seq(1.5, null, -0.0), Row(Seq(0, 7), Seq(0.25f, -1e-30f)), inf),
      Row(4L, "non-ASCII: ü 日本語 😀  ", -inf, Float.NegativeInfinity,
        Seq(), Row(Seq(), Seq()), -inf),
      Row(5L, "", 1e-320, 3.4028235e38f, Seq(Double.MaxValue, Double.MinPositiveValue),
        Row(Seq(1), Seq(Float.MinPositiveValue)), 0.1 + 0.2))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val viaToJson = df.toJSON.collect().toSeq
    val viaStruct = df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).toSeq
    assert(viaStruct == viaToJson)
    // the renderer's two paths agree end to end as well
    val db = new GraftDb(spark, tmpDir("jp_render"))
    db.createTable(
      """{"name":"R","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"s","dataType":"STRING"},
        |{"name":"d","dataType":"DOUBLE"},
        |{"name":"arr","dataType":"VECTOR_FLOAT","dimensions":2,"metricType":"EUCLIDEAN"},
        |{"name":"sv","dataType":"SPARSE_VECTOR_FLOAT","dimensions":8,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    db.store("R").insert(df.select(col("ID"), col("s"), col("d"),
      org.apache.spark.sql.functions.when(col("f").isNotNull,
        org.apache.spark.sql.functions.array(col("f"), col("f"))).as("arr"), col("sv")))
    val req = """{"table":"R","response":["ID","s","d","arr","sv"]"""
    val bounded = db.get(req + "}")
    assert(ids(bounded) == Seq(1L, 2L, 3L, 4L, 5L), bounded)
    assert(bounded == db.get(req + ""","unbounded":true}"""))
    val q = """{"table":"R","queryField":"arr","queryVector":[0,0],"limit":5,"withDistance":true"""
    assert(db.query(q + "}") == db.query(q + ""","unbounded":true}"""))
  }
}
