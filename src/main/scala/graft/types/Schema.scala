package graft.types

import org.apache.spark.sql.types._

/** Field/table schema model mirroring the reference's catalog
  * (reference: engine/db/catalog/meta_types.hpp:19-90), re-expressed as Spark
  * StructTypes with metadata.
  *
  * FieldType -> Spark DataType (meta_types.hpp:19-43):
  *  INT1/2/4/8 -> Byte/Short/Integer/Long; FLOAT/DOUBLE -> Float/Double;
  *  BOOL -> Boolean; STRING/JSON -> String; VECTOR_FLOAT/VECTOR_DOUBLE ->
  *  array<float> (the reference stores both as float32,
  *  table_segment_mvp.cpp:106-111); SPARSE_VECTOR_* -> struct<indices,values>;
  *  GEO_POINT -> struct<latitude,longitude>.
  */
object FieldType extends Enumeration {
  val TinyInt, SmallInt, Int4, BigInt, Float4, Double8, Bool, Str, Json,
      VectorFloat, VectorDouble, SparseVectorFloat, SparseVectorDouble, GeoPoint = Value

  private val names: Map[String, Value] = Map(
    "TINYINT" -> TinyInt, "INT1" -> TinyInt,
    "SMALLINT" -> SmallInt, "INT2" -> SmallInt,
    "INT" -> Int4, "INT4" -> Int4,
    "BIGINT" -> BigInt, "INT8" -> BigInt,
    "FLOAT" -> Float4, "DOUBLE" -> Double8,
    "BOOL" -> Bool, "STRING" -> Str, "JSON" -> Json,
    "VECTOR_FLOAT" -> VectorFloat, "VECTOR_DOUBLE" -> VectorDouble,
    "SPARSE_VECTOR_FLOAT" -> SparseVectorFloat,
    "SPARSE_VECTOR_DOUBLE" -> SparseVectorDouble,
    "GEO_POINT" -> GeoPoint)

  def parse(s: String): Value =
    names.get(s.toUpperCase)
      .orElse(values.find(_.toString == s))
      .getOrElse(throw new IllegalArgumentException(s"unknown field type: $s"))

  /** Canonical reference-style name (meta_types.hpp:92-107). */
  def refName(t: Value): String = t match {
    case TinyInt => "TINYINT"; case SmallInt => "SMALLINT"
    case Int4 => "INT"; case BigInt => "BIGINT"
    case Float4 => "FLOAT"; case Double8 => "DOUBLE"
    case Bool => "BOOL"; case Str => "STRING"; case Json => "JSON"
    case VectorFloat => "VECTOR_FLOAT"; case VectorDouble => "VECTOR_DOUBLE"
    case SparseVectorFloat => "SPARSE_VECTOR_FLOAT"
    case SparseVectorDouble => "SPARSE_VECTOR_DOUBLE"
    case GeoPoint => "GEO_POINT"
  }

  def isVector(t: Value): Boolean =
    t == VectorFloat || t == VectorDouble || t == SparseVectorFloat || t == SparseVectorDouble
  def isSparse(t: Value): Boolean = t == SparseVectorFloat || t == SparseVectorDouble
}

/** EUCLIDEAN | COSINE | DOT_PRODUCT (meta_types.hpp:45-50); default EUCLIDEAN. */
object MetricType extends Enumeration {
  val Euclidean, Cosine, DotProduct = Value
  def parse(s: String): Value = s.toUpperCase match {
    case "EUCLIDEAN" => Euclidean
    case "COSINE" => Cosine
    case "DOT_PRODUCT" | "DOTPRODUCT" => DotProduct
    case other => throw new IllegalArgumentException(s"unknown metric: $other")
  }
  /** Canonical reference-style name (meta_types.hpp:45-50). */
  def refName(t: Value): String = t match {
    case Euclidean => "EUCLIDEAN"
    case Cosine => "COSINE"
    case DotProduct => "DOT_PRODUCT"
  }
}

case class FieldSchema(
    name: String,
    fieldType: FieldType.Value,
    primaryKey: Boolean = false,
    dimensions: Int = 0,
    metric: MetricType.Value = MetricType.Euclidean) {

  def sparkType: DataType = fieldType match {
    case FieldType.TinyInt => ByteType
    case FieldType.SmallInt => ShortType
    case FieldType.Int4 => IntegerType
    case FieldType.BigInt => LongType
    case FieldType.Float4 => FloatType
    case FieldType.Double8 => DoubleType
    case FieldType.Bool => BooleanType
    case FieldType.Str | FieldType.Json => StringType
    case FieldType.VectorFloat | FieldType.VectorDouble =>
      ArrayType(FloatType, containsNull = false)
    case FieldType.SparseVectorFloat | FieldType.SparseVectorDouble =>
      graft.functions.SparseVec.sqlType
    case FieldType.GeoPoint => StructType(Seq(
      StructField("latitude", DoubleType, nullable = false),
      StructField("longitude", DoubleType, nullable = false)))
  }

  def toStructField: StructField = {
    val mb = new MetadataBuilder()
      .putString("graft.fieldType", fieldType.toString)
    if (primaryKey) mb.putBoolean("graft.primaryKey", true)
    if (FieldType.isVector(fieldType)) {
      mb.putLong("graft.dimensions", dimensions.toLong)
      mb.putString("graft.metricType", metric.toString)
    }
    StructField(name, sparkType, nullable = !primaryKey, mb.build())
  }
}

/** Embedding index: src text field auto-embedded into tgt vector field via
  * the named model at ingest (meta_types.hpp:68-75 `Index` /
  * `AutoEmbedding`). */
case class EmbeddingIndex(name: String, src: String, tgt: String, model: String)

/** Table schema: at most one PK; vector fields need dimensions
  * (web_controller.hpp:274-297). */
case class TableSchema(name: String, fields: Seq[FieldSchema],
    indices: Seq[EmbeddingIndex] = Nil) {
  require(fields.count(_.primaryKey) <= 1, s"table $name: at most one primary key")
  fields.filter(f => FieldType.isVector(f.fieldType)).foreach { f =>
    require(f.dimensions > 0, s"vector field ${f.name} requires dimensions")
  }
  def structType: StructType = StructType(fields.map(_.toStructField))
  def primaryKey: Option[FieldSchema] = fields.find(_.primaryKey)
  def vectorFields: Seq[FieldSchema] = fields.filter(f => FieldType.isVector(f.fieldType))
  def field(n: String): FieldSchema = fields.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"no field $n in table $name"))
  indices.foreach { ix =>
    require(field(ix.src).fieldType == FieldType.Str, s"index ${ix.name}: src must be STRING")
    require(FieldType.isVector(field(ix.tgt).fieldType), s"index ${ix.name}: tgt must be a vector")
  }
}
