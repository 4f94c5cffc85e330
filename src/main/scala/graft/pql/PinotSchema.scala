package graft.pql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loader for the reference's table-schema JSON
  * (`pinot-common/.../data/Schema.java:61-190`: dimensionFieldSpecs /
  * metricFieldSpecs / timeFieldSpec, each `{name, dataType,
  * singleValueField?}`) → Spark `StructType`, mapping per SURVEY §1.2
  * (multi-value field → ArrayType, BOOLEAN kept native). */
object PinotSchema {

  private[pql] def sparkType(dt: String): DataType = dt.toUpperCase match {
    case "INT" => IntegerType
    case "LONG" => LongType
    case "FLOAT" => FloatType
    case "DOUBLE" => DoubleType
    case "STRING" => StringType
    case "BOOLEAN" => BooleanType
    case "BYTES" => BinaryType
    case other => throw new IllegalArgumentException(s"unknown Pinot dataType $other")
  }

  /** Parse a Pinot schema JSON file into a StructType. Uses Spark's
    * JSON reader (multiLine) — driver-side config parsing, no extra
    * dependency. */
  def load(spark: SparkSession, path: String): StructType = {
    val row = spark.read.option("multiLine", "true").json(path).head()

    def fields(colName: String): Seq[StructField] = {
      val idx = row.schema.fieldNames.indexOf(colName)
      if (idx < 0 || row.isNullAt(idx)) Nil
      else row.getSeq[org.apache.spark.sql.Row](idx).map { spec =>
        val get = (n: String) => {
          val i = spec.schema.fieldNames.indexOf(n)
          if (i >= 0 && !spec.isNullAt(i)) Some(spec.get(i)) else None
        }
        val name = get("name").get.toString
        val base = sparkType(get("dataType").get.toString)
        val sv = get("singleValueField").forall(_.asInstanceOf[Boolean])
        StructField(name, if (sv) base else ArrayType(base))
      }
    }

    val time: Seq[StructField] = {
      val idx = row.schema.fieldNames.indexOf("timeFieldSpec")
      if (idx < 0 || row.isNullAt(idx)) Nil
      else {
        val spec = row.getStruct(idx)
        val inc = spec.getStruct(spec.schema.fieldNames.indexOf("incomingGranularitySpec"))
        Seq(StructField(
          inc.getString(inc.schema.fieldNames.indexOf("name")),
          sparkType(inc.getString(inc.schema.fieldNames.indexOf("dataType")))))
      }
    }

    StructType(fields("dimensionFieldSpecs") ++ fields("metricFieldSpecs") ++ time)
  }

  /** Empty frame with the schema — enough for plan analysis. */
  def emptyTable(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Field ROLES of a schema JSON (`FieldSpec.java:371-380`'s
    * DIMENSION/METRIC/TIME split) — what ingest rollup and star-tree
    * building need beyond the flat StructType. */
  final case class Roles(dimensions: Seq[String], metrics: Seq[String],
      timeColumn: Option[String])

  def loadRoles(spark: SparkSession, path: String): Roles = {
    val row = spark.read.option("multiLine", "true").json(path).head()
    def names(colName: String): Seq[String] = {
      val idx = row.schema.fieldNames.indexOf(colName)
      if (idx < 0 || row.isNullAt(idx)) Nil
      else row.getSeq[org.apache.spark.sql.Row](idx).map { spec =>
        spec.get(spec.schema.fieldNames.indexOf("name")).toString
      }
    }
    val time = {
      val idx = row.schema.fieldNames.indexOf("timeFieldSpec")
      if (idx < 0 || row.isNullAt(idx)) None
      else {
        val spec = row.getStruct(idx)
        val inc = spec.getStruct(spec.schema.fieldNames.indexOf("incomingGranularitySpec"))
        Some(inc.getString(inc.schema.fieldNames.indexOf("name")))
      }
    }
    Roles(names("dimensionFieldSpecs"), names("metricFieldSpecs"), time)
  }
}
