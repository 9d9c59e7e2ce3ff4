package graft.schema

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Schema-as-data (SURVEY §1.4, §2.1 S9/S10): a declared, validated
  * column specification that renders both a Spark `StructType` and
  * `CREATE TABLE` DDL, plus an introspector that diffs the spec
  * against a live catalog table — the reference's YAML JSON-Schema
  * loader (`schema/loader.py:63-206`) and introspector
  * (`schema/introspector.py:80-153`) re-expressed natively.
  */
final case class ColumnSpec(
    name: String,
    dataType: DataType,
    nullable: Boolean,
    comment: String = "")

final case class SchemaSpec(
    database: String,
    table: String,
    columns: Seq[ColumnSpec],
    partitionBy: Seq[String] = Nil,
    sortBy: Seq[String] = Nil) {

  def structType: StructType =
    StructType(columns.map { c =>
      val f = StructField(c.name, c.dataType, c.nullable)
      if (c.comment.nonEmpty) f.withComment(c.comment) else f
    })

  def qualified: String = s"$database.$table"

  /** S9: CREATE TABLE DDL (parquet; partition columns last, as Spark
    * requires). */
  def createTableDdl: String = {
    val cols = columns.filterNot(c => partitionBy.contains(c.name))
      .map(c => s"  ${c.name} ${c.dataType.sql}" +
        (if (c.nullable) "" else " NOT NULL"))
    val parts = columns.filter(c => partitionBy.contains(c.name))
      .map(c => s"${c.name} ${c.dataType.sql}")
    val partClause =
      if (parts.isEmpty) ""
      else s"\nPARTITIONED BY (${parts.mkString(", ")})"
    s"""CREATE TABLE IF NOT EXISTS $qualified (
       |${cols.mkString(",\n")}
       |) USING parquet$partClause""".stripMargin
  }

  def createDatabaseDdl: String = s"CREATE DATABASE IF NOT EXISTS $database"
}

/** One schema drift finding, in the reference introspector's four
  * categories (`schema/introspector.py:98-147`). */
sealed trait SchemaDiff { def column: String }
final case class MissingColumn(column: String) extends SchemaDiff
final case class ExtraColumn(column: String) extends SchemaDiff
final case class TypeMismatch(column: String, expected: DataType,
    actual: DataType) extends SchemaDiff
final case class NullabilityMismatch(column: String, expectedNullable: Boolean,
    actualNullable: Boolean) extends SchemaDiff

object SchemaIntrospector {

  /** S10: diff a spec against an actual StructType. */
  def diff(spec: SchemaSpec, actual: StructType): Seq[SchemaDiff] = {
    val expected = spec.structType
    val actualByName = actual.fields.map(f => f.name -> f).toMap
    val expectedByName = expected.fields.map(f => f.name -> f).toMap
    val missing = expected.fields.collect {
      case f if !actualByName.contains(f.name) => MissingColumn(f.name)
    }
    val extra = actual.fields.collect {
      case f if !expectedByName.contains(f.name) => ExtraColumn(f.name)
    }
    val mismatches = expected.fields.flatMap { f =>
      actualByName.get(f.name).toSeq.flatMap { a =>
        val t = if (a.dataType != f.dataType)
          Seq(TypeMismatch(f.name, f.dataType, a.dataType)) else Nil
        val nl = if (a.nullable != f.nullable)
          Seq(NullabilityMismatch(f.name, f.nullable, a.nullable)) else Nil
        t ++ nl
      }
    }
    (missing ++ extra ++ mismatches).toSeq
  }

  /** S9: initialize database + table from the spec. */
  def init(spark: SparkSession, spec: SchemaSpec): Unit = {
    spark.sql(spec.createDatabaseDdl)
    spark.sql(spec.createTableDdl)
  }
}

/** The canonical options-trades schema (SURVEY §1.2, mirroring
  * reference `schema/clickhouse/options_trades.yaml:49-189`) with the
  * physical-layout mapping: month partition column (toYYYYMM analog)
  * + sort-by primary-index analog applied at write time. */
object TradesSchema {
  val spec: SchemaSpec = SchemaSpec(
    database = "deribit",
    table = "options_trades",
    columns = Seq(
      ColumnSpec("trade_id", StringType, nullable = false),
      ColumnSpec("instrument_name", StringType, nullable = false),
      ColumnSpec("timestamp", TimestampType, nullable = false,
        comment = "trade time, ms precision, UTC"),
      ColumnSpec("price", DoubleType, nullable = false),
      ColumnSpec("amount", DoubleType, nullable = false,
        comment = "negative for sells"),
      ColumnSpec("direction", StringType, nullable = false),
      ColumnSpec("iv", DoubleType, nullable = true),
      ColumnSpec("index_price", DoubleType, nullable = true),
      ColumnSpec("mark_price", DoubleType, nullable = true),
      ColumnSpec("underlying", StringType, nullable = false),
      ColumnSpec("expiry", DateType, nullable = false),
      ColumnSpec("strike", DoubleType, nullable = false),
      ColumnSpec("option_type", StringType, nullable = false),
      ColumnSpec("month", StringType, nullable = false,
        comment = "yyyyMM partition key derived from timestamp")),
    partitionBy = Seq("month"),
    sortBy = Seq("underlying", "expiry", "timestamp", "strike",
      "option_type", "trade_id"))
}
