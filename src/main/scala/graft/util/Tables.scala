package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.parquet` has shipped `ts` in two physical encodings
    * across testdata generations, so the loader dispatches on the
    * arrived type instead of assuming one:
    *   - TIMESTAMP(NANOS), which Spark 4 rejects outright
    *     (PARQUET_TYPE_ILLEGAL) — with the legacy flag the column
    *     arrives as LONG nanoseconds; `ts div 1000` is exact integer
    *     µs (a double roundtrip would lose precision above 2^53) and
    *     `timestamp_micros` restores TimestampType;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives as
    *     TIMESTAMP_NTZ — cast to TimestampType under the UTC session
    *     zone (bit-identical epoch µs, and DuckDB's epoch_us sees the
    *     same naive values).
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val df = read(spark, s"$sfDir/events.parquet")
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case org.apache.spark.sql.types.TimestampNTZType =>
            df.withColumn("ts",
              col("ts").cast(org.apache.spark.sql.types.TimestampType))
          case _ => df
        }
      case _ =>
        read(spark, s"$sfDir/$name.parquet")
    }

  private val schemas = scala.collection.concurrent.TrieMap
    .empty[(String, String), StructType]

  /** A parquet table read under the schema inferred at its first load.
    * Inference reads the footers in a Spark job (35–110 ms cold); the
    * schema is keyed by the table's [[FrameMemo.dirFingerprint]], so a
    * table regenerated in place is inferred again. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val key = (path, FrameMemo.dirFingerprint(path))
    schemas.get(key) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.putIfAbsent(key, df.schema)
        df
    }
  }
}
