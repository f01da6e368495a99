package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loading for the driver-generated TPC-H-ish test tables
  * (see TESTDATA.md). Reads are plain parquet scans so Catalyst pushes
  * filters/column pruning down to the scan; the schema comes from the
  * file's footer on the driver ([[sources.Readers.parquet]]), so a load
  * runs no Spark job.
  *
  * Timestamp normalization: the synthetic tables store naive
  * ms/ns-precision parquet timestamps. Depending on reader settings
  * these surface as TIMESTAMP_NTZ or (for nanos, with the legacy flag)
  * as raw long nanos. Everything downstream works on session-zone
  * TimestampType (the session runs in UTC), so both variants are
  * normalized here, once, at the scan.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The events table stores TIMESTAMP(NANOS) which the vectorized
    // reader refuses by default; read nanos as long and convert below.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = sources.Readers.parquet(spark, s"$dir/$name.parquet")
    raw.schema.fields.foldLeft(raw) { (df, f) =>
      f.dataType match {
        case TimestampNTZType =>
          df.withColumn(f.name, col(f.name).cast(TimestampType))
        case LongType if f.name == "ts" && name == "events" =>
          // nanos-as-long fallback reader path; integer `div` — `/` is
          // double division and epoch nanos overflow a double mantissa
          df.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000")))
        case _ => df
      }
    }
  }

  def loadAll(spark: SparkSession, dir: String): Map[String, DataFrame] =
    All.map(n => n -> load(spark, dir, n)).toMap
}
