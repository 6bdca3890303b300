package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish testdata
  * (see TESTDATA.md). One parquet file per table under the
  * scale-factor directory. Reads go through `spark.read.parquet` so
  * column pruning and predicate pushdown reach the scan; the schema is
  * read from the file's footer on the driver, so a load starts no
  * schema-inference job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  /** The schema Spark's parquet inference gives the one-file table at
    * `path`, converted as Spark converts a footer: the schema Spark
    * wrote into the file's metadata if there is one, else the parquet
    * schema under the session's SQL conf (`nanosAsLong` included). */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val file = new Path(path)
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped in two physical encodings across testdata
    * generations: TIMESTAMP(NANOS, ntz) — which Spark's reader rejects
    * unless nanosAsLong maps it to BIGINT — and plain TIMESTAMP(MICROS,
    * ntz). Normalize both to TIMESTAMP_NTZ at micro precision. For the
    * nanos encoding the integer DIV applies the same floor-truncation
    * DuckDB uses when it narrows ns → µs, so both engines agree. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"))
      case TimestampNTZType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampNTZType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
