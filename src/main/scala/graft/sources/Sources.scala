package graft.sources

import scala.util.Try

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Table sources.
  *
  * The reference ingests exactly one format: header CSV read with every column
  * as string (`/root/reference/src/pipeline.py:40-42` — no inferSchema). That
  * "bronze mode" is reproduced here, alongside schema-checked CSV and the
  * parquet scans used for the driver testdata. Parquet is the scale path:
  * column pruning and predicate pushdown reach the file footers, which is what
  * makes a 2-column projection over a 100 TB table read 2 columns, not 100 TB.
  */
object CsvSource {

  /** Bronze-mode scan: header CSV, all columns StringType (reference parity).
    * The header of a single file is read and named on the driver the way
    * Spark's CSV inference names it (same parser settings, same sanitising of
    * empty and duplicate names), so the scan gets an explicit schema instead
    * of a Spark job over the file per call. Any other path (a directory, a
    * glob, a file without a header line) is left to Spark's inference.
    */
  def bronze(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.option("header", "true")
    headerSchema(spark, path).fold(reader.csv(path))(reader.schema(_).csv(path))
  }

  private def headerSchema(spark: SparkSession, path: String)
      : Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    val file = new Path(path)
    val status = Try(file.getFileSystem(conf).getFileStatus(file)).toOption
    if (!status.exists(_.isFile)) None
    else {
      val options = new CSVOptions(Map("header" -> "true"),
        sql.csvColumnPruning, sql.sessionLocalTimeZone)
      // the text scan Spark infers from drops a UTF-8 byte-order mark
      CSVUtils.readHeaderLine(file, options, conf)
        .flatMap(line => Option(new CsvParser(options.asParserSettings)
          .parseLine(line.stripPrefix("\uFEFF"))))
        .map(row => StructType(CSVUtils.makeSafeHeader(row,
          sql.caseSensitiveAnalysis, options).map(StructField(_, StringType))))
    }
  }

  /** Schema-checked scan: explicit StructType, no inference pass over the data
    * (inferSchema is a full extra read — never acceptable at scale).
    */
  def typed(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)
}

object ParquetSource {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}

/** Newline-delimited JSON source. Like CSV, schema inference costs a full
  * extra pass — always pass the schema at scale; the inferring variant
  * exists for exploration only.
  */
object JsonSource {
  def typed(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def inferring(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
}

/** ORC source/sink — the other columnar format Spark reads natively with
  * pushdown + pruning (relevant when upstream systems emit ORC; parquet
  * remains this engine's default).
  */
object OrcSource {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
}

/** XML source/sink (built into Spark 4; formerly spark-xml). Row-oriented
  * nested-document ingest — the legacy-feed format. `rowTag` selects the
  * repeating element; schema-first like every other source here (XML
  * inference is an extra full pass AND loses type precision).
  */
object XmlSource {
  def typed(spark: SparkSession, path: String, rowTag: String,
      schema: StructType): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag).schema(schema)
      .load(path)

  def inferring(spark: SparkSession, path: String, rowTag: String): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag).load(path)

  def write(df: DataFrame, path: String, rowTag: String,
      rootTag: String = "rows"): Unit =
    df.write.mode("overwrite").format("xml")
      .option("rowTag", rowTag).option("rootTag", rootTag).save(path)
}

/** Convenience loader for the driver testdata star schema (TESTDATA.md). */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extension: Seq[String] = Seq("events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetSource.table(spark, dir, name)
}
