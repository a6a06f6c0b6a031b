package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source surface (SURVEY.md §2.1 O1, §2.2 "Scans / sources" + "File
  * formats"): batch readers for the columnar fixtures plus the wire-parity
  * row formats, and the streaming sources that stand in for the reference's
  * Pub/Sub Lite subscription.
  *
  * Every batch reader takes an explicit schema where the format is untyped
  * (JSON/CSV), so schema lives in exactly one place (`Tables`) — the
  * reference re-declared its schema three times (SURVEY.md §1.2).
  */
object Sources {

  // ------------------------------------------------------------- batch
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** JSON lines with a declared schema; corrupt records become NULL rows
    * (PERMISSIVE), matching the reference's drop-and-continue (O2). */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** Raw media ingest (the multimodal pipeline's entry point): every file
    * under `dir` matching `glob` becomes one row of (path, modificationTime,
    * length, content binary) — the built-in `binaryFile` format, which is
    * how image/audio/video corpora enter Spark before `Multimodal`'s
    * decode/chunk/feature stages. Scale posture: file listing distributes
    * across executors, each file's bytes stay on the executor that read
    * them (one row per file — pair with [[graft.operators.Multimodal]]
    * chunking for files larger than a row should be), and
    * `pathGlobFilter` prunes non-media files at listing time, before any
    * byte is read.
    */
  def binaryFiles(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(dir)

  // ------------------------------------------------------------- streaming
  /** Unbounded raw-message source — the test/deploy stand-in for the
    * reference's Pub/Sub Lite read: files dropped into `dir` are consumed
    * exactly once per checkpoint, and each line is one wire message,
    * surfaced undecoded as the string column `payload` (the column
    * `Streams.fromBusEnvelope` yields), so decoding happens once, in the
    * pipeline's own parse. */
  def wireStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir).withColumnRenamed("value", "payload")

  /** Unbounded file-directory source of typed rows: files of `format`
    * dropped into `dir` are decoded with `schema` and consumed exactly once
    * per checkpoint. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
      format: String = "json"): DataFrame =
    spark.readStream.schema(schema).format(format).load(dir)

  /** Synthetic unbounded source (O15 parity): `rowsPerSecond` ticks with
    * monotonically increasing `value` and a `timestamp` column — the Spark
    * analogue of the reference's message publisher loop. */
  def rate(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()

  /** Streaming parquet replay of a fixture table directory: the batch
    * fixture's schema drives an unbounded read over `dir` (new files are
    * picked up as they land) — batch/stream parity harness for Demo2. */
  def parquetStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
}
