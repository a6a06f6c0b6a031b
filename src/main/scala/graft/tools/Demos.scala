package graft.tools

import graft.sources.Sources
import graft.streaming.Streams
import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Runnable pipeline entry points mirroring the reference's
  * `Demo1.main`/`Demo2.main` (O13 pipeline options, O14 launch — SURVEY.md
  * §3): CLI args bind the source directory, sink path and checkpoint the
  * way the reference's `PipelineOptionsFactory` bound subscription/table,
  * and the pipeline runs until terminated (or `--once` for a single drain,
  * the DirectRunner-style local run).
  *
  * Demo1: JSON wire messages → parse (drop malformed) → typed rows with
  * `processing_time` → parquet append.
  * Demo2: same source → event-time 1-minute windows per user → counts →
  * parquet append.
  */
object Demo1 {
  def build(spark: SparkSession, inDir: String, outDir: String, ckpt: String): StreamingQuery =
    Streams.appendToParquet(Streams.demo1ParseEtl(Sources.wireStream(spark, inDir)),
      outDir, ckpt)

  def main(args: Array[String]): Unit = Demos.run(args, build)
}

object Demo2 {
  def build(spark: SparkSession, inDir: String, outDir: String, ckpt: String): StreamingQuery = {
    val parsed = Sources.fileStream(spark, inDir, Tables.wireSchema)
      .select(timestamp_seconds(col("event_time")).as("event_time"), col("user_id"))
    Streams.appendToParquet(Streams.demo2WindowedCounts(parsed), outDir, ckpt)
  }

  def main(args: Array[String]): Unit = Demos.run(args, build)
}

private[graft] object Demos {
  /** O13 deferred-options parity (`Demo1.java:46-49` ValueProvider +
    * `template_helper.sh:42-59`): an option value may be bound LATE — a
    * `env:NAME` argument resolves from the environment at launch time, so
    * one authored command template serves many deployments without a code
    * edit, the plain-config analogue of a templated ValueProvider. Unset
    * deferred options fail loudly at launch, like an unbound template
    * parameter.
    */
  private[graft] def resolve(arg: String): String =
    if (arg.startsWith("env:"))
      sys.env.getOrElse(arg.stripPrefix("env:"),
        throw new IllegalArgumentException(s"deferred option '$arg' is unset at launch"))
    else arg

  def run(args: Array[String],
      build: (SparkSession, String, String, String) => StreamingQuery): Unit = {
    require(args.length >= 3,
      "usage: <inputDir|env:VAR> <outputDir|env:VAR> <checkpointDir|env:VAR> [--once]")
    val Array(inDir, outDir, ckpt) = args.take(3).map(resolve)
    val spark = Harness.session()
    val q = build(spark, inDir, outDir, ckpt)
    if (args.contains("--once")) { q.processAllAvailable(); q.stop() }
    else q.awaitTermination()
    spark.stop()
  }
}
