package graft

import graft.pipeline.{SingerConfig, SingerPipeline}
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.file.{Files, Paths}

/** CLI entry — the Spark-native equivalent of `target-parquet --config
  * c.json < messages.jsonl` (reference `target.py:34-35`,
  * `pyproject.toml:38-40`).
  *
  * Usage:
  * {{{
  *   graft.SingerMain --config config.json --input messages.jsonl
  * }}}
  *
  * Config keys (superset of the reference's `target.py:16-25` +
  * sink-read keys `sinks.py:136,148-150`):
  *   - `filepath`: output directory. Declared-but-dead in the reference
  *     (it always wrote to CWD, `writers.py:10-11`); honored here —
  *     documented improvement (SURVEY.md §7.4).
  *   - `fixed_headers`: `{stream: [cols]}` projection (P1).
  *   - `strict_validation`: bool (P3).
  *   - `compression`: parquet codec for all streams (`zstd`, `snappy`,
  *     `gzip`, `none`, ...).
  *   - `partition_by`: `{stream: [cols]}` Hive-style output partitioning.
  *   - `file_naming_scheme`: output-name template with `{stream}` /
  *     `{timestamp}` tokens (default `{stream}-{timestamp}.parquet`).
  *     Declared-but-dead in the reference (`target.py:20-24`), honored
  *     here — the second half of the `filepath` improvement pair.
  *
  * Any other key is ignored — an older config that still sets the
  * removed two-pass staging switch gets the same output, each stream
  * written by one scan of the input.
  *
  * Input is a file of newline-delimited Singer messages rather than a
  * stdin pipe: on a cluster the "pipe" is a distributed path (HDFS/S3
  * prefix), which is exactly what `spark.read.text` takes. For a literal
  * stdin bridge, write stdin to a temp file and pass it (the reference's
  * single-process pipe has no distributed analogue).
  */
object SingerMain {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val configJson: JValue = opts.get("config") match {
      case Some(path) => JsonMethods.parse(Files.readString(Paths.get(path)))
      case None       => JObject()
    }
    val input = opts.getOrElse("input",
      sys.error("--input <messages.jsonl or directory> is required"))

    def str(key: String): Option[String] =
      configJson \ key match { case JString(s) => Some(s); case _ => None }
    def bool(key: String): Boolean =
      configJson \ key match { case JBool(b) => b; case _ => false }
    def streamCols(key: String): Map[String, Seq[String]] = configJson \ key match {
      case JObject(fields) =>
        fields.collect { case (stream, JArray(cols)) =>
          stream -> cols.collect { case JString(c) => c }
        }.toMap
      case _ => Map.empty
    }
    val fixedHeaders: Map[String, Seq[String]] = streamCols("fixed_headers")

    // `schema_messages`: full Singer SCHEMA messages embedded in the config
    // (out-of-band catalog) — skips the schema-discovery scan over the input.
    val schemaMessages = configJson \ "schema_messages" match {
      case JArray(msgs) if msgs.nonEmpty =>
        Some(msgs.map(m => JsonMethods.compact(JsonMethods.render(m))))
      case _ => None
    }

    val config = SingerConfig(
      outDir = str("filepath").getOrElse("."),
      fixedHeaders = fixedHeaders,
      strictValidation = bool("strict_validation"),
      schemaMessages = schemaMessages,
      // north-star write options: parquet codec for every stream plus
      // per-stream Hive-style partition columns ({stream: [cols]})
      compression = str("compression"),
      partitionBy = streamCols("partition_by"),
      fileNamingScheme = str("file_naming_scheme"))

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = SingerPipeline.run(spark, input, config)
      SingerPipeline.writeJobMetrics(config.outDir, result.recordCounts)
      result.paths.toSeq.sortBy(_._1).foreach { case (stream, path) =>
        println(s"[target-parquet-spark] $stream -> $path")
      }
      println(s"[target-parquet-spark] job_metrics: " +
        result.recordCounts.toSeq.sortBy(_._1).map { case (s, n) => s"$s=$n" }.mkString(", "))
      // STATE passthrough: echo the final state AFTER everything is
      // flushed, as a bare JSON line on stdout (the Singer target
      // contract taps use for incremental-sync bookmarks; SDK behavior
      // under target.py:28-31). The bracketed lines above are diagnostics;
      // this is the machine-readable one.
      result.lastState.foreach(println)
    } finally spark.stop()
  }
}
