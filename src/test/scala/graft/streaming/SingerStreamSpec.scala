package graft.streaming

import graft.TestSpark
import graft.pipeline.SingerConfig
import graft.schema.SchemaMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class SingerStreamSpec extends AnyFunSuite with Matchers
    with graft.CleanSessionCheck {
  private lazy val spark = TestSpark.init()

  /** One AvailableNow pass of [[SingerStream]] over `lines` as a single
    * input file (one micro-batch, id 0); returns the output directory.
    */
  private def streamOnce(
      lines: Seq[String], schemaMessages: Seq[String],
      config: String => SingerConfig = SingerConfig(_)): String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    Files.writeString(Paths.get(s"$dir/in/batch.jsonl"), lines.mkString("", "\n", "\n"))
    val schemas = schemaMessages.map(SchemaMapper.fromSchemaMessage).map(ss => ss.stream -> ss).toMap
    SingerStream.start(spark, s"$dir/in", schemas, config(s"$dir/out"), s"$dir/chk")
      .awaitTermination(60000)
    s"$dir/out"
  }

  private val mSchema =
    """{"type": "SCHEMA", "stream": "m", "schema": {"type": "object", "properties": {"id": {"type": ["string", "null"]}, "n": {"type": ["integer", "null"]}}}, "key_properties": ["id"]}"""

  test("streaming ingest: micro-batches append per-stream parquet with the same coercions") {
    val dir = Files.createTempDirectory("graft-stream").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    Files.writeString(
      java.nio.file.Paths.get(s"$dir/in/batch1.jsonl"),
      """{"type": "RECORD", "stream": "m", "record": {"id": "a", "n": "1"}}
        |{"type": "RECORD", "stream": "m", "record": {"id": "b", "n": 2}}
        |{"type": "STATE", "value": {"bookmarks": {"m": {"id": "b"}}}}
        |""".stripMargin)
    val schemas = Map("m" -> SchemaMapper.fromSchemaMessage(
      """{"type": "SCHEMA", "stream": "m", "schema": {"type": "object", "properties": {"id": {"type": ["string", "null"]}, "n": {"type": ["integer", "null"]}}}, "key_properties": ["id"]}"""))
    val q = SingerStream.start(
      spark, s"$dir/in", schemas, SingerConfig(s"$dir/out"), s"$dir/chk")
    q.awaitTermination(60000)
    val out = spark.read.parquet(s"$dir/out/m.parquet")
    out.schema("n").dataType.typeName shouldBe "long"
    out.count() shouldBe 2
    // STATE passthrough: batch's last state value lands in state.json
    Files.readString(java.nio.file.Paths.get(s"$dir/out/state.json")) shouldBe
      """{"bookmarks":{"m":{"id":"b"}}}"""
    // second file appears -> next incremental run picks up only the delta
    Files.writeString(
      java.nio.file.Paths.get(s"$dir/in/batch2.jsonl"),
      """{"type": "RECORD", "stream": "m", "record": {"id": "c", "n": 3}}""" + "\n")
    val q2 = SingerStream.start(
      spark, s"$dir/in", schemas, SingerConfig(s"$dir/out"), s"$dir/chk")
    q2.awaitTermination(60000)
    spark.read.parquet(s"$dir/out/m.parquet").count() shouldBe 3
    // metrics recomputed from per-batch files across both runs (A1),
    // idempotent under batch replay
    Files.readString(java.nio.file.Paths.get(s"$dir/out/job_metrics.json")) shouldBe
      """{"recordCount":{"m":3}}"""
  }

  test("streaming strict mode keeps a present-but-malformed required date-time") {
    // twin of the batch spec: `required` is about presence, so the value
    // is E8-repaired to null and the record survives
    val schema =
      """{"type": "SCHEMA", "stream": "dt", "schema": {"type": "object", "required": ["ts"], "properties": {"id": {"type": ["string", "null"]}, "ts": {"type": "string", "format": "date-time"}}}, "key_properties": ["id"]}"""
    val out = streamOnce(
      Seq("""{"type": "RECORD", "stream": "dt", "record": {"id": "1", "ts": "not-a-date"}}"""),
      Seq(schema), SingerConfig(_, strictValidation = true))
    val back = spark.read.parquet(s"$out/dt.parquet")
    back.count() shouldBe 1
    back.select("ts").head.isNullAt(0) shouldBe true
  }

  test("streaming strict mode fails the query on a uniqueItems violation") {
    // uniqueItems is outside the Column-encodable subset: only the
    // row-level draft-7 fallback sees it
    val schema =
      """{"type": "SCHEMA", "stream": "rv", "schema": {"type": "object", "properties": {"id": {"type": ["string", "null"]}, "tags": {"type": ["array", "null"], "uniqueItems": true}}}, "key_properties": ["id"]}"""
    val e = intercept[Exception] {
      streamOnce(
        Seq("""{"type": "RECORD", "stream": "rv", "record": {"id": "1", "tags": ["a", "a"]}}"""),
        Seq(schema), SingerConfig(_, strictValidation = true))
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
    messages should include("$.tags: uniqueItems")
  }

  test("a stream with no records in a micro-batch leaves no _batch directory") {
    val eSchema =
      """{"type": "SCHEMA", "stream": "e", "schema": {"type": "object", "properties": {"id": {"type": ["string", "null"]}}}, "key_properties": ["id"]}"""
    val out = streamOnce(
      Seq("""{"type": "RECORD", "stream": "m", "record": {"id": "a", "n": 1}}"""),
      Seq(mSchema, eSchema))
    Files.exists(Paths.get(s"$out/m.parquet/_batch=0")) shouldBe true
    Files.exists(Paths.get(s"$out/e.parquet/_batch=0")) shouldBe false
    Files.readString(Paths.get(s"$out/job_metrics.json")) shouldBe
      """{"recordCount":{"e":0,"m":1}}"""
  }

  test("streaming honors the compression option") {
    val out = streamOnce(
      Seq("""{"type": "RECORD", "stream": "m", "record": {"id": "a", "n": 1}}"""),
      Seq(mSchema), SingerConfig(_, compression = Some("zstd")))
    val w = Files.walk(Paths.get(s"$out/m.parquet"))
    val partFiles =
      try w.iterator().asScala.map(_.getFileName.toString)
        .filter(f => f.startsWith("part-") && f.endsWith(".parquet")).toList
      finally w.close()
    partFiles should not be empty
    all(partFiles) should include(".zstd.")
    spark.read.parquet(s"$out/m.parquet").count() shouldBe 1
  }
}
