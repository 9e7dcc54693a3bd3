package perfbench

import graft.Sessions
import graft.ops.{BandIndex, Bm25Index, Similarity}
import graft.pipeline.{SingerConfig, SingerPipeline}
import graft.schema.SchemaMapper
import graft.streaming.SingerStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.json4s.jackson.Serialization

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The in-process half of the benchmark: one fresh JVM per run that calls
  * the program's public functions, times them, and prints one result line
  * (`PERFBENCH_RESULT {json}`) for `perfbench/run.py`.
  *
  * {{{
  *   perfbench.Main --mode singer|index --work DIR
  *                  --seconds S --trace 0|1 [mode inputs]
  * }}}
  *
  * With `--trace 1` spans and listeners are on for part of the run: the
  * per-layer figures come from that part, and timing the same operation
  * untraced and traced, in turns, gives the tracing overhead.
  */
object Main {
  private val resultTag = "PERFBENCH_RESULT "
  private val WarmupSeconds = 6.0
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  final class Run(val spark: SparkSession, val tracer: Tracer, val seconds: Double, val work: Path) {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val layer = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    var pinsPeak = 0

    /** One counted operation; a throw is a failure, not an abort. */
    def op[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }

    def fail(msg: String): Unit = {
      failed += 1
      failures += msg.take(500)
    }

    def samplePins(): Unit = pinsPeak = pinsPeak max spark.sparkContext.getPersistentRDDs.size

    /** Repeat `body` for the run's seconds (at least `minReps` times). */
    def loop[T](minReps: Int)(body: Int => T): Seq[T] = {
      val t0 = System.nanoTime()
      val got = mutable.ArrayBuffer.empty[T]
      var i = 0
      while (i < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
        got += body(i)
        i += 1
      }
      got.toSeq
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val mode = opts("mode")
    val trace = opts.get("trace").contains("1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val tracer = new Tracer(trace)

    val startMs = tracer.nowMs
    val t0 = System.nanoTime()
    val spark = Sessions.builder(cpus).getOrCreate()
    val t1 = System.nanoTime()
    spark.range(1).count()
    val t2 = System.nanoTime()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, tracer, opts.getOrElse("seconds", "5").toDouble,
      Paths.get(opts.getOrElse("work", ".")))
    run.out("setup_s") = (t2 - t0) / 1e9
    run.layer("Sessions.session_s") = (t1 - t0) / 1e9
    run.layer("Sessions.first_job_s") = (t2 - t1) / 1e9
    tracer.add("Sessions.builder", startMs, startMs + (t2 - t0) / 1e6)

    try mode match {
      case "singer" => singer(run, opts, trace)
      case "index" => index(run, opts, trace)
      case other => sys.error(s"unknown mode $other")
    } catch {
      case e: Exception => run.fail(s"$mode: $e")
    } finally {
      tracer.detach()
      if (trace) {
        run.samplePins()
        engine(run)
        tracer.write(run.work.resolve("spans.jsonl"))
      }
      spark.stop()
    }
    println(resultTag + Serialization.write(Map(
      "attempted" -> run.attempted, "failed" -> run.failed,
      "failures" -> run.failures.toSeq,
      "metrics" -> run.out.toMap, "layers" -> run.layer.toMap)))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1 max 0))
  }

  private def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Bytes and count of the parquet data files under `dir`. */
  private def parquetFiles(dir: Path): (Long, Int) =
    if (!Files.exists(dir)) (0L, 0)
    else {
      val s = Files.walk(dir)
      try {
        val fs = s.iterator().asScala.filter { p =>
          Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
        }.toSeq
        (fs.map(Files.size).sum, fs.size)
      } finally s.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  private def schemaLines(path: String): Seq[String] = {
    val s = Files.lines(Paths.get(path))
    try s.iterator().asScala.filter(_.startsWith("{\"type\":\"SCHEMA\"")).toSeq
    finally s.close()
  }

  /** Time SchemaMapper over the workload's SCHEMA messages. */
  private def translate(run: Run, messages: Seq[String]): Map[String, SchemaMapper.StreamSchema] = {
    val t = System.nanoTime()
    val reg = messages.map { m =>
      run.tracer.span("SchemaMapper.fromSchemaMessage")(SchemaMapper.fromSchemaMessage(m))
    }.map(s => s.stream -> s).toMap
    // the first, cold translation is the one reported
    run.layer.getOrElseUpdate("SchemaMapper.translate_ms", (System.nanoTime() - t) / 1e6)
    reg
  }

  // ---------------------------------------------------------------- singer

  /** Warm batch ingest: `SingerPipeline.run` + `writeJobMetrics` over the
    * one input file, repeated for the run's seconds; the last output stays
    * for the checker.
    */
  private def singer(run: Run, opts: Map[String, String], trace: Boolean): Unit = {
    val input = opts("input")
    val inBytes = Files.size(Paths.get(input)).toDouble
    val recordLines = opts("record-lines").toLong
    translate(run, schemaLines(input))
    var n = 0
    // one sync on a fresh output directory; the previous one is deleted
    // first, untimed, so the last output stays for the checker
    def once(): Option[(Double, Long)] = {
      if (n > 0) deleteTree(run.work.resolve(s"warm-${n - 1}"))
      val outDir = run.work.resolve(s"warm-$n")
      n += 1
      val t = System.nanoTime()
      val got = run.op("SingerPipeline.run") {
        val cfg = SingerConfig(outDir = outDir.toString)
        val res = run.tracer.span("SingerPipeline.run")(SingerPipeline.run(run.spark, input, cfg))
        run.tracer.span("SingerPipeline.writeJobMetrics")(
          SingerPipeline.writeJobMetrics(cfg.outDir, res.recordCounts))
        res
      }
      val wall = (System.nanoTime() - t) / 1e9
      got.map { res =>
        Files.writeString(run.work.resolve("last_state.json"), res.lastState.getOrElse(""))
        Files.writeString(run.work.resolve("last_out.txt"), outDir.toString)
        (wall, res.recordCounts.values.sum)
      }
    }

    // the first sync in the fresh JVM: spawn to the input landed is the
    // cold figure. Untimed syncs for WarmupSeconds more warm codegen, class
    // loading and the JIT: with 3 s (one sync) the timed syncs of about a
    // third of the runs still sped up from one to the next by up to 15%.
    once()
    run.out("cold_s") = uptimeS
    val warm0 = System.nanoTime()
    while ((System.nanoTime() - warm0) / 1e9 < WarmupSeconds) once()
    if (!trace) report(run, run.loop(3)(_ => once()).flatten)
    else {
      // untraced and traced syncs alternate, each going first in half of
      // the pairs, so the JIT's remaining warm-up does not bias the overhead
      val pairs = run.loop(4) { i =>
        def traced() = { run.tracer.attach(run.spark); try once() finally run.tracer.detach() }
        if (i % 2 == 0) { val p = once(); (p, traced()) }
        else { val t = traced(); (once(), t) }
      }
      report(run, pairs.flatMap(_._1))
      overhead(run, pairs.collect { case (Some(p), Some(t)) => (p._1, t._1) })
      val traced = pairs.flatMap(_._2)
      val jobs = run.tracer.jobsUnder("SingerPipeline.run")
      val runs = run.tracer.spans.filter(_.name == "SingerPipeline.run")
      val k = runs.size.max(1).toDouble
      val records = traced.map(_._2).sum.toDouble
      val discover = jobs.filter(_.callSite.startsWith("collect at SingerPipeline"))
      val writes = jobs.filter(_.callSite.startsWith("parquet at"))
      def dur(js: Seq[JobStat]) = js.map(j => (j.endMs - j.startMs) / 1000.0).sum
      val byRun = jobs.groupBy(_.span)
      run.layer("SingerPipeline.discover_s") = dur(discover) / k
      run.layer("SingerPipeline.discover_bytes") = discover.map(_.bytesRead).sum / k
      run.layer("SingerPipeline.jobs") = jobs.size / k
      run.layer("SingerPipeline.scan_amplification") = jobs.map(_.bytesRead).sum / k / inBytes
      run.layer("SingerPipeline.write_s") = dur(writes) / k
      run.layer("SingerPipeline.driver_gap_s") = runs.map { s =>
        Tracer.uncovered(s.startMs, s.endMs, byRun.getOrElse(s.id, Nil))
      }.sum / k
      run.layer("SingerPipeline.task_cpu_us_per_record") =
        jobs.map(_.cpuNs).sum / 1000.0 / records.max(1)
      run.layer("SingerPipeline.yield") = records / k / recordLines
      run.layer("SingerPipeline.out_files") = parquetFiles(lastOut(run))._2
      run.layer("SingerPipeline.metrics_write_ms") =
        run.tracer.seconds("SingerPipeline.writeJobMetrics") * 1000 / k
      if (opts.contains("stream-input")) {
        run.tracer.attach(run.spark)
        stream(run, opts)
      }
    }
  }

  private def lastOut(run: Run): Path =
    Paths.get(Files.readString(run.work.resolve("last_out.txt")))

  private def report(run: Run, reps: Seq[(Double, Long)]): Unit = {
    run.out("records_per_s") = median(reps.map { case (w, r) => r / w })
    run.out("op_p50_ms") = median(reps.map(_._1)) * 1000
    run.out("reps") = reps.size
    run.out("rep_walls") = reps.map(_._1)
    val (bytes, _) = parquetFiles(lastOut(run))
    run.out("out_bytes_per_record") = bytes.toDouble / reps.last._2
  }

  /** Median over (untraced, traced) pairs of the same operation. */
  private def overhead(run: Run, pairs: Seq[(Double, Double)]): Unit =
    run.layer("trace.overhead_share") = median(pairs.map { case (p, t) => t / p }) - 1

  // ---------------------------------------------------------------- stream

  /** Micro-batch ingest of the same lines split into files, traced runs
    * only: `SingerStream.start` with one file per trigger until the files
    * are drained.
    */
  private def stream(run: Run, opts: Map[String, String]): Unit = {
    val registry = translate(run, Files.readAllLines(Paths.get(opts("schemas"))).asScala.toSeq)
    def trigger(p: StreamingQueryProgress, key: String): Double =
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
    val outDir = run.work.resolve("stream")
    val id = run.op("SingerStream.start") {
      val q = run.tracer.span("SingerStream.pass") {
        val q = run.tracer.span("SingerStream.start")(SingerStream.start(
          run.spark, opts("stream-input"), registry, SingerConfig(outDir = outDir.toString),
          run.work.resolve("ckpt").toString, Trigger.AvailableNow(),
          maxFilesPerTrigger = Some(1)))
        q.awaitTermination()
        q
      }
      q.exception.foreach(e => throw e)
      Files.writeString(run.work.resolve("last_stream_out.txt"), outDir.toString)
      q.id
    }
    run.tracer.jobs.drain(run.spark.sparkContext)
    val pass = run.tracer.spans.filter(_.name == "SingerStream.pass")
    val progress = run.tracer.stream.progress.asScala.toSeq
      .filter(p => id.contains(p.id) && p.numInputRows > 0)
    val jobs = run.tracer.jobsUnder("SingerStream.pass")
    val nb = progress.size.max(1).toDouble
    val triggers = progress.map(trigger(_, "triggerExecution"))
    run.layer("SingerStream.batches") = progress.size
    run.layer("SingerStream.jobs_per_batch") = jobs.size / nb
    run.layer("SingerStream.tasks_per_job") = jobs.map(_.tasks).sum.toDouble / jobs.size.max(1)
    run.layer("SingerStream.add_batch_ms") = median(progress.map(trigger(_, "addBatch")))
    run.layer("SingerStream.commit_ms") = median(progress.map(trigger(_, "commitOffsets")))
    run.layer("SingerStream.batch_slope_ms") =
      slope(progress.map(p => (p.batchId.toDouble, trigger(p, "triggerExecution"))))
    run.layer("batch_p50_s") = median(triggers) / 1000
    run.layer("SingerStream.records_per_s") = progress.map(_.numInputRows).sum / pass.map(_.durS).sum
  }

  /** Least-squares slope of y over x. */
  private def slope(pts: Seq[(Double, Double)]): Double = {
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (sxx == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
  }

  // ---------------------------------------------------------------- index

  private final case class Plan(
      baseEnd: Long, deltas: Seq[(Long, Long)], deletes: Seq[Long],
      bm25: Seq[Seq[String]], band: Seq[String], ivf: Seq[Seq[Double]])

  private def readPlan(path: String): Plan = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(Files.readString(Paths.get(path)))
    def longs(v: JValue): Seq[Long] = v match {
      case JArray(xs) => xs.collect { case JInt(i) => i.toLong; case JLong(i) => i }
      case JInt(i) => Seq(i.toLong)
      case _ => Nil
    }
    Plan(
      baseEnd = longs(j \ "base_end").head,
      deltas = (j \ "deltas") match {
        case JArray(xs) => xs.map(x => longs(x) match { case Seq(a, b) => (a, b) })
        case _ => Nil
      },
      deletes = longs(j \ "deletes"),
      bm25 = (j \ "bm25_queries") match {
        case JArray(xs) => xs.collect { case JArray(ts) => ts.collect { case JString(s) => s } }
        case _ => Nil
      },
      band = (j \ "band_queries") match {
        case JArray(xs) => xs.collect { case JString(s) => s }
        case _ => Nil
      },
      ivf = (j \ "ivf_queries") match {
        case JArray(xs) => xs.collect { case JArray(vs) => vs.collect {
          case JDouble(d) => d; case JInt(i) => i.toDouble; case JDecimal(d) => d.toDouble } }
        case _ => Nil
      })
  }

  private val Cells = 8
  private val Buckets = 8
  private val QueryIdBase = 1000000000L

  /** The three layouts of one lifecycle, rooted at `root`. */
  private final class Layouts(root: Path) {
    val bm25: String = root.resolve("bm25").toString
    val band: String = root.resolve("band").toString
    val ivf: String = root.resolve("ivf").toString
  }

  /** Index lifecycle: BM25, band (MinHash) and IVF layouts each get a build
    * over the base slice, the delta appends, one delete batch and a compact
    * (IVF also a codebook retrain), then a seeded closed loop of
    * search/decide calls, one caller at a time. A traced run traces all of
    * this, then times a few calls untraced and traced, in turns.
    */
  private def index(run: Run, opts: Map[String, String], trace: Boolean): Unit = {
    val spark = run.spark
    import spark.implicits._
    val plan = readPlan(opts("plan"))
    val docs = spark.read.parquet(opts("documents")).select("doc_id", "text")
    val embs = spark.read.parquet(opts("embeddings")).select("vec_id", "embedding")
    val deletes = plan.deletes.toDF("doc_id")
    def slice(df: DataFrame, id: String, lo: Long, hi: Long) =
      df.filter(col(id) >= lo && col(id) < hi)
    val written = (plan.baseEnd + plan.deltas.map { case (a, b) => b - a }.sum) * 3
    val liveDocs = docs.count() - plan.deletes.size

    def step[T](name: String)(body: => T): Unit = {
      run.op(name)(run.tracer.span(name)(body))
      run.samplePins()
    }
    def lifecycle(l: Layouts): Double = {
      val t = System.nanoTime()
      step("Bm25Index.build")(Bm25Index.writeBm25Index(slice(docs, "doc_id", 0, plan.baseEnd), l.bm25, nBuckets = Buckets))
      plan.deltas.foreach { case (a, b) =>
        step("Bm25Index.append")(Bm25Index.appendBm25Index(slice(docs, "doc_id", a, b), l.bm25))
      }
      step("Bm25Index.delete")(Bm25Index.deleteFromBm25Index(l.bm25, deletes, spark))
      step("Bm25Index.compact")(Bm25Index.compactBm25Index(l.bm25, spark))
      step("BandIndex.build")(BandIndex.writeBandIndex(slice(docs, "doc_id", 0, plan.baseEnd), l.band, storeTexts = true))
      plan.deltas.foreach { case (a, b) =>
        step("BandIndex.append")(BandIndex.appendBandIndex(slice(docs, "doc_id", a, b), l.band))
      }
      step("BandIndex.delete")(BandIndex.deleteFromBandIndex(l.band, deletes, spark))
      step("BandIndex.compact")(BandIndex.compactBandIndex(l.band, spark))
      step("Similarity.ivf_build")(Similarity.writeIvfIndex(slice(embs, "vec_id", 0, plan.baseEnd), l.ivf, nCells = Cells))
      plan.deltas.foreach { case (a, b) =>
        step("Similarity.ivf_append")(Similarity.appendIvfIndex(slice(embs, "vec_id", a, b), l.ivf))
      }
      step("Similarity.ivf_delete")(Similarity.deleteFromIvfIndex(l.ivf, deletes.select(col("doc_id").as("vec_id")), spark))
      step("Similarity.ivf_compact")(Similarity.compactIvfIndex(l.ivf, spark))
      step("Similarity.ivf_retrain")(Similarity.retrainIvfIndex(l.ivf, spark, nCells = Cells))
      (System.nanoTime() - t) / 1e9
    }

    def bm25Answer(dir: String, i: Int): Seq[String] =
      rows(Bm25Index.searchBm25Index(spark, dir, plan.bm25(i % plan.bm25.size), k = 10))
    def bandAnswer(dir: String, i: Int): Seq[String] =
      rows(BandIndex.dedupAgainstBandIndex(
        Seq((QueryIdBase + i, plan.band(i % plan.band.size))).toDF("doc_id", "text"),
        dir, BandIndex.storedTexts(spark, dir)))
    def ivfAnswer(dir: String, i: Int): Seq[String] =
      rows(Similarity.searchIvfIndex(
        Seq((QueryIdBase + i, plan.ivf(i % plan.ivf.size).map(_.toFloat).toArray))
          .toDF("vec_id", "embedding"), dir, k = 10))

    def searches(l: Layouts): Seq[Double] = run.loop(9)(i => search(l, i))
    def search(l: Layouts, i: Int): Double = {
      val t = System.nanoTime()
      val name = Seq("Bm25Index.search", "BandIndex.decide", "Similarity.ivf_search")(i % 3)
      run.op(name)(run.tracer.span(name)((i % 3) match {
        case 0 => bm25Answer(l.bm25, i / 3)
        case 1 => bandAnswer(l.band, i / 3)
        case _ => ivfAnswer(l.ivf, i / 3)
      }))
      run.samplePins()
      (System.nanoTime() - t) / 1e6
    }

    // one lifecycle in the fresh JVM: spawn to the maintained layouts is
    // the cold figure, the lifecycle's own wall the maintenance cost
    run.tracer.attach(spark)
    val live = new Layouts(run.work.resolve("live"))
    val maintain = lifecycle(live)
    run.out("cold_s") = uptimeS
    val calls = searches(live)
    run.out("records_per_s") = written / maintain
    // geometric mean of the three families' median call times, so that a
    // faster call of any one family moves it
    val perFamily = calls.indices.groupBy(_ % 3).values.map(ix => median(ix.map(calls)))
    run.out("op_p50_ms") = math.exp(perFamily.map(math.log).sum / perFamily.size)
    run.out("reps") = calls.size
    run.out("rep_walls") = calls
    val layoutBytes = Seq(live.bm25, live.band, live.ivf).map(d => parquetFiles(Paths.get(d))._1).sum
    run.out("out_bytes_per_record") = layoutBytes.toDouble / liveDocs
    run.layer("maintain_s") = maintain
    run.layer("search_p50_ms") = median(calls)
    run.layer("search_p90_ms") = quantile(calls, 0.9)
    val seg = Seq(live.bm25, live.band).map(d => parquetFiles(Paths.get(d)))
    run.layer("SegmentStore.files") = seg.map(_._2).sum
    run.layer("SegmentStore.bytes_per_live_doc") = seg.map(_._1).sum.toDouble / liveDocs
    run.layer("Dedup.pins_leaked") = spark.sparkContext.getPersistentRDDs.size
    if (trace) {
      run.tracer.detach()
      val t = run.tracer
      def ms(name: String) = {
        val s = t.spans.filter(_.name == name)
        if (s.isEmpty) 0.0 else median(s.map(_.durS * 1000))
      }
      for ((layer, prefix) <- Seq("Bm25Index" -> "", "BandIndex" -> "", "Similarity" -> "ivf_")) {
        for (op <- Seq("build", "append", "delete", "compact") ++ (if (prefix.nonEmpty) Seq("retrain") else Nil))
          run.layer(s"$layer.$prefix${op}_s") = t.seconds(s"$layer.$prefix$op")
        val searchName = layer match {
          case "Bm25Index" => "search"; case "BandIndex" => "decide"; case _ => "ivf_search"
        }
        run.layer(s"$layer.${searchName}_ms") = ms(s"$layer.$searchName")
        run.layer(s"$layer.${prefix}jobs") = t.jobs.real.count(j =>
          t.spans.exists(s => s.id == j.span && s.layer == layer))
      }
      run.layer("Dedup.pins_peak") = run.pinsPeak
      // each search call once untraced and once traced, each going first in
      // half of the pairs (a repeated call reuses its generated code)
      overhead(run, run.loop(6) { i =>
        def traced() = { run.tracer.attach(spark); try search(live, i) finally run.tracer.detach() }
        if (i % 2 == 0) { val p = search(live, i); (p, traced()) }
        else { val t = traced(); (search(live, i), t) }
      })
    }
    check(run, docs, embs, plan, live)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => f"$d%.9e"
      case f: Float => f"${f.toDouble}%.6e"
      case x => String.valueOf(x)
    }.mkString("|")).sorted

  /** Committed versions (`v<N>/_COMMITTED`) under a segment-store layout. */
  private def committedVersions(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(p => Files.exists(p.resolve("_COMMITTED")))
      .map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  /** Output check of the maintained layouts, on every seeded query, against
    * fresh builds at new paths over the surviving documents:
    *
    *  - Maintenance is exact: the maintained BM25 and band layouts answer as
    *    fresh builds with the same parameters do. IVF is not compared here:
    *    its retrain re-assigns cells from the quantized vectors, so the
    *    maintained layout is not a fresh build's.
    *  - A rebuild at the reused path is served: each layout directory is
    *    rebuilt in place with other parameters (BM25 buckets, band hashes
    *    and bands, IVF cells) and must answer as a fresh build with those
    *    parameters does, so a per-version metadata cache that outlives the
    *    rebuild shows up as a different answer. BM25 and band must serve
    *    `v0`, the version a build writes; their directories are deleted
    *    first, because a build over a compacted layout writes `v0` beside
    *    the compacted `v1`, which stays the served version.
    */
  private def check(run: Run, docs: DataFrame, embs: DataFrame, plan: Plan, maintained: Layouts): Unit = {
    val spark = run.spark
    import spark.implicits._
    val gone = plan.deletes
    val liveDocs = docs.filter(!col("doc_id").isin(gone: _*))
    val liveEmbs = embs.filter(!col("vec_id").isin(gone: _*))
    def ids[T](qs: Seq[T]) = qs.zipWithIndex.map { case (q, i) => (QueryIdBase + i, q) }
    def bm25(dir: String) = rows(Bm25Index.searchBm25IndexMany(
      spark, dir, ids(plan.bm25).toDF("query_id", "terms"), k = 10))
    def band(dir: String) = rows(BandIndex.dedupAgainstBandIndex(
      ids(plan.band).toDF("doc_id", "text"), dir, BandIndex.storedTexts(spark, dir)))
    def ivf(dir: String) = rows(Similarity.searchIvfIndex(
      ids(plan.ivf.map(_.map(_.toFloat).toArray)).toDF("vec_id", "embedding"), dir, k = 10))
    def same(what: String)(got: => Seq[String], want: => Seq[String]): Unit =
      run.op(s"check $what") {
        val (g, w) = (got, want)
        if (g != w) run.fail(s"check $what: ${g.diff(w).size} answer rows not in the " +
          s"reference's ${w.size}, ${w.diff(g).size} of its rows missing")
      }
    def served(what: String, dir: String): Unit = run.op(s"check $what version") {
      val vs = committedVersions(dir)
      if (vs != Seq("v0")) run.fail(s"check $what: rebuilt layout serves ${vs.lastOption}, not v0")
    }
    val fresh = new Layouts(run.work.resolve("fresh"))
    // BM25 answers do not depend on the bucket count, so this reference
    // also serves the rebuild with other buckets below
    lazy val bm25Fresh = {
      Bm25Index.writeBm25Index(liveDocs, fresh.bm25, nBuckets = Buckets)
      bm25(fresh.bm25)
    }
    same("bm25 maintained")(bm25(maintained.bm25), bm25Fresh)
    same("band maintained")(band(maintained.band), {
      BandIndex.writeBandIndex(liveDocs, fresh.band, storeTexts = true)
      band(fresh.band)
    })

    val other = new Layouts(run.work.resolve("fresh-other"))
    def bandBuild(dir: String) =
      BandIndex.writeBandIndex(liveDocs, dir, numHashes = 16, bands = 4, storeTexts = true)
    def ivfBuild(dir: String) = Similarity.writeIvfIndex(liveEmbs, dir, nCells = Cells / 2)
    same("bm25 rebuilt in place")({
      deleteTree(Paths.get(maintained.bm25))
      Bm25Index.writeBm25Index(liveDocs, maintained.bm25, nBuckets = Buckets / 2)
      bm25(maintained.bm25)
    }, bm25Fresh)
    served("bm25", maintained.bm25)
    same("band rebuilt in place")({
      deleteTree(Paths.get(maintained.band))
      bandBuild(maintained.band)
      band(maintained.band)
    }, { bandBuild(other.band); band(other.band) })
    served("band", maintained.band)
    same("ivf rebuilt in place")({ ivfBuild(maintained.ivf); ivf(maintained.ivf) },
      { ivfBuild(other.ivf); ivf(other.ivf) })
  }

  // ---------------------------------------------------------------- engine

  private def engine(run: Run): Unit = {
    val js = run.tracer.jobs.real
    run.layer("spark.jobs") = js.size
    run.layer("spark.stages") = js.map(_.stages).sum
    run.layer("spark.task_cpu_s") = js.map(_.cpuNs).sum / 1e9
    run.layer("spark.shuffle_bytes") = js.map(_.shuffleBytes).sum
    run.layer("spark.spill_bytes") = js.map(_.spillBytes).sum
    run.layer("jvm.gc_s") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
    run.layer("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    run.tracer.selfSeconds.foreach { case (layer, s) => run.layer(s"$layer.self_s") = s }
    run.layer("trace.spans") = run.tracer.spans.size
  }
}
