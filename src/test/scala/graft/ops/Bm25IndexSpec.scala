package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The persisted-BM25-index contract ([[Bm25Index]]): persistence moves
  * the tokenize/count pass to write time and turns a query into pruned
  * bucket reads — it never changes [[TextAnalysis.bm25]]'s answer, not
  * through appends, compactions, or crashes at any commit-protocol
  * stage.
  */
class Bm25IndexSpec extends AnyFunSuite with Matchers
    with graft.CleanSessionCheck {
  private lazy val spark = TestSpark.init()

  private def docs =
    graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  private val terms = Seq("dup", "spark", "join")

  private def direct(q: Seq[String]) =
    TextAnalysis.bm25(docs, q).collect().toSeq

  private def search(dir: String, q: Seq[String] = terms) =
    Bm25Index.searchBm25Index(spark, dir, q).collect().toSeq

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"bm25-$tag").toString

  test("persisted search equals the in-session scorer exactly " +
    "(scores, order, ties)") {
    val dir = tmp("eq")
    Bm25Index.writeBm25Index(docs, dir)
    search(dir) shouldBe direct(terms)
    // mixed-case/whitespace query terms normalize identically
    Bm25Index.searchBm25Index(spark, dir, Seq(" DUP", "Spark", "join "))
      .collect().toSeq shouldBe direct(terms)
  }

  test("duplicate query terms weight by multiplicity, exactly like " +
    "bm25's duplicated score columns") {
    val dir = tmp("mult")
    Bm25Index.writeBm25Index(docs, dir)
    val dup = Seq("dup", "dup", "spark")
    search(dir, dup) shouldBe direct(dup)
  }

  test("append equals a one-shot build: identical corpus stats and " +
    "identical search answers; base postings files never rewritten") {
    val half = docs.count() / 2
    val dirInc = tmp("inc")
    Bm25Index.writeBm25Index(docs.filter(col("doc_id") < half), dirInc)
    val baseFiles = spark.read.parquet(s"$dirInc/v0/postings")
      .inputFiles.toSet
    Bm25Index.appendBm25Index(docs.filter(col("doc_id") >= half), dirInc)
    // delta lands BESIDE the base files — none rewritten or removed
    val afterFiles = spark.read.parquet(s"$dirInc/v0/postings")
      .inputFiles.toSet
    baseFiles.subsetOf(afterFiles) shouldBe true
    afterFiles.size should be > baseFiles.size
    val dirOne = tmp("one")
    Bm25Index.writeBm25Index(docs, dirOne)
    search(dirInc) shouldBe search(dirOne)
    search(dirInc) shouldBe direct(terms)
  }

  test("append is crash-atomic: without its .commit marker the delta " +
    "is invisible, its seg id is burned, and a retry lands clean") {
    val half = docs.count() / 2
    val dir = tmp("crash")
    Bm25Index.writeBm25Index(docs.filter(col("doc_id") < half), dir)
    val before = search(dir)
    // worst-case crash: ALL of the delta's data written, only the
    // final .commit marker missing (every earlier crash strands less)
    Bm25Index.appendBm25Index(docs.filter(col("doc_id") >= half), dir)
    val commit = java.nio.file.Paths.get(s"$dir/v0/commits/1.commit")
    java.nio.file.Files.delete(commit)
    search(dir) shouldBe before
    // the burned .pending keeps the retry off seg 1, so the retry can
    // never adopt the stranded rows at its own commit
    Bm25Index.appendBm25Index(docs.filter(col("doc_id") >= half), dir)
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/v0/commits/2.commit")) shouldBe true
    search(dir) shouldBe direct(terms)
    // compact vacuums the seg-1 strandings and preserves the answer
    Bm25Index.compactBm25Index(dir, spark)
    val segs = spark.read.parquet(
      s"${Bm25Index.currentVersionDir(dir)}/postings")
      .select("seg").distinct().collect().map(_.getLong(0)).toSeq
    segs shouldBe Seq(0L)
    search(dir) shouldBe direct(terms)
  }

  test("compact collapses small files to one per bucket, serves the " +
    "old version until its single commit point, and never changes " +
    "the answer") {
    val n = docs.count()
    val dir = tmp("compact")
    Bm25Index.writeBm25Index(docs.filter(col("doc_id") < n / 3), dir)
    Bm25Index.appendBm25Index(
      docs.filter(col("doc_id") >= n / 3 && col("doc_id") < 2 * n / 3), dir)
    Bm25Index.appendBm25Index(docs.filter(col("doc_id") >= 2 * n / 3), dir)
    val expect = direct(terms)
    search(dir) shouldBe expect
    val preFiles = spark.read.parquet(s"$dir/v0/postings").inputFiles.length
    var stages = List.empty[String]
    val fileCount = Bm25Index.compactBm25Index(dir, spark, step => {
      stages ::= step
      // at "written" the new version exists but is NOT committed: a
      // reader still resolves v0 and serves the exact old answer — a
      // crash here strands only the invisible partial version
      if (step == "written") {
        Bm25Index.currentVersionDir(dir) shouldBe s"$dir/v0"
        search(dir) shouldBe expect
      }
      if (step == "committed")
        Bm25Index.currentVersionDir(dir) shouldBe s"$dir/v1"
    })
    stages.reverse shouldBe List("written", "committed", "retired")
    fileCount should be < preFiles.toLong
    // one file per populated bucket (repartition on the partition key)
    val buckets = spark.read.parquet(s"$dir/v1/postings")
      .select("term_bucket").distinct().count()
    fileCount shouldBe buckets
    // the retired version is gone; the answer is unchanged
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/v0")) shouldBe false
    search(dir) shouldBe expect
    // a crashed compact's stranded UNCOMMITTED version is cleared by
    // the next compact and never serves
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/v7/commits"))
    Bm25Index.currentVersionDir(dir) shouldBe s"$dir/v1"
    Bm25Index.compactBm25Index(dir, spark)
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/v7")) shouldBe false
    search(dir) shouldBe expect
  }

  test("delete equals a rebuild without the deleted docs: tombstones " +
    "adjust df/n_docs/sum_dl exactly; no postings file rewrites; " +
    "double-delete is a no-op; compact materializes the tombstones") {
    val dir = tmp("del")
    Bm25Index.writeBm25Index(docs, dir)
    val files = spark.read.parquet(s"$dir/v0/postings").inputFiles.toSet
    val ids = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select("doc_id")
    val n = Bm25Index.deleteFromBm25Index(dir, ids, spark)
    n shouldBe ids.count()
    // deferred delete: the postings files are untouched (tombstones)
    spark.read.parquet(s"$dir/v0/postings").inputFiles.toSet shouldBe files
    val expect = TextAnalysis.bm25(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 3), terms)
      .collect().toSeq
    search(dir) shouldBe expect
    // idempotent: re-deleting subtracts nothing (adjustments derive
    // from SURVIVING postings only)
    Bm25Index.deleteFromBm25Index(dir, ids, spark) shouldBe 0L
    search(dir) shouldBe expect
    // compact drops the tombstoned rows and the answer is unchanged
    Bm25Index.compactBm25Index(dir, spark)
    val ver = Bm25Index.currentVersionDir(dir)
    spark.read.parquet(s"$ver/postings")
      .join(ids, Seq("doc_id"), "left_semi").count() shouldBe 0L
    search(dir) shouldBe expect
    // post-compact appends and deletes still work on the new version
    Bm25Index.deleteFromBm25Index(dir,
      docs.filter(col("doc_id") === 0).select("doc_id"), spark)
    search(dir) shouldBe TextAnalysis.bm25(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 3 && col("doc_id") =!= 0),
      terms).collect().toSeq
  }

  test("delete is crash-atomic: without its .commit marker both the " +
    "tombstones and the negative meta partial stay invisible") {
    val dir = tmp("delcrash")
    Bm25Index.writeBm25Index(docs, dir)
    val before = search(dir)
    Bm25Index.deleteFromBm25Index(dir,
      docs.filter(pmod(col("doc_id"), lit(10)) === 3).select("doc_id"), spark)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/v0/commits/1.commit"))
    search(dir) shouldBe before
  }

  test("searches are bucket-pruned: the term_bucket filter reaches the " +
    "scan as a partition filter and unprobed buckets are never read") {
    val dir = tmp("prune")
    Bm25Index.writeBm25Index(docs, dir, nBuckets = 16)
    val out = Bm25Index.searchBm25Index(spark, dir, Seq("dup"))
    val plan = out.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("term_bucket")
    // the term equality itself pushes into the parquet row-group scan
    plan should include("PushedFilters")
    plan should include("term")
    out.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case sc: FileSourceScanExec => Seq(sc)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        allScans(r.child)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(out.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/postings")))
    scans should not be empty
    // ONE query term hashes to ONE bucket: exactly one of the 16
    // partition directories is listed and read
    val readParts = scans.map(sc =>
      sc.relation.location.listFiles(sc.partitionFilters, Nil).length).max
    readParts shouldBe 1
  }

  test("a never-built or uncommitted dir fails loudly; mismatched " +
    "bucket counts across segments fail loudly") {
    an[IllegalArgumentException] should be thrownBy
      Bm25Index.searchBm25Index(spark, tmp("missing"), terms)
    an[IllegalArgumentException] should be thrownBy
      Bm25Index.searchBm25Index(spark, tmp("empty"), Seq.empty)
  }

  // ---- multi-query serving / streaming twin ----

  test("multi-query serving: each query's ranking in the shared-scan " +
    "batch equals its own single-query search, duplicate terms " +
    "weighting by multiplicity") {
    import spark.implicits._
    val dir = tmp("many")
    Bm25Index.writeBm25Index(docs, dir)
    val queries = Seq(
      (0L, Seq("dup", "spark", "join")),
      (1L, Seq("batch", "merge")),
      (2L, Seq("window", "window", "scan"))).toDF("query_id", "terms")
    val many = Bm25Index.searchBm25IndexMany(spark, dir, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    for ((qid, qTerms) <- Seq(0L -> Seq("dup", "spark", "join"),
        1L -> Seq("batch", "merge"), 2L -> Seq("window", "window", "scan"))) {
      val single = Bm25Index.searchBm25Index(spark, dir, qTerms, k = 10)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1))).toSeq
      many(qid).sortBy(t => (-t._3, t._2)).toSeq shouldBe single
    }
  }

  test("streaming serving twin: query micro-batches against the " +
    "persisted index score identically to the one-shot batch, across " +
    "two batches; an empty batch is a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmp("serve-stream")
    Bm25Index.writeBm25Index(docs, dir)
    val q0 = (0L, Seq("dup", "spark", "join"))
    val q1 = (1L, Seq("batch", "merge"))
    val batch = Bm25Index.searchBm25IndexMany(
      spark, dir, Seq(q0, q1).toDF("query_id", "terms"), k = 5)
      .collect().map(_.toSeq)
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val mem = MemoryStream[(Long, Seq[String])](spark)
    val q = Bm25Index.searchBm25IndexStream(
      mem.toDF.toDF("query_id", "terms"), dir, k = 5) { (scored, _) =>
        got ++= scored.collect().map(_.toSeq)
      }.start()
    mem.addData(q0)
    q.processAllAvailable()
    mem.addData(q1)
    q.processAllAvailable()
    q.stop()
    got.sortBy(r => (r.head.asInstanceOf[Long], r(3).asInstanceOf[Long]))
      .toSeq shouldBe batch.toSeq
      .sortBy(r => (r.head.asInstanceOf[Long], r(3).asInstanceOf[Long]))
  }

  test("multi-query serving prunes to the BATCH's term union: a " +
    "one-term batch reads one of 16 bucket directories") {
    import spark.implicits._
    val dir = tmp("many-prune")
    Bm25Index.writeBm25Index(docs, dir, nBuckets = 16)
    val out = Bm25Index.searchBm25IndexMany(spark, dir,
      Seq((0L, Seq("dup"))).toDF("query_id", "terms"), k = 5)
    out.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case sc: FileSourceScanExec => Seq(sc)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qs.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        allScans(r.child)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(out.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/postings")))
    scans should not be empty
    scans.map(sc =>
      sc.relation.location.listFiles(sc.partitionFilters, Nil).length)
      .max shouldBe 1
  }

  // ---- positional index / phrase search ----

  private def phrase(dir: String, p: Seq[String], k: Int = 20) =
    Bm25Index.searchPhraseIndex(spark, dir, p, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("phrase search: crafted truths — overlapping starts count, " +
    "repeated-term phrases need no special case, adjacency is " +
    "required, docs missing a term are dropped") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "a a a"),          // "a a" overlaps: starts 0 and 1
      (2L, "a b a b a"),      // "a b" twice; "a b a" twice (overlap at 0, 2)
      (3L, "a c b"),          // a and b present but never adjacent
      (4L, "b b"),            // missing 'a' entirely for "a b"
      (5L, "x a b y a b z")   // two clean occurrences
    ).toDF("doc_id", "text")
    val dir = tmp("crafted")
    Bm25Index.writeBm25Index(crafted, dir, nBuckets = 8, positional = true)
    phrase(dir, Seq("a", "a")) shouldBe Seq((1L, 2L))
    phrase(dir, Seq("a", "b")) shouldBe Seq((2L, 2L), (5L, 2L))
    phrase(dir, Seq("a", "b", "a")) shouldBe Seq((2L, 2L))
    phrase(dir, Seq("b", "a")) shouldBe Seq((2L, 2L))
    phrase(dir, Seq("c", "a")) shouldBe Seq.empty
    // single-term phrase degenerates to term occurrences (= tf)
    phrase(dir, Seq("b")) shouldBe Seq((2L, 2L), (4L, 2L), (3L, 1L), (5L, 2L))
      .sortBy { case (id, n) => (-n, id) }
    // k cuts after the deterministic (n_matches DESC, doc_id) order
    phrase(dir, Seq("b"), k = 2) shouldBe Seq((2L, 2L), (4L, 2L))
  }

  test("phrase search equals an in-session consecutive-window count " +
    "over the corpus, and mixed-case phrase terms normalize") {
    val dir = tmp("phrase-corpus")
    Bm25Index.writeBm25Index(docs, dir, positional = true)
    // direct truth: count starts i (1-based element_at) where both
    // window tokens equal the phrase, guarded against len < 2
    // (functions.size qualified: scalatest Matchers shadows `size`)
    val fsize = org.apache.spark.sql.functions.size _
    val tk = docs.select(col("doc_id"),
      TextAnalysis.normTokens(col("text")).as("tk"))
    val starts = filter(
      sequence(lit(1), fsize(col("tk")) - 1),
      i => element_at(col("tk"), i) === "batch" &&
        element_at(col("tk"), i + 1) === "batch")
    val expect = tk.filter(fsize(col("tk")) >= 2)
      .select(col("doc_id"), fsize(starts).cast("long").as("n"))
      .filter(col("n") > 0)
      .orderBy(desc("n"), asc("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    phrase(dir, Seq("batch", "batch")) shouldBe expect
    phrase(dir, Seq(" BATCH", "Batch ")) shouldBe expect
  }

  test("positional lifecycle: append preserves positions (phrase after " +
    "append ≡ one-shot positional build), compact keeps the positions " +
    "column, and BM25 term search is unaffected by it") {
    val half = docs.count() / 2
    val dirInc = tmp("pos-inc")
    Bm25Index.writeBm25Index(docs.filter(col("doc_id") < half), dirInc,
      positional = true)
    Bm25Index.appendBm25Index(docs.filter(col("doc_id") >= half), dirInc)
    val dirOne = tmp("pos-one")
    Bm25Index.writeBm25Index(docs, dirOne, positional = true)
    val expect = phrase(dirOne, Seq("batch", "batch"))
    phrase(dirInc, Seq("batch", "batch")) shouldBe expect
    // the positional layout serves plain BM25 identically (positions
    // are pruned out of the term-search scan)
    search(dirInc) shouldBe direct(terms)
    Bm25Index.compactBm25Index(dirInc, spark)
    spark.read.parquet(
      s"${Bm25Index.currentVersionDir(dirInc)}/postings")
      .columns should contain("positions")
    phrase(dirInc, Seq("batch", "batch")) shouldBe expect
    search(dirInc) shouldBe direct(terms)
    // delete flows through phrase search too: tombstoned docs vanish
    // and the freed k-slot refills — ≡ a rebuild without the doc
    val dropped = expect.head._1
    Bm25Index.deleteFromBm25Index(dirInc,
      docs.filter(col("doc_id") === dropped).select("doc_id"), spark)
    val dirReb = tmp("pos-reb")
    Bm25Index.writeBm25Index(docs.filter(col("doc_id") =!= dropped), dirReb,
      positional = true)
    phrase(dirInc, Seq("batch", "batch")) shouldBe
      phrase(dirReb, Seq("batch", "batch"))
  }

  test("phrase search prunes to the phrase's distinct terms' buckets — " +
    "a repeated-term phrase reads ONE of 16 partition directories") {
    val dir = tmp("pos-prune")
    Bm25Index.writeBm25Index(docs, dir, nBuckets = 16, positional = true)
    val out = Bm25Index.searchPhraseIndex(spark, dir, Seq("batch", "batch"))
    out.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case sc: FileSourceScanExec => Seq(sc)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        allScans(r.child)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(out.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/postings")))
    scans should not be empty
    val readParts = scans.map(sc =>
      sc.relation.location.listFiles(sc.partitionFilters, Nil).length).max
    readParts shouldBe 1
  }

  test("phrase search on a non-positional index fails loudly") {
    val dir = tmp("pos-missing")
    Bm25Index.writeBm25Index(docs, dir)
    val e = intercept[IllegalArgumentException] {
      Bm25Index.searchPhraseIndex(spark, dir, Seq("batch", "batch"))
    }
    e.getMessage should include("positional")
  }

  test("pruned search in the EXACT regime (quota >= every list) equals " +
    "the full search and the in-session scorer — including across an " +
    "append's per-segment ranks") {
    val dir = tmp("pruned-eq")
    Bm25Index.writeBm25Index(docs, dir)
    Bm25Index.searchBm25IndexPruned(spark, dir, terms, quota = 1000000)
      .collect().toSeq shouldBe direct(terms)
    // per-segment ranks: each segment's top-quota is a superset of its
    // share of the truth, so the exact regime survives an append
    val half = docs.count() / 2
    val dirInc = tmp("pruned-inc")
    Bm25Index.writeBm25Index(docs.filter(col("doc_id") < half), dirInc)
    Bm25Index.appendBm25Index(docs.filter(col("doc_id") >= half), dirInc)
    Bm25Index.searchBm25IndexPruned(spark, dirInc, terms, quota = 1000000)
      .collect().toSeq shouldBe direct(terms)
  }

  test("pruned search reads only the impact prefix: the imp_rank cutoff " +
    "and term filter reach the parquet scan as pushed predicates over " +
    "the bucket-pruned directories") {
    val dir = tmp("pruned-plan")
    Bm25Index.writeBm25Index(docs, dir)
    val plan = Bm25Index.searchBm25IndexPruned(spark, dir, terms, quota = 2)
      .queryExecution.executedPlan.toString
    // the executed plan elides long PushedFilters lists ("...") — the
    // data-filter condition carries the same cutoff un-elided
    plan should include regex "imp_rank#\\d+ <= 2"
    plan should include("In(term, [")
    // quota 2 caps each term's contribution at 2 postings per segment:
    // candidate docs number at most |terms| * quota
    Bm25Index.searchBm25IndexPruned(spark, dir, terms, quota = 2)
      .count() should be <= (terms.size * 2).toLong
  }

  test("pruned search's dictionary df is STALE after a delete (Lucene " +
    "docFreq semantics) and compact rebuilds it exact") {
    val dir = tmp("pruned-del")
    Bm25Index.writeBm25Index(docs, dir)
    val victims = docs.filter(col("text").contains("dup"))
      .select("doc_id").limit(3)
    val nDel = Bm25Index.deleteFromBm25Index(dir, victims, spark)
    nDel shouldBe 3L
    def dictDf: Long = spark.read
      .parquet(s"${Bm25Index.currentVersionDir(dir)}/terms")
      .filter(col("term") === "dup")
      .agg(sum("df")).collect()(0).getLong(0)
    def liveDf: Long = spark.read
      .parquet(s"${Bm25Index.currentVersionDir(dir)}/postings")
      .filter(col("term") === "dup")
      .join(victims.hint("broadcast"), Seq("doc_id"), "left_anti")
      .count()
    // the dictionary still counts the tombstoned docs...
    dictDf shouldBe (liveDf + 3)
    // ...until compact rebuilds it from survivors, after which the
    // pruned search (exact regime) equals the full search again
    Bm25Index.compactBm25Index(dir, spark)
    dictDf shouldBe liveDf
    Bm25Index.searchBm25IndexPruned(spark, dir, terms, quota = 1000000)
      .collect().toSeq shouldBe search(dir)
  }

  test("streaming ingest is exactly-once: a replayed batch id no-ops — " +
    "even across a crash window and across a compact") {
    val n = docs.count()
    val dir = tmp("ingest-once")
    Bm25Index.writeBm25Index(docs.filter(col("doc_id") < n / 2), dir)
    val b7 = docs.filter(col("doc_id") >= n / 2)
    Bm25Index.ingestBm25Batch(b7, dir, "text", batchId = 7L) shouldBe true
    val after = search(dir)
    after shouldBe direct(terms)
    // replay: the tag rides in the commit marker, so the batch no-ops
    Bm25Index.ingestBm25Batch(b7, dir, "text", batchId = 7L) shouldBe false
    search(dir) shouldBe after
    // crash BEFORE the tagged marker: rows invisible, tag absent, the
    // replay ingests cleanly on a fresh burned-id segment
    val dir2 = tmp("ingest-crash")
    Bm25Index.writeBm25Index(docs.filter(col("doc_id") < n / 2), dir2)
    val before2 = search(dir2)
    Bm25Index.ingestBm25Batch(b7, dir2, "text", batchId = 3L) shouldBe true
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir2/v0/commits/1.commit-b3"))
    search(dir2) shouldBe before2
    Bm25Index.ingestBm25Batch(b7, dir2, "text", batchId = 3L) shouldBe true
    search(dir2) shouldBe direct(terms)
    // compact carries tags forward: the replay still no-ops after the
    // rewrite (and an empty batch is always a no-op)
    Bm25Index.compactBm25Index(dir2, spark)
    Bm25Index.ingestBm25Batch(b7, dir2, "text", batchId = 3L) shouldBe false
    Bm25Index.ingestBm25Batch(
      docs.filter(lit(false)), dir2, "text", batchId = 99L) shouldBe false
    search(dir2) shouldBe direct(terms)
  }

  test("pruned multi-query serving in the exact regime equals the " +
    "full-scan batch, and each query's ranking equals its own pruned " +
    "single-query search") {
    import spark.implicits._
    val dir = tmp("pruned-many")
    Bm25Index.writeBm25Index(docs, dir)
    val queries = Seq(
      (0L, Seq("dup", "spark", "join")),
      (1L, Seq("batch", "merge")),
      (2L, Seq("window", "window", "scan"))).toDF("query_id", "terms")
    Bm25Index.searchBm25IndexPrunedMany(
      spark, dir, queries, k = 10, quota = 1000000)
      .orderBy("query_id", "rank").collect().toSeq shouldBe
      Bm25Index.searchBm25IndexMany(spark, dir, queries, k = 10)
        .orderBy("query_id", "rank").collect().toSeq
    // pruned regime: query 0's slice of the batch ≡ the single-query
    // pruned search's ranking (same expression tree, same quota)
    val single = Bm25Index.searchBm25IndexPruned(
      spark, dir, Seq("dup", "spark", "join"), k = 10, quota = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Bm25Index.searchBm25IndexPrunedMany(
      spark, dir, queries, k = 10, quota = 2)
      .filter(col("query_id") === 0L).orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq shouldBe single
  }

  test("index stats equal corpus-derived truth on a clean index — " +
    "vocabulary size, posting count, discrete df quantiles, hottest " +
    "list") {
    val dir = tmp("stats")
    Bm25Index.writeBm25Index(docs, dir)
    val row = Bm25Index.bm25IndexStats(spark, dir).collect()(0)
    val toks = docs.select(col("doc_id"),
      TextAnalysis.normTokens(col("text")).as("tk"))
    row.getLong(0) shouldBe docs.count() // n_docs
    val sumDl = toks
      .agg(coalesce(
        sum(org.apache.spark.sql.functions.size(col("tk")).cast("long")),
        lit(0L)).as("s"))
      .collect()(0).getLong(0)
    row.getLong(1) shouldBe sumDl
    val dfByTerm = toks
      .select(col("doc_id"), explode(col("tk")).as("term"))
      .groupBy("term").agg(count_distinct(col("doc_id")).as("df"))
      .collect().map(_.getLong(1)).sorted
    row.getLong(2) shouldBe dfByTerm.length.toLong // n_terms
    row.getLong(3) shouldBe dfByTerm.sum // n_postings
    def disc(p: Int): Long = {
      val total = dfByTerm.length.toLong
      var cum = 0L
      dfByTerm.foldLeft(Option.empty[Long]) { (acc, v) =>
        cum += 1
        if (acc.isEmpty && cum * 1000 >= total * p) Some(v) else acc
      }.get
    }
    row.getLong(4) shouldBe disc(500) // df_p500
    row.getLong(5) shouldBe disc(990) // df_p990
    row.getLong(6) shouldBe dfByTerm.max // df_max
  }

  test("streaming ingest twin: document micro-batches build the same " +
    "index as a one-shot write (MemoryStream, two batches)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val n = docs.count()
    val dir = tmp("ingest-stream")
    Bm25Index.writeBm25Index(docs.filter(col("doc_id") < n / 2), dir)
    // NULL text survives the tuple round-trip, so the streamed corpus
    // is byte-identical to the one-shot build's
    val rows = docs.filter(col("doc_id") >= n / 2)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (h1, h2) = rows.splitAt(rows.size / 2)
    val mem = MemoryStream[(Long, String)](spark)
    val q = Bm25Index.appendBm25IndexStream(
      mem.toDF.toDF("doc_id", "text"), dir).start()
    mem.addData(h1: _*)
    q.processAllAvailable()
    mem.addData(h2: _*)
    q.processAllAvailable()
    q.stop()
    search(dir) shouldBe direct(terms)
  }

  test("a rebuild at a reused path replaces a compacted layout: v0 " +
    "serves the new build, and later maintenance uses its parameters") {
    val n = docs.count()
    val dir = tmp("rebuild")
    def maintained(): Seq[org.apache.spark.sql.Row] = {
      Bm25Index.writeBm25Index(docs.filter(col("doc_id") < n / 2), dir)
      Bm25Index.appendBm25Index(docs.filter(col("doc_id") >= n / 2), dir)
      Bm25Index.compactBm25Index(dir, spark)
      search(dir) // also caches v1's metadata
    }
    val old = maintained()
    val rebuilt = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val fresh = tmp("rebuild-fresh")
    Seq(dir, fresh).foreach(Bm25Index.writeBm25Index(rebuilt, _, nBuckets = 4))
    Bm25Index.currentVersionDir(dir) shouldBe s"$dir/v0"
    search(fresh) should not be old
    search(dir) shouldBe search(fresh)
    // the next compact lands at v1 again: it must serve the rebuilt
    // layout's bucket count, not the removed v1's cached one
    Seq(dir, fresh).foreach { d =>
      Bm25Index.appendBm25Index(docs.filter(pmod(col("doc_id"), lit(3)) === 0), d)
      Bm25Index.compactBm25Index(d, spark)
    }
    Bm25Index.currentVersionDir(dir) shouldBe s"$dir/v1"
    search(dir) shouldBe search(fresh)
    // a directory deleted outright leaves no version for the rebuild to
    // see: the compact re-creating v1 must still not serve v1's cache
    SegmentStore.deleteTree(java.nio.file.Paths.get(dir))
    maintained() shouldBe old
  }

  test("the driver-side probe bucket equals pmod(hash(term), n) for " +
    "random, empty, null and non-ASCII terms") {
    val rnd = new scala.util.Random(42)
    val terms: Seq[String] =
      Seq("", " ", "dup", "Spark", "naïve", "straße", "日本語", "🙂 ok",
        "a\u0000b", null) ++
        Seq.fill(200)(rnd.nextString(rnd.nextInt(12))) ++
        Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(16)).mkString)
    import spark.implicits._
    val frame = terms.zipWithIndex.toDF("term", "i")
    for (n <- Seq(1, 3, 8, 64, 1000)) {
      val engine = frame.orderBy("i")
        .select(pmod(hash(col("term")), lit(n))).collect().map(_.getInt(0))
      terms.map(Bm25Index.termBucket(_, n)) shouldBe engine.toSeq
    }
  }
}
