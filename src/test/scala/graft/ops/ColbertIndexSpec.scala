package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The persisted-ColBERT-index contract ([[ColbertIndex]]): the disk
  * layout never changes [[Retrieval.lateInteractionServe]]'s ranking —
  * not through appends (query-time df cap), deletes (post-compact),
  * compactions, or crashes at any commit-protocol stage.
  */
class ColbertIndexSpec extends AnyFunSuite with Matchers
    with graft.CleanSessionCheck {
  private lazy val spark = TestSpark.init()

  private def docs =
    graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  private def queriesOf(df: org.apache.spark.sql.DataFrame) =
    df.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"), col("text"))

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"colbert-$tag").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  private def inMemory(corpus: org.apache.spark.sql.DataFrame) = {
    val idx = Retrieval.lateInteractionIndex(corpus, dfCapPermille = 750)
    val out = rows(Retrieval.lateInteractionServe(
      queriesOf(corpus), idx, k = 5))
    Seq(idx.keep, idx.ctok, idx.masks).foreach(Dedup.releaseCheckpoints)
    out
  }

  test("persisted search equals the in-memory serve exactly (shared " +
    "scoring code, pruned reads assemble the same index)") {
    val dir = tmp("eq")
    ColbertIndex.writeColbertIndex(docs, dir, dfCapPermille = 750)
    rows(ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(docs), k = 5)) shouldBe inMemory(docs)
  }

  test("append equals a one-shot build: the query-time df cap sums the " +
    "partials, so the appended corpus's cap decisions are exact") {
    val half = docs.count() / 2
    val dir = tmp("inc")
    ColbertIndex.writeColbertIndex(
      docs.filter(col("doc_id") < half), dir, dfCapPermille = 750)
    ColbertIndex.appendColbertIndex(
      docs.filter(col("doc_id") >= half), dir)
    rows(ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(docs), k = 5)) shouldBe inMemory(docs)
  }

  test("append is crash-atomic: without its commit marker the delta is " +
    "invisible and a retry lands clean on a burned id") {
    val half = docs.count() / 2
    val dir = tmp("crash")
    ColbertIndex.writeColbertIndex(
      docs.filter(col("doc_id") < half), dir, dfCapPermille = 750)
    val before = rows(ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(docs), k = 5))
    ColbertIndex.appendColbertIndex(
      docs.filter(col("doc_id") >= half), dir, tag = Some("b9"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/v0/commits/1.commit-b9"))
    rows(ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(docs), k = 5)) shouldBe before
    ColbertIndex.appendColbertIndex(
      docs.filter(col("doc_id") >= half), dir)
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$dir/v0/commits/2.commit")) shouldBe true
    rows(ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(docs), k = 5)) shouldBe inMemory(docs)
  }

  test("delete hides the doc immediately; compact recomputes df and " +
    "restores delete ≡ rebuild-without-deleted exactly") {
    val dir = tmp("del")
    ColbertIndex.writeColbertIndex(docs, dir, dfCapPermille = 750)
    val victims = docs.filter(pmod(col("doc_id"), lit(10L)) === 3L)
    ColbertIndex.deleteFromColbertIndex(
      dir, victims.select("doc_id"), spark) shouldBe victims.count()
    val live = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3L)
    // tombstoned docs stop surfacing at once (scores exact; only the
    // df-cap boundary may lag a delete, restored by compact below)
    val afterDelete = rows(ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(live), k = 5))
    afterDelete.map(_(1).asInstanceOf[Long] % 10) should not contain 3L
    // double-delete subtracts nothing
    ColbertIndex.deleteFromColbertIndex(
      dir, victims.select("doc_id"), spark) shouldBe 0L
    ColbertIndex.compactColbertIndex(dir, spark)
    rows(ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(live), k = 5)) shouldBe inMemory(live)
  }

  test("compact serves the old version until its single commit point " +
    "and collapses to one file per bucket") {
    val half = docs.count() / 2
    val dir = tmp("compact")
    ColbertIndex.writeColbertIndex(
      docs.filter(col("doc_id") < half), dir, dfCapPermille = 750)
    ColbertIndex.appendColbertIndex(
      docs.filter(col("doc_id") >= half), dir)
    val expect = rows(ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(docs), k = 5))
    var stages = List.empty[String]
    val files = ColbertIndex.compactColbertIndex(dir, spark, step => {
      stages ::= step
      if (step == "written") {
        ColbertIndex.currentVersionDir(dir) shouldBe s"$dir/v0"
        rows(ColbertIndex.searchColbertIndex(
          spark, dir, queriesOf(docs), k = 5)) shouldBe expect
      }
      if (step == "committed")
        ColbertIndex.currentVersionDir(dir) shouldBe s"$dir/v1"
    })
    stages.reverse shouldBe List("written", "committed", "retired")
    // one data file per populated bucket directory
    val bucketDirs = SegmentStore.listDir(
      java.nio.file.Paths.get(s"$dir/v1/ctok"))
      .count(_.getFileName.toString.startsWith("tok_bucket="))
    files shouldBe bucketDirs.toLong
    rows(ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(docs), k = 5)) shouldBe expect
  }

  test("search prunes to the query tokens' buckets: the tok_bucket " +
    "partition filter and tok pushdown reach the candidate scan") {
    val dir = tmp("prune")
    ColbertIndex.writeColbertIndex(docs, dir, dfCapPermille = 750)
    val out = ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(docs).limit(1), k = 5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    plan should include("tok_bucket")
    plan should include regex "PartitionFilters: \\[tok_bucket#\\d+ IN"
  }

  test("a never-built dir and mismatched parameters fail loudly; an " +
    "all-capped-out query returns no rows rather than wrong ones") {
    an[IllegalArgumentException] should be thrownBy
      ColbertIndex.searchColbertIndex(
        spark, tmp("missing"), queriesOf(docs), k = 5)
    // dfCapPermille = 0 caps out every token: candidates empty, no rows
    val dir = tmp("capped")
    ColbertIndex.writeColbertIndex(docs, dir, dfCapPermille = 0)
    ColbertIndex.searchColbertIndex(
      spark, dir, queriesOf(docs), k = 5).count() shouldBe 0L
  }

  test("a rebuild at a reused path replaces a compacted layout: v0 " +
    "serves the new build, and later maintenance uses its parameters") {
    val half = docs.count() / 2
    def search(d: String) = rows(ColbertIndex.searchColbertIndex(
      spark, d, queriesOf(docs), k = 5))
    val dir = tmp("rebuild")
    def maintained(): Seq[Seq[Any]] = {
      ColbertIndex.writeColbertIndex(
        docs.filter(col("doc_id") < half), dir, dfCapPermille = 750)
      ColbertIndex.appendColbertIndex(docs.filter(col("doc_id") >= half), dir)
      ColbertIndex.compactColbertIndex(dir, spark)
      // an empty delete reads (and caches) v1's parameters
      ColbertIndex.deleteFromColbertIndex(
        dir, docs.filter(col("doc_id") < 0).select("doc_id"), spark) shouldBe 0L
      search(dir)
    }
    val old = maintained()
    val rebuilt = docs.filter(col("doc_id") < half)
    val fresh = tmp("rebuild-fresh")
    Seq(dir, fresh).foreach(ColbertIndex.writeColbertIndex(rebuilt, _,
      dim = 8, dfCapPermille = 500, nBuckets = 4))
    ColbertIndex.currentVersionDir(dir) shouldBe s"$dir/v0"
    search(fresh) should not be old
    search(dir) shouldBe search(fresh)
    // the next compact lands at v1 again; an append after it must use the
    // rebuilt layout's parameters, not the removed v1's cached ones
    Seq(dir, fresh).foreach { d =>
      ColbertIndex.compactColbertIndex(d, spark)
      ColbertIndex.appendColbertIndex(docs.filter(col("doc_id") >= half), d)
    }
    ColbertIndex.currentVersionDir(dir) shouldBe s"$dir/v1"
    search(dir) shouldBe search(fresh)
    // a directory deleted outright leaves no version for the rebuild to
    // see: the compact re-creating v1 must still not serve v1's cache
    SegmentStore.deleteTree(java.nio.file.Paths.get(dir))
    maintained() shouldBe old
  }
}
