package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The persisted-band-index contract ([[BandIndex]]): persistence moves
  * the corpus signing pass to write time — it never changes
  * [[Dedup.dropNearDuplicatesIncrementalPortable]]'s decision, not
  * through appends, deletes, compactions, or crashes at any
  * commit-protocol stage.
  */
class BandIndexSpec extends AnyFunSuite with Matchers
    with graft.CleanSessionCheck {
  private lazy val spark = TestSpark.init()

  private def docs =
    graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  private def corpus = docs.filter(col("doc_id") < 250L)
  private def batch = docs.filter(col("doc_id") >= 250L)

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"band-$tag").toString

  private def survivors(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    val out = df.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    Dedup.releaseCheckpoints(df) // the core pins its capped band table
    out
  }

  private def decide(dir: String,
      corpusTexts: org.apache.spark.sql.DataFrame = corpus): Seq[Long] =
    survivors(BandIndex.dedupAgainstBandIndex(batch, dir, corpusTexts))

  test("persisted decision equals the in-session incremental twin " +
    "exactly, and some batch docs ARE dropped (non-vacuous)") {
    val dir = tmp("eq")
    BandIndex.writeBandIndex(corpus, dir)
    val twin = survivors(
      Dedup.dropNearDuplicatesIncrementalPortable(batch, corpus))
    val got = decide(dir)
    got shouldBe twin
    got.size should be < batch.count().toInt
  }

  test("the layout is self-describing: nondefault signing parameters " +
    "are stored in meta and both append and query sign with them") {
    val dir = tmp("params")
    BandIndex.writeBandIndex(docs.filter(col("doc_id") < 200L), dir,
      numHashes = 16, bands = 4, shingleSize = 2)
    BandIndex.appendBandIndex(
      docs.filter(col("doc_id") >= 200L && col("doc_id") < 250L), dir)
    val twin = survivors(Dedup.dropNearDuplicatesIncrementalPortable(
      batch, corpus, numHashes = 16, bands = 4, shingleSize = 2))
    decide(dir) shouldBe twin
  }

  test("append equals a one-shot build; base band files never " +
    "rewritten; crash window (missing .commit) serves the pre-append " +
    "decision and the retry lands clean") {
    val dirInc = tmp("inc")
    BandIndex.writeBandIndex(docs.filter(col("doc_id") < 200L), dirInc)
    val preAppend = decide(dirInc)
    val baseFiles = spark.read.parquet(s"$dirInc/v0/bands").inputFiles.toSet
    val delta = docs.filter(col("doc_id") >= 200L && col("doc_id") < 250L)
    BandIndex.appendBandIndex(delta, dirInc)
    val afterFiles = spark.read.parquet(s"$dirInc/v0/bands").inputFiles.toSet
    baseFiles.subsetOf(afterFiles) shouldBe true
    afterFiles.size should be > baseFiles.size
    val dirOne = tmp("one")
    BandIndex.writeBandIndex(corpus, dirOne)
    val expect = decide(dirOne)
    decide(dirInc) shouldBe expect
    // kill the append at its worst crash window: all rows written, only
    // the final .commit missing — the delta must be invisible
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dirInc/v0/commits/1.commit"))
    decide(dirInc) shouldBe preAppend
    // the burned .pending keeps the retry off seg 1
    BandIndex.appendBandIndex(delta, dirInc)
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dirInc/v0/commits/2.commit")) shouldBe true
    decide(dirInc) shouldBe expect
  }

  test("delete equals a rebuild without the deleted docs — a " +
    "sole-partner near-dup RESURRECTS; idempotent; crash-atomic; " +
    "compact materializes the tombstones and preserves the decision") {
    val dir = tmp("del")
    BandIndex.writeBandIndex(corpus, dir)
    val before = decide(dir)
    // doc 263's only corpus partner is 229 (measured at sf0.001):
    // deleting 229 must resurrect 263 in the surviving batch
    before should not contain 263L
    val ids = docs.filter(col("doc_id") === 229L).select("doc_id")
    val bandFiles = spark.read.parquet(s"$dir/v0/bands").inputFiles.toSet
    BandIndex.deleteFromBandIndex(dir, ids, spark) shouldBe 1L
    // deferred delete: band files untouched (tombstones only)
    spark.read.parquet(s"$dir/v0/bands").inputFiles.toSet shouldBe bandFiles
    val live = docs.filter(col("doc_id") < 250L && col("doc_id") =!= 229L)
    val expect = survivors(
      Dedup.dropNearDuplicatesIncrementalPortable(batch, live))
    expect should contain(263L)
    decide(dir, live) shouldBe expect
    // idempotent: re-delete subtracts nothing
    BandIndex.deleteFromBandIndex(dir, ids, spark) shouldBe 0L
    // crash-atomic: a tombstone segment without its .commit is invisible
    BandIndex.deleteFromBandIndex(dir,
      docs.filter(col("doc_id") === 5L).select("doc_id"), spark)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/v0/commits/3.commit"))
    decide(dir, live) shouldBe expect
    // compact drops tombstoned rows; the decision is unchanged and the
    // crashed seg-3 strandings are vacuumed
    var stages = List.empty[String]
    val fileCount = BandIndex.compactBandIndex(dir, spark, step => {
      stages ::= step
      if (step == "written") {
        BandIndex.currentVersionDir(dir) shouldBe s"$dir/v0"
        decide(dir, live) shouldBe expect
      }
    })
    stages.reverse shouldBe List("written", "committed", "retired")
    val ver = BandIndex.currentVersionDir(dir)
    ver shouldBe s"$dir/v1"
    spark.read.parquet(s"$ver/bands")
      .filter(col("doc_id") === 229L).count() shouldBe 0L
    // one file per band partition after the compact
    fileCount shouldBe spark.read.parquet(s"$ver/bands")
      .select("band").distinct().count()
    decide(dir, live) shouldBe expect
  }

  test("a never-built dir fails loudly") {
    an[IllegalArgumentException] should be thrownBy
      BandIndex.dedupAgainstBandIndex(batch, tmp("missing"), corpus)
  }

  private def searchRows(dir: String,
      corpusTexts: org.apache.spark.sql.DataFrame = corpus,
      queries: org.apache.spark.sql.DataFrame = batch)
      : Seq[(Long, Long, Long, Long)] = {
    val got = BandIndex.searchBandIndex(queries, dir, corpusTexts, k = 5)
    val rows = got.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    Dedup.releaseCheckpoints(got)
    rows
  }

  test("top-k search ranks the LSH collisions' EXACT Jaccard — " +
    "cross-pinned against the one-shot pair pipeline over the union") {
    val dir = tmp("search")
    BandIndex.writeBandIndex(corpus, dir)
    val rows = searchRows(dir)
    rows should not be empty
    // independent truth: the one-shot banded pipeline over the union
    // produces the same collisions (same signing family, same combined
    // bucket cap); rank its cross-boundary pairs per query
    val pairs = Dedup.minHashLshPortable(docs, threshold = 0.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("jaccard_micro"), asc("cand_id"))
    val truthDf = pairs
      .filter(col("a_id") < 250L && col("b_id") >= 250L)
      .select(col("b_id").as("query_id"), col("a_id").as("cand_id"),
        round(col("jaccard") * 1e6, 0).cast("long").as("jaccard_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy("query_id", "rank")
    val truth = truthDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    Dedup.releaseCheckpoints(pairs)
    rows shouldBe truth
  }

  test("continuous-ingest ladder: per-batch decisions equal the " +
    "sequential incremental twins, survivors grow the corpus, replays " +
    "recover from the segment, crash windows land clean, and tags " +
    "survive a compact") {
    import spark.implicits._
    val n = docs.count()
    val mid = (250L + (n - 1)) / 2L + 1L
    val b1 = docs.filter(col("doc_id") >= 250L && col("doc_id") < mid)
      .select("doc_id", "text")
    val b2 = docs.filter(col("doc_id") >= mid).select("doc_id", "text")
    val dir = tmp("ingest")
    BandIndex.writeBandIndex(corpus, dir, storeTexts = true)
    var sunk = Map.empty[Long, Seq[Long]]
    def sink(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      sunk += id -> df.select("doc_id").orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq
    BandIndex.ingestBandBatch(b1, dir, 0L)(sink) shouldBe true
    val twin1 = survivors(
      Dedup.dropNearDuplicatesIncrementalPortable(
        b1, corpus.select("doc_id", "text")))
    sunk(0L) shouldBe twin1
    BandIndex.ingestBandBatch(b2, dir, 1L)(sink) shouldBe true
    // batch 2's corpus is corpus ∪ batch-1 SURVIVORS
    val grown = corpus.select("doc_id", "text").unionByName(
      b1.join(twin1.toDF("doc_id"), Seq("doc_id"), "left_semi"))
    val twin2 = survivors(
      Dedup.dropNearDuplicatesIncrementalPortable(b2, grown))
    sunk(1L) shouldBe twin2
    // replay of batch 0: no re-decide (the grown index would
    // self-collide) — survivors recovered FROM the tagged segment,
    // identical to the original send
    sunk -= 0L
    BandIndex.ingestBandBatch(b1, dir, 0L)(sink) shouldBe false
    sunk(0L) shouldBe twin1
    // compact carries the tags: replay still no-ops (and by then the
    // sink was served — the quiesce rule), sink NOT invoked
    BandIndex.compactBandIndex(dir, spark)
    sunk = Map.empty
    BandIndex.ingestBandBatch(b1, dir, 0L)(sink) shouldBe false
    sunk shouldBe empty
    // crash window on a fresh layout: all rows written, tagged marker
    // missing — index serves the pre-batch state and the replay
    // ingests cleanly on a burned id
    val dir2 = tmp("ingest-crash")
    BandIndex.writeBandIndex(corpus, dir2, storeTexts = true)
    BandIndex.ingestBandBatch(b1, dir2, 5L)(sink) shouldBe true
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir2/v0/commits/1.commit-b5"))
    BandIndex.storedTexts(spark, dir2).count() shouldBe corpus.count()
    BandIndex.ingestBandBatch(b1, dir2, 5L)(sink) shouldBe true
    sunk(5L) shouldBe twin1
    // a text-less layout fails loudly before deciding anything
    val dir3 = tmp("ingest-notext")
    BandIndex.writeBandIndex(corpus, dir3)
    val e = intercept[IllegalArgumentException] {
      BandIndex.ingestBandBatch(b1, dir3, 0L)(sink)
    }
    e.getMessage should include("storeTexts")
  }

  test("a deleted corpus doc stops surfacing in search immediately, " +
    "and the ranking equals a rebuild without it") {
    val dir = tmp("search-del")
    BandIndex.writeBandIndex(corpus, dir)
    val before = searchRows(dir)
    before should not be empty
    val victim = before.head._2 // a cand_id known to surface
    import spark.implicits._
    BandIndex.deleteFromBandIndex(
      dir, Seq(victim).toDF("doc_id"), spark) shouldBe 1L
    val after = searchRows(dir, corpus.filter(col("doc_id") =!= victim))
    after.map(_._2) should not contain victim
    val rebuilt = tmp("search-rebuild")
    BandIndex.writeBandIndex(
      corpus.filter(col("doc_id") =!= victim), rebuilt)
    after shouldBe searchRows(rebuilt,
      corpus.filter(col("doc_id") =!= victim))
  }

  test("a rebuild at a reused path replaces a compacted layout: v0 " +
    "serves the new build, and later maintenance uses its parameters") {
    val dir = tmp("rebuild")
    def maintained(): Seq[Long] = {
      BandIndex.writeBandIndex(docs.filter(col("doc_id") < 200L), dir)
      BandIndex.appendBandIndex(
        docs.filter(col("doc_id") >= 200L && col("doc_id") < 250L), dir)
      BandIndex.compactBandIndex(dir, spark)
      decide(dir) // also caches v1's parameters
    }
    val old = maintained()
    val rebuilt = docs.filter(col("doc_id") < 100L)
    val fresh = tmp("rebuild-fresh")
    Seq(dir, fresh).foreach(BandIndex.writeBandIndex(rebuilt, _,
      numHashes = 16, bands = 4, shingleSize = 2))
    BandIndex.currentVersionDir(dir) shouldBe s"$dir/v0"
    decide(fresh, rebuilt) should not be old
    decide(dir, rebuilt) shouldBe decide(fresh, rebuilt)
    // the next compact lands at v1 again: appends and decisions must
    // sign with the rebuilt layout's parameters, not the removed v1's
    Seq(dir, fresh).foreach { d =>
      BandIndex.appendBandIndex(
        docs.filter(col("doc_id") >= 100L && col("doc_id") < 250L), d)
      BandIndex.compactBandIndex(d, spark)
    }
    BandIndex.currentVersionDir(dir) shouldBe s"$dir/v1"
    decide(dir) shouldBe decide(fresh)
    // a directory deleted outright leaves no version for the rebuild to
    // see: the compact re-creating v1 must still not serve v1's cache
    SegmentStore.deleteTree(java.nio.file.Paths.get(dir))
    maintained() shouldBe old
  }
}
