package graft.ops

import graft.TestSpark
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Serving a persisted index many times must not recompile it: once one
  * search per family has run, the generated classes of a BM25 search, a
  * band decision and an IVF search all stay in Spark's codegen cache, so a
  * second BM25 → band → IVF cycle compiles nothing. A cache smaller than
  * the cycle's working set evicts every class before its next use and
  * recompiles it on every call ([[graft.Sessions]] sizes the cache).
  */
class IndexCodegenReuseSpec extends AnyFunSuite with Matchers
    with graft.CleanSessionCheck {
  private lazy val spark = TestSpark.init()

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"codegen-$tag").toString

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second BM25 / band / IVF search cycle compiles no new classes") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents").select("doc_id", "text")
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val (bm25, band, ivf) = (tmp("bm25"), tmp("band"), tmp("ivf"))
    Bm25Index.writeBm25Index(docs, bm25, nBuckets = 8)
    BandIndex.writeBandIndex(docs.filter(col("doc_id") < 250L), band,
      storeTexts = true)
    Similarity.writeIvfIndex(emb, ivf, nCells = 8)
    val batch = docs.filter(col("doc_id") >= 250L)
    val queries = emb.filter(col("vec_id") < 5L)
    def rows(df: DataFrame): Int = {
      val n = df.collect().length
      Dedup.releaseCheckpoints(df)
      n
    }
    def cycle(): Seq[Int] = Seq(
      rows(Bm25Index.searchBm25Index(spark, bm25, Seq("dup", "spark"), k = 10)),
      rows(BandIndex.dedupAgainstBandIndex(batch, band,
        BandIndex.storedTexts(spark, band))),
      rows(Similarity.searchIvfIndex(queries, ivf, k = 10)))
    val warm = cycle()
    warm.foreach(_ should be > 0)
    val before = compiles
    cycle() shouldBe warm
    (compiles - before) shouldBe 0L
  }
}
