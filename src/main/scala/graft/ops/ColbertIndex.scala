package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted late-interaction (ColBERT MaxSim) retrieval index — the
  * DISK layout for [[Retrieval.lateInteractionIndex]], completing the
  * persistence symmetry across every index family in the repo (dense
  * IVF, lexical BM25, near-dup bands, late-interaction HERE): the
  * in-memory form pins its three sides for a JVM's lifetime; this one
  * writes them once and serves any number of sessions.
  *
  * Layout under `dir` (the [[SegmentStore]] protocol — versioned dirs,
  * commit-marked segments, tagged markers; every crash window inherits
  * the BM25 spec's proofs):
  *
  *   - `v<N>/ctok/tok_bucket=<b>/` — `(tok, cand_id, seg)` candidate
  *     postings, Hive-partitioned by `pmod(hash(tok), nBuckets)` so a
  *     query reads only its tokens' buckets. Stored UNCAPPED — unlike
  *     the in-memory build, the df cap is NOT baked into the postings,
  *     because an append changes df and a frozen keep-set would
  *     silently drift; the cap applies at query time instead (below).
  *   - `v<N>/df/tok_bucket=<b>/` — `(tok, df, seg)` document-frequency
  *     PARTIALS (sums over committed segments), the table the
  *     query-time cap reads — pruned to the query's tokens, so the cap
  *     decision costs a token-count-sized read.
  *   - `v<N>/masks/` — `(cand_id, csv, seg)`: the bit-packed token
  *     sign masks ([[Retrieval.tokenSignMasks]]) scoring reads for
  *     CANDIDATES only (no partition filter to win here — candidates
  *     scatter; the lever is that non-candidates never join).
  *   - `v<N>/meta/` — `(dim, max_query_toks, max_doc_toks,
  *     df_cap_permille, n_buckets, n_docs, seg)`: parameters are
  *     checked-loud constants across segments; `n_docs` is a summable
  *     partial (deletes write negative rows).
  *   - `v<N>/deletes/` — tombstones; searches anti-join them, so a
  *     deleted doc stops surfacing immediately.
  *
  * Query-time df-cap semantics, stated not hidden: a search derives
  * the kept-token set from the df partials of ITS OWN tokens (one
  * pruned read), so appends keep the cap EXACT; after a DELETE the df
  * partials still count the tombstoned docs until compact — Lucene's
  * docFreq-until-merge again — so a borderline token's keep/drop can
  * lag a delete (returned candidates' SCORES are exact either way:
  * masks and postings are anti-joined). Compact recomputes df from
  * surviving postings and restores delete ≡ rebuild exactly (spec'd;
  * the lifecycle query compacts before its final search).
  *
  * The RANKING code is [[Retrieval.lateInteractionServe]] BY SHARED
  * CODE: the pruned reads assemble a [[Retrieval.LateInteractionIndex]]
  * and hand it to the same serve function the in-memory path uses, so
  * persisted and in-memory scoring can never drift.
  */
object ColbertIndex {
  import SegmentStore.{claimSeg, commitSeg, committedSegs}
  import Retrieval.LateInteractionIndex

  private[graft] def currentVersionDir(dir: String): String =
    SegmentStore.currentVersionDir(dir, "ColBERT index")

  private def committedDeletes(
      spark: SparkSession, ver: String, segs: Seq[Long]): DataFrame = {
    val path = java.nio.file.Paths.get(s"$ver/deletes")
    if (!java.nio.file.Files.isDirectory(path))
      spark.range(0).select(col("id").as("doc_id"))
    else spark.read.parquet(path.toString)
      .filter(col("seg").isin(segs: _*))
      .select("doc_id").distinct()
  }

  /** Stored parameters (loud on drift across segments). Cached per
    * VERSION dir for the JVM's lifetime: parameters are constant within
    * a version by construction (the build writes them, appends re-write
    * the values they read, a compact lands under a new version dir =
    * new key; builds and compacts drop the entries of the version roots
    * they remove or re-create) — only the LIVE `n_docs` changes, which is why
    * [[readParamsNDocs]] (the search path) is NOT cached.
    */
  private val paramsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Int, Int, Int, Int, Int)]()

  private def readParams(spark: SparkSession, ver: String,
      segs: Seq[Long]): (Int, Int, Int, Int, Int) =
    paramsCache.computeIfAbsent(ver, _ => readParamsNDocs(spark, ver, segs)._1)

  /** Parameters AND the live doc count from ONE meta read/collect —
    * the search path needs both, and two separate tiny jobs double the
    * driver round-trips on every serving call (search is the latency-
    * gated face of this layout).
    */
  private def readParamsNDocs(spark: SparkSession, ver: String,
      segs: Seq[Long]): ((Int, Int, Int, Int, Int), Long) = {
    val rows = spark.read.parquet(s"$ver/meta")
      .filter(col("seg").isin(segs: _*))
      .groupBy("dim", "max_query_toks", "max_doc_toks",
        "df_cap_permille", "n_buckets")
      .agg(sum("n_docs").as("n_docs"))
      .collect()
    require(rows.length == 1,
      s"ColBERT index at $ver has inconsistent parameters")
    ((rows(0).getInt(0), rows(0).getInt(1), rows(0).getInt(2),
      rows(0).getInt(3), rows(0).getInt(4)), rows(0).getLong(5))
  }

  private def writeSegment(docs: DataFrame, ver: String, seg: Long,
      dim: Int, maxQueryToks: Int, maxDocToks: Int, dfCapPermille: Int,
      nBuckets: Int, textCol: String): Unit = {
    val base = docs.select(col("doc_id"),
      slice(TextAnalysis.normTokens(coalesce(col(textCol), lit(""))),
        1, maxDocToks).as("ctoks"))
      .localCheckpoint()
    val nDocs = base.count()
    import docs.sparkSession.implicits._
    Seq((dim, maxQueryToks, maxDocToks, dfCapPermille, nBuckets,
        nDocs, seg))
      .toDF("dim", "max_query_toks", "max_doc_toks", "df_cap_permille",
        "n_buckets", "n_docs", "seg")
      .coalesce(1).write.mode("append").parquet(s"$ver/meta")
    val exploded = base
      .select(col("doc_id").as("cand_id"),
        explode(array_distinct(col("ctoks"))).as("tok"))
      .localCheckpoint()
    exploded
      .select(col("tok"), col("cand_id"), lit(seg).as("seg"),
        pmod(hash(col("tok")), lit(nBuckets)).as("tok_bucket"))
      .write.mode("append").partitionBy("tok_bucket")
      .parquet(s"$ver/ctok")
    exploded.groupBy("tok").agg(count(lit(1)).as("df"))
      .select(col("tok"), col("df"), lit(seg).as("seg"),
        pmod(hash(col("tok")), lit(nBuckets)).as("tok_bucket"))
      .write.mode("append").partitionBy("tok_bucket")
      .parquet(s"$ver/df")
    base.select(col("doc_id").as("cand_id"),
        Retrieval.tokenSignMasks(col("ctoks"), dim,
          graft.plans.GraftExtensions.available(docs.sparkSession)).as("csv"),
        lit(seg).as("seg"))
      .write.mode("append").parquet(s"$ver/masks")
    Dedup.releaseCheckpoints(exploded)
    Dedup.releaseCheckpoints(base)
  }

  /** Build the index over `docs` at `dir` (version `v0`, segment 0) —
    * one tokenize pass feeding postings, df partials, and masks.
    * Parameter semantics are exactly
    * [[Retrieval.lateInteractionIndex]]'s.
    */
  def writeColbertIndex(
      docs: DataFrame,
      dir: String,
      dim: Int = 16,
      maxQueryToks: Int = 16,
      maxDocToks: Int = 64,
      dfCapPermille: Int = 200,
      nBuckets: Int = 16,
      textCol: String = "text"): Unit = {
    require(dim > 0 && maxQueryToks > 0 && maxDocToks > 0 && nBuckets > 0,
      "dims, caps, and bucket count must be positive")
    val ver = s"$dir/v0"
    // a re-build at the same path replaces the layout — drop any stale
    // cached parameters for it
    SegmentStore.initBuild(dir).foreach(paramsCache.remove)
    writeSegment(docs, ver, 0L, dim, maxQueryToks, maxDocToks,
      dfCapPermille, nBuckets, textCol)
    commitSeg(ver, 0L)
    SegmentStore.markCommitted(ver)
  }

  /** INCREMENTALLY index new documents (unseen doc_ids) as one
    * commit-marked delta segment with the layout's stored parameters —
    * crash-atomic like every append here; with `tag`, exactly-once
    * under streaming replay ([[SegmentStore.commitSegTagged]]).
    * Because the df cap is applied at QUERY time from the summed
    * partials, an append's df shift is reflected exactly — no frozen
    * keep-set to drift. Returns the segment id.
    */
  def appendColbertIndex(newDocs: DataFrame, dir: String,
      textCol: String = "text", tag: Option[String] = None): Long = {
    val ver = currentVersionDir(dir)
    val spark = newDocs.sparkSession
    val segs = committedSegs(ver)
    val (dim, mqt, mdt, cap, nb) = readParams(spark, ver, segs)
    val seg = claimSeg(ver)
    writeSegment(newDocs, ver, seg, dim, mqt, mdt, cap, nb, textCol)
    tag match {
      case Some(t) => SegmentStore.commitSegTagged(ver, seg, t)
      case None => commitSeg(ver, seg)
    }
    seg
  }

  /** DELETE documents: one commit-marked tombstone segment (searches
    * anti-join it — a deleted doc stops surfacing immediately) plus a
    * NEGATIVE `n_docs` meta partial derived from the ids actually
    * present, so the cap threshold's denominator tracks the live
    * corpus. Per the layout contract, df partials are NOT adjusted
    * (a doc's tokens scatter across every bucket) — the cap's
    * numerator stays stale until compact, Lucene-style. Double-deletes
    * subtract nothing. Returns the number newly deleted.
    */
  def deleteFromColbertIndex(
      dir: String, deleteIds: DataFrame, spark: SparkSession): Long = {
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    val (dim, mqt, mdt, cap, nb) = readParams(spark, ver, segs)
    val ids = deleteIds.select(col("doc_id")).distinct()
    val nDeleted = spark.read.parquet(s"$ver/masks")
      .filter(col("seg").isin(segs: _*))
      .select(col("cand_id").as("doc_id"))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .distinct().count()
    val seg = claimSeg(ver)
    import spark.implicits._
    ids.select(col("doc_id"), lit(seg).as("seg"))
      .write.mode("append").parquet(s"$ver/deletes")
    // params repeat verbatim (readParams' cross-segment consistency
    // check would trip on placeholder zeros)
    Seq((dim, mqt, mdt, cap, nb, -nDeleted, seg))
      .toDF("dim", "max_query_toks", "max_doc_toks", "df_cap_permille",
        "n_buckets", "n_docs", "seg")
      .coalesce(1).write.mode("append").parquet(s"$ver/meta")
    commitSeg(ver, seg)
    nDeleted
  }

  /** COMPACT: apply tombstones, merge segments, recompute the df
    * partials EXACTLY from surviving postings (restoring delete ≡
    * rebuild for the cap), one file per bucket, carry ingest tags,
    * single `_COMMITTED` commit point, retire older versions. Returns
    * the post-compact ctok data-file count.
    */
  def compactColbertIndex(dir: String, spark: SparkSession,
      onStep: String => Unit = _ => ()): Long = {
    import scala.jdk.CollectionConverters._
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    val (dim, mqt, mdt, cap, nb) = readParams(spark, ver, segs)
    SegmentStore.clearUncommitted(dir)
    val next = s"$dir/v${SegmentStore.versions(dir).map(_._1).max + 1}"
    SegmentStore.initVersion(next)
    // the number may have served an earlier layout at this path (one the
    // caller deleted outright), so its cached parameters are not this one's
    paramsCache.remove(next)
    val survivors = spark.read.parquet(s"$ver/ctok")
      .filter(col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)
        .withColumnRenamed("doc_id", "cand_id")), Seq("cand_id"), "left_anti")
      .select(col("tok"), col("cand_id"), lit(0L).as("seg"),
        col("tok_bucket").cast("int").as("tok_bucket"))
      .localCheckpoint()
    survivors.repartition(col("tok_bucket"))
      .write.mode("overwrite").partitionBy("tok_bucket")
      .parquet(s"$next/ctok")
    survivors.groupBy("tok").agg(count(lit(1)).as("df"))
      .select(col("tok"), col("df"), lit(0L).as("seg"),
        pmod(hash(col("tok")), lit(nb)).as("tok_bucket"))
      .write.mode("overwrite").partitionBy("tok_bucket")
      .parquet(s"$next/df")
    val liveMasks = spark.read.parquet(s"$ver/masks")
      .filter(col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)
        .withColumnRenamed("doc_id", "cand_id")), Seq("cand_id"), "left_anti")
      .select(col("cand_id"), col("csv"), lit(0L).as("seg"))
      .localCheckpoint()
    liveMasks.coalesce(1)
      .write.mode("overwrite").parquet(s"$next/masks")
    val nLive = liveMasks.count()
    Dedup.releaseCheckpoints(liveMasks)
    Dedup.releaseCheckpoints(survivors)
    import spark.implicits._
    Seq((dim, mqt, mdt, cap, nb, nLive, 0L))
      .toDF("dim", "max_query_toks", "max_doc_toks", "df_cap_permille",
        "n_buckets", "n_docs", "seg")
      .coalesce(1).write.mode("overwrite").parquet(s"$next/meta")
    commitSeg(next, 0L)
    SegmentStore.carryTags(ver, next)
    onStep("written")
    SegmentStore.markCommitted(next)
    onStep("committed")
    SegmentStore.retireOthers(dir, next)
    onStep("retired")
    val w = java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$next/ctok"))
    try w.iterator().asScala.count(p =>
      p.getFileName.toString.endsWith(".parquet"))
    finally w.close()
  }

  /** Search the persisted index: top-k per query, EXACTLY the
    * in-memory serve's ranking by SHARED CODE — two pruned phases
    * assemble a [[Retrieval.LateInteractionIndex]] from the layout and
    * hand it to [[Retrieval.lateInteractionServe]]:
    *
    *   1. the query batch's distinct tokens (a batch-sized driver
    *      artifact — they drive the probe list, the
    *      [[Bm25Index.searchBm25IndexMany]] precedent) prune a read of
    *      the `df/` partials, and the cap keeps tokens with
    *      `df·1000 ≤ cap‰·n_docs`;
    *   2. the KEPT tokens prune the `ctok/` candidate scan
    *      (`tok_bucket IN` partition filter + `tok IN` pushdown — a
    *      capped-out hot token's posting rows are never read), masks
    *      anti-join tombstones, and the shared serve scores.
    */
  def searchColbertIndex(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int = 5,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    val ((dim, mqt, mdt, cap, nb), nDocs) = readParamsNDocs(spark, ver, segs)
    // ONE job collects the query tokens WITH their engine-hashed
    // buckets (was three: tokens, bucketsOf(qtoks), bucketsOf(kept) —
    // tiny jobs, but each is a driver round-trip on the latency-gated
    // serving call; kept ⊆ qtoks, so its buckets come from this map)
    val qtokBuckets = queries
      .select(explode(array_distinct(slice(
        TextAnalysis.normTokens(coalesce(col(textCol), lit(""))),
        1, math.min(mqt, mdt)))).as("tok"))
      .distinct()
      .select(col("tok"), pmod(hash(col("tok")), lit(nb)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val qtoks = qtokBuckets.keys.toSeq
    require(qtoks.nonEmpty, "searchColbertIndex needs at least one query token")
    import spark.implicits._
    val probed = qtokBuckets.values.toSeq.distinct
    val kept = spark.read.parquet(s"$ver/df")
      .filter(col("tok_bucket").isin(probed: _*) &&
        col("tok").isin(qtoks: _*) && col("seg").isin(segs: _*))
      .groupBy("tok").agg(sum("df").as("df"))
      .filter(col("df") * 1000 <= lit(cap.toLong) * lit(nDocs))
      .select("tok").collect().map(_.getString(0)).toSeq
    val dels = broadcast(committedDeletes(spark, ver, segs)
      .withColumnRenamed("doc_id", "cand_id"))
    val (keepDF, ctokDF) =
      if (kept.isEmpty)
        (spark.range(0).select(col("id").cast("string").as("tok")),
          spark.range(0).select(col("id").cast("string").as("tok"),
            col("id").as("cand_id")))
      else {
        val kb = kept.map(qtokBuckets).distinct
        (kept.toDF("tok"),
          spark.read.parquet(s"$ver/ctok")
            .filter(col("tok_bucket").isin(kb: _*) &&
              col("tok").isin(kept: _*) && col("seg").isin(segs: _*))
            .join(dels, Seq("cand_id"), "left_anti")
            .select("tok", "cand_id"))
      }
    val masksDF = spark.read.parquet(s"$ver/masks")
      .filter(col("seg").isin(segs: _*))
      .join(dels, Seq("cand_id"), "left_anti")
      .select("cand_id", "csv")
    Retrieval.lateInteractionServe(queries,
      LateInteractionIndex(keepDF, ctokDF, masksDF, dim, mqt, mdt),
      k, textCol)
  }

  /** STREAMING serving twin — query micro-batches against the
    * CURRENTLY COMMITTED version through `foreachBatch`, the
    * [[Bm25Index.searchBm25IndexStream]] shape: maintenance lands
    * between batches atomically, serving is stateless and pure, empty
    * batches no-op.
    */
  def searchColbertIndexStream(
      queryStream: DataFrame,
      dir: String,
      k: Int = 5)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          sink(searchColbertIndex(batch.sparkSession, dir, batch, k),
            batchId)
    }
}
