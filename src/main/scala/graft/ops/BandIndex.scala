package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Persisted MinHash-LSH band index — the "build once, query many"
  * treatment for the DEDUP side, completing the index-family symmetry
  * (dense: [[Similarity.writeIvfIndex]]; lexical: [[Bm25Index]];
  * near-dup fingerprints: HERE). The expensive pass a continuous-ingest
  * dedup repeats is SIGNING the corpus — shingle → md5 → 32 seeded
  * min-mixes → banded buckets per document; this layout runs it once at
  * write time, so each increment signs only its own batch and joins the
  * stored `(band, bucket, doc_id)` table
  * ([[Dedup.dropNearDuplicatesIncrementalPortable]]'s decision, shared
  * code, never re-signing the corpus).
  *
  * Unlike the IVF/BM25 layouts this index serves a JOIN, not a point
  * probe — a batch's buckets can land anywhere, so there is no
  * partition filter to win; the scale lever is what is NOT recomputed
  * (the corpus signing pass) and what is never read (document text —
  * the layout holds fingerprints only; exact-Jaccard verification
  * fetches text for COLLIDING ids alone, from the corpus table the
  * caller already has). Rows are Hive-partitioned by `band` purely as
  * the compaction unit (one file per band after a compact).
  *
  * Layout under `dir` (the [[SegmentStore]] protocol — every crash
  * window inherits the BM25 spec's proofs):
  *
  *   - `v<N>/bands/band=<b>/` — `(bucket, doc_id, seg)` rows;
  *   - `v<N>/meta/` — `(n_hashes, bands, shingle_size, seg)`: the
  *     layout is SELF-DESCRIBING, appends and queries sign new text
  *     with the stored parameters (a mismatched signing family would
  *     silently never collide — checked loudly instead);
  *   - `v<N>/deletes/` — `(doc_id, seg)` tombstones: a forgotten doc's
  *     fingerprints must stop matching immediately, but its band rows
  *     scatter across bucket space, so the rewrite defers to compact;
  *   - `v<N>/commits/` — per-segment `.pending`/`.commit` markers.
  */
object BandIndex {
  import SegmentStore.{claimSeg, commitSeg, committedSegs, readSide, versions}

  private[graft] def currentVersionDir(dir: String): String =
    SegmentStore.currentVersionDir(dir, "band index")

  /** Committed tombstones `(doc_id)` — empty frame if none written. */
  private def committedDeletes(
      spark: SparkSession, ver: String, segs: Seq[Long]): DataFrame = {
    val path = java.nio.file.Paths.get(s"$ver/deletes")
    if (!java.nio.file.Files.isDirectory(path))
      spark.range(0).select(col("id").as("doc_id"))
    else readSide(spark, path.toString)
      .filter(col("seg").isin(segs: _*))
      .select("doc_id").distinct()
  }

  /** The stored signing parameters (loud on drift across segments).
    * Cached per VERSION dir for the life of the JVM: parameters are
    * constant within a version by construction — the build writes them
    * once and every append re-writes exactly the values it read — so
    * one read (with the cross-segment consistency check) serves every
    * later call on the same version. A compact/retrain writes a NEW
    * version dir, which is a new cache key (a build or compact drops the
    * entries of every version root it removes or re-creates, so a
    * rebuild at a reused path starts clean); the ~2 driver jobs this
    * saves per streaming micro-batch are the point
    * ([[dedupBandIndexStream]] reads params twice per batch otherwise).
    */
  private val paramsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Int)]()

  private def readParams(spark: SparkSession, ver: String,
      segs: Seq[Long]): (Int, Int, Int) =
    paramsCache.computeIfAbsent(ver, _ => {
      val rows = readSide(spark, s"$ver/meta")
        .filter(col("seg").isin(segs: _*))
        .select("n_hashes", "bands", "shingle_size").distinct().collect()
      require(rows.length == 1,
        s"band index at $ver has inconsistent signing parameters")
      (rows(0).getInt(0), rows(0).getInt(1), rows(0).getInt(2))
    })

  /** `preBands`: the docs' `(doc_id, band, bucket)` rows when the caller
    * already signed them (the streaming ingest signs ONCE and reuses the
    * pin for both the decision and this write — signing is a
    * deterministic per-row function of `(doc_id, text)`, so pre-signed
    * rows filtered to `docs`' ids are identical to re-signing `docs`).
    * The id filter is a plain semi-join: `docs` is a micro-batch's
    * survivors, which carry no size bound, so AQE picks the join from
    * their measured size.
    */
  private def writeSegment(docs: DataFrame, ver: String, seg: Long,
      numHashes: Int, bands: Int, shingleSize: Int,
      storeTexts: Boolean, preBands: Option[DataFrame] = None): Unit = {
    import docs.sparkSession.implicits._
    Seq((numHashes, bands, shingleSize, seg))
      .toDF("n_hashes", "bands", "shingle_size", "seg")
      .coalesce(1).write.mode("append").parquet(s"$ver/meta")
    preBands
      .map(_.join(docs.select("doc_id"), Seq("doc_id"), "left_semi"))
      .getOrElse(
        Dedup.minHashBandsPortable(docs, numHashes, bands, shingleSize))
      .select(col("bucket"), col("doc_id"), lit(seg).as("seg"),
        col("band").cast("int").as("band"))
      .write.mode("append").partitionBy("band").parquet(s"$ver/bands")
    if (storeTexts)
      docs.select(col("doc_id"), col("text"), lit(seg).as("seg"))
        .write.mode("append").parquet(s"$ver/texts")
  }

  /** Whether the layout stores document texts beside the fingerprints
    * (the SELF-CONTAINED form continuous ingest needs: verification of
    * colliding ids reads the layout's own `texts/` instead of a
    * caller-supplied corpus frame). Inferred from the directory, so
    * appends inherit the choice like the signing parameters.
    */
  private def isTextStored(ver: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$ver/texts"))

  /** The layout's own live corpus texts `(doc_id, text)` — committed
    * segments only, tombstones anti-joined. Loud if the layout was
    * built without `storeTexts`.
    */
  def storedTexts(spark: SparkSession, dir: String): DataFrame = {
    val ver = currentVersionDir(dir)
    require(isTextStored(ver),
      s"band index at $dir stores no texts (build with storeTexts = " +
        "true for self-contained verification)")
    val segs = committedSegs(ver)
    readSide(spark, s"$ver/texts")
      .filter(col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "text")
  }

  /** Build the band index over `corpus` at `dir` — the one corpus
    * signing pass, written as version `v0`, segment 0. With
    * `storeTexts = true` the layout also carries `(doc_id, text)` rows
    * per segment, making it SELF-CONTAINED for continuous ingest
    * ([[dedupBandIndexStream]]): collision verification reads the
    * stored texts, and only colliding ids' text bytes ever leave the
    * scan.
    */
  def writeBandIndex(
      corpus: DataFrame,
      dir: String,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleSize: Int = 3,
      storeTexts: Boolean = false): Unit = {
    val ver = s"$dir/v0"
    // a re-build at the same path replaces the layout — drop any stale
    // cached parameters for it
    SegmentStore.initBuild(dir).foreach(paramsCache.remove)
    writeSegment(corpus, ver, 0L, numHashes, bands, shingleSize, storeTexts)
    commitSeg(ver, 0L)
    SegmentStore.markCommitted(ver)
  }

  /** INCREMENTALLY index new documents (UNSEEN doc_ids) as one
    * commit-marked delta segment, signed with the layout's OWN stored
    * parameters (texts stored iff the layout stores them). Crash-atomic
    * exactly like [[Bm25Index.appendBm25Index]] (rows invisible until
    * the final `.commit`; a crashed retry's seg id is burned); with
    * `tag` the commit marker also records the ingest tag atomically
    * ([[SegmentStore.commitSegTagged]]). Cost is O(new docs) signing +
    * write — existing band files are never rewritten. Returns the
    * segment id.
    */
  def appendBandIndex(newDocs: DataFrame, dir: String,
      tag: Option[String] = None, preBands: Option[DataFrame] = None): Long = {
    val ver = currentVersionDir(dir)
    val spark = newDocs.sparkSession
    val (nh, nb, sh) = readParams(spark, ver, committedSegs(ver))
    val seg = claimSeg(ver)
    writeSegment(newDocs, ver, seg, nh, nb, sh, isTextStored(ver), preBands)
    tag match {
      case Some(t) => SegmentStore.commitSegTagged(ver, seg, t)
      case None => commitSeg(ver, seg)
    }
    seg
  }

  /** DELETE documents — right-to-be-forgotten on the dedup side: one
    * commit-marked tombstone segment; band rows rewrite at the next
    * compact (a doc's buckets scatter, an eager rewrite would touch
    * ~every band file). Readers anti-join the (deletion-sized,
    * broadcast) tombstones, so a deleted doc stops producing candidates
    * immediately and the decision equals a rebuild without it (spec'd).
    * Deleting an absent or already-deleted id is a no-op. Returns the
    * number of docs newly deleted.
    */
  def deleteFromBandIndex(
      dir: String, deleteIds: DataFrame, spark: SparkSession): Long = {
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    val ids = deleteIds.select(col("doc_id")).distinct()
    val present = readSide(spark, s"$ver/bands")
      .filter(col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select("doc_id").distinct()
    val nDeleted = present.count()
    val seg = claimSeg(ver)
    present.select(col("doc_id"), lit(seg).as("seg"))
      .write.mode("append").parquet(s"$ver/deletes")
    commitSeg(ver, seg)
    nDeleted
  }

  /** COMPACT: materialize tombstones, merge segments, one file per band
    * (`repartition` on the partition key), vacuum strandings, retire
    * older versions — single `_COMMITTED` commit point, the
    * [[Bm25Index.compactBm25Index]] protocol verbatim. Returns the
    * post-compact band data-file count.
    */
  def compactBandIndex(dir: String, spark: SparkSession,
      onStep: String => Unit = _ => ()): Long = {
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    val (nh, nb, sh) = readParams(spark, ver, segs)
    SegmentStore.clearUncommitted(dir)
    val next = s"$dir/v${versions(dir).map(_._1).max + 1}"
    SegmentStore.initVersion(next)
    // the number may have served an earlier layout at this path (one the
    // caller deleted outright), so its cached parameters are not this one's
    paramsCache.remove(next)
    readSide(spark, s"$ver/bands")
      .filter(col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
      .select(col("bucket"), col("doc_id"), lit(0L).as("seg"),
        col("band").cast("int").as("band"))
      .repartition(col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(s"$next/bands")
    if (isTextStored(ver))
      readSide(spark, s"$ver/texts")
        .filter(col("seg").isin(segs: _*))
        .join(broadcast(committedDeletes(spark, ver, segs)),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text"), lit(0L).as("seg"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$next/texts")
    import spark.implicits._
    Seq((nh, nb, sh, 0L)).toDF("n_hashes", "bands", "shingle_size", "seg")
      .coalesce(1).write.mode("overwrite").parquet(s"$next/meta")
    commitSeg(next, 0L)
    // ingest tags carry into the rewrite before its commit point, so a
    // replayed streaming batch can never re-ingest across a compact
    SegmentStore.carryTags(ver, next)
    onStep("written")
    SegmentStore.markCommitted(next)
    onStep("committed")
    SegmentStore.retireOthers(dir, next)
    onStep("retired")
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$next/bands"))
    try w.iterator().asScala.count(p =>
      p.getFileName.toString.endsWith(".parquet"))
    finally w.close()
  }

  /** The incremental near-dedup DECISION against the persisted index:
    * survivors of `newDocs` after dropping every doc with a verified
    * (exact Jaccard ≥ `threshold`) near-duplicate in the index's LIVE
    * corpus — EXACTLY
    * [[Dedup.dropNearDuplicatesIncrementalPortable]]`(newDocs,
    * corpus minus deleted)`, by shared code
    * ([[Dedup.incrementalNearDedupCore]]): only the batch is signed
    * (with the layout's stored parameters), the corpus side reads
    * back `(band, bucket, doc_id)` rows, and `corpusTexts` is touched
    * only to verify colliding ids. New-side doc ids must be strictly
    * greater than every corpus id (the batch twin's contract).
    */
  /** Jaccard TOP-K SEARCH over the persisted index — the layout's
    * retrieval face: for each query document, the k most-similar LIVE
    * corpus documents by EXACT n-gram Jaccard among LSH-colliding
    * candidates. This is "find the near-duplicates of X" as a ranked
    * answer rather than a keep/drop decision — the triage view a
    * curation UI or a contamination investigation actually wants —
    * and it reuses the dedup pipeline's exact pieces: queries sign
    * with the layout's STORED parameters (a mismatched family would
    * silently never collide), candidates come from the stored band
    * rows (tombstones anti-joined, so deleted docs stop surfacing
    * immediately), and `corpusTexts` is read only for COLLIDING ids
    * ([[Dedup.jaccardVerify]]'s semi-join). Jaccard is micro-quantized
    * (`round(j, 6) · 1e6` as a long — the embedding oracles' rule) so
    * ranking ties break integer-deterministically by cand_id.
    *
    * Scale shape: signing is O(queries); the candidate join carries
    * band-collision rows only (the combined-population `maxBucket` cap
    * bounds degenerate buckets exactly as the dedup decision does);
    * verification touches colliding texts only; the rank window
    * partitions by query. Recall is LSH's: a neighbor colliding in no
    * band is not returned — the standard banded trade, measured by the
    * dedup family's recall queries.
    *
    * `queries` is `(doc_id, text)` like the corpus; query ids must not
    * collide with LIVE corpus ids (self-pairs would rank first).
    * Output: `(query_id, cand_id, jaccard_micro, rank)`, rank 1..k per
    * query with ≥1 collision.
    */
  def searchBandIndex(
      queries: DataFrame,
      dir: String,
      corpusTexts: DataFrame,
      k: Int = 5,
      maxBucket: Int = 100000): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = queries.sparkSession
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    val (nh, nb, sh) = readParams(spark, ver, segs)
    val corpusBands = readSide(spark, s"$ver/bands")
      .filter(col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "band", "bucket")
    // the combined-population bucket cap, exactly the dedup decision's
    // ([[Dedup.incrementalNearDedupCore]]): a bucket degenerate only
    // jointly must cap here too, or search and dedup would disagree on
    // which collisions exist
    val bandsAll = Dedup.capBuckets(
      Dedup.minHashBandsPortable(queries, nh, nb, sh)
        .withColumn("_new", lit(true))
        .unionByName(corpusBands.withColumn("_new", lit(false))),
      Seq("band", "bucket"), maxBucket)
      .localCheckpoint()
    val cand = bandsAll.filter(col("_new")).drop("_new")
      .join(bandsAll.filter(!col("_new")).drop("_new")
        .withColumnRenamed("doc_id", "a_id"), Seq("band", "bucket"))
      .select(col("a_id"), col("doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // threshold 0: every colliding pair verifies, ranking decides
    val verified = Dedup.jaccardVerify(
      corpusTexts.unionByName(queries), cand, 0.0, sh)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("jaccard_micro"), asc("cand_id"))
    // the eager checkpoint truncates the returned plan, which HIDES the
    // verify stage's internal candidate pin from the caller's
    // releaseCheckpoints (the q_dedup_index_lifecycle lesson) — free
    // both it and the capped band table here, while the untruncated
    // `verified` plan still reaches them
    val out = verified
      .select(col("b_id").as("query_id"), col("a_id").as("cand_id"),
        round(col("jaccard") * 1e6, 0).cast("long").as("jaccard_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .localCheckpoint()
    Dedup.releaseCheckpoints(verified)
    Dedup.releaseCheckpoints(bandsAll)
    out
  }

  /** STREAMING CONTINUOUS-INGEST DEDUP — the production loop a crawl
    * pipeline actually runs: per document micro-batch, DECIDE survivors
    * against the index's live corpus
    * ([[dedupAgainstBandIndex]] over the layout's own stored texts),
    * APPEND the survivors as one tagged delta segment (the corpus the
    * NEXT batch dedups against now includes them — never re-signing
    * anything older), and hand the survivor rows to `sink`.
    *
    * EXACTLY-ONCE end to end, by ordering around the one atomic commit:
    *
    *   1. decide (pure — reads only committed state);
    *   2. append survivors, batch id riding IN the segment's commit
    *      marker ([[SegmentStore.commitSegTagged]]);
    *   3. sink(survivors).
    *
    * A crash before the marker leaves the index unchanged (stranded
    * rows invisible, id burned) — the replayed batch re-decides against
    * the same corpus and lands clean. A crash AFTER the marker but
    * before/inside `sink` replays into the recovery path: the tag maps
    * back to its segment ([[SegmentStore.segForTag]]) and the survivors
    * are re-read FROM the layout (they are exactly the batch docs the
    * segment indexed), so `sink` receives identical rows and the index
    * is not touched — re-deciding instead would self-collide against
    * the batch's own fingerprints and drop everything. Compaction merges
    * segments (tags carry, seg identity does not), so — as with every
    * rewrite here — it must not race an in-flight batch.
    *
    * Requires a text-stored layout (`storeTexts = true` at build):
    * verification reads the layout's own `texts/`, keeping the loop
    * self-contained. Batch doc_ids must be unseen and (per the
    * incremental contract) greater than every indexed id.
    */
  def dedupBandIndexStream(
      docStream: DataFrame,
      dir: String,
      threshold: Double = 0.5,
      maxBucket: Int = 100000)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        ingestBandBatch(batch, dir, batchId, threshold, maxBucket)(sink): Unit
    }

  /** One micro-batch of [[dedupBandIndexStream]] — visible so the
    * exactly-once ladder is directly testable. Returns true when the
    * batch decided + appended, false when it recovered or no-op'd.
    */
  private[ops] def ingestBandBatch(
      batch: DataFrame, dir: String, batchId: Long,
      threshold: Double = 0.5, maxBucket: Int = 100000)(
      sink: (DataFrame, Long) => Unit): Boolean = {
    if (batch.isEmpty) return false
    val spark = batch.sparkSession
    val ver = currentVersionDir(dir)
    val tag = s"b$batchId"
    SegmentStore.segForTag(ver, tag) match {
      case Some(seg) =>
        // recovery: the segment already holds this batch's survivors —
        // deliver them from the layout, bit-identical to the lost send
        sink(storedTexts(spark, dir)
          .join(readSide(spark, s"$ver/texts")
            .filter(col("seg") === seg).select("doc_id").distinct(),
            Seq("doc_id"), "left_semi"), batchId)
        false
      case None if SegmentStore.committedTags(ver).contains(tag) =>
        // tag survives only as a carried _tags/ entry: the sink was
        // already served before the compact (the quiesce rule), no-op
        false
      case None =>
        // sign the batch ONCE: the decision and the survivor segment
        // write both consume the pin (signing is the batch's dominant
        // per-increment cost — re-signing survivors inside the append
        // was a second full md5+mix pass over ~the same rows)
        val (nh, nb, sh) = readParams(spark, ver, committedSegs(ver))
        val batchBands = Dedup.minHashBandsPortable(batch, nh, nb, sh)
          .localCheckpoint()
        val decision = dedupAgainstBandIndexCore(
          spark, ver, batch, batchBands, storedTexts(spark, dir),
          threshold, maxBucket, sh)
        // pin the decision once (append + sink both consume it), then
        // free the core's internal band pin via the UNtruncated plan
        val survivors = decision.localCheckpoint()
        Dedup.releaseCheckpoints(decision)
        appendBandIndex(survivors, dir, tag = Some(tag),
          preBands = Some(batchBands))
        sink(survivors, batchId)
        Dedup.releaseCheckpoints(survivors)
        Dedup.releaseCheckpoints(batchBands)
        true
    }
  }

  def dedupAgainstBandIndex(
      newDocs: DataFrame,
      dir: String,
      corpusTexts: DataFrame,
      threshold: Double = 0.5,
      maxBucket: Int = 100000): DataFrame = {
    val spark = newDocs.sparkSession
    val ver = currentVersionDir(dir)
    val (nh, nb, sh) = readParams(spark, ver, committedSegs(ver))
    dedupAgainstBandIndexCore(spark, ver, newDocs,
      Dedup.minHashBandsPortable(newDocs, nh, nb, sh),
      corpusTexts, threshold, maxBucket, sh)
  }

  /** The decision body with the batch's bands supplied by the caller —
    * [[ingestBandBatch]] signs once and shares the pin between this and
    * the segment write; [[dedupAgainstBandIndex]] signs inline.
    */
  private def dedupAgainstBandIndexCore(
      spark: SparkSession, ver: String, newDocs: DataFrame,
      newBands: DataFrame, corpusTexts: DataFrame,
      threshold: Double, maxBucket: Int, shingleSize: Int): DataFrame = {
    val segs = committedSegs(ver)
    val corpusBands = readSide(spark, s"$ver/bands")
      .filter(col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "band", "bucket")
    Dedup.incrementalNearDedupCore(newDocs, corpusTexts,
      newBands, corpusBands, threshold, shingleSize, maxBucket)
  }
}
