package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Persisted lexical (BM25) retrieval index — the "build once, query
  * many" serving shape for [[TextAnalysis.bm25]], completing the
  * retrieval symmetry with the dense side's persisted IVF layout
  * ([[Similarity.writeIvfIndex]]): there the assignment pass runs once
  * at write time and a probe becomes a partition filter; here the
  * tokenize/explode/count pass runs once at write time and a query's
  * terms become a `term_bucket IN (...)` partition filter plus a
  * `term IN (...)` parquet data filter — a search reads only the
  * buckets its terms hash to, never the corpus.
  *
  * Layout under `dir` (versioned — see the swap protocol below):
  *
  *   - `v<N>/postings/term_bucket=<b>/` — `(term, doc_id, tf, dl[,
  *     positions], seg)` rows, Hive-partitioned by
  *     `pmod(hash(term), nBuckets)` (`positions` — the term's sorted
  *     token offsets, present when built `positional = true` — feeds
  *     [[searchPhraseIndex]]; append/compact preserve it). `dl` is
  *     DENORMALIZED into every posting (the impact-file trick real
  *     engines use) so scoring needs NO join with a doc-length table;
  *     per-term document frequency is NOT stored — a search reads a
  *     queried term's ENTIRE posting list anyway, so `df` is one
  *     map-side-combined count over the already-pruned scan, and
  *     deriving it there (instead of a side table) is what makes
  *     deletes exact for free.
  *   - `v<N>/meta/` — `(n_docs, sum_dl, n_buckets, seg)` PARTIAL corpus
  *     stats; the true values are the SUMS over committed segments,
  *     which makes the table append-only (an append adds positive
  *     partials, a delete adds NEGATIVE ones). `n_buckets` must agree
  *     across segments (checked loudly — a mismatched append would
  *     route the same term to two buckets).
  *   - `v<N>/deletes/` — `(doc_id, seg)` tombstones; searches and
  *     compaction anti-join them (deletes since the last compact are
  *     deletion-sized, a broadcast).
  *   - `v<N>/commits/<seg>.pending|.commit` — per-segment commit
  *     markers (empty files; `createFile` is atomic).
  *
  * Crash-safety, two levels:
  *
  *   1. SEGMENT commits make [[appendBm25Index]] AND
  *      [[deleteFromBm25Index]] atomic even though each writes more
  *      than one side: every row carries its segment id, readers filter
  *      to `seg IN (committed)`, and the `.commit` marker is created
  *      LAST — a crash at any earlier point strands invisible rows
  *      (vacuumed by the next compact) and burns the id (the
  *      `.pending` marker, created FIRST, keeps a later writer from
  *      reusing it and accidentally committing the strandings).
  *   2. VERSION directories make [[compactBm25Index]] atomic: the
  *      merged layout is written COMPLETELY into `v<N+1>/` and the
  *      `_COMMITTED` marker is the single commit point; readers always
  *      serve the highest committed version, so a crash anywhere
  *      strands only a partial `v<N+1>` beside an intact `v<N>`
  *      (cleared by the next compact). This replaces the IVF layout's
  *      two-rename dance because a BM25 compact rewrites EVERY side —
  *      a multi-side swap wants one commit point, not a rename chain.
  *
  * Like the IVF lifecycle, compaction is an OFFLINE maintenance step:
  * it retires the previous version after committing, so it must not
  * race an in-flight reader of that version.
  *
  * Scale shape at 100 TB: the build is one explode + one (term,doc)
  * shuffle with map-side partial aggregation — the standard inverted-
  * index pass. A search lists and reads only `|query terms|` bucket
  * directories regardless of corpus size ([[graft.ops.Bm25IndexSpec]]
  * asserts `PartitionFilters` reaches the scan and unprobed buckets are
  * never read), derives df and scores over that pruned slice, and
  * top-ks via TakeOrderedAndProject.
  */
object Bm25Index {
  import SegmentStore.{claimSeg, commitSeg, committedSegs, readSide, versions}

  /** The serving version root (see [[SegmentStore.currentVersionDir]]). */
  private[graft] def currentVersionDir(dir: String): String =
    SegmentStore.currentVersionDir(dir, "BM25 index")

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

  /** The per-doc frame shared by build and append — EXACTLY the token
    * frame [[TextAnalysis.bm25]] derives its stats from, so persisted
    * search can never drift from the in-session scorer on tokenization
    * or corpus statistics.
    */
  private def perDoc(df: DataFrame, textCol: String): DataFrame =
    df.select(col("doc_id"),
      TextAnalysis.normTokens(col(textCol)).as("toks"))

  /** BM25 parameters FROZEN into the write-time impact ordering (see
    * [[impactNorm]]) — queries may score with any (k1, b), but the
    * stored `imp_rank` order is this pair's.
    */
  private val ImpK1 = 1.2
  private val ImpB = 0.75

  /** Micro-quantized within-term impact `round(tf_norm · 1e6)` where
    * `tf_norm = tf / (tf + k1·(1−b + b·dl/avgdl))` at the DEFAULT
    * (k1, b) — within one term BM25's score is `idf·(k1+1)·tf_norm`,
    * so ordering a term's postings by `tf_norm` DESC is ordering them
    * by score DESC: the classic impact-ordered-index invariant
    * (Anh & Moffat 2006). Quantized to a long so the rank's tie-break
    * (imp DESC, doc_id ASC) is integer-deterministic and replayable
    * verbatim in the oracle's SQL.
    */
  private def impactNorm(avgdl: Double): org.apache.spark.sql.Column = {
    val tf = col("tf").cast("double")
    round(tf / (tf + lit(ImpK1) * (lit(1.0 - ImpB) +
      lit(ImpB) * col("dl") / lit(avgdl))) * 1e6, 0).cast("long")
  }

  /** Write one segment's postings + term dictionary + meta partials
    * into `ver`. With `positional = true` each posting additionally
    * carries `positions` — the term's sorted 0-based token offsets in
    * the doc (the classic positional-inverted-index extension; Lucene
    * stores the same per posting) — enabling [[searchPhraseIndex]] at
    * the cost of position-proportional bytes in exactly the buckets a
    * query term prunes to.
    *
    * Every posting also carries `imp_rank` — its 1-based rank within
    * (term, segment) by [[impactNorm]] DESC, doc_id ASC, frozen at the
    * segment's own avgdl — and the segment writes a `terms/` dictionary
    * row `(term, df, seg, term_bucket)` per distinct term. Together
    * they feed [[searchBm25IndexPruned]]: `imp_rank <= quota` is a
    * plain pushed parquet predicate selecting each term's top postings
    * without reading the rest, and the dictionary supplies df without
    * the full-list scan the exact search derives it from. The rank
    * window at write is partitioned by term (parallel across terms) —
    * a one-time build cost, amortized over every pruned query.
    */
  private def writeSegment(
      docs: DataFrame, ver: String, nBuckets: Int, seg: Long,
      textCol: String, positional: Boolean): Unit = {
    // tokenize ONCE: the stats aggregate and the postings explode both
    // consume the pin (the segment's dominant cost is the tokenize pass
    // — running it twice doubled every build/append/ingest leg); the
    // pin is released as soon as the ranked postings are their own
    // checkpoint below
    val pd = perDoc(docs, textCol).localCheckpoint()
    val statRow = pd.agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("sum_dl"))
      .select(col("n_docs"), coalesce(col("sum_dl"), lit(0L)).as("sum_dl"))
      .collect()(0)
    val (segDocs, segDl) = (statRow.getLong(0), statRow.getLong(1))
    import docs.sparkSession.implicits._
    Seq((segDocs, segDl, nBuckets, seg))
      .toDF("n_docs", "sum_dl", "n_buckets", "seg")
      .coalesce(1).write.mode("append").parquet(s"$ver/meta")
    val exploded =
      if (positional)
        pd.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
            posexplode(col("toks")).as(Seq("pos", "term")))
          .groupBy("term", "doc_id", "dl")
          .agg(count(lit(1)).as("tf"),
            sort_array(collect_list(col("pos"))).as("positions"))
      else
        pd.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
            explode(col("toks")).as("term"))
          .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
    // an empty segment (zero docs) has avgdl 0/0; no posting rows exist
    // to rank, so any finite stand-in keeps the expression NaN-free
    val avgdl = if (segDocs == 0L) 1.0 else segDl.toDouble / segDocs
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(desc("imp"), asc("doc_id"))
    val cols = Seq(col("term"), col("doc_id"), col("tf"), col("dl")) ++
      (if (positional) Seq(col("positions")) else Nil) ++
      Seq(col("imp_rank"), lit(seg).as("seg"),
        pmod(hash(col("term")), lit(nBuckets)).as("term_bucket"))
    val ranked = exploded
      .withColumn("imp", impactNorm(avgdl))
      .withColumn("imp_rank", row_number().over(rankW))
      .localCheckpoint()
    // the token pin's only consumers (stats + explode) have materialized
    Dedup.releaseCheckpoints(pd)
    ranked.select(cols: _*)
      .write.mode("append").partitionBy("term_bucket")
      .parquet(s"$ver/postings")
    ranked.groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"), col("df"), lit(seg).as("seg"),
        pmod(hash(col("term")), lit(nBuckets)).as("term_bucket"))
      .write.mode("append").partitionBy("term_bucket")
      .parquet(s"$ver/terms")
    Dedup.releaseCheckpoints(ranked)
  }

  /** Whether a committed version's postings carry positions — inferred
    * from the parquet schema (the build wrote every bucket under one
    * schema), so append/compact preserve the layout kind without a
    * side flag.
    */
  private def isPositional(spark: SparkSession, ver: String): Boolean =
    positionalCache.computeIfAbsent(ver, _ =>
      readSide(spark, s"$ver/postings").columns.contains("positions"))

  /** Per-VERSION metadata caches (JVM lifetime): a version's layout
    * kind and `n_buckets` are constant by construction — the build
    * decides them, every append re-writes the values it read, and a
    * compact/rewrite lands under a NEW version dir (a new cache key).
    * A build or compact drops the entries of every version root it
    * removes or (re)creates, so a path reused by a rebuild never serves
    * an old layout's metadata.
    * The schema probe behind [[isPositional]] lists the whole postings
    * directory and [[readBuckets]] is a read+collect job; both sat on
    * every append/search/delete path (two per streaming micro-batch).
    */
  private val positionalCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private val bucketsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Build a BM25 index over `df` at `dir` — one tokenize/explode pass
    * plus one (term, doc) shuffle with map-side combine, written as
    * version `v0`, segment 0. `nBuckets` bounds the partition count
    * (64 default: a query of tens of terms reads tens of directories;
    * at 100 TB raise it so one bucket's postings stay a few GB).
    */
  def writeBm25Index(
      df: DataFrame,
      dir: String,
      nBuckets: Int = 64,
      textCol: String = "text",
      positional: Boolean = false): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val ver = s"$dir/v0"
    // a re-build at the same path replaces the layout — drop any stale
    // cached metadata for it
    SegmentStore.initBuild(dir).foreach { v =>
      positionalCache.remove(v)
      bucketsCache.remove(v)
    }
    writeSegment(df, ver, nBuckets, 0L, textCol, positional)
    commitSeg(ver, 0L)
    SegmentStore.markCommitted(ver)
  }

  /** The committed `n_buckets` for a version root (loud on drift). */
  private def readBuckets(spark: SparkSession, ver: String,
      segs: Seq[Long]): Int =
    bucketsCache.computeIfAbsent(ver, _ => {
      val rows = readSide(spark, s"$ver/meta")
        .filter(col("seg").isin(segs: _*))
        .select("n_buckets").distinct().collect().map(_.getInt(0))
      require(rows.length == 1,
        s"BM25 index at $ver has inconsistent n_buckets: ${rows.mkString(",")}")
      rows.head
    }).intValue()

  /** The live corpus stats `(n_docs, sum_dl)`: the committed meta
    * partials summed (delete segments wrote negative ones).
    */
  private def corpusStats(spark: SparkSession, ver: String,
      segs: Seq[Long]): (Long, Long) = {
    val row = readSide(spark, s"$ver/meta")
      .filter(col("seg").isin(segs: _*))
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
      .collect()(0)
    (row.getLong(0), row.getLong(1))
  }

  /** The bucket a term's postings live in: `pmod(hash(term), nBuckets)`
    * exactly as the write routes it, evaluated on the driver with the
    * engine's own Murmur3 (seed 42, as `hash()` uses; a null term hashes
    * to the seed, as there), so a search plans its bucket filter
    * without a Spark job.
    */
  private[graft] def termBucket(term: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType, 42L).toInt
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  /** INCREMENTALLY add new documents (UNSEEN doc_ids — re-adding an
    * indexed id would double its postings, as in any inverted index) as
    * one commit-marked delta segment. Crash-atomic: rows become visible
    * only at the final `.commit` marker, so a search concurrent with —
    * or after a crash of — an append serves exactly the pre-append
    * answer ([[graft.ops.Bm25IndexSpec]] kills the append at each stage
    * and asserts search equality). Cost is O(new docs): existing
    * postings files are never rewritten; the delta's files land beside
    * them in the same bucket directories.
    */
  def appendBm25Index(
      df: DataFrame, dir: String, textCol: String = "text",
      tag: Option[String] = None): Unit = {
    val ver = currentVersionDir(dir)
    val spark = df.sparkSession
    val nBuckets = readBuckets(spark, ver, committedSegs(ver))
    val positional = isPositional(spark, ver)
    val seg = claimSeg(ver)
    writeSegment(df, ver, nBuckets, seg, textCol, positional)
    tag match {
      case Some(t) => SegmentStore.commitSegTagged(ver, seg, t)
      case None => commitSeg(ver, seg)
    }
  }

  /** STREAMING INGEST: document micro-batches append to the index
    * through `foreachBatch`, each non-empty batch landing as one
    * commit-marked delta segment — the ingest twin of
    * [[searchBm25IndexStream]], completing the lexical index's
    * build/append/search/stream symmetry with the IVF side.
    *
    * EXACTLY-ONCE, not at-least-once: the batch id rides IN the
    * segment's commit marker ([[SegmentStore.commitSegTagged]] — one
    * atomic `createFile` commits the rows and records the tag), so a
    * crash-replayed micro-batch finds its tag among
    * [[SegmentStore.committedTags]] and no-ops instead of double-
    * posting its documents; a crash BEFORE the marker strands invisible
    * rows (vacuumed at compact, seg id burned) and the replay ingests
    * cleanly. Compact carries tags forward (`_tags/`, committed with
    * the new version), so the guarantee survives maintenance — though,
    * as with every rewrite here, compaction must not race an in-flight
    * batch. Searches between batches serve the currently committed
    * prefix of the stream. Batch docs must carry unseen doc_ids (the
    * append contract).
    */
  def appendBm25IndexStream(
      docStream: DataFrame,
      dir: String,
      textCol: String = "text"):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        ingestBm25Batch(batch, dir, textCol, batchId): Unit
    }

  /** One streaming micro-batch's ingest — the [[appendBm25IndexStream]]
    * body, visible so the exactly-once contract is directly testable:
    * returns true when the batch ingested, false when it no-op'd (empty
    * batch, or its tag already committed — the crash-replay case).
    */
  private[ops] def ingestBm25Batch(
      batch: DataFrame, dir: String, textCol: String,
      batchId: Long): Boolean = {
    val tag = s"b$batchId"
    val fresh = !batch.isEmpty &&
      !SegmentStore.committedTags(currentVersionDir(dir)).contains(tag)
    if (fresh) appendBm25Index(batch, dir, textCol, tag = Some(tag))
    fresh
  }

  /** DELETE documents from the index — the right-to-be-forgotten
    * maintenance step ([[Similarity.deleteFromIvfIndex]]'s slot on the
    * lexical side), as one commit-marked TOMBSTONE segment: no postings
    * file is rewritten (a doc's terms hash across ~every bucket, so an
    * eager rewrite would be a full-index rewrite — tombstones defer
    * that to the next compact). The segment carries
    *
    *   - `deletes/` rows for the ids (searches anti-join them), and
    *   - a NEGATIVE meta partial `(−n_deleted, −Σ dl)` derived from the
    *     ids' own surviving postings, so `n_docs`/`sum_dl` — hence idf
    *     and avgdl — adjust EXACTLY to the rebuild-without-deleted
    *     corpus (per-term df adjusts for free because the search
    *     derives df from surviving postings).
    *
    * Both become visible atomically at the `.commit` marker; a crash at
    * any earlier point serves exactly the pre-delete answer. Deleting
    * an already-deleted or absent id is a no-op (adjustments derive
    * from SURVIVING postings only, so double-deletes cannot
    * double-subtract). Returns the number of documents newly deleted.
    *
    * One caveat, documented not hidden: a doc that produced NO postings
    * (only possible for NULL text — empty text still posts the one
    * empty-string token) contributes to `n_docs` at build but cannot be
    * found here, so deleting it leaves `n_docs` one high until a
    * rebuild; every real document deletes exactly.
    */
  def deleteFromBm25Index(
      dir: String, deleteIds: DataFrame, spark: SparkSession): Long = {
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    val nBuckets = readBuckets(spark, ver, segs)
    val ids = deleteIds.select(col("doc_id")).distinct()
    val surviving = readSide(spark, s"$ver/postings")
      .filter(col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
    // one row per doc actually present: its dl (constant across its
    // postings) and a count, negated into a meta partial
    val adj = surviving.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(first("dl").as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("s"))
      .collect()(0)
    val nDeleted = adj.getLong(0)
    val seg = claimSeg(ver)
    import spark.implicits._
    ids.select(col("doc_id"), lit(seg).as("seg"))
      .write.mode("append").parquet(s"$ver/deletes")
    Seq((-nDeleted, -(if (adj.isNullAt(1)) 0L else adj.getLong(1)),
        nBuckets, seg))
      .toDF("n_docs", "sum_dl", "n_buckets", "seg")
      .coalesce(1)
      .write.mode("append").parquet(s"$ver/meta")
    commitSeg(ver, seg)
    nDeleted
  }

  /** COMPACT the index: apply tombstones, merge every committed
    * segment's partials into ONE segment, one file per bucket (each
    * append adds at least one file per touched bucket — the same
    * small-file debt [[Similarity.compactIvfIndex]] pays down), drop
    * any uncommitted strandings, and retire older versions. The rewrite
    * lands complete in `v<N+1>` before the single `_COMMITTED` commit
    * point, so every crash window strands only an invisible partial
    * version. Returns the post-compact postings data-file count.
    */
  def compactBm25Index(dir: String, spark: SparkSession,
      onStep: String => Unit = _ => ()): Long = {
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    val nBuckets = readBuckets(spark, ver, segs)
    // clear stranded uncommitted versions from a prior crashed compact
    // BEFORE picking the target id, so the write cannot collide
    SegmentStore.clearUncommitted(dir)
    val next = s"$dir/v${versions(dir).map(_._1).max + 1}"
    SegmentStore.initVersion(next)
    // the number may have served an earlier layout at this path (one the
    // caller deleted outright), so its cached metadata is not this one's
    positionalCache.remove(next)
    bucketsCache.remove(next)
    // meta partials SUM to the post-delete truth (delete segments wrote
    // negative rows) — collected first because the compacted avgdl also
    // re-freezes the impact ordering below
    val (mDocs, mDl) = corpusStats(spark, ver, segs)
    val compactCols =
      Seq(col("term"), col("doc_id"), col("tf"), col("dl")) ++
        (if (isPositional(spark, ver)) Seq(col("positions")) else Nil) ++
        Seq(col("imp_rank"), lit(0L).as("seg"),
          col("term_bucket").cast("int").as("term_bucket"))
    // impact ranks re-freeze GLOBALLY (one segment, post-delete avgdl):
    // per-segment quotas collapse back to one exact top-quota per term,
    // and the delete-stale dictionary df rebuilds exact from survivors
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(desc("imp"), asc("doc_id"))
    val survivors = readSide(spark, s"$ver/postings")
      .filter(col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
      .drop("imp_rank")
      .withColumn("imp",
        impactNorm(if (mDocs == 0L) 1.0 else mDl.toDouble / mDocs))
      .withColumn("imp_rank", row_number().over(rankW))
      .localCheckpoint()
    survivors
      .select(compactCols: _*)
      .repartition(col("term_bucket"))
      .write.mode("overwrite").partitionBy("term_bucket")
      .parquet(s"$next/postings")
    survivors.groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"), col("df"), lit(0L).as("seg"),
        pmod(hash(col("term")), lit(nBuckets)).as("term_bucket"))
      .write.mode("overwrite").partitionBy("term_bucket")
      .parquet(s"$next/terms")
    Dedup.releaseCheckpoints(survivors)
    import spark.implicits._
    Seq((mDocs, mDl, nBuckets, 0L))
      .toDF("n_docs", "sum_dl", "n_buckets", "seg")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$next/meta")
    commitSeg(next, 0L)
    // ingest tags carry into the rewrite BEFORE its commit point, so a
    // replayed streaming batch can never re-ingest across a compact
    SegmentStore.carryTags(ver, next)
    onStep("written")
    SegmentStore.markCommitted(next)
    onStep("committed")
    SegmentStore.retireOthers(dir, next)
    onStep("retired")
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$next/postings"))
    try w.iterator().asScala.count(p =>
      p.getFileName.toString.endsWith(".parquet"))
    finally w.close()
  }

  /** Search the persisted index: top-k docs for a bag of query terms,
    * EXACTLY [[TextAnalysis.bm25]]'s answer over the index's LIVE
    * corpus (same tokenizer, same Robertson idf, same per-(doc,term)
    * micro quantization, same (score DESC, doc_id) ties — the shared
    * oracle asserts persistence never changes the answer, and after
    * deletes the answer equals a rebuild without the deleted docs;
    * duplicate query terms weight their term's contribution by
    * multiplicity, as bm25's per-column sum does). The plan: one pruned
    * postings scan (`term_bucket IN` partition-filtered, `term IN`
    * parquet-pushed) anti-joined against the (deletion-sized,
    * broadcast) tombstones, df derived from that surviving slice by a
    * map-side-combined count, one broadcast of the per-term
    * df/multiplicity rows back onto it, one (doc_id) partial-aggregated
    * sum, one TakeOrderedAndProject — never a corpus scan.
    */
  def searchBm25Index(
      spark: SparkSession,
      dir: String,
      terms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "searchBm25Index needs at least one query term")
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    val (nDocs, sumDl) = corpusStats(spark, ver, segs)
    val nBuckets = readBuckets(spark, ver, segs)
    // normalize exactly as bm25 does; multiplicity keeps duplicate
    // query terms contributing like bm25's duplicated score columns
    val normed = terms.map(_.trim.toLowerCase(java.util.Locale.ROOT))
    val mult = normed.groupBy(identity).view.mapValues(_.size.toLong).toSeq
    import spark.implicits._
    val termFrame = mult.toDF("term", "mult")
    val distinctTerms = mult.map(_._1)
    val probed = distinctTerms.map(termBucket(_, nBuckets)).distinct
    val surviving = readSide(spark, s"$ver/postings")
      .filter(col("term_bucket").isin(probed: _*) &&
        col("term").isin(distinctTerms: _*) && col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
    // df over the SURVIVING pruned slice: the search reads each queried
    // term's whole posting list anyway, so this is one extra map-side-
    // combined count over rows already in hand — and it makes the
    // post-delete df exact by construction
    val dfTab = surviving.groupBy("term").agg(count(lit(1)).as("df"))
      .join(termFrame, "term")
    // the EXACT bm25 score expression over the same long/double types:
    // idf from long df and long n_docs, tf cast to double, avgdl as
    // long/long division — identical operand values and op tree give
    // bit-identical doubles, hence identical micro quantization
    val avgdl = lit(sumDl) / lit(nDocs)
    val idf = log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5))
    val tf = col("tf").cast("double")
    val s = idf * tf * (k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    surviving
      .join(broadcast(dfTab), Seq("term"))
      .select(col("doc_id"),
        (round(s * 1e6, 0).cast("long") * col("mult")).as("m"))
      .groupBy("doc_id").agg(sum("m").as("bm25_micro"))
      .orderBy(desc("bm25_micro"), asc("doc_id"))
      .limit(k)
  }

  /** IMPACT-ORDERED pruned search — the early-termination serving form
    * of [[searchBm25Index]] (Anh & Moffat's impact-sorted index, the
    * WAND family's candidate-generation half): instead of reading each
    * query term's ENTIRE posting list, read only its `quota` highest-
    * impact postings — `imp_rank <= quota` is an ordinary pushed
    * parquet predicate over the already bucket-pruned scan, so with
    * postings impact-ordered at write time the bytes a query reads are
    * O(quota · |terms| · segments) REGARDLESS of posting-list length.
    * That is the lever the exact search cannot have: at 100 TB a stop-
    * word-adjacent term's list is corpus-sized, and serving latency is
    * bounded by the quota, not the corpus.
    *
    * What is traded, stated loudly rather than hidden:
    *
    *   - CANDIDATES are pruned: a doc outside every query term's
    *     top-quota cannot be returned even if its SUMMED score belongs
    *     in the top-k (scores of returned docs use only their pruned
    *     postings). With `quota` ≥ every queried list's length the
    *     answer is EXACTLY [[searchBm25Index]]'s — the oracle regime —
    *     and the spec measures overlap@k in the genuinely pruned one.
    *   - df comes from the write-time `terms/` DICTIONARY (summed
    *     per-segment partials), not the surviving postings: after a
    *     DELETE the dictionary is stale until the next compact —
    *     exactly Lucene's `docFreq` semantics, which counts deleted
    *     docs until segment merge. Compact rebuilds it exact (spec'd).
    *   - the stored order froze (k1, b) = (1.2, 0.75) and each
    *     segment's own avgdl; scoring honors the caller's (k1, b), but
    *     a query scored under a different pair selects by the frozen
    *     order (exact regime unaffected — it reads everything).
    *
    * Requires a layout written since the dictionary existed — loud
    * otherwise (a silent fallback to full reads would defeat the point).
    */
  def searchBm25IndexPruned(
      spark: SparkSession,
      dir: String,
      terms: Seq[String],
      k: Int = 20,
      quota: Int = 8,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty,
      "searchBm25IndexPruned needs at least one query term")
    require(quota > 0, s"quota must be positive, got $quota")
    val ver = currentVersionDir(dir)
    require(
      readSide(spark, s"$ver/postings").columns.contains("imp_rank") &&
        java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$ver/terms")),
      s"BM25 index at $dir predates impact ordering (no imp_rank/terms " +
        "dictionary); rebuild or compact it before pruned search")
    val segs = committedSegs(ver)
    val (nDocs, sumDl) = corpusStats(spark, ver, segs)
    val nBuckets = readBuckets(spark, ver, segs)
    val normed = terms.map(_.trim.toLowerCase(java.util.Locale.ROOT))
    val mult = normed.groupBy(identity).view.mapValues(_.size.toLong).toSeq
    import spark.implicits._
    val termFrame = mult.toDF("term", "mult")
    val distinctTerms = mult.map(_._1)
    val probed = distinctTerms.map(termBucket(_, nBuckets)).distinct
    // the pruned scan: partition filter + term pushdown + the impact
    // cutoff — rowgroups past a term's top-quota never decompress
    val pruned = readSide(spark, s"$ver/postings")
      .filter(col("term_bucket").isin(probed: _*) &&
        col("term").isin(distinctTerms: _*) &&
        col("seg").isin(segs: _*) && col("imp_rank") <= quota)
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
    // df from the dictionary partials (same pruned directories), NOT
    // from the posting scan — the quota caps what the scan can count
    val dfTab = readSide(spark, s"$ver/terms")
      .filter(col("term_bucket").isin(probed: _*) &&
        col("term").isin(distinctTerms: _*) && col("seg").isin(segs: _*))
      .groupBy("term").agg(sum("df").as("df"))
      .join(termFrame, "term")
    // the EXACT searchBm25Index score tree (bit-identical doubles,
    // identical micro quantization) — only the df SOURCE differs
    val avgdl = lit(sumDl) / lit(nDocs)
    val idf = log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5))
    val tf = col("tf").cast("double")
    val s = idf * tf * (k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    pruned
      .join(broadcast(dfTab), Seq("term"))
      .select(col("doc_id"),
        (round(s * 1e6, 0).cast("long") * col("mult")).as("m"))
      .groupBy("doc_id").agg(sum("m").as("bm25_micro"))
      .orderBy(desc("bm25_micro"), asc("doc_id"))
      .limit(k)
  }

  /** Score a BATCH of queries against the persisted index — the
    * many-query serving form of [[searchBm25Index]], and the per-batch
    * half of [[searchBm25IndexStream]]. `queries` is
    * `(query_id: long, terms: array<string>)`; the result is the top-k
    * `(query_id, doc_id, bm25_micro, rank)` per query, each query's
    * ranking EXACTLY [[searchBm25Index]]'s for the same bag of terms
    * (identical score expression over identical operand types; spec'd,
    * and the oracle replays the whole batch).
    *
    * Plan: the batch's normalized `(query_id, term, mult)` rows collect
    * to the driver (a QUERY-BATCH-sized artifact — it must: the probed
    * bucket list that prunes the scan is driver-side by nature, exactly
    * like the single-query form's term list), then ONE pruned postings
    * scan of the batch's distinct terms (`term_bucket IN` partition
    * filter + `term IN` pushdown + tombstone anti-join) serves every
    * query: df derives per term from the shared surviving slice, the
    * broadcast query frame fans each posting out to the queries that
    * want its term, one (query_id, doc_id) partial-agg sum, one
    * per-query rank window over rows already capped by the scan's
    * selectivity. Corpus cost is |union of query terms| posting lists —
    * independent of batch size beyond the term union.
    */
  def searchBm25IndexMany(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    val (nDocs, sumDl) = corpusStats(spark, ver, segs)
    val nBuckets = readBuckets(spark, ver, segs)
    val qRows = queries
      .select(col("query_id"),
        explode(col("terms")).as("t"))
      .select(col("query_id"), lower(trim(col("t"))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("mult"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    require(qRows.nonEmpty, "searchBm25IndexMany needs at least one query term")
    import spark.implicits._
    val qFrame = qRows.toDF("query_id", "term", "mult")
    val distinctTerms = qRows.map(_._2).distinct
    val probed = distinctTerms.map(termBucket(_, nBuckets)).distinct
    val surviving = readSide(spark, s"$ver/postings")
      .filter(col("term_bucket").isin(probed: _*) &&
        col("term").isin(distinctTerms: _*) && col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
    val dfTab = surviving.groupBy("term").agg(count(lit(1)).as("df"))
    // the EXACT single-query expression tree (bit-identical doubles,
    // hence identical micro quantization) — see searchBm25Index
    val avgdl = lit(sumDl) / lit(nDocs)
    val idf = log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5))
    val tf = col("tf").cast("double")
    val s = idf * tf * (k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("bm25_micro"), asc("doc_id"))
    surviving
      .join(broadcast(dfTab.join(qFrame, Seq("term"))), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        (round(s * 1e6, 0).cast("long") * col("mult")).as("m"))
      .groupBy("query_id", "doc_id").agg(sum("m").as("bm25_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "bm25_micro", "rank")
  }

  /** The pruned MULTI-QUERY serving form — [[searchBm25IndexMany]]'s
    * shared-scan batch over [[searchBm25IndexPruned]]'s impact prefix:
    * ONE pruned scan of the batch's term union reads each term's
    * top-`quota` postings (`imp_rank <= quota` pushed beside the
    * partition filter), df comes from the `terms/` dictionary, and the
    * broadcast query frame fans the prefix out per query. This is the
    * production serving shape at 100 TB: bytes per batch are
    * O(quota · |term union| · segments) — independent of both corpus
    * size and posting-list length — with [[searchBm25IndexPruned]]'s
    * stated trades (pruned candidates; dictionary df stale between a
    * delete and the next compact). Per-query ranking in the EXACT
    * regime equals [[searchBm25IndexMany]]'s (spec'd).
    */
  def searchBm25IndexPrunedMany(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int = 10,
      quota: Int = 8,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(quota > 0, s"quota must be positive, got $quota")
    val ver = currentVersionDir(dir)
    require(
      readSide(spark, s"$ver/postings").columns.contains("imp_rank") &&
        java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$ver/terms")),
      s"BM25 index at $dir predates impact ordering (no imp_rank/terms " +
        "dictionary); rebuild or compact it before pruned search")
    val segs = committedSegs(ver)
    val (nDocs, sumDl) = corpusStats(spark, ver, segs)
    val nBuckets = readBuckets(spark, ver, segs)
    val qRows = queries
      .select(col("query_id"), explode(col("terms")).as("t"))
      .select(col("query_id"), lower(trim(col("t"))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("mult"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    require(qRows.nonEmpty,
      "searchBm25IndexPrunedMany needs at least one query term")
    import spark.implicits._
    val qFrame = qRows.toDF("query_id", "term", "mult")
    val distinctTerms = qRows.map(_._2).distinct
    val probed = distinctTerms.map(termBucket(_, nBuckets)).distinct
    val pruned = readSide(spark, s"$ver/postings")
      .filter(col("term_bucket").isin(probed: _*) &&
        col("term").isin(distinctTerms: _*) &&
        col("seg").isin(segs: _*) && col("imp_rank") <= quota)
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
    val dfTab = readSide(spark, s"$ver/terms")
      .filter(col("term_bucket").isin(probed: _*) &&
        col("term").isin(distinctTerms: _*) && col("seg").isin(segs: _*))
      .groupBy("term").agg(sum("df").as("df"))
    val avgdl = lit(sumDl) / lit(nDocs)
    val idf = log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5))
    val tf = col("tf").cast("double")
    val s = idf * tf * (k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("bm25_micro"), asc("doc_id"))
    pruned
      .join(broadcast(dfTab.join(qFrame, Seq("term"))), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        (round(s * 1e6, 0).cast("long") * col("mult")).as("m"))
      .groupBy("query_id", "doc_id").agg(sum("m").as("bm25_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "bm25_micro", "rank")
  }

  /** Index HEALTH/STATS — the lexical twin of the IVF side's
    * `cellHealth` (`q_index_health`): one row of corpus and dictionary
    * facts a maintenance loop alerts on, derived entirely from the
    * LAYOUT (meta partials, dictionary, postings — never the corpus),
    * yet equal by construction to corpus-derived truth on a clean
    * index, which is exactly what the oracle replays. df quantiles use
    * the family's integer-exact discrete rule (smallest df with
    * cum·1000 ≥ p·total over dictionary entries), so "are a few terms
    * degenerate-hot" — the question behind posting-list skew — is one
    * replayable number (`df_max` vs `df_p500`).
    */
  def bm25IndexStats(spark: SparkSession, dir: String): DataFrame = {
    val ver = currentVersionDir(dir)
    val segs = committedSegs(ver)
    // dictionary partials sum per term (delete staleness applies as in
    // the pruned search — stats are exact on a clean/compacted index)
    val byTerm = readSide(spark, s"$ver/terms")
      .filter(col("seg").isin(segs: _*))
      .groupBy("term").agg(sum("df").as("df"))
    // unpartitioned window over the DISTINCT-df table — bounded (df
    // magnitudes, not terms), the Sampling bucket-offset pattern
    val cumW = org.apache.spark.sql.expressions.Window
      .orderBy(col("df").asc)
    val ranked = byTerm
      .groupBy("df").agg(count(lit(1)).as("w"))
      .withColumn("cum", sum("w").over(cumW))
      .crossJoin(broadcast(
        byTerm.agg(count(lit(1)).as("n_terms"),
          sum("df").as("n_postings"),
          max("df").as("df_max"))))
    val qs = ranked.groupBy("n_terms", "n_postings", "df_max")
      .agg(
        min(when(col("cum") * 1000 >= col("n_terms") * 500, col("df")))
          .as("df_p500"),
        min(when(col("cum") * 1000 >= col("n_terms") * 990, col("df")))
          .as("df_p990"))
    readSide(spark, s"$ver/meta")
      .filter(col("seg").isin(segs: _*))
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
      .crossJoin(broadcast(qs))
      .select("n_docs", "sum_dl", "n_terms", "n_postings",
        "df_p500", "df_p990", "df_max")
  }

  /** STREAMING serving twin: query micro-batches score against the
    * persisted index through `foreachBatch` — the
    * [[Retrieval.lateInteractionServeStream]] shape (the per-batch plan
    * needs batch-only operators: the driver-side probe collection and
    * the per-query rank window). Each batch resolves the CURRENTLY
    * COMMITTED version, so concurrent appends/deletes/compacts land
    * between batches atomically (a batch never sees a half-committed
    * segment). Serving is stateless and pure in the batch — a
    * crash-replayed batch hands `sink` identical rows, idempotent for
    * any keyed/overwrite sink. Stream ≡ batch is spec'd (MemoryStream
    * across two batches against [[searchBm25IndexMany]]).
    */
  def searchBm25IndexStream(
      queryStream: DataFrame,
      dir: String,
      k: Int = 10)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // an empty micro-batch is a no-op, not an error
        if (!batch.isEmpty)
          sink(searchBm25IndexMany(batch.sparkSession, dir, batch, k), batchId)
    }

  /** PHRASE search over a POSITIONAL index (built with
    * `positional = true`): top-k docs containing the exact consecutive
    * token sequence `phrase`, scored by occurrence count — every start
    * offset counts, including overlapping ones ("a a" occurs TWICE in
    * "a a a"), which is what a position-list intersection naturally
    * yields and what substring-replace counting gets wrong.
    *
    * The plan is the positional-inverted-index intersection every
    * lexical engine runs: ONE pruned postings scan of the phrase's
    * DISTINCT terms (`term_bucket IN` partition filter + `term IN`
    * parquet pushdown + committed-seg filter, tombstones anti-joined —
    * the corpus is never scanned), pivoted per doc into a term →
    * positions map (each (term, doc) has exactly ONE surviving posting:
    * appends require unseen doc_ids), docs missing any distinct term
    * dropped by a map-size check, then ONE in-row `filter` over the
    * FIRST term's offsets keeping starts `p` where every later term `j`
    * has `p + j` in its own list — O(occurrences) per doc, no join, no
    * explode. Repeated phrase terms ("batch batch") need no special
    * case: position j probes the shared list at `p + j`.
    *
    * Output: `(doc_id, n_matches)` with `n_matches >= 1`, ordered
    * (n_matches DESC, doc_id ASC), limit k. Loud on a non-positional
    * index — silently returning zero matches would read as "phrase
    * absent".
    */
  def searchPhraseIndex(
      spark: SparkSession,
      dir: String,
      phrase: Seq[String],
      k: Int = 20): DataFrame = {
    require(phrase.nonEmpty, "searchPhraseIndex needs at least one term")
    val ver = currentVersionDir(dir)
    require(isPositional(spark, ver),
      s"BM25 index at $dir was not built with positional = true; " +
        "phrase search needs per-posting positions")
    val segs = committedSegs(ver)
    val nBuckets = readBuckets(spark, ver, segs)
    val normed = phrase.map(_.trim.toLowerCase(java.util.Locale.ROOT))
    val distinctTerms = normed.distinct
    val probed = distinctTerms.map(termBucket(_, nBuckets)).distinct
    val tp = readSide(spark, s"$ver/postings")
      .filter(col("term_bucket").isin(probed: _*) &&
        col("term").isin(distinctTerms: _*) && col("seg").isin(segs: _*))
      .join(broadcast(committedDeletes(spark, ver, segs)),
        Seq("doc_id"), "left_anti")
      .groupBy("doc_id")
      .agg(map_from_entries(
        collect_list(struct(col("term"), col("positions")))).as("tp"))
      // docs missing any distinct phrase term can't match — drop before
      // the intersection (each surviving (term, doc) contributed one
      // map entry)
      .filter(size(col("tp")) === distinctTerms.size)
    // starts = offsets p of the FIRST term where each later term j sits
    // at p + j; head term at offset 0 makes `p + 0` trivially true
    val starts = filter(
      element_at(col("tp"), lit(normed.head)),
      p => normed.zipWithIndex.drop(1).map { case (t, j) =>
        array_contains(element_at(col("tp"), lit(t)), p + j)
      }.foldLeft(lit(true))(_ && _))
    tp.select(col("doc_id"), size(starts).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(desc("n_matches"), asc("doc_id"))
      .limit(k)
  }
}
