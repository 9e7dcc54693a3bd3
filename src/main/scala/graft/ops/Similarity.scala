package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings(vec_id, embedding array<float>, label)` — FIXTURES.md §B).
  *
  * Two paths, same contract:
  *
  *   - [[bruteTopK]]: exact cosine top-k of a (small) query set against the
  *     full corpus. The query side is broadcast, so the big side streams
  *     through one narrow map + per-partition top-k — no all-pairs shuffle.
  *   - [[lshTopK]]: the scale path. Random-hyperplane LSH buckets the
  *     corpus; candidates share at least one band bucket, so the join
  *     touches a tiny fraction of the corpus per query. At 100 TB the
  *     bucket-join is a standard shuffle on short keys; brute force would
  *     be O(queries × corpus) and is kept only as the correctness oracle.
  *
  * Determinism: all arithmetic is either quantized-integer (exact in any
  * engine — used by the DuckDB-checkable queries) or double-precision with
  * a fixed fold order. Hash-based projections use `xxhash64`, which is
  * seed-stable across runs and machines.
  */
object Similarity {

  /** Embedding components quantized to exact 64-bit integers
    * (`round(x * 10000)` after an exact float→double widening). Integer dot
    * products are then bit-identical in every engine — this is what makes
    * cosine similarity DuckDB-oracle-checkable (double float sums are not).
    * At 1e4 scaling a unit-norm 64-dim float keeps full float32 precision.
    */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 10000).cast("long"))

  /** Exact integer dot product of two quantized vectors.
    *
    * The two-arg form always uses the built-in `aggregate(zip_with(...))`
    * fold — it resolves in ANY session, so a Column built here can never
    * fail analysis (or silently change hash family) depending on which
    * session analyzes it. Operators that HAVE a DataFrame should pass
    * `native = GraftExtensions.available(df.sparkSession)` explicitly to
    * opt into the codegen'd [[graft.plans.LongDotProduct]] — identical
    * integer semantics either way, so this is purely a speed knob.
    */
  def qdot(a: Column, b: Column): Column = qdot(a, b, native = false)

  /** Variant with explicit dispatch — key on the session that will analyze
    * the plan (the DataFrame's own), never `getActiveSession`.
    */
  def qdot(a: Column, b: Column, native: Boolean): Column =
    if (native) call_function("graft_qdot", a, b)
    else aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Cosine similarity on quantized vectors, rounded for stable compares. */
  def qcosine(a: Column, b: Column, scale: Int = 6): Column =
    round(
      qdot(a, b) / sqrt(qdot(a, a).cast("double") * qdot(b, b).cast("double")),
      scale)

  /** Cosine from a dot product and PRE-COMPUTED squared norms — norms are
    * O(corpus) once, not O(pairs) times; at 1M candidate pairs that's the
    * difference between 1× and 3× the dot-product work.
    */
  def qcosinePre(dot: Column, normA: Column, normB: Column, scale: Int = 6): Column =
    round(dot / sqrt(normA.cast("double") * normB.cast("double")), scale)

  /** Exact brute-force cosine top-k: query rows (vec_id ∈ queryIds, or all
    * rows < nQueries when ids unknown) against the whole corpus.
    *
    * Plan shape: corpus scan → broadcast-hash-join against the tiny query
    * side → projection computing qcosine → window top-k per query. The
    * only shuffle is the final per-query top-k, keyed on query_id —
    * perfectly partition-balanced (equal candidates per query).
    */
  def bruteTopK(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame =
    broadcastScoredTopK(
      embeddings, queryMaxId, k, col("cand_id") =!= col("query_id"))

  /** Shared corpus × broadcast-query scoring shape: quantize + norm both
    * sides, broadcast-join the query side under `joinPred`, exact
    * quantized cosine, per-query window top-k. ONE definition so
    * [[bruteTopK]] and [[hardNegatives]] can never diverge on rank ties
    * or norm handling; extra query/corpus columns (`q_label`/`c_label`)
    * ride along for the predicate and are dropped by the final select.
    */
  private def broadcastScoredTopK(
      embeddings: DataFrame,
      queryMaxId: Long,
      k: Int,
      joinPred: Column,
      withLabels: Boolean = false): DataFrame = {
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    val labelsQ = if (withLabels) Seq(col("label").as("q_label")) else Nil
    val labelsC = if (withLabels) Seq(col("label").as("c_label")) else Nil
    val q = embeddings
      .filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id") +: labelsQ :+
        quantize(col("embedding")).as("qv"): _*)
      .withColumn("qn", qdot(col("qv"), col("qv"), native))
    val corpus = embeddings
      .select(col("vec_id").as("cand_id") +: labelsC :+
        quantize(col("embedding")).as("cv"): _*)
      .withColumn("cn", qdot(col("cv"), col("cv"), native))
    val scored = corpus
      .join(broadcast(q), joinPred)
      .select(
        col("query_id"),
        col("cand_id"),
        qcosinePre(qdot(col("qv"), col("cv"), native), col("qn"), col("cn")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "sim", "rank")
  }

  /** Random-hyperplane signature: `planes` sign bits, each from a
    * deterministic pseudo-random hyperplane. Component j of plane p has
    * sign derived from `xxhash64(p, j)`; the dot-product sign is the bit.
    * One codegen'd expression per plane — no stored plane matrix, which at
    * 100 TB matters: the "model" ships inside the plan.
    */
  def rhpSignature(v: Column, planes: Int): Column =
    rhpSignature(v, planes, native = false) // see qdot: explicit native only

  def rhpSignature(v: Column, planes: Int, native: Boolean): Column = {
    if (native) call_function("graft_rhp_sig", v, lit(planes))
    else {
      val sigBits = sequence(lit(0), lit(planes - 1))
      transform(
        sigBits,
        p => {
          // dot(v, plane_p) where plane_p[j] = ±1 from xxhash64(p, j)
          val dot = aggregate(
            zip_with(
              v,
              sequence(lit(0), size(v) - 1),
              (x, j) =>
                x.cast("double") *
                  when(xxhash64(p, j) % 2 === 0, 1.0).otherwise(-1.0)),
            lit(0.0d),
            (acc, x) => acc + x)
          when(dot >= 0, lit(1L)).otherwise(lit(0L))
        })
    }
  }

  /** Engine-portable random-hyperplane signature over a QUANTIZED vector:
    * component j of plane p has sign ±1 from the parity of the portable
    * md5-prefix hash of "p,j" ([[graft.functions.PortableHash.h28]]), and
    * the projection is an integer dot product — exact in any engine, so
    * the whole bucketing decision (not just the rerank) is DuckDB-
    * replayable. Same no-stored-plane-matrix property as [[rhpSignature]].
    */
  def rhpSignaturePortable(qv: Column, planes: Int): Column =
    transform(
      sequence(lit(0), lit(planes - 1)),
      p => {
        val dot = aggregate(
          zip_with(
            qv,
            sequence(lit(0), size(qv) - 1),
            (x, j) =>
              x * when(
                graft.functions.PortableHash.h28(
                  concat(p.cast("string"), lit(","), j.cast("string"))) % 2 === 0,
                1L).otherwise(-1L)),
          lit(0L),
          (acc, x) => acc + x)
        when(dot >= 0, lit(1L)).otherwise(lit(0L))
      })

  /** [[lshTopK]] on the portable hash family: quantized-integer plane
    * projections ([[rhpSignaturePortable]]) decide the buckets, quantized
    * cosine reranks — every stage replays exactly in DuckDB. Use the
    * xxhash64 path for production (cheaper per row); this twin exists so
    * the driver can hash-match the full ANN pipeline end to end.
    */
  /** [[rhpSignaturePortable]] with the ±1 plane matrix FOLDED to a
    * literal: the sign of component j of plane p is a pure function of
    * (p, j) — `h28("p,j") % 2` — so it is computed ONCE driver-side
    * ([[graft.functions.PortableHash.h28Local]], bit-identical to the
    * in-engine md5 form the oracle replays) instead of
    * rows × planes × dim times in the executor (measured 4M md5 calls =
    * ~10 s on a 2000-row slice). `dim` must be the corpus's fixed
    * embedding width (ragged corpora would need the per-row form).
    */
  private[ops] def rhpSignaturePortablePre(
      qv: Column, planes: Int, dim: Int): Column =
    rhpSignaturePortablePre(qv, planes, dim, native = false)

  /** `native = true` routes through the registered
    * [[graft.plans.RhpSigPortable]] expression — the identical folded
    * ±1 matrix and integer projections as one primitive loop instead
    * of this CodegenFallback transform→zip_with→aggregate chain
    * (interpreted boxed lambdas per row×plane×component; profiled as
    * the LSH-portable pair path's dominant stage at sf0.1). Same bits,
    * same oracle replay — only the evaluation engine differs.
    */
  private[ops] def rhpSignaturePortablePre(
      qv: Column, planes: Int, dim: Int, native: Boolean): Column = {
    if (native)
      return call_function("graft_rhp_sig_portable", qv,
        lit(planes), lit(dim))
    val signs: Seq[Seq[Long]] = (0 until planes).map { p =>
      (0 until dim).map { j =>
        if (graft.functions.PortableHash.h28Local(s"$p,$j") % 2 == 0) 1L
        else -1L
      }
    }
    val mat = typedlit(signs)
    transform(
      sequence(lit(0), lit(planes - 1)),
      p => {
        val dot = aggregate(
          zip_with(qv, element_at(mat, p.cast("int") + 1), (x, s) => x * s),
          lit(0L),
          (acc, x) => acc + x)
        when(dot >= 0, lit(1L)).otherwise(lit(0L))
      })
  }

  /** Portable RHP band table `(vec_id, qv, qn, band, bucket)` with the
    * degenerate-bucket cap applied — the shared banding stage of
    * [[lshTopKPortable]] (search) and
    * [[Dedup.embeddingDupsByLshPortable]] (pair finding). The signature
    * is let-bound so the `planes` projections compute once per row, and
    * the plane-sign matrix is a folded literal
    * ([[rhpSignaturePortablePre]]) — same values as the md5 form.
    */
  private[ops] def rhpBandedPortable(
      embeddings: DataFrame,
      bands: Int,
      bandBits: Int,
      maxBucket: Int): DataFrame = {
    val planes = bands * bandBits
    // portable buckets never depend on the xxhash64 family; native here
    // is only a speed knob (qdot, and the graft_rhp_sig_portable loop —
    // the SAME folded md5 matrix, identical integer semantics)
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    import graft.functions.ColumnOps
    // O(1) driver peek for the fixed embedding width — the plane matrix
    // literal needs it (the cellsFor count() precedent). An empty corpus
    // has no width to peek; any placeholder works because zero rows flow
    // through the (lazy) plan below — the call degrades to an empty band
    // table instead of throwing (the lshTopKPortable contract).
    val dim = embeddings.select(size(col("embedding"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(1)
    // the plane matrix is sized for `dim`: a ragged corpus would silently
    // hash truncated/padded signatures — fail loudly per row instead
    val q0 = embeddings
      .filter(size(col("embedding")) === lit(dim) ||
        raise_error(concat(
          lit(s"ragged embedding dim: expected $dim, got "),
          size(col("embedding")).cast("string"),
          lit(" at vec_id "), col("vec_id").cast("string"))).cast("boolean"))
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val buckets =
      ColumnOps.bind(rhpSignaturePortablePre(col("qv"), planes, dim, native)) { s =>
        transform(
          sequence(lit(0), lit(bands - 1)),
          b =>
            aggregate(
              slice(s, b * bandBits + 1, lit(bandBits)),
              lit(0L),
              (acc, bit) => acc * 2 + bit))
      }
    Dedup.capBuckets(
      q0.select(
        col("vec_id"),
        col("qv"),
        qdot(col("qv"), col("qv"), native).as("qn"),
        posexplode(buckets))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket"),
      Seq("band", "bucket"), maxBucket)
  }

  def lshTopKPortable(
      embeddings: DataFrame,
      queryMaxId: Long,
      k: Int,
      bands: Int = 8,
      bandBits: Int = 4,
      maxBucket: Int = 100000): DataFrame = {
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    val banded = rhpBandedPortable(embeddings, bands, bandBits, maxBucket)
    val q = banded
      .filter(col("vec_id") < queryMaxId)
      .select(
        col("vec_id").as("query_id"), col("qv").as("query_qv"),
        col("qn").as("query_qn"), col("band"), col("bucket"))
    val cands = banded
      .join(q, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("cand_id"),
        col("query_qv"), col("query_qn"), col("qv"), col("qn"))
      .dropDuplicates("query_id", "cand_id")
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
    cands
      .withColumn("sim",
        qcosinePre(qdot(col("query_qv"), col("qv"), native), col("query_qn"), col("qn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "sim", "rank")
  }

  /** IVF (inverted-file) ANN: the clustering-blocked scale path.
    *
    * Structure (classic IVF, cf. the FAISS/IVFADC literature):
    *
    *   1. A small set of coarse centroids partitions the corpus into
    *      cells — here the `nCells` lowest-id vectors stand in for an
    *      offline-trained k-means codebook (deterministic, so the whole
    *      pipeline is oracle-replayable; swapping in trained centroids
    *      changes one DataFrame).
    *   2. ASSIGN: every corpus vector joins the BROADCAST centroid set and
    *      keeps its single best cell (highest cosine, ties to the lowest
    *      cell id) — one narrow pass over the corpus; the per-vector argmax
    *      is a map-side-combinable `max_by` aggregate carrying only
    *      (vec_id, cell, sim) rows, never the vectors.
    *   3. PROBE: each query scores the same broadcast centroids and keeps
    *      its `nProbe` nearest cells.
    *   4. Candidates = corpus vectors assigned to any probed cell — a join
    *      keyed on cell_id touching ~nProbe/nCells of the corpus per
    *      query; exact quantized cosine reranks to top-k.
    *
    * Each vector lives in EXACTLY one cell (unlike LSH's multi-band
    * buckets), so candidates need no dedup. `maxBucket` drops degenerate
    * over-populated cells ([[Dedup.capBuckets]]) — with a trained codebook
    * cells are balanced, but an untrained/adversarial corpus could pile
    * into one cell and make the candidate join quadratic.
    */
  /** Quantized vectors with precomputed squared norms: `(vec_id, qv, qn)`. */
  private def quantizedWithNorms(embeddings: DataFrame, native: Boolean): DataFrame =
    embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("qn", qdot(col("qv"), col("qv"), native))

  /** (vector × broadcast centroid) cosine — the shared ASSIGN/PROBE pass. */
  private def withCellSims(
      side: DataFrame, centroids: DataFrame, native: Boolean): DataFrame = side
    .join(broadcast(centroids))
    .withColumn("cell_sim",
      qcosinePre(qdot(col("qv"), col("cv"), native), col("qn"), col("cn")))
    .drop("cv", "cn")

  /** The seed codebook: the `nCells` lowest-id vectors as centroids —
    * deterministic, so oracle-replayable; [[trainCentroids]] refines it.
    */
  private def seedCentroids(vecs: DataFrame, nCells: Int): DataFrame = vecs
    .filter(col("vec_id") < nCells)
    .select(col("vec_id").as("cell_id"), col("qv").as("cv"), col("qn").as("cn"))

  /** [[seedCentroids]] from raw embeddings — the public entry for callers
    * that must PIN one codebook across several assignment calls (the
    * incremental-dedup shape: the new batch and the persisted corpus
    * index have to agree on cells, so neither side may re-seed from its
    * own rows). Returns `(cell_id, cv, cn)`, the `centroids` contract of
    * [[ivfAssign]]/[[ivfAssignProbe]]/[[ivfAssignHierProbe]].
    */
  def seedCodebook(embeddings: DataFrame, nCells: Int): DataFrame = {
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    seedCentroids(quantizedWithNorms(embeddings, native), nCells)
  }

  /** Argmax cell per vector. qv/qn ride the argmax as first() (identical
    * across the group — one row per centroid) instead of a join back to
    * the corpus: saves a second full embeddings scan + join, and map-side
    * partial aggregation collapses the nCells copies before the shuffle.
    */
  private def assignCore(
      vecs: DataFrame, centroids: DataFrame, native: Boolean): DataFrame =
    withCellSims(vecs, centroids, native)
      .groupBy("vec_id")
      .agg(
        max_by(
          col("cell_id"),
          struct(col("cell_sim"), (-col("cell_id")).as("tb"))).as("cell_id"),
        first("qv").as("qv"),
        first("qn").as("qn"))

  /** Corpus-proportional codebook size: the number of IVF cells that
    * holds per-cell population at `targetPerCell` as the corpus grows —
    * the sizing rule that keeps within-cell work (quadratic dedup
    * self-joins, per-cell scan cost) CONSTANT per cell and the total
    * linear in N. A cell count frozen while N grows is the one shape in
    * this library that trends quadratic (measured: `tools.ScaleProbe`,
    * PLANS.md round-8 scale checkpoint); callers at scale should derive
    * `nCells` from a corpus count via this instead of hardcoding.
    */
  def cellsFor(nRows: Long, targetPerCell: Long = 4096L): Int = {
    require(targetPerCell > 0, s"targetPerCell must be positive, got $targetPerCell")
    math.max(1L, math.min(Int.MaxValue.toLong,
      (nRows + targetPerCell - 1) / targetPerCell)).toInt
  }

  /** IVF cell assignment: every vector keeps its single best coarse cell
    * (highest cosine against the broadcast centroid set, ties to the
    * lowest cell id). Centroids are the `nCells` lowest-id vectors — an
    * offline-trained codebook's deterministic stand-in (see [[ivfTopK]]).
    * Returns `(vec_id, cell_id, qv, qn)`; the cell id doubles as a
    * clustering-derived BLOCKING key for semantic dedup
    * ([[Dedup.embeddingDupsByCell]]).
    */
  def ivfAssign(
      embeddings: DataFrame,
      nCells: Int,
      centroids: Option[DataFrame] = None): DataFrame = {
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    val vecs = quantizedWithNorms(embeddings, native)
    assignCore(vecs, centroids.getOrElse(seedCentroids(vecs, nCells)), native)
  }

  /** Multi-probe assignment: every vector keeps its TOP-`nProbe` cells —
    * the blocking-recall lever (a near-dup pair straddling a cell
    * boundary meets as soon as ANY probed cell is shared; `q_embed_recall`
    * measures the single-probe miss rate this exists to fix). `nProbe = 1`
    * delegates to the argmax aggregate; above that the per-vector rank
    * uses a `WindowGroupLimit`-prunable row_number, so the exchange
    * carries ≈ N·nProbe survivors, not N·nCells sims (the sims are
    * generated in-row, so the map-side prune is near-exact).
    */
  def ivfAssignProbe(
      embeddings: DataFrame,
      nCells: Int,
      nProbe: Int,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    if (nProbe == 1) return ivfAssign(embeddings, nCells, centroids)
    import org.apache.spark.sql.expressions.Window
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    val vecs = quantizedWithNorms(embeddings, native)
    withCellSims(vecs, centroids.getOrElse(seedCentroids(vecs, nCells)), native)
      .withColumn("_rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("cell_sim"), asc("cell_id"))))
      .filter(col("_rn") <= nProbe)
      .select("vec_id", "cell_id", "qv", "qn")
  }

  /** Two-level (hierarchical) multi-probe IVF assignment — the
    * scale-safe replacement for the flat argmax when the codebook is
    * corpus-proportional. Flat assignment scores every vector against
    * every centroid: O(N·k), and with `k = N/targetPerCell`
    * ([[cellsFor]]) that term is QUADRATIC in N — the round-10 band
    * probe measured it overtaking the pair join it shrinks (391 cells =
    * 22.4 s vs 157 cells = 5.7 s at sf1, PLANS.md). The classic fix
    * (IMI / two-level IVF, cf. the FAISS coarse-quantizer literature) is
    * to index the CODEBOOK itself:
    *
    *   1. COARSE CODEBOOK: the `c = ceil(sqrt(k))` lowest-`cell_id` fine
    *      centroids (rank over the codebook table — deterministic, and on
    *      a seeded codebook equal to `cell_id < c`).
    *   2. GROUP THE FINE CODEBOOK: every fine centroid joins the
    *      broadcast coarse set and keeps its best coarse cell (cosine
    *      argmax, ties to the lowest coarse id) — O(k·c), codebook-sized.
    *   3. COARSE PROBE: every vector scores only the `c` coarse
    *      centroids and keeps its top-`pCoarse` coarse cells — O(N·c).
    *   4. FINE PROBE: candidates are the fine centroids GROUPED under a
    *      probed coarse cell (broadcast join on `coarse_id`, ≈ p·k/c
    *      scored per vector); keep the top-`nProbe` fine cells by
    *      (cosine desc, cell_id asc) — O(N·p·k/c).
    *
    * Total per-vector work is O(c + p·k/c) = O(√k) — flat past any cell
    * count, at the cost of a measured recall haircut when the true
    * nearest fine cell hides under an unprobed coarse cell
    * (`q_embed_recall*` carry the number; `pCoarse` is the lever).
    * Every fine centroid belongs to exactly ONE coarse group, so a
    * (vector, fine-cell) candidate appears at most once — no dedup.
    * Ties at every stage break to the lowest id; with `c >= k` (tiny
    * codebooks) the scheme degenerates to flat multi-probe assignment.
    *
    * Output: `(vec_id, cell_id, qv, qn, cell_sim, probe_rank)` — the
    * [[ivfAssignProbe]] contract plus the winning cosine (the medoid
    * selector needs it) and the 1-based probe rank (rank 1 is the
    * single-assignment subset, so ONE pass can serve both an index
    * build and a multi-probe query side — [[ivfTopK]]'s auto path);
    * pair-join callers drop both.
    */
  def ivfAssignHierProbe(
      embeddings: DataFrame,
      nCells: Int,
      nProbe: Int,
      pCoarse: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(pCoarse >= 1, s"pCoarse must be >= 1, got $pCoarse")
    import org.apache.spark.sql.expressions.Window
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    val vecs = quantizedWithNorms(embeddings, native)
    val fine = centroids.getOrElse(seedCentroids(vecs, nCells))
    val coarseCount = math.ceil(math.sqrt(
      math.max(1, nCells).toDouble)).toInt
    // codebook-sized single-partition rank: k rows of (id, vector) —
    // trivial next to the corpus passes it saves
    val coarse = fine
      .withColumn("_r", row_number().over(Window.orderBy(asc("cell_id"))))
      .filter(col("_r") <= coarseCount)
      .select(col("cell_id").as("coarse_id"),
        col("cv").as("ccv"), col("cn").as("ccn"))
    // fine → coarse group map (codebook-sized): argmax cosine, ties low id
    val fineMap = fine
      .join(broadcast(coarse))
      .withColumn("_cs",
        qcosinePre(qdot(col("cv"), col("ccv"), native), col("cn"), col("ccn")))
      .groupBy("cell_id")
      .agg(
        max_by(col("coarse_id"),
          struct(col("_cs"), (-col("coarse_id")).as("tb"))).as("coarse_id"),
        first("cv").as("cv"), first("cn").as("cn"))
    // corpus coarse probe: top-pCoarse coarse cells per vector. The
    // row_number is WindowGroupLimit-prunable, so the exchange carries
    // ≈ N·pCoarse survivors; the join below preserves the vec_id hash
    // partitioning, so the fine-probe window re-sorts WITHOUT a second
    // exchange.
    val probed = vecs
      .join(broadcast(
        coarse.select(col("coarse_id").as("cell_id"),
          col("ccv").as("cv"), col("ccn").as("cn"))))
      .withColumn("cell_sim",
        qcosinePre(qdot(col("qv"), col("cv"), native), col("qn"), col("cn")))
      .drop("cv", "cn")
      .withColumn("_rc", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("cell_sim"), asc("cell_id"))))
      .filter(col("_rc") <= pCoarse)
      .select(col("vec_id"), col("qv"), col("qn"),
        col("cell_id").as("coarse_id"))
    probed
      .join(broadcast(fineMap), Seq("coarse_id"))
      .withColumn("cell_sim",
        qcosinePre(qdot(col("qv"), col("cv"), native), col("qn"), col("cn")))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("cell_sim"), asc("cell_id"))))
      .filter(col("probe_rank") <= nProbe)
      .select("vec_id", "cell_id", "qv", "qn", "cell_sim", "probe_rank")
  }

  /** MARGIN-BASED cross-corpus pair mining — the bitext-mining
    * criterion (Artetxe & Schwenk 2019, "Margin-based Parallel Corpus
    * Mining with Multilingual Sentence Embeddings"): a pair (a, b)
    * across two embedding sets is kept not for its raw cosine but for
    * its RATIO MARGIN against each side's neighborhood —
    *
    *   margin(a,b) = cos(a,b) / ((avgTopK(a→B) + avgTopK(b→A)) / 2)
    *
    * — which suppresses hubs (a vector close to everything scores a
    * high cosine against many candidates but a margin near 1). The
    * training-data use: mining aligned text/translation/caption pairs
    * from two independently-embedded corpora.
    *
    * Exact-integer determinism: cosines are [[qcosinePre]] scale-6
    * doubles, so `round(sim·1e6)` is an EXACT micro-long; top-k sums
    * are long sums; and the margin is one exact floor division
    * `margin_milli = ⌊2000·cosµ·nA·nB / (sumA·nB + sumB·nA)⌋` (the
    * actual-count form, so boundary vectors with fewer than k
    * neighbors are averaged over what exists). Replays verbatim in
    * the oracle.
    *
    * Scale shape: ONE scored cross product (the bounded mining batch
    * `embA` broadcast against the corpus `embB`), checkpointed once and
    * feeding both ranking directions (two window ranks, each
    * WindowGroupLimit-prunable) and the pair output — O(|A|·|B|)
    * compute, |B| never shuffled beyond the two rank exchanges. For
    * corpus×corpus mining, block both sides by a shared IVF codebook
    * first (the [[Dedup.dropSemanticDuplicatesIncremental]]
    * composition) and apply this within cells.
    *
    * Output: `(a_id, b_id, sim, margin_milli)` for forward-top-k pairs
    * with positive similarity and `margin_milli >= marginFloorMilli`
    * (1000 = margin 1.0; mining thresholds sit slightly above it).
    * The returned plan reads the scored checkpoint — release with
    * [[Dedup.releaseCheckpoints]] when done.
    */
  def marginPairs(
      embA: DataFrame,
      embB: DataFrame,
      k: Int = 4,
      marginFloorMilli: Long = 1050L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val native = graft.plans.GraftExtensions.available(embA.sparkSession)
    val a = quantizedWithNorms(embA, native).select(
      col("vec_id").as("a_id"), col("qv").as("a_qv"), col("qn").as("a_qn"))
    val b = quantizedWithNorms(embB, native).select(
      col("vec_id").as("b_id"), col("qv").as("b_qv"), col("qn").as("b_qn"))
    val scored = b.crossJoin(broadcast(a))
      .withColumn("sim",
        qcosinePre(qdot(col("a_qv"), col("b_qv"), native),
          col("a_qn"), col("b_qn")))
      .filter(col("sim") > 0)
      .withColumn("cos_micro", round(col("sim") * lit(1e6)).cast("long"))
      .select("a_id", "b_id", "sim", "cos_micro")
      // one checkpoint: the scored table feeds BOTH rank directions and
      // the final pair projection — without it the cross product runs
      // three times (the tfidfPairs lesson)
      .localCheckpoint()
    marginFromScored(scored, k, marginFloorMilli)
  }

  /** The margin criterion over a pre-scored candidate table
    * `(a_id, b_id, sim, cos_micro)` — shared by [[marginPairs]] (one
    * bounded cross product) and [[marginPairsBlocked]] (cell-blocked
    * candidates): forward top-k per a, reverse neighborhoods only for
    * forward-candidate b's, exact floor-division margin.
    */
  private def marginFromScored(
      scored: DataFrame, k: Int, marginFloorMilli: Long): DataFrame = {
    val wA = Window.partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    val wB = Window.partitionBy("b_id").orderBy(desc("sim"), asc("a_id"))
    val fwd = scored.withColumn("rank_ab", row_number().over(wA))
    val cand = fwd.filter(col("rank_ab") <= k)
    val sumA = cand
      .groupBy("a_id")
      .agg(sum("cos_micro").as("sum_a"), count(lit(1)).as("n_a"))
    // only FORWARD-candidate b's (≤ |A|·k) ever need a b→A neighborhood
    // — semi-join them out BEFORE the b-keyed rank so the window ranks
    // |A|·k·|A| rows, not the full |A|·|B| score table (measured: the
    // unpruned window dominated the sf1 run)
    val sumB = scored
      .join(broadcast(cand.select("b_id").distinct()), Seq("b_id"),
        "left_semi")
      .withColumn("rank_ba", row_number().over(wB))
      .filter(col("rank_ba") <= k)
      .groupBy("b_id")
      .agg(sum("cos_micro").as("sum_b"), count(lit(1)).as("n_b"))
    cand
      .join(sumA, Seq("a_id"))
      .join(sumB, Seq("b_id"))
      .filter(col("sum_a") * col("n_b") + col("sum_b") * col("n_a") > 0)
      .withColumn("margin_milli",
        graft.functions.ColumnOps.fdivCol(
          lit(2000L) * col("cos_micro") * col("n_a") * col("n_b"),
          col("sum_a") * col("n_b") + col("sum_b") * col("n_a")))
      .filter(col("margin_milli") >= marginFloorMilli)
      .select("a_id", "b_id", "sim", "margin_milli")
  }

  /** CORPUS×CORPUS margin mining — [[marginPairs]] at the deployment
    * scale Artetxe & Schwenk §5 actually mine (full corpora on both
    * sides, where a broadcast cross product is impossible): both sides
    * are assigned under ONE SHARED hier codebook and the margin
    * criterion runs WITHIN cells.
    *
    *   - the codebook seeds from the UNION (one geometry both corpora
    *     agree on — the [[Dedup.dropSemanticDuplicatesIncremental]]
    *     pinned-codebook rule), sized corpus-proportionally
    *     ([[cellsFor]]) unless given;
    *   - the MINING side `embA` probes `nProbe` cells (recall knob),
    *     the CANDIDATE side `embB` single-assigns — so every (a, b)
    *     candidate meets in at most ONE cell (b has one home cell) and
    *     the blocked score table has no duplicate pairs;
    *   - candidates come from a cell-keyed equi-join: Σ_cells
    *     |A_c|·nProbe·|B_c| scored pairs instead of |A|·|B| — with
    *     `targetPerCell` capping |B_c|, per-a work is O(nProbe·cap)
    *     and total work linear in the corpus, the same shape as every
    *     other blocked family here;
    *   - neighborhoods (the margin denominators) are the BLOCKED
    *     top-k: the standard FAISS-style approximation of the paper's
    *     exact k-NN — hub suppression now measures a vector against
    *     its cell neighborhood, which is exactly the neighborhood it
    *     can hub over at serving time.
    *
    * Assignment is per-vector independent, so per-side hier passes
    * under the shared codebook equal one pass over the union split
    * afterwards — which is how the DuckDB oracle replays it. Both hier
    * passes are O(side·√k); the scored table is checkpointed once and
    * released by the caller ([[Dedup.releaseCheckpoints]]).
    */
  def marginPairsBlocked(
      embA: DataFrame,
      embB: DataFrame,
      k: Int = 4,
      marginFloorMilli: Long = 1050L,
      nCells: Int = 0,
      targetPerCell: Long = 4096L,
      nProbe: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val union = embA.select("vec_id", "embedding")
      .unionByName(embB.select("vec_id", "embedding"))
    val cellCount =
      if (nCells == 0) cellsFor(union.count(), targetPerCell) else nCells
    val book = centroids.getOrElse(seedCodebook(union, cellCount))
    val native = graft.plans.GraftExtensions.available(embA.sparkSession)
    val a = ivfAssignHierProbe(embA, cellCount, nProbe,
      centroids = Some(book))
      .select(col("vec_id").as("a_id"), col("qv").as("a_qv"),
        col("qn").as("a_qn"), col("cell_id"))
    val b = ivfAssignHierProbe(embB, cellCount, 1, centroids = Some(book))
      .select(col("vec_id").as("b_id"), col("qv").as("b_qv"),
        col("qn").as("b_qn"), col("cell_id"))
    val scored = b.join(a, Seq("cell_id"))
      .withColumn("sim",
        qcosinePre(qdot(col("a_qv"), col("b_qv"), native),
          col("a_qn"), col("b_qn")))
      .filter(col("sim") > 0)
      .withColumn("cos_micro", round(col("sim") * lit(1e6)).cast("long"))
      .select("a_id", "b_id", "sim", "cos_micro")
      .localCheckpoint()
    marginFromScored(scored, k, marginFloorMilli)
  }

  /** Coreset by cell medoid: one representative per IVF cell — the
    * member with the highest cosine to its cell's centroid (ties to the
    * lowest `vec_id`). This is the diversity-preserving subsample the
    * data-pruning literature builds on (SemDeDup / SSL-prototypes line):
    * dedup REMOVES redundant points, medoid selection KEEPS one
    * prototype per region, and with `nCells = 0` the region count grows
    * with the corpus ([[cellsFor]]), so the coreset is a constant
    * FRACTION, not a constant size.
    *
    * Scale shape: one broadcast-centroid scoring pass (narrow), a
    * map-side-prunable per-vector argmax (assignment), then a per-CELL
    * argmax aggregation — output is codebook-sized. Nothing quadratic,
    * no corpus shuffle beyond the cell-keyed aggregation.
    *
    * Output: `(cell_id, vec_id, sim)` — `sim` is the medoid's quantized
    * cosine to its centroid (round-6, engine-portable).
    */
  def cellMedoids(
      embeddings: DataFrame,
      nCells: Int = 8,
      targetPerCell: Long = 4096L,
      centroids: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cellCount =
      if (nCells == 0) cellsFor(embeddings.count(), targetPerCell) else nCells
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    // auto path: hierarchical single assignment (O(N·√k), see
    // [[ivfAssignHierProbe]] — the winning cell_sim rides along for the
    // medoid argmax); explicit codebooks keep the flat argmax
    val assigned =
      if (nCells == 0)
        ivfAssignHierProbe(embeddings, cellCount, nProbe = 1,
          centroids = centroids).drop("probe_rank")
      else {
        val vecs = quantizedWithNorms(embeddings, native)
        withCellSims(
          vecs, centroids.getOrElse(seedCentroids(vecs, cellCount)), native)
          .withColumn("_rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(desc("cell_sim"), asc("cell_id"))))
          .filter(col("_rn") === 1)
      }
    assigned
      .groupBy("cell_id")
      .agg(max_by(
        struct(col("vec_id"), col("cell_sim")),
        struct(col("cell_sim"), (-col("vec_id")).as("tb"))).as("m"))
      .select(col("cell_id"), col("m.vec_id").as("vec_id"),
        col("m.cell_sim").as("sim"))
  }

  /** Lloyd's (spherical) k-means over the quantized vectors: `iters`
    * fixed refinement passes from the deterministic lowest-id seed.
    * Assignment is by cosine; the new centroid is the per-dimension
    * integer mean of its members (`sum div count`, truncation toward
    * zero via positive-only division so every engine agrees bit-for-bit
    * — cosine is scale-invariant, so skipping normalization changes
    * nothing). A cell that loses all members disappears; deterministic.
    *
    * Scale shape per iteration: one broadcast-centroid scoring pass over
    * the corpus (narrow), then the per-dimension means via posexplode +
    * partial aggregation — the shuffle carries at most
    * partitions × cells × dims pre-combined (cell, dim, sum, count)
    * rows, the same communication pattern MLlib's treeAggregate uses.
    * The k-row centroid table is localCheckpoint'd each pass so
    * iteration N's plan doesn't replay 1..N-1.
    */
  def trainCentroids(embeddings: DataFrame, k: Int, iters: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    // the quantized corpus feeds EVERY iteration's assign pass — persist it
    // for the duration of training (MLlib caches its training input the
    // same way; MEMORY_AND_DISK spills rather than recomputing at scale)
    val vecs = quantizedWithNorms(embeddings, native)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents = seedCentroids(vecs, k)
    // ownership flag: only release checkpoints THIS loop created. The
    // seed's plan reads through the CALLER's input, and if that input is
    // itself localCheckpoint'd (q_doc_clusters shares its hash-embedding
    // between training and the final assignment), releasing "the seed"
    // would collaterally free the caller's blocks mid-query
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the next consumer).
    var centsOwned = false
    for (_ <- 0 until iters) {
      val prev = cents
      val prevOwned = centsOwned
      val assigned = assignCore(vecs, cents, native)
      val dims = assigned
        .select(col("cell_id"), posexplode(col("qv")))
        .groupBy("cell_id", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .withColumn("v",
          expr("CASE WHEN s >= 0 THEN s DIV n ELSE -((-s) DIV n) END"))
      cents = dims
        .groupBy("cell_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
        .select(col("cell_id"), transform(col("pv"), p => p("v")).as("cv"))
        .withColumn("cn", qdot(col("cv"), col("cv"), native))
        .localCheckpoint()
      // the new table is eagerly materialized; the superseded iteration's
      // OWN checkpoint blocks are dead — release them (never the seed:
      // see centsOwned above). The FINAL table stays checkpointed: it is
      // the returned codebook; callers free it with
      // Dedup.releaseCheckpoints when done.
      if (prevOwned) Dedup.releaseCheckpoints(prev)
      centsOwned = true
    }
    // the final codebook is checkpointed (iters > 0), so the training
    // cache is dead weight from here — release it. With iters == 0 the
    // seed still reads through vecs: hand the caller a checkpointed copy
    // and free the cache (the trainCentroidsHier iters=0 pattern), so
    // the ownership protocol is uniform — the returned codebook is
    // ALWAYS a checkpoint the caller frees with Dedup.releaseCheckpoints
    // and no persist cache outlives the call.
    if (iters > 0) { vecs.unpersist(blocking = false); cents }
    else {
      val pinned = cents.localCheckpoint()
      vecs.unpersist(blocking = false)
      pinned
    }
  }

  /** HIERARCHICAL codebook training — the O(N·√k·iters) twin of
    * [[trainCentroids]] for corpus-proportional k (flat Lloyd's scores
    * every vector against every centroid per pass: O(N·k·iters),
    * quadratic in N once k ∝ N — the same term [[ivfAssignHierProbe]]
    * removed from assignment, removed here from TRAINING):
    *
    *   1. COARSE: flat-train `c = ceil(sqrt(k))` centroids over the
    *      corpus ([[trainCentroids]] — O(N·c·iters)).
    *   2. PARTITION: assign every vector to its coarse cell (argmax,
    *      ties low id — O(N·c)).
    *   3. FINE, within each coarse group: seed `m = ceil(k/c)` fine
    *      centroids per group (the group's m lowest-id members, global
    *      id `coarse_id·m + seedRank`), then `iters` Lloyd's passes
    *      where each vector scores ONLY its own group's fine centroids
    *      (broadcast join on `coarse_id` — O(N·k/c) per pass) and new
    *      centroids are the per-(cell, dim) integer means (`sum DIV
    *      count`, the [[trainCentroids]] determinism rule).
    *
    * A fine cell that loses all members disappears (its members moved
    * to siblings in the SAME group, so every non-empty group keeps at
    * least one fine cell). Output `(cell_id, cv, cn)` — a drop-in
    * `centroids` codebook for the auto dedup/search paths; ids encode
    * the group (`coarse = cell_id div m`) but consumers don't need
    * that. Fully deterministic, so the whole two-level chain replays in
    * the DuckDB oracle (`q_embed_dups_trained_auto`).
    *
    * SIZE CONTRACT: with `c = ceil(sqrt(k))` and `m = ceil(k/c)`, the
    * codebook holds at most `c*m` cells with ids in `[0, c*m)` — equal
    * to `k` exactly when `c` divides `k` (every square `k`, and most
    * round sizes), up to `c*m > k` otherwise (e.g. `k = 10` → `c = 4`,
    * `m = 3`, ≤ 12 cells, ids < 12). Callers sizing arrays or asserting
    * bounds by `k` must use `c*m`; the auto paths only ever iterate the
    * returned rows, so they are unaffected.
    */
  def trainCentroidsHier(
      embeddings: DataFrame, k: Int, iters: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    val c = math.ceil(math.sqrt(k.toDouble)).toInt
    val m = (k + c - 1) / c
    val coarse = trainCentroids(embeddings, c, iters)
      .select(col("cell_id").as("coarse_id"),
        col("cv").as("ccv"), col("cn").as("ccn"))
    val vecs = quantizedWithNorms(embeddings, native)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus → coarse group (argmax over the √k coarse centroids)
    val grouped = vecs
      .join(broadcast(coarse))
      .withColumn("_cs",
        qcosinePre(qdot(col("qv"), col("ccv"), native), col("qn"), col("ccn")))
      .groupBy("vec_id")
      .agg(
        max_by(col("coarse_id"),
          struct(col("_cs"), (-col("coarse_id")).as("tb"))).as("coarse_id"),
        first("qv").as("qv"), first("qn").as("qn"))
      .localCheckpoint()
    // coarse's own checkpoint is dead once the grouping is materialized
    Dedup.releaseCheckpoints(coarse)
    var fine = grouped
      .withColumn("_r", row_number().over(
        Window.partitionBy("coarse_id").orderBy(asc("vec_id"))))
      .filter(col("_r") <= m)
      .select(col("coarse_id"),
        (col("coarse_id") * m + col("_r") - 1).as("cell_id"),
        col("qv").as("cv"), col("qn").as("cn"))
    var fineOwned = false
    for (_ <- 0 until iters) {
      val prev = fine
      val prevOwned = fineOwned
      val assignedF = grouped
        .join(broadcast(fine), Seq("coarse_id"))
        .withColumn("_fs",
          qcosinePre(qdot(col("qv"), col("cv"), native), col("qn"), col("cn")))
        .groupBy("vec_id")
        .agg(
          max_by(struct(col("cell_id"), col("coarse_id")),
            struct(col("_fs"), (-col("cell_id")).as("tb"))).as("w"),
          first("qv").as("qv"))
        .select(col("w.cell_id"), col("w.coarse_id"), col("qv"))
      fine = assignedF
        .select(col("cell_id"), col("coarse_id"), posexplode(col("qv")))
        .groupBy("cell_id", "coarse_id", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .withColumn("v",
          expr("CASE WHEN s >= 0 THEN s DIV n ELSE -((-s) DIV n) END"))
        .groupBy("cell_id", "coarse_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
        .select(col("coarse_id"), col("cell_id"),
          transform(col("pv"), p => p("v")).as("cv"))
        .withColumn("cn", qdot(col("cv"), col("cv"), native))
        .localCheckpoint()
      if (prevOwned) Dedup.releaseCheckpoints(prev)
      fineOwned = true
    }
    val out = fine.select("cell_id", "cv", "cn")
    if (iters > 0) {
      // the returned codebook is checkpointed; the grouping pin is dead
      Dedup.releaseCheckpoints(grouped)
      vecs.unpersist(blocking = false)
      out
    } else {
      // iters = 0: the seed table still reads through `grouped` — hand
      // the caller a checkpointed copy and release the intermediate
      val pinned = out.localCheckpoint()
      Dedup.releaseCheckpoints(grouped)
      vecs.unpersist(blocking = false)
      pinned
    }
  }

  def ivfTopK(
      embeddings: DataFrame,
      queryMaxId: Long,
      k: Int,
      nCells: Int = 8,
      nProbe: Int = 2,
      maxBucket: Int = 1000000,
      centroids: Option[DataFrame] = None,
      targetPerCell: Long = 4096L): DataFrame = {
    // nCells = 0: corpus-proportional codebook (cellsFor) assigned
    // through the two-level hierarchical probe — the search-side twin of
    // the dedup auto path (flat assignment is O(N·k), quadratic in N
    // once k ∝ N). ONE hier pass serves both sides: probe_rank 1 is the
    // index (single assignment per corpus vector), ranks 1..nProbe on
    // the query slice are the probes.
    if (nCells == 0) {
      val cellCount = cellsFor(embeddings.count(), targetPerCell)
      val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
      val ass = ivfAssignHierProbe(embeddings, cellCount, nProbe, centroids = centroids)
        .localCheckpoint()
      val cells = Dedup.capBuckets(
        ass.filter(col("probe_rank") === 1)
          .select("vec_id", "cell_id", "qv", "qn"),
        Seq("cell_id"), maxBucket)
      val probed = ass.filter(col("vec_id") < queryMaxId)
        .select(col("vec_id").as("query_id"), col("qv").as("query_qv"),
          col("qn").as("query_qn"), col("cell_id"))
      val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
      return probed
        .join(cells, Seq("cell_id"))
        // no dedup needed: the index side is probe_rank 1 only, so every
        // candidate lives in exactly ONE cell and meets each query at
        // most once (the classic IVF property, same as the flat path)
        .filter(col("vec_id") =!= col("query_id"))
        .select(
          col("query_id"), col("vec_id").as("cand_id"),
          qcosinePre(qdot(col("query_qv"), col("qv"), native),
            col("query_qn"), col("qn")).as("sim"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    }
    require(nProbe <= nCells, s"nProbe ($nProbe) must be <= nCells ($nCells)")
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    // pin the quantized corpus: it feeds the seed-centroid build, the
    // probe side, and the cell-assignment side — without the checkpoint
    // the renamed subtrees defeat exchange reuse and the full embeddings
    // scan + quantize runs up to three times (the tfidfPairs lesson,
    // same as pqTopK)
    val vecs = quantizedWithNorms(embeddings, native).localCheckpoint()
    // a trained codebook ([[trainCentroids]], columns (cell_id, cv, cn))
    // slots in here; the lowest-id seed is the deterministic default
    val cents = centroids.getOrElse(seedCentroids(vecs, nCells))
    val probeW = Window.partitionBy("query_id").orderBy(desc("cell_sim"), asc("cell_id"))
    val probed = withCellSims(vecs.filter(col("vec_id") < queryMaxId), cents, native)
      .withColumnRenamed("vec_id", "query_id")
      .withColumn("probe_rank", row_number().over(probeW))
      .filter(col("probe_rank") <= nProbe)
      .select(col("query_id"), col("qv").as("query_qv"), col("qn").as("query_qn"),
        col("cell_id"))
    val cells = Dedup.capBuckets(
      assignCore(vecs, cents, native), Seq("cell_id"), maxBucket)
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
    probed
      .join(cells, Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("cand_id"),
        qcosinePre(qdot(col("query_qv"), col("qv"), native),
          col("query_qn"), col("qn")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "sim", "rank")
  }

  /** Product-quantization ANN (ADC variant): the COMPRESSED-DOMAIN scale
    * path — each corpus vector is reduced to `m` small integer codes
    * (here 4 codes for a 64-dim vector: 16× compression), queries stay
    * exact, and candidate scoring reads only codes + a per-query lookup
    * table, never the corpus vectors. At 100 TB of embeddings this is
    * the difference between scanning vectors and scanning bytes; the
    * full-precision vectors are touched only for the final `rerank`
    * candidates per query.
    *
    * Pipeline (each stage one narrow shuffle or broadcast):
    *   1. codebook: per subspace, the sub-vectors of the `codebookSize`
    *      lowest-id vectors — the same deterministic offline-training
    *      stand-in as [[ivfTopK]]'s seed centroids;
    *   2. encode: corpus × broadcast codebook, argmax integer dot per
    *      (vector, subspace) — ties to the lowest code id;
    *   3. ADC: per-query lookup table (query-subspace × codeword dots,
    *      `m·codebookSize` integers per query, broadcast), joined to the
    *      codes and summed — EXACT long arithmetic end to end;
    *   4. rerank: top-`rerank` by approximate dot (ties on cand_id) get
    *      exact quantized cosine; final top-`k` on that.
    *
    * Every stage is integer-deterministic, so the whole
    * encode→LUT→ADC→rerank cascade replays in DuckDB — an
    * oracle-checked PQ index.
    */
  /** Subspace split of a quantized vector: `m` slices, components
    * [s·L+1, (s+1)·L] with L = floor(dim/m); the LAST subspace absorbs
    * the remainder, so no component is silently dropped when dim is not
    * divisible by m. Shared by [[pqTopK]] (codebook/encode/LUT) and
    * [[pqTrainCodebooks]] (the two MUST agree or trained codewords would
    * score against differently-sliced sub-vectors).
    */
  private def pqSubspaces(v: Column, m: Int): Column = {
    val len = (size(v) / m).cast("int")
    array((0 until m).map { s =>
      if (s < m - 1) slice(v, lit(s) * len + 1, len)
      else slice(v, lit(s) * len + 1, size(v) - lit(s) * len)
    }: _*)
  }

  /** TRAINED PQ sub-quantizers — per-subspace Lloyd's over the
    * sub-vectors, the production replacement for [[pqTopK]]'s
    * deterministic lowest-id codeword seed (the q_sim_ivf →
    * q_sim_ivf_trained ladder, applied to the compressed-domain index).
    * Assignment is by exact integer L2 — `argmin ‖x−c‖²`, computed as
    * `argmax (2·x·c − ‖c‖²)` so it stays in long arithmetic (`‖x‖²` is
    * constant per row), ties to the lowest code id — the textbook PQ
    * quantizer objective (minimize reconstruction error, which is what
    * bounds the ADC dot-product approximation error). Dot-argmax
    * training was MEASURED as a dead end: it piles members onto
    * large-norm codewords and costs candidate recall (0.80→0.72 at
    * sf0.01, 0.70→0.56 at sf0.1 vs the seeded-dot encode), while the L2
    * chain beats its own seeded-L2 baseline (0.60→0.66 at sf0.1); a
    * second Lloyd's pass drops recall again (0.66→0.58), so `iters = 1`
    * is the measured knee — PLANS.md carries the table. Trained
    * codebooks must therefore be ENCODED with the same L2 rule
    * ([[pqTopK]]'s `encodeL2`). The new codeword is the per-dimension
    * integer mean of its members (`sum DIV count`, truncation toward
    * zero, the [[trainCentroids]] determinism rule), so the whole
    * train→encode→ADC cascade stays bit-replayable in the oracle. A
    * codeword that loses all members disappears from its subspace.
    *
    * Scale shape per iteration: one corpus × broadcast-codebook scoring
    * pass over the m·N sub-vector rows, then per-(subspace, code, dim)
    * partial-aggregated means — communication is
    * partitions × m × codebookSize × (dim/m) pre-combined rows, corpus
    * size never shuffled. Returns `(s, code_id, cw)`, the `codebooks`
    * contract of [[pqTopK]].
    */
  def pqTrainCodebooks(
      embeddings: DataFrame,
      m: Int = 4,
      codebookSize: Int = 16,
      iters: Int = 1): DataFrame = {
    require(m >= 1 && codebookSize >= 1,
      s"bad PQ spec: m=$m codebookSize=$codebookSize")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    // the sub-vector stream feeds every iteration's assign pass — cache
    // it for the duration of training (the trainCentroids pattern)
    val sub = quantizedWithNorms(embeddings, native)
      .select(col("vec_id"), posexplode(pqSubspaces(col("qv"), m)).as(Seq("s", "xv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cb = sub.filter(col("vec_id") < codebookSize)
      .select(col("vec_id").as("code_id"), col("s"), col("xv").as("cw"))
    var cbOwned = false // never release the seed: it reads the caller's input
    for (_ <- 0 until iters) {
      val prev = cb
      val prevOwned = cbOwned
      val assigned = sub.join(broadcast(cb), Seq("s"))
        .groupBy("vec_id", "s")
        .agg(
          max_by(col("code_id"),
            struct(
              (lit(2L) * qdot(col("xv"), col("cw"), native) -
                qdot(col("cw"), col("cw"), native)).as("d"),
              (-col("code_id")).as("tb"))).as("code_id"),
          first("xv").as("xv"))
      cb = assigned
        .select(col("s"), col("code_id"), posexplode(col("xv")))
        .groupBy("s", "code_id", "pos")
        .agg(sum("col").as("sm"), count(lit(1)).as("n"))
        .withColumn("v",
          expr("CASE WHEN sm >= 0 THEN sm DIV n ELSE -((-sm) DIV n) END"))
        .groupBy("s", "code_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
        .select(col("s"), col("code_id"), transform(col("pv"), p => p("v")).as("cw"))
        .localCheckpoint()
      if (prevOwned) Dedup.releaseCheckpoints(prev)
      cbOwned = true
    }
    // iters > 0: cb is its loop's checkpoint, the cache is dead weight.
    // iters == 0: the seed reads through `sub` — checkpoint a copy and
    // free the cache (trainCentroids iters=0 pattern), so the returned
    // codebook is ALWAYS a caller-releasable checkpoint and no persist
    // cache outlives the call.
    if (iters > 0) { sub.unpersist(blocking = false); cb }
    else {
      val pinned = cb.localCheckpoint()
      sub.unpersist(blocking = false)
      pinned
    }
  }

  /** SQ8 scalar-quantized search — the SCALAR rung of the compression
    * ladder next to [[pqTopK]]/[[ivfPqTopK]] (faiss's
    * `ScalarQuantizer`): each dimension affine-maps to an 8-bit code
    * against per-dimension corpus [lo, hi] bounds, candidates score in
    * the COMPRESSED domain against the reconstruction, and only the
    * top-`rerank` shortlist pays an exact-vector rerank.
    *
    * Why it matters at 100 TB: the codes are what a deployment STORES
    * and SCANS — 1 byte/dim vs the 8-byte quantized longs (8× scan
    * bandwidth) — while IVF bounds WHICH vectors are read; the two
    * compose (this operator isolates the scalar-quantization axis the
    * way pqTopK isolates the product-quantization axis).
    *
    * Exact-integer end to end: codes via round-half-up integer division
    * `(2a + d) div 2d` (never a float), the compressed-domain score is
    * the integer dot against `255·reconstruction` (`rv255_j = lo_j·255
    * + code_j·(hi_j − lo_j)`), and the final rerank is the standard
    * exact quantized cosine — every step replays in the oracle.
    * Constant-dimension degenerate case (`hi == lo`) codes to 0 and
    * reconstructs `lo` exactly.
    */
  def sq8TopK(
      embeddings: DataFrame,
      queryMaxId: Long,
      k: Int,
      rerank: Int = 32): DataFrame = {
    require(k > 0 && rerank >= k, s"need rerank >= k > 0, got k=$k rerank=$rerank")
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    // feeds the per-dim stats, the coded corpus AND the exact rerank
    // side — checkpoint so the corpus quantizes once
    val base = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .localCheckpoint()
    val stats = base
      .select(posexplode(col("qv")).as(Seq("j", "x")))
      .groupBy("j").agg(min("x").as("lo"), max("x").as("hi"))
      .agg(array_sort(collect_list(
        struct(col("j"), col("lo"), col("hi")))).as("st"))
      .select(
        transform(col("st"), s => s.getField("lo")).as("los"),
        transform(col("st"), s => s.getField("hi")).as("his"))
    // one pass codes + 255-scaled reconstruction (what a deployment
    // stores is the 1-byte code; rv255 is derived at scan time)
    val coded = base.crossJoin(broadcast(stats))
      .select(col("vec_id").as("cand_id"),
        transform(sequence(lit(1), size(col("qv"))), i => {
          val x = element_at(col("qv"), i)
          val lo = element_at(col("los"), i)
          val hi = element_at(col("his"), i)
          val code = when(hi === lo, lit(0L)).otherwise(
            graft.functions.ColumnOps.fdivCol(
              (x - lo) * 255L * 2L + (hi - lo), (hi - lo) * 2L))
          lo * 255L + code * (hi - lo)
        }).as("rv255"))
    val q = base.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("qv").as("quv"))
      .withColumn("qn", qdot(col("quv"), col("quv"), native))
    val wA = Window.partitionBy("query_id").orderBy(desc("adot"), asc("cand_id"))
    val shortlist = coded
      .join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), col("quv"), col("qn"),
        qdot(col("quv"), col("rv255"), native).as("adot"))
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerank)
    val cands = base.select(col("vec_id").as("cand_id"), col("qv").as("cv"))
      .withColumn("cn", qdot(col("cv"), col("cv"), native))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
    shortlist.join(cands, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        qcosinePre(qdot(col("quv"), col("cv"), native),
          col("qn"), col("cn")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "sim", "rank")
  }

  /** IVF-SQ8: coarse cells bound WHICH candidates are scored, the
    * global per-dimension scalar codes bound WHAT is read per candidate
    * — FAISS's `IVF…,SQ8` composition, completing the quantization
    * matrix beside [[ivfPqTopK]] (IVF×PQ) and [[sq8TopK]] (flat×SQ8).
    * Where PQ trains per-subspace codebooks, SQ8 keeps one (lo, hi)
    * pair per dimension over the whole corpus — a cheaper, higher-
    * fidelity code at 1 byte/dim that needs no training pass, which is
    * why it is the default first stop when PQ's recall loss is not
    * affordable.
    *
    * Plan: one corpus quantization pass feeds the per-dim stats, the
    * coarse assignment and both rerank sides (pinned once); candidates
    * = the query's top-`nProbe` cells' members (cell equi-join — never
    * the corpus); the compressed-domain approx dot over the 255-scaled
    * reconstruction ranks a per-query shortlist of `rerank`; the exact
    * integer cosine reranks to top-k. All-integer until the one final
    * cosine, so the oracle replays every bit. At 100 TB the cell join
    * reads ~nProbe/nCells of the codes and the exact side touches
    * `rerank` rows per query.
    */
  def ivfSq8TopK(
      embeddings: DataFrame,
      queryMaxId: Long,
      k: Int,
      nCells: Int = 8,
      nProbe: Int = 2,
      rerank: Int = 32): DataFrame = {
    require(k > 0 && rerank >= k, s"need rerank >= k > 0, got k=$k rerank=$rerank")
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells,
      s"bad IVF spec: nCells=$nCells nProbe=$nProbe")
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    // feeds stats, assignment, probes AND both rerank sides — pin once
    val vecs = quantizedWithNorms(embeddings, native).localCheckpoint()
    val cents = seedCentroids(vecs, nCells)
    val assigned = assignCore(vecs, cents, native) // (vec_id, cell_id, qv, qn)
    val probeW =
      Window.partitionBy("query_id").orderBy(desc("cell_sim"), asc("cell_id"))
    val probes = withCellSims(vecs.filter(col("vec_id") < queryMaxId), cents, native)
      .withColumnRenamed("vec_id", "query_id")
      .withColumn("probe_rank", row_number().over(probeW))
      .filter(col("probe_rank") <= nProbe)
      .select(col("query_id"), col("cell_id"), col("qv").as("quv"),
        col("qn"))
    // global per-dim scalar stats — ONE (lo, hi) pair per dimension
    val stats = vecs
      .select(posexplode(col("qv")).as(Seq("j", "x")))
      .groupBy("j").agg(min("x").as("lo"), max("x").as("hi"))
      .agg(array_sort(collect_list(
        struct(col("j"), col("lo"), col("hi")))).as("st"))
      .select(
        transform(col("st"), s => s.getField("lo")).as("los"),
        transform(col("st"), s => s.getField("hi")).as("his"))
    // 255-scaled reconstruction per candidate, cell id carried for the
    // probe join (a deployment stores the 1-byte code per dim; rv255
    // derives at scan time — the sq8TopK contract)
    val coded = assigned.crossJoin(broadcast(stats))
      .select(col("vec_id").as("cand_id"), col("cell_id"),
        transform(sequence(lit(1), size(col("qv"))), i => {
          val x = element_at(col("qv"), i)
          val lo = element_at(col("los"), i)
          val hi = element_at(col("his"), i)
          val code = when(hi === lo, lit(0L)).otherwise(
            graft.functions.ColumnOps.fdivCol(
              (x - lo) * 255L * 2L + (hi - lo), (hi - lo) * 2L))
          lo * 255L + code * (hi - lo)
        }).as("rv255"))
    val wA = Window.partitionBy("query_id").orderBy(desc("adot"), asc("cand_id"))
    // candidates ONLY from probed cells: the cell equi-join replaces
    // sq8TopK's corpus-wide scan
    val shortlist = coded
      .join(broadcast(probes), Seq("cell_id"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), col("quv"), col("qn"),
        qdot(col("quv"), col("rv255"), native).as("adot"))
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerank)
    val cands = vecs.select(col("vec_id").as("cand_id"), col("qv").as("cv"),
      col("qn").as("cn"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
    shortlist.join(cands, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        qcosinePre(qdot(col("quv"), col("cv"), native),
          col("qn"), col("cn")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "sim", "rank")
  }

  def pqTopK(
      embeddings: DataFrame,
      queryMaxId: Long,
      k: Int,
      m: Int = 4,
      codebookSize: Int = 16,
      rerank: Int = 50,
      codebooks: Option[DataFrame] = None,
      encodeL2: Boolean = false): DataFrame = {
    require(m >= 1 && codebookSize >= 1 && rerank >= k,
      s"bad PQ spec: m=$m codebookSize=$codebookSize rerank=$rerank k=$k")
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    // the quantized stream feeds FIVE stages (codebook, encode, LUT, both
    // rerank sides): pin it once — the tfidfPairs lesson
    val vecs = quantizedWithNorms(embeddings, native).localCheckpoint()
    def subs(v: Column): Column = pqSubspaces(v, m)
    val cb = codebooks
      .map(_.select(col("code_id"), col("s"), col("cw")))
      .getOrElse(vecs.filter(col("vec_id") < codebookSize)
        .select(col("vec_id").as("code_id"),
          posexplode(subs(col("qv"))).as(Seq("s", "cw"))))
    // encode metric: seeded codewords rank by raw dot (the historical
    // baseline); TRAINED codewords must use the same L2 argmin their
    // Lloyd's assignment used ([[pqTrainCodebooks]]) or encode would
    // systematically pick larger-norm codewords than training optimized
    def encScore: Column =
      if (encodeL2)
        lit(2L) * qdot(col("xv"), col("cw"), native) -
          qdot(col("cw"), col("cw"), native)
      else qdot(col("xv"), col("cw"), native)
    val codes = vecs
      .select(col("vec_id"), posexplode(subs(col("qv"))).as(Seq("s", "xv")))
      .join(broadcast(cb), Seq("s"))
      .groupBy("vec_id", "s")
      .agg(max_by(col("code_id"),
        struct(encScore.as("d"),
          (-col("code_id")).as("tb"))).as("code_id"))
    val lut = vecs.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"),
        posexplode(subs(col("qv"))).as(Seq("s", "qs")))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code_id"),
        qdot(col("qs"), col("cw"), native).as("pd"))
    val wAdc = Window.partitionBy("query_id").orderBy(desc("adc"), asc("vec_id"))
    val cands = codes.join(broadcast(lut), Seq("s", "code_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pd").as("adc"))
      .withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= rerank)
      .select("query_id", "vec_id")
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
    cands
      // query side only — broadcasting the unfiltered corpus would ship
      // every vector for a join that can only match query_ids
      .join(broadcast(vecs.filter(col("vec_id") < queryMaxId)
        .select(col("vec_id").as("query_id"),
          col("qv").as("qqv"), col("qn").as("qqn"))), "query_id")
      .join(vecs.select(col("vec_id"), col("qv").as("cqv"), col("qn").as("cqn")),
        "vec_id")
      .select(col("query_id"), col("vec_id").as("cand_id"),
        qcosinePre(qdot(col("qqv"), col("cqv"), native),
          col("qqn"), col("cqn")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "sim", "rank")
  }

  /** IVF-PQ ANN (the IVFADC index of Jégou et al., the production FAISS
    * shape): coarse IVF cells bound WHICH vectors are scored, residual
    * product quantization bounds WHAT is read per vector — at 100 TB the
    * scan is (probed cells only) × (m byte-codes, not vectors).
    *
    *   1. COARSE: every corpus vector takes its argmax-cosine cell
    *      ([[ivfTopK]]'s rule, trained codebook via `centroids`).
    *   2. RESIDUAL: `r = qv − c_cell` — exact integer subtraction of
    *      quantized vectors, so the whole chain stays long-arithmetic.
    *   3. PQ over residuals: seed codewords are the `codebookSize`
    *      lowest-id vectors' residual sub-vectors; encode by exact L2
    *      argmin (`argmax(2·r·cw − ‖cw‖²)`, ties low code — the
    *      [[pqTrainCodebooks]] measured rule; residuals are centered, so
    *      the dot-argmax rich-get-richer failure is the same trap).
    *   4. SEARCH: queries probe their top-`nProbe` cells; for a
    *      candidate in a probed cell,
    *      `dot(q, x) = dot(q, c_cell) + dot(q, r) ≈ dot(q, c_cell) +
    *      Σ_s dot(q_s, cw_{s,code})` — the first term is one integer per
    *      (query, probed cell), the sum reads the per-query LUT
    *      (`m·codebookSize` integers, broadcast). The IVFADC identity:
    *      exact except for the PQ error on the residual.
    *   5. RERANK: top-`rerank` by approximate dot (ties on id) get exact
    *      quantized cosine; final top-`k`.
    *
    * Every stage is integer-deterministic → the full
    * assign→residual→encode→LUT→ADC→rerank cascade replays in DuckDB.
    * The index side is single-assignment, so each candidate meets each
    * query at most once — no dedup.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      queryMaxId: Long,
      k: Int,
      nCells: Int = 8,
      nProbe: Int = 2,
      m: Int = 4,
      codebookSize: Int = 16,
      rerank: Int = 50,
      centroids: Option[DataFrame] = None,
      targetPerCell: Long = 4096L): DataFrame = {
    require(nCells == 0 || (nCells >= 1 && nProbe <= nCells),
      s"bad IVF spec: nCells=$nCells nProbe=$nProbe")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(m >= 1 && codebookSize >= 1 && rerank >= k,
      s"bad PQ spec: m=$m codebookSize=$codebookSize rerank=$rerank k=$k")
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    // the quantized stream feeds assignment, the residual codebook, the
    // query probes, and both rerank sides — pin it once
    val vecs = quantizedWithNorms(embeddings, native).localCheckpoint()
    val cellCount =
      if (nCells == 0) cellsFor(embeddings.count(), targetPerCell) else nCells
    val cents = centroids.getOrElse(seedCentroids(vecs, cellCount))
    def subs(v: Column): Column = pqSubspaces(v, m)
    // coarse assignment: the auto path (corpus-proportional codebook)
    // rides the O(N·√k) hierarchical chain — ONE pass serves the index
    // (probe_rank 1) and the query probes (the ivfTopK auto pattern);
    // explicit small codebooks keep the exact flat argmax
    val (assigned, probeRows) =
      if (nCells == 0) {
        val ass = ivfAssignHierProbe(embeddings, cellCount, nProbe,
          centroids = Some(cents)).localCheckpoint()
        (ass.filter(col("probe_rank") === 1)
          .select("vec_id", "cell_id", "qv", "qn"),
          ass.filter(col("vec_id") < queryMaxId)
            .select(col("vec_id").as("query_id"), col("cell_id"), col("qv")))
      } else {
        val probeW =
          Window.partitionBy("query_id").orderBy(desc("cell_sim"), asc("cell_id"))
        (assignCore(vecs, cents, native),
          withCellSims(vecs.filter(col("vec_id") < queryMaxId), cents, native)
            .withColumnRenamed("vec_id", "query_id")
            .withColumn("probe_rank", row_number().over(probeW))
            .filter(col("probe_rank") <= nProbe)
            .select(col("query_id"), col("cell_id"), col("qv")))
      }
    // integer residual per corpus vector
    val withRes = assigned
      .join(broadcast(cents), Seq("cell_id"))
      .withColumn("rv", zip_with(col("qv"), col("cv"), (x, c) => x - c))
      .select("vec_id", "cell_id", "rv")
    // residual PQ codebook: lowest-id vectors' residual sub-vectors
    val rcb = withRes.filter(col("vec_id") < codebookSize)
      .select(col("vec_id").as("code_id"),
        posexplode(subs(col("rv"))).as(Seq("s", "cw")))
    // L2-argmin encode; the candidate's cell rides the agg as first()
    val codes = withRes
      .select(col("vec_id"), col("cell_id"),
        posexplode(subs(col("rv"))).as(Seq("s", "xv")))
      .join(broadcast(rcb), Seq("s"))
      .groupBy("vec_id", "s")
      .agg(
        max_by(col("code_id"),
          struct(
            (lit(2L) * qdot(col("xv"), col("cw"), native) -
              qdot(col("cw"), col("cw"), native)).as("d"),
            (-col("code_id")).as("tb"))).as("code_id"),
        first("cell_id").as("cell_id"))
    // query probes carrying the exact dot(q, centroid)
    val probes = probeRows
      .join(broadcast(cents), Seq("cell_id"))
      .select(col("query_id"), col("cell_id"),
        qdot(col("qv"), col("cv"), native).as("qc_dot"))
    // per-query residual LUT over the broadcast codebook
    val lut = vecs.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"),
        posexplode(subs(col("qv"))).as(Seq("s", "qs")))
      .join(broadcast(rcb), Seq("s"))
      .select(col("query_id"), col("s"), col("code_id"),
        qdot(col("qs"), col("cw"), native).as("pd"))
    val wAdc = Window.partitionBy("query_id").orderBy(desc("adc"), asc("vec_id"))
    val cands = codes
      .join(broadcast(probes), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "s", "code_id"))
      .groupBy("query_id", "vec_id")
      .agg((first("qc_dot") + sum("pd")).as("adc"))
      .withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= rerank)
      .select("query_id", "vec_id")
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
    cands
      .join(broadcast(vecs.filter(col("vec_id") < queryMaxId)
        .select(col("vec_id").as("query_id"),
          col("qv").as("qqv"), col("qn").as("qqn"))), "query_id")
      .join(vecs.select(col("vec_id"), col("qv").as("cqv"), col("qn").as("cqn")),
        "vec_id")
      .select(col("query_id"), col("vec_id").as("cand_id"),
        qcosinePre(qdot(col("qqv"), col("cqv"), native),
          col("qqn"), col("cqn")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "sim", "rank")
  }

  /** Index-health report for an IVF cell layout — the number a
    * production operator reads before trusting a codebook: cell count,
    * population extremes, and the skew ratio (`max / ideal`, in
    * per-mille so the report stays in exact integers). A skew ratio
    * near 1000 means balanced cells (every within-cell cost bound
    * holds); a hot cell shows up as skew ≫ 1000 long before it shows up
    * as a straggler task. Assignment is single-probe (the INDEX side);
    * `nCells = 0` audits the corpus-proportional hierarchical layout,
    * `centroids` audits a trained codebook.
    */
  def cellHealth(
      embeddings: DataFrame,
      nCells: Int = 0,
      targetPerCell: Long = 4096L,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cellCount =
      if (nCells == 0) cellsFor(embeddings.count(), targetPerCell) else nCells
    val assigned =
      if (nCells == 0)
        ivfAssignHierProbe(embeddings, cellCount, 1, centroids = centroids)
          .select("vec_id", "cell_id")
      else ivfAssign(embeddings, cellCount, centroids)
        .select("vec_id", "cell_id")
    assigned
      .groupBy("cell_id").agg(count(lit(1)).as("pop"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum("pop").as("n_vectors"),
        min("pop").as("pop_min"),
        max("pop").as("pop_max"))
      .withColumn("skew_milli",
        floor(lit(1000.0) * col("pop_max") * col("n_cells") / col("n_vectors"))
          .cast("long"))
  }

  /** Persist an IVF index as a CELL-PARTITIONED parquet layout — the
    * "build once, query many" serving shape the in-session paths
    * ([[ivfTopK]]) cannot express: there the assignment pass runs inside
    * every query; here it runs ONCE at write time and each later search
    * reads only the probed cells' partition directories.
    *
    * Layout under `dir`:
    *   - `codebook/` — the fine centroids `(cell_id, cv, cn)`, k rows.
    *     Written FIRST and read back to drive the assignment, so the
    *     persisted codebook and the persisted assignments can never
    *     disagree (quantized integers round-trip parquet exactly).
    *   - `index/cell_id=<c>/` — `(vec_id, qv, qn)` Hive-partitioned by
    *     the hierarchical single-probe cell ([[ivfAssignHierProbe]],
    *     `probe_rank = 1` — O(N·√k) like every auto path).
    *
    * Why partitioning IS the index: a probe of `nProbe` cells becomes a
    * `cell_id IN (...)` partition filter, so the scan lists and reads
    * ONLY those directories — at 100 TB a 5-probe query against a
    * 4096-vectors-per-cell layout touches ~5 files regardless of corpus
    * size ([[graft.ops.IvfIndexSpec]] asserts `PartitionFilters` reaches
    * the scan and unprobed cells are never read). Returns the cell count.
    *   - `meta/` — one row `(n_cells)`: the BUILD-TIME cell count, the
    *     single source of truth every later [[appendIvfIndex]] /
    *     [[searchIvfIndex]] / stream-serving path derives its coarse
    *     grouping from. Deriving it from `codebook.count()` instead is
    *     wrong for trained hier codebooks, whose row count c·m can
    *     exceed the requested k (the `trainCentroidsHier` SIZE
    *     CONTRACT) — `ceil(sqrt(c·m)) != ceil(sqrt(k))` would silently
    *     assign appends under a DIFFERENT coarse grouping than the
    *     build, breaking append ≡ one-shot-rebuild equivalence.
    */
  def writeIvfIndex(
      embeddings: DataFrame,
      dir: String,
      nCells: Int = 0,
      targetPerCell: Long = 4096L,
      centroids: Option[DataFrame] = None): Int = {
    val spark = embeddings.sparkSession
    val cellCount =
      if (nCells == 0) cellsFor(embeddings.count(), targetPerCell) else nCells
    centroids.getOrElse(seedCodebook(embeddings, cellCount))
      .write.mode("overwrite").parquet(s"$dir/codebook")
    spark.range(1).select(lit(cellCount).cast("int").as("n_cells"))
      .write.mode("overwrite").parquet(s"$dir/meta")
    val book = SegmentStore.readSide(spark, s"$dir/codebook")
    ivfAssignHierProbe(embeddings, cellCount, 1, centroids = Some(book))
      .select("vec_id", "qv", "qn", "cell_id")
      .write.mode("overwrite").partitionBy("cell_id").parquet(s"$dir/index")
    cellCount
  }

  /** INCREMENTALLY append new vectors into an existing [[writeIvfIndex]]
    * layout — the index-MAINTENANCE path at 100 TB: a day's fresh
    * vectors join the serving index without rebuilding it. Assignment
    * runs under the PERSISTED codebook (read back from `dir`), and
    * hier assignment is per-vector independent, so the refreshed layout
    * is IDENTICAL to a one-shot [[writeIvfIndex]] of the union under
    * the same codebook ([[graft.ops.IvfIndexSpec]] proves layout AND
    * search equality) — searches before/after the append need no
    * re-planning, and partition-append touches only the cells the new
    * batch lands in (O(new · √k) assignment + O(new) write; existing
    * partitions' files are never rewritten).
    *
    * The codebook is pinned by design (the
    * [[Dedup.dropSemanticDuplicatesIncremental]] rule): drift between
    * the corpus and a stale codebook is an OFFLINE re-train + re-write
    * decision, audited by [[cellHealth]] — never an online mutation.
    */
  /** The persisted layout's build-time cell count ([[writeIvfIndex]]'s
    * `meta/`) — the ONE value write/append/search/stream all derive
    * their coarse grouping from, so a trained codebook whose row count
    * differs from the requested k cannot split the paths. Pre-meta
    * layouts (or a hand-built dir) fall back to `codebook.count()`,
    * which is exact whenever rows == k (every seeded codebook).
    */
  private[graft] def readIndexCells(spark: SparkSession, dir: String): Int = {
    val metaPath = java.nio.file.Paths.get(s"$dir/meta")
    if (java.nio.file.Files.isDirectory(metaPath))
      SegmentStore.readSide(spark, s"$dir/meta").collect()(0).getInt(0)
    else SegmentStore.readSide(spark, s"$dir/codebook").count().toInt
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.walk(p)
    try w.iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    finally w.close()
  }

  /** Finish or roll back an INTERRUPTED [[compactIvfIndex]] /
    * [[retrainIvfIndex]] swap before touching the layout (ADVICE r13:
    * a crash BETWEEN the two atomic renames leaves no `index/` at the
    * path — the data stranded, complete, in `index_old` and
    * `index_compacting` — and without recovery every later read fails
    * at the initial parquet scan). Decision table, derived from the
    * swap protocol's invariants:
    *
    *   - `index/` present → nothing to recover (a stale `index_old` /
    *     `index_compacting` beside it is retired garbage; compact
    *     clears it before its own swap).
    *   - `index/` missing + `index_compacting/_SUCCESS` present → the
    *     write finished and rename 1 retired the old tree, so the
    *     aside tree is COMPLETE: finish the swap (rename it in, then
    *     drop the retired tree).
    *   - `index/` missing + no complete aside + `index_old/` present →
    *     roll back: restore the retired tree, drop any partial aside.
    *     (Unreachable under the protocol — rename 1 runs only after
    *     `_SUCCESS` exists — but a defensive reader costs nothing.)
    *
    * Idempotent and called on entry by every lifecycle path (append /
    * compact / retrain / delete / search), so one recovered process
    * heals the layout for all ([[graft.ops.IvfIndexSpec]] kills the
    * swap at each intermediate state and asserts search equality
    * after recovery).
    */
  private[graft] def recoverIvfIndex(dir: String): Unit = {
    val index = java.nio.file.Paths.get(s"$dir/index")
    if (java.nio.file.Files.isDirectory(index)) return
    val aside = java.nio.file.Paths.get(s"$dir/index_compacting")
    val retired = java.nio.file.Paths.get(s"$dir/index_old")
    val asideComplete = java.nio.file.Files.isDirectory(aside) &&
      java.nio.file.Files.exists(aside.resolve("_SUCCESS"))
    if (asideComplete) {
      // a RETRAIN swap (complete `<side>_new` asides present) also swaps
      // the codebook and meta — finish those first, so the index never
      // serves under a codebook it was not assigned with
      Seq("codebook", "meta").foreach(finishSideSwap(dir, _))
      java.nio.file.Files.move(aside, index,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      if (java.nio.file.Files.isDirectory(retired)) deleteTree(retired)
      Seq("codebook_old", "meta_old").foreach { n =>
        val p = java.nio.file.Paths.get(s"$dir/$n")
        if (java.nio.file.Files.isDirectory(p)) deleteTree(p)
      }
    } else if (java.nio.file.Files.isDirectory(retired)) {
      java.nio.file.Files.move(retired, index,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      if (java.nio.file.Files.isDirectory(aside)) deleteTree(aside)
      // retrain's tiny-side asides are written BEFORE its commit point,
      // so a rollback also drops them (never half-adopts a new codebook)
      Seq("codebook_new", "meta_new").foreach { n =>
        val p = java.nio.file.Paths.get(s"$dir/$n")
        if (java.nio.file.Files.isDirectory(p)) deleteTree(p)
      }
    }
  }

  /** Finish an interrupted `<name>` → `<name>_old`, `<name>_new` →
    * `<name>` swap (the [[retrainIvfIndex]] codebook/meta steps) —
    * called by [[recoverIvfIndex]] only past the retrain commit point,
    * where a complete `<name>_new` MUST end up serving. Idempotent
    * across every crash position: new+current (swap not started),
    * new+old (crashed between the two renames), old only (finished).
    */
  private def finishSideSwap(dir: String, name: String): Unit = {
    val neu = java.nio.file.Paths.get(s"$dir/${name}_new")
    if (!java.nio.file.Files.isDirectory(neu) ||
      !java.nio.file.Files.exists(neu.resolve("_SUCCESS"))) return
    val cur = java.nio.file.Paths.get(s"$dir/$name")
    val old = java.nio.file.Paths.get(s"$dir/${name}_old")
    if (java.nio.file.Files.isDirectory(cur))
      java.nio.file.Files.move(cur, old,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(neu, cur,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Clear every swap-aside a PRIOR crashed compact/retrain may have
    * stranded BEFORE its commit point (recoverIvfIndex handles the
    * post-commit states) — compact must clear retrain's asides too: a
    * stale complete `codebook_new` beside a compact swap would
    * otherwise be mis-adopted by recovery as a retrain codebook for an
    * index assigned under the OLD book.
    */
  private def clearSwapAsides(dir: String): Unit =
    Seq("index_compacting", "index_old",
      "codebook_new", "codebook_old", "meta_new", "meta_old").foreach { n =>
      val p = java.nio.file.Paths.get(s"$dir/$n")
      if (java.nio.file.Files.isDirectory(p)) deleteTree(p)
    }

  def appendIvfIndex(embeddings: DataFrame, dir: String): Unit = {
    val spark = embeddings.sparkSession
    recoverIvfIndex(dir)
    val book = SegmentStore.readSide(spark, s"$dir/codebook")
    ivfAssignHierProbe(embeddings, readIndexCells(spark, dir), 1,
      centroids = Some(book))
      .select("vec_id", "qv", "qn", "cell_id")
      .write.mode("append").partitionBy("cell_id").parquet(s"$dir/index")
  }

  /** COMPACT a [[writeIvfIndex]] layout: rewrite every cell partition's
    * accumulated small files (each [[appendIvfIndex]] adds at least one
    * file per touched cell — after a year of daily deltas a cell holds
    * hundreds) into ONE file per cell, preserving rows exactly — the
    * small-file maintenance step every partitioned serving store needs,
    * here as an offline rewrite that never changes a search answer
    * ([[graft.ops.IvfIndexSpec]] proves file-count collapse AND search
    * equality). `repartition(cell_id)` puts each cell's rows in one
    * task, so `partitionBy` emits exactly one file per cell; the swap
    * is write-aside + TWO atomic renames — `index` → `index_old`, then
    * `index_compacting` → `index` — so a COMPLETE layout exists at that
    * path before and after each atomic step (a reader mid-swap sees the
    * old or the new index, or a transient not-yet-present window it
    * already had to handle for a never-built index; never a partial
    * tree), and a crash at ANY point strands at most a stale
    * `index_old`/`index_compacting` beside recoverable data — the
    * recursive delete runs LAST, on the retired tree only
    * ([[graft.ops.IvfIndexSpec]] steps through the swap and asserts a
    * complete layout is readable at every intermediate state).
    *
    * Scale shape: one full index read + one cell-keyed exchange + one
    * write — O(index) once, amortized against every later probe
    * listing fewer files. Returns the data-file count after compaction.
    */
  def compactIvfIndex(dir: String, spark: SparkSession,
      onSwapStep: String => Unit = _ => ()): Long = {
    recoverIvfIndex(dir)
    // pre-commit strandings from ANY prior crashed swap (incl. a
    // retrain's codebook/meta asides — see clearSwapAsides) must go
    // before this swap begins, so the renames cannot collide and
    // recovery cannot misread a stale aside as part of THIS swap
    clearSwapAsides(dir)
    SegmentStore.readSide(spark, s"$dir/index")
      .select(col("vec_id"), col("qv"), col("qn"),
        col("cell_id").cast("long").as("cell_id"))
      .repartition(col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id")
      .parquet(s"$dir/index_compacting")
    val old = java.nio.file.Paths.get(s"$dir/index")
    val neu = java.nio.file.Paths.get(s"$dir/index_compacting")
    val retired = java.nio.file.Paths.get(s"$dir/index_old")
    // onSwapStep: test-only observation points BETWEEN the atomic steps
    // ([[graft.ops.IvfIndexSpec]] asserts complete, lossless trees at
    // every intermediate state); production callers leave the default
    onSwapStep("written")
    java.nio.file.Files.move(old, retired,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    onSwapStep("retired")
    java.nio.file.Files.move(neu, old,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    onSwapStep("swapped")
    deleteTree(retired)
    val w2 = java.nio.file.Files.walk(old)
    try w2.iterator().asScala.count(p =>
      p.getFileName.toString.endsWith(".parquet"))
    finally w2.close()
  }

  /** RE-TRAIN a persisted [[writeIvfIndex]] layout's codebook and
    * migrate the whole index under it — the lifecycle step that closes
    * codebook DRIFT: after months of [[appendIvfIndex]] deltas the
    * corpus distribution moves away from the build-time centroids
    * ([[cellHealth]]'s skew audit is the trigger), and a pinned
    * codebook then costs recall and cell balance. This rebuilds the
    * layout as if freshly built under a hierarchically-TRAINED
    * codebook of the CURRENT corpus ([[trainCentroidsHier]], the same
    * O(N·√k) chain as every auto path), atomically.
    *
    * No raw-embedding re-read is needed: the persisted `qv` integers
    * are `round(x·10000)` quantizations, and `qv/10000.0` re-quantizes
    * to EXACTLY `qv` (double arithmetic is exact at this magnitude),
    * so training and re-assignment from the index see the same integer
    * vectors a fresh build over the original embeddings would —
    * [[graft.ops.IvfIndexSpec]] proves retrain ≡ one-shot
    * [[writeIvfIndex]] of the corpus under the same trained codebook,
    * layout and search answers both.
    *
    * Swap protocol (extends the [[compactIvfIndex]] machinery to the
    * codebook/meta sides): the new codebook, meta, and fully
    * re-assigned index are ALL written aside first (`codebook_new`,
    * `meta_new`, `index_compacting`); the commit point is the
    * `index` → `index_old` rename — before it a crash strands only
    * asides (cleared by the next maintenance call), after it
    * [[recoverIvfIndex]] rolls the whole swap FORWARD (codebook and
    * meta first, so the index never serves under the wrong book),
    * from any lifecycle entry point. `nCells = 0` re-derives the
    * corpus-proportional size ([[cellsFor]]) from the CURRENT corpus
    * count — the usual choice, since growth is why retrain runs.
    * Returns the new cell count.
    *
    * Scale shape: one full index read feeding train + re-assign (both
    * O(N·√k)) + one partitioned write — the same O(index) pass class
    * as compact, amortized against every post-drift probe.
    */
  def retrainIvfIndex(
      dir: String,
      spark: SparkSession,
      nCells: Int = 0,
      targetPerCell: Long = 4096L,
      iters: Int = 1,
      onSwapStep: String => Unit = _ => ()): Int = {
    recoverIvfIndex(dir)
    clearSwapAsides(dir)
    val index = SegmentStore.readSide(spark, s"$dir/index")
    val emb = index.select(col("vec_id"),
      transform(col("qv"), x => x.cast("double") / 10000.0).as("embedding"))
    val k =
      if (nCells == 0) cellsFor(index.count(), targetPerCell) else nCells
    val book = trainCentroidsHier(emb, k, iters)
    book.write.mode("overwrite").parquet(s"$dir/codebook_new")
    Dedup.releaseCheckpoints(book)
    spark.range(1).select(lit(k).cast("int").as("n_cells"))
      .write.mode("overwrite").parquet(s"$dir/meta_new")
    val bookBack = SegmentStore.readSide(spark, s"$dir/codebook_new")
    ivfAssignHierProbe(emb, k, 1, centroids = Some(bookBack))
      .select("vec_id", "qv", "qn", "cell_id")
      .write.mode("overwrite").partitionBy("cell_id")
      .parquet(s"$dir/index_compacting")
    onSwapStep("written")
    def mv(from: String, to: String): Unit =
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$dir/$from"),
        java.nio.file.Paths.get(s"$dir/$to"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    mv("index", "index_old") // COMMIT: recovery rolls forward from here
    onSwapStep("retired")
    mv("codebook", "codebook_old"); mv("codebook_new", "codebook")
    mv("meta", "meta_old"); mv("meta_new", "meta")
    onSwapStep("sides-swapped")
    mv("index_compacting", "index")
    onSwapStep("swapped")
    Seq("index_old", "codebook_old", "meta_old").foreach { n =>
      val p = java.nio.file.Paths.get(s"$dir/$n")
      if (java.nio.file.Files.isDirectory(p)) deleteTree(p)
    }
    k
  }

  /** DELETE vectors from a persisted [[writeIvfIndex]] layout — the
    * right-to-be-forgotten maintenance step, completing the index
    * lifecycle (build → append → compact → DELETE → serve): only the
    * cells CONTAINING deleted ids are rewritten, so at 100 TB a
    * deletion batch touches O(batch) partitions while the untouched
    * cells' files are never read for rewrite or modified
    * ([[graft.ops.IvfIndexSpec]] asserts untouched cells' data files
    * are byte-identical, delete ≡ one-shot rebuild without the deleted
    * rows for BOTH layout and search answers, and a fully-emptied cell
    * disappears from the layout).
    *
    * Mechanics: one scan finds the touched cells and how many rows each
    * loses (`cell_id IN` literals from a bounded deleted-batch collect is
    * wrong here — the deleted ids' cells are unknown, so this is a
    * vec_id semi-join over the index, the one full scan the operation
    * fundamentally needs, counted per cell); the remainder of ONLY those
    * cells rewrites
    * under dynamic partition overwrite (untouched partitions are not
    * in the written set, so the writer leaves them alone); cells whose
    * every member was deleted emit no rows — their directories are
    * removed explicitly. Returns the number of rows deleted.
    */
  def deleteFromIvfIndex(
      dir: String,
      deleteIds: DataFrame,
      spark: SparkSession): Long = {
    recoverIvfIndex(dir)
    val ids = deleteIds.select(col("vec_id")).distinct()
    val index = SegmentStore.readSide(spark, s"$dir/index")
    // rows to delete per touched cell: the touched set and the returned
    // count in one job
    val deletedPerCell = index.join(ids, Seq("vec_id"), "left_semi")
      .groupBy(col("cell_id").cast("long")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (deletedPerCell.isEmpty) return 0L
    val touched = deletedPerCell.map(_._1)
    // raw (pre-cast) partition-column filter so pruning reaches the scan
    val touchedRows = index
      .filter(col("cell_id").isin(touched.map(c => lit(c)): _*))
    val remainder = touchedRows
      .join(ids, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("qv"), col("qn"),
        col("cell_id").cast("long").as("cell_id"))
      // one task per surviving touched cell -> one file, like compact
      .repartition(col("cell_id"))
      .localCheckpoint() // the write below must not re-read partitions
                         // it is concurrently overwriting
    // per-WRITE dynamic overwrite (ADVICE r13): the DataFrameWriter
    // option scopes the mode to this one write — mutating the session
    // conf would silently flip any concurrent overwrite in the same
    // session into dynamic mode for the window
    remainder.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell_id")
      .parquet(s"$dir/index")
    val survivors = remainder.select("cell_id").distinct()
      .collect().map(_.getLong(0)).toSet
    Dedup.releaseCheckpoints(remainder)
    // fully-emptied cells wrote no partition -> remove their dirs
    touched.filterNot(survivors).foreach { c =>
      val p = java.nio.file.Paths.get(s"$dir/index/cell_id=$c")
      if (java.nio.file.Files.isDirectory(p)) {
        val w = java.nio.file.Files.walk(p)
        try w.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
        finally w.close()
      }
    }
    deletedPerCell.map(_._2).sum
  }

  /** Search a persisted [[writeIvfIndex]] layout: assign the QUERY slice
    * against the persisted codebook (hier probe — per-vector
    * independent, so ranks 1..nProbe here equal what a full-corpus pass
    * would give these vectors), collect the probe rows (bounded by
    * queries × nProbe — the deliberate, documented driver step: the cell
    * list must become LITERALS for the partition filter to prune the
    * scan), then read ONLY those partitions, join them with the probe
    * rows as a local relation on `cell_id`, exact quantized cosine,
    * per-query top-`k`. The assignment runs once per call, and no pin
    * outlives it.
    *
    * Result ≡ [[ivfTopK]] on the same codebook/probe parameters
    * (spec'd); `queries` needs the `(vec_id, embedding)` columns.
    */
  def searchIvfIndex(
      queries: DataFrame,
      dir: String,
      k: Int,
      nProbe: Int = 2,
      pCoarse: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    recoverIvfIndex(dir)
    val native = graft.plans.GraftExtensions.available(spark)
    val book = SegmentStore.readSide(spark, s"$dir/codebook")
    val cellCount = readIndexCells(spark, dir)
    val assigned = ivfAssignHierProbe(queries, cellCount, nProbe,
      pCoarse = pCoarse, centroids = Some(book))
      .select(col("vec_id").as("query_id"), col("qv").as("query_qv"),
        col("qn").as("query_qn"), col("cell_id"))
    val probeRows = assigned.collect()
    val probes = spark.createDataFrame(probeRows.toSeq.asJava, assigned.schema)
    val probedCells = probeRows.map(_.getLong(3)).distinct
    // the partition column reads back type-inferred (int); filter on it
    // BEFORE the cast so pruning sees the raw partition column, cast
    // after so the join key matches the codebook's long cell_id
    val index = SegmentStore.readSide(spark, s"$dir/index")
      .filter(col("cell_id").isin(probedCells.map(c => lit(c)): _*))
      .withColumn("cell_id", col("cell_id").cast("long"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
    probes.join(index, Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        qcosinePre(qdot(col("query_qv"), col("qv"), native),
          col("query_qn"), col("qn")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "sim", "rank")
  }

  /** ANN via banded LSH: signature split into `bands` bands; vectors
    * sharing any band bucket become candidates; exact (quantized) cosine
    * re-ranks candidates; top-k per query. Recall is tuned by
    * bands × bandBits; candidates per query stay ~constant as the corpus
    * grows, so the join cost scales with data, not data².
    */
  def lshTopK(
      embeddings: DataFrame,
      queryMaxId: Long,
      k: Int,
      bands: Int = 8,
      bandBits: Int = 4,
      maxBucket: Int = 100000): DataFrame = {
    val planes = bands * bandBits
    val native =
      graft.plans.GraftExtensions.availableOrWarn(embeddings.sparkSession, "lshTopK")
    import graft.functions.ColumnOps
    // Let-bind the signature: without it the 16-plane projection would be
    // recomputed inside each of the `bands` bucket lambdas.
    val buckets = ColumnOps.bind(rhpSignature(col("embedding"), planes, native)) { s =>
      transform(
        sequence(lit(0), lit(bands - 1)),
        b =>
          aggregate(
            slice(s, b * bandBits + 1, lit(bandBits)),
            lit(0L),
            (acc, bit) => acc * 2 + bit))
    }
    val qv = quantize(col("embedding"))
    // explode to (band, bucket) keys: bucket = the band's bit-slice.
    // capBuckets drops degenerate over-populated buckets (e.g. a zero-ish
    // embedding flood) before the candidate join — skew insurance, same
    // rationale as Dedup.minHashLsh.
    val banded = Dedup.capBuckets(
      embeddings.select(
        col("vec_id"),
        qv.as("qv"),
        qdot(qv, qv, native).as("qn"),
        posexplode(buckets))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket"),
      Seq("band", "bucket"), maxBucket)
    val q = banded
      .filter(col("vec_id") < queryMaxId)
      .select(
        col("vec_id").as("query_id"), col("qv").as("query_qv"),
        col("qn").as("query_qn"), col("band"), col("bucket"))
    val cands = banded
      .join(q, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("cand_id"),
        col("query_qv"), col("query_qn"), col("qv"), col("qn"))
      .dropDuplicates("query_id", "cand_id")
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
    cands
      .withColumn("sim",
        qcosinePre(qdot(col("query_qv"), col("qv"), native), col("query_qn"), col("qn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "sim", "rank")
  }

  /** Hard-negative mining: for each query vector, the top-k most-SIMILAR
    * vectors with a DIFFERENT label — the contrastive-training prep step
    * (easy negatives are useless; the hard ones sit just across the
    * class boundary). Same plan as [[bruteTopK]] (corpus scan × broadcast
    * query side → per-query window top-k) with the label inequality
    * folded into the join predicate, so same-class candidates are
    * dropped before the shuffle. At corpus scale the query side is the
    * broadcast — the O(q×corpus) scoring shards per corpus split.
    */
  /** Approximate kNN GRAPH: every vector's top-`k` neighbors by quantized
    * cosine, candidates limited to the vector's own IVF cell — the
    * all-corpus neighbor structure behind SemDeDup-style semantic
    * pruning, graph-based cluster diagnostics, and connectivity filters.
    * (Contrast [[bruteTopK]]/[[ivfTopK]]: those answer a small QUERY SET;
    * this materializes neighbors for EVERYONE, so brute force is corpus²
    * and blocking is mandatory.)
    *
    * Shape: one [[ivfAssign]] pass (broadcast centroids, narrow), then a
    * self-join keyed on `cell_id` and a per-vector top-k window. Cost is
    * Σ cell² — bounded because [[graft.ops.Dedup.capBuckets]] drops
    * degenerate cells past `maxBucket`, so a hot cell can never go
    * quadratic. Boundary vectors may miss cross-cell neighbors: the
    * standard recall/cost trade, tunable with `nCells` (more, smaller
    * cells = cheaper + lower recall).
    *
    * `rank` breaks similarity ties toward the lower neighbor id —
    * total-ordered, so the graph is deterministic and oracle-replayable.
    */
  def knnGraph(
      embeddings: DataFrame,
      k: Int,
      nCells: Int = 8,
      maxBucket: Int = 100000,
      targetPerCell: Long = 4096L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // nCells = 0: corpus-proportional codebook ([[cellsFor]]) — the sizing
    // that keeps within-cell candidate lists constant as N grows
    val cellCount =
      if (nCells == 0) cellsFor(embeddings.count(), targetPerCell) else nCells
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    // The auto path assigns hierarchically (O(N·√k) — see
    // [[ivfAssignHierProbe]]; flat is quadratic in N once k ∝ N);
    // explicit small codebooks keep the exact flat argmax.
    val assigned =
      if (nCells == 0)
        ivfAssignHierProbe(embeddings, cellCount, nProbe = 1)
          .drop("cell_sim", "probe_rank")
      else ivfAssign(embeddings, cellCount)
    // Materialize the assignment ONCE: a self-join references the subtree
    // twice, and the two sides' renames defeat static exchange reuse — so
    // without the checkpoint the full scan→assign→cap pipeline executes
    // twice (same reasoning as duplicateGroups' edge checkpoint).
    val cells = Dedup.capBuckets(assigned, Seq("cell_id"), maxBucket)
      .localCheckpoint()
    cells.as("a")
      .join(cells.as("b"),
        col("a.cell_id") === col("b.cell_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        qcosinePre(
          qdot(col("a.qv"), col("b.qv"), native),
          col("a.qn"), col("b.qn")).as("sim"))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("vec_id").orderBy(desc("sim"), asc("nbr_id")))
          .cast("long"))
      .filter(col("rank") <= k)
      .select("vec_id", "nbr_id", "sim", "rank")
  }

  def hardNegatives(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame =
    broadcastScoredTopK(
      embeddings, queryMaxId, k,
      // null-safe: an unlabeled (NULL-label) vector IS a different-label
      // candidate — =!= would evaluate NULL and silently drop it
      !(col("c_label") <=> col("q_label")), withLabels = true)

  /** Label-centroid outliers: each vector's cosine against its OWN
    * label's centroid (per-dimension integer mean, the
    * [[trainCentroids]] determinism trick), worst `k` first — the
    * mislabeled/noisy-embedding detector run before contrastive
    * training.
    *
    * One posexplode aggregation builds the per-label centroid table
    * (tiny — labels × dims), which broadcasts back onto the corpus for
    * a narrow scoring pass; TakeOrdered keeps the k worst. The
    * centroid shuffle is pre-combined (label, dim) partials, the same
    * communication pattern as codebook training.
    */
  def labelOutliers(embeddings: DataFrame, k: Int = 20): DataFrame = {
    val native = graft.plans.GraftExtensions.available(embeddings.sparkSession)
    val vecs = embeddings
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
    val cents = vecs
      .select(col("label"), posexplode(col("qv")))
      .groupBy("label", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      .withColumn("v",
        expr("CASE WHEN s >= 0 THEN s DIV n ELSE -((-s) DIV n) END"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("label"), transform(col("pv"), p => p("v")).as("cv"))
      .withColumn("cn", qdot(col("cv"), col("cv"), native))
    vecs
      // <=> join: NULL-labeled vectors form their own centroid group in
      // the aggregation above — the equi-join would silently drop them
      // from the very operator meant to surface labeling problems
      .join(broadcast(cents.withColumnRenamed("label", "__c_label")),
        col("label") <=> col("__c_label"))
      .select(
        col("vec_id"), col("label"),
        qcosinePre(
          qdot(col("qv"), col("cv"), native),
          qdot(col("qv"), col("qv"), native), col("cn")).as("centroid_sim"))
      .orderBy(asc("centroid_sim"), asc("vec_id"))
      .limit(k)
  }

  /** Deterministic ±1 sign for component `i` of projection row `j`:
    * parity of the 28-bit md5 prefix of `"seed:i:j"` — the same
    * portable base hash as [[graft.functions.PortableHash.h28]], so any
    * engine regenerates the identical matrix from the seed string alone.
    */
  private def rpSign(seed: String, i: Int, j: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$i:$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 7)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
  }

  /** Johnson-Lindenstrauss-style random projection: `outDim` components,
    * each the signed sum `Σ_i qv[i] · s(i,j)` of the quantized input
    * under a deterministic ±1 matrix (Achlioptas' database-friendly
    * construction — no Gaussians needed for the distance-preservation
    * guarantee). The matrix is DERIVED from a seed, never stored or
    * shipped: at 100 TB the "model" is 0 bytes and every executor —
    * and the DuckDB oracle — regenerates it identically.
    *
    * Output is long format `(vec_id, j, proj)` — pure integer, so the
    * check is hash-exact, and the projected table feeds clustering /
    * ANN stages at `outDim/inDim` of the original width and cost.
    */
  def randomProjection(
      embeddings: DataFrame,
      outDim: Int,
      inDim: Int = 64,
      seed: String = "rp"): DataFrame = {
    require(outDim >= 1 && inDim >= 1, s"dims must be positive: $inDim -> $outDim")
    val signs = lit((0 until outDim).flatMap(j =>
      (0 until inDim).map(i => rpSign(seed, i, j))).toArray)
    import graft.functions.ColumnOps.bind
    embeddings.select(col("vec_id"),
      // dimension guard: zip_with pads the shorter side with NULLs, so an
      // embedding whose length != inDim would fold to an all-NULL
      // projection — corrupt silently; fail loudly instead. The guard is
      // LET-BOUND so it is planned once per row, not re-planned (with its
      // concat/cast error-message construction) inside each of the
      // `outDim` transform branches.
      posexplode(bind(quantize(col("embedding"))) { qv0 =>
        bind(
          when(size(qv0) =!= inDim,
            raise_error(concat(
              lit(s"randomProjection: embedding dim "), size(qv0).cast("string"),
              lit(s" != inDim $inDim"))))
            .otherwise(qv0)) { qv =>
          transform(sequence(lit(0), lit(outDim - 1)), j =>
            aggregate(
              zip_with(qv, slice(signs, j * inDim + 1, lit(inDim)), (x, sg) => x * sg),
              lit(0L), (acc, x) => acc + x))
        }
      }))
      .select(col("vec_id"), col("pos").cast("long").as("j"), col("col").as("proj"))
  }
}
