package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY.md §2.C6-C7).
  *
  * Scale design (§5): `bruteTopK` broadcasts the (small) query set and
  * streams the corpus — one map stage plus a shuffle keyed by query for
  * the per-query top-k; the corpus is never shuffled. `lshTopK` is the
  * scale path: random-hyperplane signatures bucket corpus and queries,
  * so each query only scores its bucket's candidates (multi-table OR
  * construction recovers recall).
  */
object Similarity {

  /** Exact top-k neighbors per query vector by cosine similarity.
    * Ties broken by neighbor id for determinism. */
  def bruteTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                queries: DataFrame, queryId: Column, queryVec: Column,
                k: Int): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    // NULL embeddings are excluded, not ranked: an unguarded NULL
    // corpus vector scores a NULL cosine and still takes a top-k slot
    // (the bucketed paths drop them implicitly — their band hashes
    // never equi-match; the scan paths must drop them explicitly)
    val c = corpus.select(corpusId.as("neighbor_id"), VectorFunctions.normalized(corpusVec).as("cv"))
      .filter(col("cv").isNotNull)
    val q = queries.select(queryId.as("query_id"), VectorFunctions.normalized(queryVec).as("qv"))
      .filter(col("qv").isNotNull)
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VectorFunctions.dot(col("cv"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cosine"), 4).as("cosine"))
  }

  /** kNN majority-vote label spreading (SURVEY.md §2.C114) — the
    * semi-supervised step that turns a small human/LLM-labeled seed
    * set into corpus-scale labels (quality tiers, topics, safety
    * classes): each unlabeled vector takes the most common label
    * among its k nearest LABELED neighbors by cosine. Returns
    * `(vec_id, pred_label, votes)`; ties break deterministically to
    * the lexicographically smallest label (and the neighbor ranking
    * itself ties to the smallest id — [[bruteTopK]]'s contract).
    *
    * Scale shape: the kNN search is [[bruteTopK]] (labeled corpus
    * scans ONCE map-side against the broadcast query batch); the
    * label attach inverts the join — the |queries|·k result frame
    * broadcasts and the labeled corpus is probed map-side again, so
    * nothing corpus-sized ever shuffles. The vote itself aggregates
    * ≤ |queries|·k rows. For labeling an entire corpus (queries too
    * big to broadcast), run the same vote over
    * [[ivfTopKAgainstIndex]] batches instead — label spreading is
    * embarrassingly batchable because queries never interact. */
  def knnLabel(labeled: DataFrame, id: Column, vec: Column, label: Column,
               queries: DataFrame, queryId: Column, queryVec: Column,
               k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val top = bruteTopK(labeled, id, vec, queries, queryId, queryVec, k)
      .select(col("query_id"), col("neighbor_id"))
    val votes = labeled
      .select(id.as("neighbor_id"), label.cast("string").as("label"))
      .join(broadcast(top), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("__vr", row_number().over(w))
      .filter(col("__vr") === 1)
      .select(col("query_id").as("vec_id"), col("label").as("pred_label"),
        col("votes"))
  }

  /** Exact max-inner-product search (SURVEY.md §2.C58): top-k neighbors
    * per query by INNER PRODUCT, not cosine — the scoring a two-tower
    * retrieval / recommender serving path needs, where vector norms
    * carry learned popularity/confidence and cosine's normalization
    * would erase them. Returns `(query_id, neighbor_id, rank, ip)`.
    *
    * Fixed-point discipline: each dimension's `x·y·1e9` product is
    * truncated ONCE to a long, so the per-pair inner product is an
    * exact integer sum — rank boundaries cannot ride on float
    * association, in this engine or any other. Scale shape: the
    * bounded query set broadcasts; the corpus is scanned once map-side
    * (zip_with + integer aggregate fold inside the row, no explode)
    * and the per-query top-k is a rank-filtered window (map-side
    * WindowGroupLimit applies). The scale path for HUGE query sets is
    * the standard norm-augmentation reduction ([[mipsAugment]]) onto
    * any of this module's cosine indexes (LSH/IVF/PQ). */
  def mipsTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
               queries: DataFrame, queryId: Column, queryVec: Column,
               k: Int): DataFrame = {
    // NULL embeddings excluded, not ranked — the bruteTopK contract
    val c = corpus.select(corpusId.as("neighbor_id"),
      corpusVec.cast("array<double>").as("cv"))
      .filter(col("cv").isNotNull)
    val q = queries.select(queryId.as("query_id"),
      queryVec.cast("array<double>").as("qv"))
      .filter(col("qv").isNotNull)
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      // ANSI double→long cast truncates toward zero (DuckDB: trunc) —
      // correct for both signs of the product term
      .withColumn("ipm",
        aggregate(
          zip_with(col("cv"), col("qv"),
            (x, y) => (x * y * lit(1e9)).cast("long")),
          lit(0L), (acc, t) => acc + t))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ipm").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (col("ipm").cast("double") / lit(1e9)).as("ip"))
  }

  /** The Bachrach et al. (RecSys 2014) MIPS→cosine reduction: append
    * `sqrt(M² − ‖v‖²)` to each CORPUS vector (M ≥ max corpus norm) and
    * `0` to each query. Augmented-space cosine order per query equals
    * inner-product order — so every cosine index here (LSH, IVF, PQ)
    * becomes a MIPS index by augmenting at INDEX BUILD time, one map
    * stage. Pass `side = "query"` for the zero-padded query half. */
  def mipsAugment(vec: Column, m2: Double, side: String = "corpus"): Column = {
    require(side == "corpus" || side == "query", s"side must be corpus|query, got $side")
    val v = vec.cast("array<double>")
    if (side == "query") concat(v, array(lit(0.0)))
    else concat(v, array(sqrt(greatest(lit(m2) - VectorFunctions.dot(v, v), lit(0.0)))))
  }

  /** ANN quality evaluation (C53): per-query recall of an approximate
    * result set against an exact truth set — the measurement every ANN
    * deployment needs BEFORE trusting an index configuration, as a
    * first-class operator instead of test-only code. Both inputs are
    * `(query_id, neighbor_id, ...)` top-k frames (any of this module's
    * search paths); returns `(query_id, truth_n, hits, recall)` with
    * `hits` counted by an exact (query, neighbor) equi-join — integer
    * arithmetic, engine-reproducible; `recall = hits / truth_n`
    * rounded once.
    *
    * Scale shape: both sides are result sets (queries × k rows, never
    * corpus-sized) — one small equi-join + partial-agg count. Safe to
    * run after every index (re)build as a gate. */
  /** Matryoshka truncation recall curve (C149; Kusupati et al. 2022,
    * MRL) — the dimension-budget read before indexing truncated
    * embeddings: modern MRL-trained encoders front-load information
    * so the FIRST d' dims are themselves a usable embedding; this
    * curve measures micro-averaged recall@k of brute search on each
    * prefix-dim slice against the full-dim truth, telling you which
    * prefix is safe to build the IVF/PQ index on (scan bytes and
    * index size drop d'/d before ANY approximate structure is
    * introduced — the cheapest lever in the whole stack). Cosine is
    * scale-invariant per vector, so slicing needs no re-normalize.
    * One exact truth pass (persisted), one d'/d-cost brute pass per
    * requested dim; output one row per dim:
    * `(dims, truth_n, hits, recall)`. */
  def matryoshkaRecallCurve(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                            queries: DataFrame, queryId: Column, queryVec: Column,
                            dims: Seq[Int], k: Int): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1),
      s"dims must be positive prefixes, got $dims")
    val truth = bruteTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dims.map { d =>
      val res = bruteTopK(corpus, corpusId, slice(corpusVec, 1, d),
        queries, queryId, slice(queryVec, 1, d), k)
      annRecall(truth, res)
        .agg(sum(col("truth_n")).as("truth_n"), sum(col("hits")).as("hits"))
        .select(lit(d.toLong).as("dims"), col("truth_n"), col("hits"),
          round(col("hits").cast("double") / col("truth_n"), 4).as("recall"))
    }.reduce(_.unionByName(_))
  }

  def annRecall(truth: DataFrame, result: DataFrame): DataFrame =
    // both sides distinct-ed first: a duplicate (query, neighbor) row
    // in either input would multiply through the join and inflate
    // BOTH truth_n and hits — recall is a statement about the SETS
    truth.select(col("query_id"), col("neighbor_id")).distinct()
      .join(result.select(col("query_id"), col("neighbor_id")).distinct()
          .withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("truth_n"),
        sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .select(col("query_id"), col("truth_n"), col("hits"),
        round(col("hits") / col("truth_n"), 4).as("recall"))

  /** IVF-style ANN (SURVEY.md §2.C7b): a coarse quantizer of `nlist`
    * centroid cells; each corpus vector is indexed in its nearest cell,
    * and a query scores only the vectors in its `nprobe` nearest cells.
    * Centroids come from [[VectorFunctions.groupCentroids]] over the
    * supplied partition column (a stand-in for the offline k-means
    * train step — at scale the quantizer is trained once and reused;
    * recomputing it per query run would be wrong as well as slow).
    *
    * Scale shape: the centroid frame is one row per CELL (bounded by
    * nlist, never corpus-sized) and is broadcast — the corpus is
    * scored map-side and assigned via one combiner-friendly
    * max-of-struct aggregation (no window over the corpus). Candidate
    * generation joins (id, cell) rows against the broadcast probe set,
    * so shuffles carry ids only; vectors re-attach by equi-join
    * exactly as in [[lshTopK]].
    */
  /** Label-free IVF quantizer training: deterministic hash-seeded
    * cells refined by `iters` Lloyd steps (assign to nearest centroid,
    * recompute centroids). Every step is engine-reproducible — the
    * init is an FNV pmod, the centroids are fixed-point
    * ([[VectorFunctions.groupCentroids]]), and the assignment argmax
    * breaks ties on cell id — so the whole k-means refinement is
    * DuckDB-oracle-checkable, not just spec-trusted. Returns
    * `(vec_id, cell)`. One centroid aggregation + one broadcast
    * re-assignment per step; the corpus never shuffles whole vectors.
    */
  /** Materialize a BOUNDED index artifact (centroids: ≤ nlist rows;
    * codebooks: ≤ m·ksub rows — never corpus-sized) into a
    * LocalRelation carrying the SAME rows and schema. The values are
    * unchanged — [[VectorFunctions.groupCentroids]] is fixed-point
    * integer-exact, so the collected rows are bit-identical under any
    * partitioning — but the LINEAGE is cut: before this, every
    * consumer's broadcast build re-planned the whole train chain, and
    * the iterative train paths nested one full copy of the previous
    * step's tree per round (qann_ivfpq_rm's explain ran 30,889 lines;
    * the planner, not the executor, was the cost center — guide §7.3).
    * The driver already held these rows transiently for every
    * `broadcast(...)` build; holding them once and re-broadcasting a
    * LocalRelation is strictly less driver traffic (and, unlike a
    * typedLit fold, ships once per executor, never per task).
    * NOTE: this makes the train APIs eager — plan construction runs
    * the training jobs at call time. */
  private def localized(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
  }

  /** Fail fast, by name, when an index frame lacks its contract columns. */
  private def requireCols(df: DataFrame, what: String, cols: String*): Unit =
    require(cols.forall(df.columns.contains),
      s"$what frame must carry (${cols.mkString(", ")}); got ${df.columns.mkString(", ")}")

  def ivfTrainCells(corpus: DataFrame, id: Column, vec: Column,
                    nlist: Int, iters: Int = 1): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val v = corpus.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
    var cells = corpus.select(id.as("vec_id"),
      pmod(call_function("fnv1a64", concat(lit("ivf:"), id.cast("string"))),
        lit(nlist.toLong)).as("cell"))
    for (_ <- 0 until iters) {
      // localized: without the cut, round k's plan embeds k-1 nested
      // copies of the train tree (see localized's scaladoc)
      val cents = localized(
        centroidFrame(v.join(cells, "vec_id"), col("cell"), col("v")))
      cells = v.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("grp"),
          VectorFunctions.cosine(col("v"), col("cv")).as("s"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("s"), (-col("grp")).as("ng"))).as("m"))
        .select(col("vec_id"), (-col("m.ng")).as("cell"))
    }
    cells
  }

  /** √n default for the IVF cell count — the standard IVF sizing rule:
    * with nlist ≈ √n, a search touches nprobe·n/nlist ≈ nprobe·√n
    * vectors and the broadcast centroid table holds √n rows, so both
    * sides stay sublinear. At 10⁹ vectors this is ~31623 cells ≈ 16 MB
    * of float64 centroids at dim 64 — still comfortably broadcastable. */
  def defaultNlist(corpusSize: Long): Int = {
    require(corpusSize > 0, s"corpusSize must be positive, got $corpusSize")
    math.max(1, math.round(math.sqrt(corpusSize.toDouble)).toInt)
  }

  /** [[ivfTrainCells]] sized by [[defaultNlist]]. The `count()` is a
    * one-time train-time action (index build), never a per-query cost. */
  def ivfTrainCellsAuto(corpus: DataFrame, id: Column, vec: Column,
                        iters: Int = 1): DataFrame =
    ivfTrainCells(corpus, id, vec, defaultNlist(corpus.count()), iters)

  def ivfTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              cellSeed: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, nprobe: Int = 2): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val cand = ivfCandidates(corpus, corpusId, corpusVec, cellSeed,
      queries, queryId, queryVec, nprobe)
    exactReRank(cand, corpus, corpusId, corpusVec,
      queries, queryId, queryVec, k)
  }

  /** (grp, cv) centroid frame of an assigned vector frame — the
    * fixed-point groupCentroids aggregation collected to one ordered
    * array per group. ONE definition shared by the IVF train loop, the
    * candidate front-end, prototypicality and the residual encoder, so
    * the centroid recipe can't drift between them. */
  private[operators] def centroidFrame(assigned: DataFrame, grp: Column,
                                       vec: Column): DataFrame =
    VectorFunctions.groupCentroids(assigned, grp, vec)
      .groupBy(col("grp"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("centroid")))),
        s => s.getField("centroid")).as("cv"))

  /** Score every row of `df` against the broadcast centroid frame —
    * (id, grp, s) rows, |df|·nlist of them, computed map-side. */
  private def cellScores(df: DataFrame, idName: String,
                         cvecs: DataFrame): DataFrame =
    df.crossJoin(broadcast(cvecs))
      .select(col(idName), col("grp"),
        VectorFunctions.cosine(col("v"), col("cv")).as("s"))

  /** The corpus half of the IVF front-end — centroids from the seed
    * assignment plus the corpus re-assignment by combiner-friendly
    * argmax. This is the INDEX-BUILD cost (one corpus scoring pass);
    * [[ivfIndex]] materializes its output so the search path never
    * pays it again. */
  private def ivfAssign(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                        cellSeed: Column): (DataFrame, DataFrame) = {
    // localized: the centroid frame is ≤ nlist rows but its lineage
    // spans the whole train chain — every downstream broadcast
    // (probes, residuals, cell tables, qc dots) re-planned it
    val cvecs = localized(centroidFrame(corpus, cellSeed, corpusVec))
    val c = corpus.select(corpusId.as("neighbor_id"),
      corpusVec.cast("array<double>").as("v"))
    (cvecs, assignCells(c, cvecs))
  }

  /** Nearest-centroid assignment of a `(neighbor_id, v)` frame against
    * broadcast centroids — argmax cell with grp-asc tie-break via
    * max(struct(s, -grp)): struct max compares s first, then -grp max =
    * smallest grp. ONE definition shared by the index build
    * ([[ivfAssign]]) and the incremental append ([[ivfPqResAppend]]),
    * so an appended vector lands in exactly the cell the build would
    * have assigned. */
  private def assignCells(c: DataFrame, cvecs: DataFrame): DataFrame =
    cellScores(c, "neighbor_id", cvecs)
      .groupBy(col("neighbor_id"))
      .agg(max(struct(col("s"), (-col("grp")).as("ng"))).as("m"))
      .select(col("neighbor_id"), (-col("m.ng")).as("cell"))

  /** Per-query top-`nprobe` cells against the broadcast centroids. */
  private def ivfProbes(queries: DataFrame, queryId: Column, queryVec: Column,
                        cvecs: DataFrame, nprobe: Int): DataFrame = {
    val q = queries.select(queryId.as("query_id"),
      queryVec.cast("array<double>").as("v"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("grp"))
    cellScores(q, "query_id", cvecs)
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("grp").as("cell"))
  }

  /** Candidate pairs from a (cells, probes) pair — ids only, self
    * excluded. */
  private def ivfCandOf(corpusCells: DataFrame, qProbes: DataFrame): DataFrame =
    corpusCells.join(broadcast(qProbes), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))

  /** Cell centroids from the seed assignment, corpus re-assignment by
    * combiner-friendly argmax, per-query nprobe cell probing —
    * candidate pairs exclude self, ids only. */
  private def ivfCandidates(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                            cellSeed: Column,
                            queries: DataFrame, queryId: Column, queryVec: Column,
                            nprobe: Int): DataFrame = {
    val (cvecs, corpusCells) = ivfAssign(corpus, corpusId, corpusVec, cellSeed)
    ivfCandOf(corpusCells, ivfProbes(queries, queryId, queryVec, cvecs, nprobe))
  }

  /** Candidate pairs from a prebuilt [[ivfIndex]]: each query probes the
    * broadcast centroid table and takes the (tombstone-guarded) stored
    * cells' members — id-keyed, no corpus-wide scoring pass. */
  private def probedCandidates(ivf: Ivf, tombstones: Option[DataFrame],
                               queries: DataFrame, queryId: Column,
                               queryVec: Column): DataFrame = {
    requireCols(ivf.centroids, "centroid", "cell", "cv")
    requireCols(ivf.cells, "cells", "vec_id", "cell")
    ivfCandOf(
      tombstoneGuarded(ivf.cells, tombstones)
        .select(col("vec_id").as("neighbor_id"), col("cell")),
      ivfProbes(queries, queryId, queryVec,
        ivf.centroids.select(col("cell").as("grp"), col("cv")), ivf.nprobe))
  }

  /** Persistable IVF index (the [[annIndex]] discipline for the coarse
    * quantizer): train + assign ONCE, materialize the returned
    * `(centroids (cell, cv), cells (vec_id, cell))` frames as tables,
    * then search any query batch with [[ivfTopKAgainstIndex]]. This is
    * where the IVF search's scale story becomes real: [[ivfTopK]]
    * recomputes the centroid aggregation AND re-scores the whole
    * corpus against them on EVERY call — index-build work that a
    * per-query-batch search path must not pay at 100 TB. The stored
    * cells are the same re-assignment the inline front-end computes,
    * so index-backed search is pair-for-pair identical (spec-pinned
    * through a parquet round-trip). */
  def ivfIndex(corpus: DataFrame, id: Column, vec: Column,
               nlist: Int, iters: Int = 1): (DataFrame, DataFrame) = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val seed = ivfTrainCells(corpus, id, vec, nlist, iters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val indexed = corpus.select(id.as("__ivf_id"), vec.as("__ivf_v"))
      .join(seed.withColumnsRenamed(
        Map("vec_id" -> "__ivf_id", "cell" -> "__ivf_cell")), "__ivf_id")
    val (cvecs, corpusCells) = ivfAssign(indexed,
      col("__ivf_id"), col("__ivf_v"), col("__ivf_cell"))
    (cvecs.select(col("grp").as("cell"), col("cv")),
      corpusCells.select(col("neighbor_id").as("vec_id"), col("cell")))
  }

  /** Nearest-centroid assignment of NEW vectors under a FROZEN
    * [[ivfIndex]] centroid table — the cells-side APPEND path, the
    * coarse-quantizer analogue of BQ encode-under-frozen-stats: the
    * argmax (and its grp-asc tie-break) is [[assignCells]]'s single
    * definition shared with the index build, so re-assigning the
    * index's own rows reproduces its cells exactly and a streamed
    * vector lands in precisely the cell the batch build would have
    * chosen (spec-pinned). Without this leg a streamed vector has
    * codes but NO cell, and every cell-bounded composition (IVF+BQ,
    * IVF+PQ) silently misses it — the append story must grow BOTH
    * index tables. NULL/empty vectors are excluded (the BQ encode
    * contract). One codegen scoring pass against the broadcast
    * nlist-row centroid table; returns `(vec_id, cell)`. */
  def ivfAssignAgainstIndex(df: DataFrame, id: Column, vec: Column,
                            centroids: DataFrame): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    requireCols(centroids, "centroid", "cell", "cv")
    assignCells(
      df.select(id.as("neighbor_id"), vec.cast("array<double>").as("v"))
        .filter(col("v").isNotNull && size(col("v")) > 0),
      centroids.select(col("cell").as("grp"), col("cv")))
      .select(col("neighbor_id").as("vec_id"), col("cell"))
  }

  /** Cell-occupancy counts of a frame under FROZEN [[ivfIndex]]
    * centroids — `(grp='ivf', bucket=cell, n)`, the IVF drift
    * monitor's distribution (C154j) and its batch twin: as the
    * embedding distribution moves away from the training corpus, the
    * per-cell occupancy leaves the trained shape (mass collapsing into
    * few cells is the recall-and-skew killer: probes miss and the
    * occupied cells' candidate lists balloon), and C152's PSI over
    * these buckets is the retrain trigger — the coarse quantizer's
    * analogue of [[bqBitCounts]]. Assignment is
    * [[ivfAssignAgainstIndex]] (the build's own argmax), so the
    * monitored occupancy is exactly the cells table's distribution;
    * registered as `qann_ivf_cellcounts` under the trained-cells
    * oracle. Bounded output: ≤ nlist rows. */
  def ivfCellCounts(df: DataFrame, id: Column, vec: Column,
                    centroids: DataFrame): DataFrame =
    ivfCellBuckets(df, id, vec, centroids)
      .groupBy(col("grp"), col("bucket")).agg(count(lit(1)).as("n"))

  /** [[ivfCellCounts]] before the rollup — one `(grp, bucket)` row per
    * vector, the shape the streaming monitor's shared partial-count
    * plumbing expects (it counts map-side itself). */
  def ivfCellBuckets(df: DataFrame, id: Column, vec: Column,
                     centroids: DataFrame): DataFrame =
    ivfAssignAgainstIndex(df, id, vec, centroids)
      .select(lit("ivf").as("grp"), col("cell").cast("long").as("bucket"))

  /** [[ivfTopK]] with the centroid/assignment stage served from a
    * prebuilt [[ivfIndex]]: queries probe the broadcast centroid
    * table, candidates come from the stored cells table (id-keyed),
    * and `corpus` supplies full vectors for the exact re-rank only —
    * no corpus-wide scoring pass at search time. */
  def ivfTopKAgainstIndex(centroids: DataFrame, cells: DataFrame,
                          corpus: DataFrame, corpusId: Column, corpusVec: Column,
                          queries: DataFrame, queryId: Column, queryVec: Column,
                          k: Int, nprobe: Int = 2,
                          tombstones: Option[DataFrame] = None): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    exactReRank(
      probedCandidates(Ivf(centroids, cells, nprobe), tombstones,
        queries, queryId, queryVec),
      corpus, corpusId, corpusVec, queries, queryId, queryVec, k)
  }

  /** Graph-expanded ANN search (C122): [[ivfTopKAgainstIndex]]'s
    * candidate stage widened by ONE hop through a prebuilt neighbor
    * graph — the batch-Spark rendition of the graph-traversal idea
    * behind HNSW/NSG (Malkov & Yashunin 2016; arXiv:1603.09320):
    * vectors near a query's IVF seeds are themselves likely near the
    * query, even when their own cell was not probed. Seeds come from
    * the probed cells as usual; each seed then contributes its stored
    * out-neighbors (`graph(src, dst)` — typically the
    * [[ivfTopKAgainstIndex]]-built kNN graph, C94) as extra
    * candidates; the union is exact-re-ranked. This buys back exactly
    * the recall a starved `nprobe` loses: a true neighbor in an
    * unprobed cell is rescued whenever ANY probed-cell vector lists
    * it — at the cost of ≤ k_graph extra candidates per seed, NOT an
    * extra probe's whole cell (the spec pins recall ≥ the unexpanded
    * search on the same seeds).
    *
    * Scale shape: the expansion is one equi-join of the id-only seed
    * frame against the (src, dst) edge table — co-partitionable on
    * src, carries two longs per edge; full vectors appear only in the
    * shared exact re-rank, fetched for candidate ids. Iterating the
    * hop (beam search) would re-join the same edge table; one hop is
    * the sweet spot for a batch engine (each extra hop multiplies
    * candidates by ~k_graph while recall gains collapse). */
  def graphExpandedTopK(centroids: DataFrame, cells: DataFrame,
                        graph: DataFrame,
                        corpus: DataFrame, corpusId: Column, corpusVec: Column,
                        queries: DataFrame, queryId: Column, queryVec: Column,
                        k: Int, nprobe: Int = 2): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    requireCols(graph, "graph", "src", "dst")
    val seeds = probedCandidates(Ivf(centroids, cells, nprobe), None,
      queries, queryId, queryVec)
    val edges = graph.select(col("src"), col("dst"))
    val hop = seeds.join(edges, seeds("neighbor_id") === edges("src"))
      .select(col("query_id"), col("dst").as("neighbor_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
    val cand = seeds.unionByName(hop).distinct()
    exactReRank(cand, corpus, corpusId, corpusVec,
      queries, queryId, queryVec, k)
  }

  // --- C79: filtered (predicate-constrained) ANN --------------------------

  /** Exact filtered vector search (SURVEY.md §2.C79): top-k cosine
    * neighbors among the corpus rows satisfying `pred` — "nearest
    * docs WHERE lang = 'en'", the retrieval+metadata composite every
    * RAG / hard-negative-mining path needs. This is the PRE-filter
    * formulation: the predicate cuts the corpus BEFORE any ranking,
    * so every query gets the true top-k of the eligible subset —
    * post-filtering an unfiltered top-k (the naive composition)
    * silently under-returns whenever fewer than k of the unfiltered
    * winners satisfy the predicate. Exact by construction; the scale
    * path for selective predicates is [[ivfTopKFilteredAgainstIndex]].
    * The predicate applies to NEIGHBORS only — queries rank the
    * eligible corpus regardless of their own attributes. */
  def filteredTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                   pred: Column,
                   queries: DataFrame, queryId: Column, queryVec: Column,
                   k: Int): DataFrame =
    bruteTopK(corpus.filter(pred), corpusId, corpusVec,
      queries, queryId, queryVec, k)

  /** [[ivfTopKAgainstIndex]] with a neighbor predicate pushed into the
    * CANDIDATE SOURCE: the eligible id set (an id-only semi-join
    * against `corpus.filter(pred)`) cuts the cells table before the
    * probe join, so ineligible rows never become candidates, never
    * fetch vectors, never occupy a top-k slot. The index itself stays
    * predicate-free — built ONCE on the full corpus, searched under
    * any filter (a per-predicate index would re-pay the corpus-scan
    * build per filter). Recall is the usual IVF contract relative to
    * the FILTERED brute truth ([[filteredTopK]]): nprobe = nlist is
    * pair-for-pair equal (spec-proven); a selective predicate thins
    * probed cells rather than starving the result with post-filter
    * rejections. At 100 TB the added cost over the unfiltered search
    * is one id-keyed semi-join on the cells table — ids move, nothing
    * else. */
  def ivfTopKFilteredAgainstIndex(centroids: DataFrame, cells: DataFrame,
                                  corpus: DataFrame, corpusId: Column, corpusVec: Column,
                                  pred: Column,
                                  queries: DataFrame, queryId: Column, queryVec: Column,
                                  k: Int, nprobe: Int = 2): DataFrame = {
    require(cells.columns.contains("vec_id"),
      s"cells frame must carry vec_id; got ${cells.columns.mkString(", ")}")
    val allowed = corpus.filter(pred).select(corpusId.as("vec_id"))
    ivfTopKAgainstIndex(centroids,
      cells.join(allowed, Seq("vec_id"), "left_semi"),
      corpus, corpusId, corpusVec, queries, queryId, queryVec, k, nprobe)
  }

  // --- C84: hard-negative mining -------------------------------------------

  /** Semi-hard negative mining (SURVEY.md §2.C84; Schroff et al. 2015
    * §3.3): for each (anchor, positive) training pair, the top-k
    * corpus vectors that are HARDEST while still semi-hard —
    * `cos(a, n) < cos(a, p) − margin`, ranked by `cos(a, n)` desc.
    * This is what a contrastive/embedding training loop actually
    * consumes: negatives harder than random (informative gradients)
    * but farther than the positive (no label-noise collapse —
    * negatives closer than the positive are usually mislabeled dups,
    * which this corpus's near-dup operators exist to find). The
    * anchor and positive themselves are excluded.
    *
    * Returns `(query_id, pos_id, neighbor_id, rank, cosine,
    * pos_cosine)` — pos_cosine rides along so the consumer can see
    * each pair's band. Exactness: one cosine formulation (the proven
    * codegen dot), and the band cut compares two values of it — both
    * engines compute both sides bit-identically, so the boundary is
    * exact, not a float coin flip. Scale shape: the pair set is
    * training-batch-sized and broadcasts WITH both its vectors
    * attached (anchor + positive resolved by two id joins before the
    * broadcast); the corpus is scanned once map-side against it (the
    * bruteTopK shape) and the per-pair top-k is a rank-filtered
    * window (WindowGroupLimit). The corpus never shuffles. */
  def hardNegatives(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    pairs: DataFrame, anchorId: Column, posId: Column,
                    k: Int, margin: Double = 0.0): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(margin >= 0.0, s"margin must be non-negative, got $margin")
    val cn = corpus.select(corpusId.as("__cid"),
        VectorFunctions.normalized(corpusVec).as("__cv"))
      .filter(col("__cv").isNotNull)
    val p = pairs.select(anchorId.as("query_id"), posId.as("pos_id"))
      .join(cn.select(col("__cid").as("query_id"), col("__cv").as("__av")), "query_id")
      .join(cn.select(col("__cid").as("pos_id"), col("__cv").as("__pv")), "pos_id")
      .select(col("query_id"), col("pos_id"), col("__av"),
        VectorFunctions.dot(col("__av"), col("__pv")).as("__pcos"))
    val w = Window.partitionBy(col("query_id"), col("pos_id"))
      .orderBy(col("__ncos").desc, col("neighbor_id"))
    cn.join(broadcast(p),
        col("__cid") =!= col("query_id") && col("__cid") =!= col("pos_id"))
      .select(col("query_id"), col("pos_id"), col("__cid").as("neighbor_id"),
        VectorFunctions.dot(col("__cv"), col("__av")).as("__ncos"), col("__pcos"))
      .filter(col("__ncos") < col("__pcos") - lit(margin))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("pos_id"), col("neighbor_id"), col("rank"),
        round(col("__ncos"), 4).as("cosine"),
        round(col("__pcos"), 4).as("pos_cosine"))
  }

  // --- C83: MMR diversified retrieval --------------------------------------

  /** Maximal-marginal-relevance top-k (SURVEY.md §2.C83; Carbonell &
    * Goldstein 1998): per query, greedily select k results maximizing
    * `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` — the diversity
    * re-rank that keeps a near-dup-heavy corpus from filling all k
    * slots with copies of one answer (plain top-k does exactly that;
    * RAG context windows and eval-set construction both want spread).
    * Returns `(query_id, step, neighbor_id, score)` — step is the
    * greedy selection order (1 = pure relevance, later steps trade
    * relevance against redundancy).
    *
    * Exactness: relevance and redundancy are the engine's ONE cosine
    * formulation (the codegen dot over normalized vectors the green
    * ANN oracles prove bit-equal to DuckDB's); each step's score is
    * the pinned tree `λ·rel − (1−λ)·coalesce(div, 0)` with argmax ties
    * on neighbor_id — so the greedy path itself is engine-exact, not
    * just the final scores. `max(div)` is order-independent.
    *
    * Scale shape: the greedy loop runs over the SHORTLIST, not the
    * corpus — one brute/indexed candidate pass bounds each query to
    * `shortlist` rows. Greedy selection is inherently SEQUENTIAL per
    * query (step t's redundancy term needs step t−1's pick), so it is
    * the one genuinely imperative loop in the ANN surface: the
    * candidate frame repartitions on query_id and each query's ≤
    * `shortlist` rows run the O(shortlist·k) argmax locally inside a
    * `mapPartitions` task — ONE shuffle total, zero driver actions,
    * plan size independent of k. (A plan-level formulation — anti-join
    * + rank-1 window per step — references the growing selected frame
    * 3× per step, so its LOGICAL PLAN is Θ(3^k) nodes: k=20 hangs
    * analysis before a task runs. Driver-side plan growth is a scale
    * axis too.) The local arithmetic replays the engine's column
    * formulation operation-for-operation — the VecDot left-to-right
    * accumulation, `λ·rel − (1−λ)·div` with div₁ = 0.0, IEEE
    * `Double.compare` ordering (NaN largest, −0.0 < 0.0, null rel
    * sorts last like desc NULLS LAST), HALF_UP 6-decimal round — so
    * the green DuckDB oracle pins the rewrite bit-for-bit. Vectors
    * move once into the shortlist; the corpus never re-shuffles. For
    * huge corpora swap the brute shortlist for [[ivfTopKAgainstIndex]]
    * ids — the loop is source-agnostic. */
  def mmrTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, shortlist: Int, lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need shortlist >= k >= 1, got k=$k shortlist=$shortlist")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val ids = bruteTopK(corpus, corpusId, corpusVec,
        queries, queryId, queryVec, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val cn = corpus.select(corpusId.as("neighbor_id"),
      VectorFunctions.normalized(corpusVec).as("cnv"))
      .filter(col("cnv").isNotNull)
    val qn = queries.select(queryId.as("query_id"),
      VectorFunctions.normalized(queryVec).as("qnv"))
      .filter(col("qnv").isNotNull)
    val cand = ids.join(cn, "neighbor_id").join(broadcast(qn), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("cnv"),
        VectorFunctions.dot(col("cnv"), col("qnv")).as("rel"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "query_id", cand.schema("query_id").dataType),
      org.apache.spark.sql.types.StructField(
        "step", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(
        "neighbor_id", cand.schema("neighbor_id").dataType),
      org.apache.spark.sql.types.StructField(
        "score", org.apache.spark.sql.types.DoubleType)))
    val lam = lambda
    val oneMinus = 1.0 - lambda
    val kk = k
    cand.repartition(col("query_id"))
      .sortWithinPartitions(col("query_id"), col("neighbor_id"))
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[Seq[org.apache.spark.sql.Row]] {
          def hasNext: Boolean = it.hasNext
          def next(): Seq[org.apache.spark.sql.Row] = {
            val key = it.head.get(0)
            val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
            while (it.hasNext && it.head.get(0) == key) buf += it.next()
            buf.toSeq
          }
        }.flatMap(g => mmrGreedy(g, kk, lam, oneMinus))
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** One query's greedy MMR over its (neighbor-ascending) shortlist
    * rows `(query_id, neighbor_id, cnv, rel)`. Scans in neighbor
    * order with strict `Double.compare` improvement, so score ties
    * keep the LOWEST neighbor_id — the `(score desc, neighbor_id)`
    * window contract of the declarative form this replaced. */
  private def mmrGreedy(g: Seq[org.apache.spark.sql.Row], k: Int,
                        lam: Double, oneMinus: Double):
      Iterator[org.apache.spark.sql.Row] = {
    val n = g.size
    val qid = g.head.get(0)
    val nid = new Array[Any](n)
    val cnv = new Array[Array[Double]](n)
    val rel = new Array[Double](n)
    val relNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val r = g(i)
      nid(i) = r.get(1)
      // mirror ArrayData.getDouble on a null-marked slot (reads the
      // zeroed word): a null element contributes 0.0 to the dot
      cnv(i) = r.getSeq[java.lang.Double](2)
        .map(x => if (x == null) 0.0 else x.doubleValue).toArray
      relNull(i) = r.isNullAt(3)
      rel(i) = if (relNull(i)) 0.0 else r.getDouble(3)
      i += 1
    }
    // VecDot.compute's exact loop — same left-to-right accumulation
    def dotL(a: Array[Double], b: Array[Double]): Double = {
      val m = math.min(a.length, b.length)
      var s = 0.0
      var j = 0
      while (j < m) { s += a(j) * b(j); j += 1 }
      s
    }
    // Spark's Round(double, 6): HALF_UP via BigDecimal, non-finite
    // passed through
    def round6(x: Double): Double =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
      else BigDecimal.valueOf(x)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val taken = new Array[Boolean](n)
    val div = Array.fill(n)(0.0) // read only after a first update (t >= 2)
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var t = 1
    var remaining = n
    while (t <= k && remaining > 0) {
      var best = -1
      var bestScore = 0.0
      var bestNull = false
      i = 0
      while (i < n) {
        if (!taken(i)) {
          if (relNull(i)) {
            // desc NULLS LAST: a null score loses to any non-null;
            // among nulls the first (lowest neighbor) wins
            if (best < 0) { best = i; bestNull = true }
          } else {
            val d = if (t == 1) 0.0 else div(i)
            val sc = lam * rel(i) - oneMinus * d
            if (best < 0 || bestNull ||
                java.lang.Double.compare(sc, bestScore) > 0) {
              best = i; bestScore = sc; bestNull = false
            }
          }
        }
        i += 1
      }
      out += org.apache.spark.sql.Row(qid, t.toLong, nid(best),
        if (bestNull) null else round6(bestScore))
      taken(best) = true
      remaining -= 1
      i = 0
      while (i < n) {
        if (!taken(i)) {
          val d2 = dotL(cnv(i), cnv(best))
          if (t == 1 || java.lang.Double.compare(d2, div(i)) > 0) div(i) = d2
        }
        i += 1
      }
      t += 1
    }
    out.iterator
  }

  /** IVF over a TRUNCATED (Matryoshka-prefix) quantizer with
    * full-dimension re-rank (C150) — the composite the C149 recall
    * curve exists to justify: centroids, cell assignment and query
    * probes all run on the first `prefixDims` dims (the coarse
    * quantizer's memory and probe arithmetic drop d'/d — at 100 TB
    * the centroid table and every probe dot shrink 4-8×), while the
    * final candidate scoring fetches the FULL vectors — so truncation
    * can only cost recall at the candidate-generation boundary, never
    * final-ranking precision (the FAISS refine/rerank discipline,
    * with MRL truncation as the coarse stage). Train the cells on the
    * SAME slice (`ivfTrainCells` over `slice(vec, 1, prefixDims)`) —
    * a full-dim-trained quantizer probed with truncated queries would
    * systematically mis-probe. Cosine is scale-invariant per vector,
    * so slices need no re-normalize. */
  def ivfTopKTruncated(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                       cellSeed: Column,
                       queries: DataFrame, queryId: Column, queryVec: Column,
                       prefixDims: Int, k: Int, nprobe: Int = 2): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be positive, got $prefixDims")
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val cand = ivfCandidates(corpus, corpusId, slice(corpusVec, 1, prefixDims),
      cellSeed, queries, queryId, slice(queryVec, 1, prefixDims), nprobe)
    exactReRank(cand, corpus, corpusId, corpusVec, queries, queryId, queryVec, k)
  }

  /** The exact-cosine re-rank tail every candidate-generating search
    * shares (ivf / pq / ivf+pq): fetch full vectors for the candidate
    * ids only, score, keep the top k per query. */
  private def exactReRank(cand: DataFrame,
                          corpus: DataFrame, corpusId: Column, corpusVec: Column,
                          queries: DataFrame, queryId: Column, queryVec: Column,
                          k: Int): DataFrame = {
    val cn = corpus.select(corpusId.as("neighbor_id"),
      VectorFunctions.normalized(corpusVec).as("cnv"))
    val qn = queries.select(queryId.as("query_id"),
      VectorFunctions.normalized(queryVec).as("qnv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cand
      .join(cn, "neighbor_id")
      .join(broadcast(qn), "query_id")
      .withColumn("cosine", VectorFunctions.dot(col("cnv"), col("qnv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 4).as("cosine"))
  }

  // --- C38/C54/C154: the ANN codecs behind one index build and one search --

  /** The coarse stage of [[annSearch]]: a prebuilt [[ivfIndex]]'s
    * `(cell, cv)` centroids and `(vec_id, cell)` cells, probed
    * `nprobe` cells per query. */
  final case class Ivf(centroids: DataFrame, cells: DataFrame, nprobe: Int)

  /** What a codec contributes to the shared search, under frozen stats:
    * a per-code-row preparation, the per-query frame (broadcast, keyed
    * `query_id`) and the approximate score over a (code, query) row. */
  private final case class Scoring(prepCodes: DataFrame => DataFrame,
                                   queries: DataFrame, approx: Column)

  /** An ANN codec: `train` freezes its stats (or codebook), `encode`
    * turns vectors into `(vec_id, codes)` under them, and its scoring
    * ranks codes against a query for the shortlist. Every codec runs
    * the same pipeline ([[annIndex]], [[annSearch]]): candidates,
    * approximate score, top-`shortlist` per query, exact cosine
    * re-rank. The re-rank is exact, so with `shortlist ≥ |corpus| − 1`
    * every codec's search EQUALS [[bruteTopK]] (spec-pinned); the
    * codecs differ only in bytes per vector and how good the shortlist
    * is at a tight cut. Train and score are engine-reproducible, so
    * shortlist boundaries compare identical values under the DuckDB
    * oracles. */
  sealed trait Codec {
    def train(corpus: DataFrame, id: Column, vec: Column): DataFrame
    def encode(df: DataFrame, id: Column, vec: Column, stats: DataFrame): DataFrame
    private[Similarity] def requireStats(stats: DataFrame): Unit
    private[Similarity] def scoring(stats: DataFrame, queries: DataFrame,
                                    queryId: Column, queryVec: Column): Scoring
    private[Similarity] def build(corpus: DataFrame, id: Column,
                                  vec: Column): (DataFrame, DataFrame) = {
      val stats = train(corpus, id, vec)
      (stats, encode(corpus, id, vec, stats))
    }
  }

  object Codec {

    /** Scalar quantization (C54): per-dimension `(d, lo, hi)` stats,
      * one byte per dimension (8× smaller than float64). min/max are
      * order-independent, so the stats are bit-identical on any
      * partitioning. The shortlist ranks the decoded cosine TRUNCATED
      * to 1e-9: both engines compute it with different association,
      * agree far below 1e-9, and so cut identical shortlists. */
    case object SQ8 extends Codec {
      def train(corpus: DataFrame, id: Column, vec: Column): DataFrame =
        corpus.select(posexplode(vec.cast("array<double>")).as(Seq("d", "x")))
          .groupBy(col("d"))
          .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))

      def encode(df: DataFrame, id: Column, vec: Column, stats: DataFrame): DataFrame = {
        graft.GraftExtensions.ensureRegistered(df.sparkSession)
        requireStats(stats)
        df.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
          .crossJoin(broadcast(sqStatsRow(stats)))
          .select(col("vec_id"), sqCodesExpr(col("v")).as("codes"))
      }

      private[Similarity] def requireStats(stats: DataFrame): Unit =
        requireCols(stats, "stats", "d", "lo", "hi")

      private[Similarity] def scoring(stats: DataFrame, queries: DataFrame,
                                      queryId: Column, queryVec: Column): Scoring =
        Scoring(
          _.crossJoin(broadcast(sqStatsRow(stats))).withColumn("dec", sqDecodeExpr),
          queries.select(queryId.as("query_id"),
            VectorFunctions.normalized(queryVec).as("qv")),
          (VectorFunctions.dot(VectorFunctions.normalized(col("dec")), col("qv"))
            * 1e9).cast("long"))
    }

    /** Product quantization (C38): m per-subspace quantizers of ksub
      * codewords, trained `iters` Lloyd rounds by the same FNV-seeded,
      * fixed-point recipe as [[ivfTrainCells]]. The stats frame is the
      * codebook `(sub, code, cv)`; codes are m integers per vector,
      * stored as `array<tinyint>` when ksub ≤ 128 so the ~32×
      * compression is real on disk. dim must be divisible by m
      * (checked per row). The index build trains and encodes from ONE
      * persisted subvector frame. Scoring is ADC: each query's lookup
      * table of subvector·codeword dots, folded left over a row's codes
      * ([[pqAdcScore]]); the oracles replicate the association. */
    final case class PQ(m: Int, ksub: Int, iters: Int = 1) extends Codec {
      def train(corpus: DataFrame, id: Column, vec: Column): DataFrame = {
        graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
        pqTrainOn(pqSubvectors(corpus, id, vec, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), ksub, iters)
      }

      def encode(df: DataFrame, id: Column, vec: Column, books: DataFrame): DataFrame = {
        graft.GraftExtensions.ensureRegistered(df.sparkSession)
        requireStats(books)
        codesOf(pqSubvectors(df, id, vec, m), books)
      }

      override private[Similarity] def build(corpus: DataFrame, id: Column,
                                             vec: Column): (DataFrame, DataFrame) = {
        val subs = pqSubvectors(corpus, id, vec, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // books is a LocalRelation (pqTrainOn localizes per round)
        val books = pqTrainOn(subs, ksub, iters)
        (books, codesOf(subs, books))
      }

      private def codesOf(subs: DataFrame, books: DataFrame): DataFrame = {
        val codes = pqCodesOf(pqAssign(subs, books))
        if (ksub <= 128)
          codes.select(col("vec_id"), col("codes").cast("array<tinyint>").as("codes"))
        else codes
      }

      private[Similarity] def requireStats(books: DataFrame): Unit =
        requireCols(books, "codebook", "sub", "code", "cv")

      private[Similarity] def scoring(books: DataFrame, queries: DataFrame,
                                      queryId: Column, queryVec: Column): Scoring =
        Scoring(_.crossJoin(broadcast(pqN2Row(books, m, ksub))),
          pqLuts(queries, queryId, queryVec, m, ksub, books),
          pqAdcScore(m, ksub))
    }

    /** The 1-bit codecs' shared stats and codes (C154): the
      * per-dimension threshold is the corpus MEAN carried as exact
      * integers — `(d, s, n)` with s = Σ round(x_d·1e6) accumulated in
      * decimal(38,0) (so train never wraps; DuckDB's HUGEINT sum is the
      * oracle twin) and n the count, so bit d is `round(x_d·1e6)·n > s_d`
      * and the mean never materializes as a float. Codes are ⌈d/32⌉
      * packed longs ([[bqWordsExpr]]); NULL and EMPTY vectors are
      * excluded (no bits to quantize). Encoding new rows under frozen
      * stats IS the append path (spec-pinned). */
    sealed abstract class Binary extends Codec {
      def train(corpus: DataFrame, id: Column, vec: Column): DataFrame =
        corpus.select(vec.cast("array<double>").as("v"))
          .filter(col("v").isNotNull && size(col("v")) > 0)
          .select(posexplode(transform(col("v"),
            x => round(x * lit(1e6)).cast("long"))).as(Seq("d", "xfx")))
          .groupBy(col("d"))
          .agg(sum(col("xfx").cast("decimal(38,0)")).as("s"),
            count(lit(1)).as("n"))

      def encode(df: DataFrame, id: Column, vec: Column, stats: DataFrame): DataFrame = {
        requireStats(stats)
        df.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
          .filter(col("v").isNotNull && size(col("v")) > 0)
          .crossJoin(broadcast(bqStatsRow(stats)))
          .select(col("vec_id"), bqWordsExpr(col("v")).as("codes"))
      }

      private[Similarity] def requireStats(stats: DataFrame): Unit =
        requireCols(stats, "stats", "d", "s", "n")
    }

    /** Symmetric BQ: queries encode under the SAME corpus thresholds
      * and the score is the negated Hamming distance on the native
      * `graft_hamming` kernel (xor + bitCount over the packed words;
      * kernel == HOF fold spec-pinned). Exact integers, so the
      * shortlist boundary needs no float discipline; ties break on
      * neighbor id. */
    case object BQ extends Binary {
      private[Similarity] def scoring(stats: DataFrame, queries: DataFrame,
                                      queryId: Column, queryVec: Column): Scoring =
        Scoring(identity,
          encode(queries, queryId, queryVec, stats)
            .select(col("vec_id").as("query_id"), col("codes").as("qcodes")),
          -call_function("graft_hamming", col("codes"), col("qcodes")))
    }

    /** Asymmetric BQ (C154d): the corpus stays 1-bit packed (the same
      * index bytes as [[BQ]]) but the query is never quantized — a row
      * scores `Σ_d qfx_d·(2·b_d − 1)`, the query's fixed-point
      * components under the bit pattern's signs. Keeping the query's
      * magnitudes recovers recall the Hamming pass throws away, at d
      * sign-sums per row instead of d/32 xor words. The score is an
      * exact integer; bits unpack from the stored words
      * ([[bqAsymScore]]), and `dim` comes from the stats table (a
      * bounded count). A query whose length differs from dim fails
      * fast ([[bqAsymQueryFx]]). */
    case object AsymBQ extends Binary {
      private[Similarity] def scoring(stats: DataFrame, queries: DataFrame,
                                      queryId: Column, queryVec: Column): Scoring = {
        val dim = stats.count().toInt
        require(dim > 0, "stats table is empty — train before searching")
        Scoring(identity, bqAsymQueryFx(queries, queryId, queryVec, dim),
          bqAsymScore(dim))
      }
    }
  }

  /** Pay-once index build for any codec: `(stats, codes)` — materialize
    * both as tables (parquet, bucketed via Layout) and search every
    * later query batch with [[annSearch]] without retraining; at
    * 100 TB the encode is the corpus-scan cost and is paid per corpus
    * version, not per query batch. The codec's parameters (PQ's m,
    * ksub) used to build MUST match every later search. */
  def annIndex(codec: Codec, corpus: DataFrame, id: Column,
               vec: Column): (DataFrame, DataFrame) = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    codec.build(corpus, id, vec)
  }

  /** ANN search against a prebuilt [[annIndex]], one pipeline for
    * every codec (the REPOSE partition → bound → prune → refine
    * shape): candidates are every code row, or with `ivf` only the
    * members of each query's `nprobe` probed cells (the FAISS IVF +
    * codec composition — the probe bounds WHICH codes are scored,
    * never how, so `nprobe = nlist` equals the flat search at the same
    * shortlist; spec-pinned); the codec scores each candidate, the
    * top-`shortlist` per query survive, and [[exactReRank]] fetches
    * full vectors for those ids only. The approximate stage reads
    * codes, never corpus vectors, and nothing corpus-sized shuffles in
    * the flat scan; `corpus` supplies vectors for the re-rank only.
    *
    * `tombstones` is the StreamIndex reader contract as an argument: a
    * still-growing streamed artifact dir is searched with the takedown
    * list, which guards codes AND cells in lockstep (a tombstoned id
    * neither seeds a candidate nor carries a code); search with
    * tombstones ≡ search over the [[indexRemove]]-rebuilt tables. */
  def annSearch(codec: Codec, stats: DataFrame, codes: DataFrame,
                corpus: DataFrame, corpusId: Column, corpusVec: Column,
                queries: DataFrame, queryId: Column, queryVec: Column,
                k: Int, shortlist: Int, ivf: Option[Ivf] = None,
                tombstones: Option[DataFrame] = None): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val cand = ivf.map(probedCandidates(_, tombstones, queries, queryId, queryVec))
    codec.requireStats(stats)
    requireCols(codes, "codes", "vec_id", "codes")
    val sc = codec.scoring(stats, queries, queryId, queryVec)
    val coded = tombstoneGuarded(codes, tombstones)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    val paired = cand match {
      case None => sc.prepCodes(coded)
        .join(broadcast(sc.queries), col("neighbor_id") =!= col("query_id"))
      case Some(c) => sc.prepCodes(c.join(coded, "neighbor_id"))
        .join(broadcast(sc.queries), "query_id")
    }
    exactReRank(approxShortlist(paired.withColumn("approx", sc.approx), shortlist),
      corpus, corpusId, corpusVec, queries, queryId, queryVec, k)
  }

  /** Top-`shortlist` per query by `approx` (ties on neighbor id) →
    * `(query_id, neighbor_id)`, self excluded. */
  private def approxShortlist(scored: DataFrame, shortlist: Int): DataFrame = {
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id"))
    scored.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("srank", row_number().over(wA))
      .filter(col("srank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
  }

  // --- PQ internals ---------------------------------------------------------

  /** Subvector view: m rows per vector — `(vec_id, sub, sv)` where sv
    * is the sub-th dim/m-length slice. dim must be divisible by m —
    * enforced per row with a runtime `assert_true` (a miscalled search
    * would otherwise silently drop the trailing dim % m dimensions
    * from every vector). The array is let-bound so the slice lambda
    * doesn't re-derive it per subspace. */
  private def pqSubvectors(df: DataFrame, id: Column, vec: Column,
                           m: Int): DataFrame =
    df.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
      .filter(coalesce(assert_true(pmod(size(col("v")), lit(m)) === 0,
        concat(lit("pq: vector dim "), size(col("v")).cast("string"),
          lit(s" is not divisible by m=$m"))), lit(true)))
      .select(col("vec_id"), posexplode(
        graft.functions.Cols.let(col("v")) { vv =>
          graft.functions.Cols.let((size(vv) / lit(m)).cast("int")) { dsub =>
            transform(sequence(lit(0), lit(m - 1)),
              j => slice(vv, j * dsub + 1, dsub))
          }
        }).as(Seq("sub", "sv")))

  /** Fixed-point centroids of an assigned subvector frame
    * `(vec_id, sub, sv, code)` → the codebook `(sub, code, cv)`. Same
    * exact-integer-sum recipe as the IVF quantizer (groupCentroids),
    * grouped by the composite (sub, code) key. */
  private def pqCodebookOf(assigned: DataFrame): DataFrame =
    VectorFunctions.groupCentroids(assigned,
        struct(col("sub"), col("code")), col("sv"))
      .groupBy(col("grp"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("centroid")))),
        s => s.getField("centroid")).as("cv"))
      .select(col("grp.sub").as("sub"), col("grp.code").as("code"), col("cv"))

  /** Per-(vector, subspace) nearest-codeword assignment: argmax cosine
    * over the broadcast codebook (bounded by m·ksub rows), code-asc
    * tie-break — the same combiner-friendly max-of-struct as the IVF
    * assignment, never a window over the corpus. */
  private def pqAssign(subs: DataFrame, books: DataFrame): DataFrame =
    subs.join(broadcast(books), "sub")
      .select(col("vec_id"), col("sub"), col("code"),
        VectorFunctions.cosine(col("sv"), col("cv")).as("s"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(max(struct(col("s"), (-col("code")).as("nc"))).as("m"))
      .select(col("vec_id"), col("sub"), (-col("m.nc")).as("code"))

  /** Codebook training over an (already persisted) subvector frame:
    * FNV-seeded init, fixed-point centroids, argmax re-assignment with
    * integer tie-break — the whole chain is DuckDB-oracle-checkable.
    * Codewords that attract no members drop out of the codebook (they
    * can then never be assigned — consistent in both engines). */
  private def pqTrainOn(subs: DataFrame, ksub: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var codes = subs.select(col("vec_id"), col("sub"),
      pmod(call_function("fnv1a64",
          concat(lit("pq:"), col("sub").cast("string"),
            lit(":"), col("vec_id").cast("string"))),
        lit(ksub.toLong)).as("code"))
    var books: DataFrame = null
    for (_ <- 0 until iters) {
      // localized: ≤ m·ksub rows; cuts the per-round nesting exactly
      // as in ivfTrainCells
      books = localized(pqCodebookOf(subs.join(codes, Seq("vec_id", "sub"))))
      codes = pqAssign(subs, books)
    }
    books
  }

  /** Collapse a per-(vector, subspace) assignment to the per-vector
    * code array (subspace order). */
  private def pqCodesOf(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Dense per-query ADC lookup arrays — `(query_id, lutd)` with
    * lutd[sub·ksub + code] = dot(query subvector, codeword). Empty
    * codewords hold 0.0: they are never assigned, so the slot is never
    * read; density keeps the positional indexing valid. */
  private def pqLuts(queries: DataFrame, queryId: Column, queryVec: Column,
                     m: Int, ksub: Int, books: DataFrame): DataFrame =
    pqSubvectors(queries, queryId, queryVec, m)
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(books), "sub")
      .select(col("query_id"), (col("sub") * ksub + col("code")).as("slot"),
        VectorFunctions.dot(col("sv"), col("cv")).as("d"))
      .groupBy(col("query_id"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("d")))).as("mp"))
      .select(col("query_id"),
        transform(sequence(lit(0), lit(m * ksub - 1)),
          s => coalesce(element_at(col("mp"), s), lit(0.0))).as("lutd"))

  /** 1-row dense codeword squared-norm table, same slot layout. */
  private def pqN2Row(books: DataFrame, m: Int, ksub: Int): DataFrame =
    books
      .select((col("sub") * ksub + col("code")).as("slot"),
        VectorFunctions.dot(col("cv"), col("cv")).as("n2"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("n2")))).as("mp"))
      .select(transform(sequence(lit(0), lit(m * ksub - 1)),
        s => coalesce(element_at(col("mp"), s), lit(0.0))).as("n2arr"))

  /** LEFT-ASSOCIATED m-term fold of `arr[j·ksub + codes[j]]` over the
    * row's `codes` column (the oracles reproduce the association, so
    * shortlist boundaries compare identical doubles). The code cast
    * accepts any integral storage type — the narrowed byte codes fold
    * identically. */
  private def pqFold(arr: Column, m: Int, ksub: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc + element_at(arr,
        j * ksub + element_at(col("codes"), j + 1).cast("int") + 1))

  /** The ADC approximate score over a frame carrying `codes`, `lutd`,
    * `n2arr`: `Σⱼ lut[codesⱼ] / √(Σⱼ ‖c_codesⱼ‖²)`. */
  private def pqAdcScore(m: Int, ksub: Int): Column =
    pqFold(col("lutd"), m, ksub) / sqrt(pqFold(col("n2arr"), m, ksub))

  // --- SQ8 internals --------------------------------------------------------

  /** 1-row dense (los, his) arrays ordered by dimension — the bounded
    * broadcast every encode/decode stage crossJoins (dims doubles ×2,
    * the same class as the PQ LUT rows). */
  private def sqStatsRow(stats: DataFrame): DataFrame =
    stats.agg(array_sort(collect_list(
        struct(col("d"), col("lo"), col("hi")))).as("s"))
      .select(transform(col("s"), e => e("lo")).as("los"),
        transform(col("s"), e => e("hi")).as("his"))

  /** Element encode over a frame carrying `los`/`his`: linear map of
    * each dimension onto 256 levels, clamped, stored byte-centered
    * (code − 128 ∈ [−128, 127]) so the array is a genuine
    * `array<tinyint>`. A collapsed dimension (hi = lo) encodes 0 and
    * decodes to lo exactly. */
  private def sqCodesExpr(v: Column): Column =
    transform(v, (x, i) => {
      val lo = element_at(col("los"), i + 1)
      val hi = element_at(col("his"), i + 1)
      (when(hi === lo, lit(0))
        .otherwise(least(lit(255), greatest(lit(0),
          round((x - lo) / (hi - lo) * 255).cast("int"))))
        - 128).cast("byte")
    })

  /** Dequantized view of a `codes` column (same los/his contract):
    * `lo + (code + 128) · (hi − lo) / 255` — pure per-row arithmetic,
    * identical in any engine given identical stats. */
  private def sqDecodeExpr: Column =
    transform(col("codes"), (c, i) => {
      val lo = element_at(col("los"), i + 1)
      val hi = element_at(col("his"), i + 1)
      lo + (c.cast("double") + lit(128.0)) * (hi - lo) / lit(255.0)
    })

  // --- BQ internals ---------------------------------------------------------

  /** 1-row dense (ss, ns) threshold arrays ordered by dimension — the
    * bounded broadcast the encode stage crossJoins (the sqStatsRow
    * class). */
  private def bqStatsRow(stats: DataFrame): DataFrame =
    stats.agg(array_sort(collect_list(
        struct(col("d"), col("s"), col("n")))).as("t"))
      .select(transform(col("t"), e => e("s")).as("ss"),
        transform(col("t"), e => e("n")).as("ns"))

  /** Threshold + pack over a frame carrying `ss`/`ns`: bit d =
    * vfx_d·n > s_d, packed 32 bits per long word (NOT 64: the fold is
    * `acc·2 + bit`, and a set bit 63 would wrap the long silently in
    * Spark while DuckDB's checked BIGINT multiply ERRORS — 32-bit
    * words keep every intermediate positive and exact in both). Word
    * order and bit significance are fold order — both sides pack
    * identically, which is all Hamming needs. The threshold compare
    * multiplies vfx·n in decimal(38,0) (matching [[Codec.Binary]]'s decimal
    * `s`), so the encode side can't silently wrap either. A
    * zero-length vector yields an EMPTY code array (enforced by the
    * `when` guard — without it `sequence(0, -1)` would auto-step DOWN
    * and emit two spurious zero words); [[Codec.Binary]]'s encode additionally
    * filters such vectors out, the bruteTopK empty-input contract. */
  private def bqWordsExpr(v: Column): Column =
    graft.functions.Cols.let(bqBitsExpr(v)) { bits =>
      when(size(bits) > 0,
        transform(
          sequence(lit(0), ((size(bits) + lit(31)) / lit(32)).cast("int") - 1),
          w => aggregate(slice(bits, w * 32 + 1, lit(32)), lit(0L),
            (acc, b) => acc * 2 + b)))
        .otherwise(array().cast("array<bigint>"))
    }

  /** The threshold stage of [[bqWordsExpr]] on its own: the per-dim
    * 0/1 bit array under a frame's `ss`/`ns` broadcast. ONE definition
    * shared by the word pack and the drift monitor's bit-population
    * counts, so the monitored distribution can never diverge from what
    * the codes actually store. */
  private def bqBitsExpr(v: Column): Column =
    transform(v, (x, i) =>
      when(round(x * lit(1e6)).cast("decimal(38,0)") *
          element_at(col("ns"), i + 1) > element_at(col("ss"), i + 1),
        lit(1L)).otherwise(lit(0L)))

  /** Per-(vector, dimension) bit rows under FROZEN stats — the BQ
    * drift monitor's bucket shape (C154h): each incoming vector emits
    * one `(grp, bucket)` row per dimension with `bucket = 2·d + bit`,
    * so the bucket distribution IS the per-dimension bit population
    * (buckets 2d and 2d+1 split each dimension's mass). As the
    * embedding distribution drifts away from the training corpus, the
    * per-dim populations leave the trained ~50/50 split and C152's PSI
    * over these buckets moves — the retrain trigger for the streaming
    * index. The bit rule is [[bqBitsExpr]], the SAME expression the
    * stored words pack, so the monitor watches exactly what the index
    * contains. Scale shape: a d× map-side explode that collapses to
    * ≤ 2d rows per partition before any shuffle (the BQ train shape). */
  def bqBitBuckets(df: DataFrame, vec: Column, stats: DataFrame): DataFrame =
    df.select(vec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .crossJoin(broadcast(bqStatsRow(stats)))
      .select(posexplode(bqBitsExpr(col("v"))).as(Seq("d", "bit")))
      .select(lit("bq").as("grp"),
        (col("d").cast("long") * 2 + col("bit")).as("bucket"))

  /** [[bqBitBuckets]] rolled up to `(grp, bucket, n)` — the batch side
    * of the drift monitor's twin law, and how a REFERENCE window
    * becomes the pinned counts table
    * [[graft.streaming.StreamIndex.startBqDriftMonitor]] compares
    * against (run it over the TRAINING corpus — or any healthy window
    * — and write the result to `refCountsDir`). */
  def bqBitCounts(df: DataFrame, vec: Column, stats: DataFrame): DataFrame =
    bqBitBuckets(df, vec, stats)
      .groupBy(col("grp"), col("bucket")).agg(count(lit(1)).as("n"))

  /** The asymmetric query projection: once-rounded fixed-point
    * components under the index's dimensionality CONTRACT — a query
    * vector whose length differs from the trained dim has no defined
    * unpack alignment against the stored words, so it fails fast
    * per-row (raise_error inside the projection, the distributed twin
    * of the driver-side stats/codes `require` guards) instead of
    * NULL-scoring into the shortlist tail (`element_at` past the end
    * returns NULL in default mode, which would silently sink the
    * whole row's score). */
  private def bqAsymQueryFx(queries: DataFrame, queryId: Column,
                            queryVec: Column, dim: Int): DataFrame =
    queries
      .select(queryId.as("query_id"), queryVec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .select(col("query_id"),
        when(size(col("v")) === dim,
            transform(col("v"), x => round(x * lit(1e6)).cast("long")))
          .otherwise(raise_error(concat(
            lit(s"asymmetric query vector dim mismatch: index dim=$dim, got "),
            size(col("v")).cast("string"))))
          .as("qfx"))

  /** The unroll/fold crossover, MEASURED (local[16], 200k scored
    * pairs, sum-of-scores wall time, best of 3): at d=64 the unrolled
    * tree wins ~4× (1.8 s vs 7.5 s), at d=128 ~3× (2.2 s vs 6.6 s),
    * at d=192 they tie (~1.9 s vs ~1.9 s), at d=256 the fold wins ~2×
    * (2.8 s vs 1.4 s — the 256-term straight-line method blows the
    * JIT's inlining budget and the codegen advantage inverts), and at
    * d=1024 the unrolled tree is pathological (minutes in
    * planning/codegen before a row is scored). The bound sits at the
    * measured tie, so neither path is ever the loser: real embedding
    * dims ≤ 192 (64/96/128 and MRL truncations) take the unrolled
    * tree, larger dims take the fold. */
  private[graft] val AsymUnrollLimit = 192

  /** Scorer dispatch over a frame carrying `codes`/`qfx`: identical
    * exact integers either way ([[bqAsymScoreFolded]] equality
    * spec-pinned against [[bqAsymScoreUnrolled]]), so the shortlist
    * boundary cannot depend on which path ran. */
  private def bqAsymScore(dim: Int): Column =
    if (dim <= AsymUnrollLimit) bqAsymScoreUnrolled(dim)
    else bqAsymScoreFolded(dim)

  /** Σ_d qfx_d·(2b_d−1) as a compile-time sum over dims: word index,
    * in-word shift and the short-last-word length are constants of
    * the 32-bit fold's layout, so each term is one shift+mask on an
    * already-read long — the row still reads only its packed words.
    * The fastest shape for embedding-sized d (straight-line codegen,
    * no per-element lambda frames), bounded at [[AsymUnrollLimit]]. */
  private[graft] def bqAsymScoreUnrolled(dim: Int): Column =
    (0 until dim).map { d =>
      val w = d / 32
      val lw = math.min(32, dim - w * 32)
      val sh = lw - 1 - (d % 32)
      val bit = shiftright(element_at(col("codes"), w + 1), sh)
        .bitwiseAND(lit(1L))
      element_at(col("qfx"), d + 1) * (bit * lit(2L) - lit(1L))
    }.reduce(_ + _)

  /** The same sign-sum as a dynamic fold over `sequence(0, dim−1)` —
    * the dim > [[AsymUnrollLimit]] path: the word index, in-word shift
    * (a COLUMN shift via SQL `shiftright`, which the Scala functions
    * API doesn't expose) and short-last-word length become runtime
    * arithmetic on the dimension variable instead of compile-time
    * constants. Same longs, same left-to-right accumulation, so the
    * result is bit-identical to the unrolled tree (spec-pinned at
    * d=64/96) — and past the measured [[AsymUnrollLimit]] crossover
    * the tight fold loop BEATS the giant straight-line method the
    * unrolled tree degenerates into (2× at d=256, unboundedly at
    * d≥1024 where the tree stalls in codegen). */
  private[graft] def bqAsymScoreFolded(dim: Int): Column =
    aggregate(sequence(lit(0), lit(dim - 1)), lit(0L), (acc, d) => {
      val w = floor(d / lit(32)).cast("int")
      val lw = least(lit(32), lit(dim) - w * lit(32))
      val sh = lw - lit(1) - (d % lit(32))
      val bit = call_function("shiftright",
        element_at(col("codes"), w + 1), sh).bitwiseAND(lit(1L))
      acc + element_at(col("qfx"), d + 1) * (bit * lit(2L) - lit(1L))
    })

  /** IVF+PQ with RESIDUAL encoding (C42) — the classical IVFADC recipe
    * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search"): the product quantizer encodes `v − µ_cell(v)` instead of
    * v. Residuals are far more concentrated than raw vectors (the
    * coarse quantizer has already explained the between-cell variance),
    * which is where most of the recall at small m·ksub comes from.
    * Residuals are vs the cell the front-end ASSIGNS (the re-assignment
    * argmax, not the train seed) so probing and reconstruction agree.
    *
    * The ADC algebra changes because the reconstruction is
    * x̂ = µ_c + r̂: the approximate score
    * `dot(q, x̂)/‖x̂‖` decomposes into
    * `(dot(q, µ_c) + Σⱼ lut[codeⱼ]) / √(‖µ_c‖² + Σⱼ t2_c[codeⱼ])`
    * with `t2_c[slot] = 2·dot(µ_cⱼ, cw) + ‖cw‖²` — so the per-query
    * LUT stays cell-independent (the residual codebook is global,
    * FAISS-style) and the cell correction is ONE broadcast table of
    * nlist·(1 + m·ksub) doubles. Everything that rides the candidate
    * rows is still ids + m codes; corpus vectors are read only by the
    * exact shortlist re-rank. Both folds are left-associated and every
    * train stage reuses the proven fixed-point recipes, so the whole
    * composition sits under one DuckDB oracle. */
  def ivfPqResTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                   queries: DataFrame, queryId: Column, queryVec: Column,
                   nlist: Int, nprobe: Int, m: Int, ksub: Int, k: Int,
                   shortlist: Int, ivfIters: Int = 1, pqIters: Int = 1): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val (cvecs, acell, books, codes) =
      ivfPqResBuild(corpus, corpusId, corpusVec, nlist, m, ksub, ivfIters, pqIters)
    val cand = ivfCandOf(acell,
      ivfProbes(queries, queryId, queryVec, cvecs, nprobe))
    resAdcSearch(cvecs, acell, books, codes, cand,
      corpus, corpusId, corpusVec, queries, queryId, queryVec,
      m, ksub, k, shortlist)
  }

  /** The IVFADC index-BUILD half shared by the inline search and
    * [[ivfPqResIndex]]: trained seed cells → (centroids, final
    * assignment) → residuals vs the assigned centroid → residual PQ
    * train+encode. Centroids and assignment come back persisted —
    * they feed the residual join, the cell correction table, the qc
    * dots and the candidate join. Returns
    * (cvecs (grp, cv), corpusCells (neighbor_id, cell), books, codes). */
  private def ivfPqResBuild(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                            nlist: Int, m: Int, ksub: Int,
                            ivfIters: Int, pqIters: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cells = ivfTrainCells(corpus, corpusId, corpusVec, nlist, ivfIters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val indexed = corpus.select(corpusId.as("__ivf_id"), corpusVec.as("__ivf_v"))
      .join(cells.withColumnsRenamed(
        Map("vec_id" -> "__ivf_id", "cell" -> "__ivf_cell")), "__ivf_id")
    val (cvecs, cc0) = ivfAssign(indexed, col("__ivf_id"), col("__ivf_v"), col("__ivf_cell"))
    // cvecs is a LocalRelation (ivfAssign localizes); only the
    // corpus-sized assignment still needs a cache pin
    val acell = cc0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val resid = residualFrame(corpus, corpusId, corpusVec, acell, cvecs)
    val (books, codes) = Codec.PQ(m, ksub, pqIters).build(resid, col("rid"), col("r"))
    (cvecs, acell, books, codes)
  }

  /** `(rid, r)` residuals of each vector vs its assigned cell's
    * centroid (broadcast nlist rows) — shared by the index build and
    * the incremental append so the residual a late-arriving vector
    * encodes is exactly the one the build would have computed. `cells`
    * must carry `(neighbor_id, cell)`. */
  private def residualFrame(src: DataFrame, id: Column, vec: Column,
                            cells: DataFrame, cvecs: DataFrame): DataFrame =
    src.select(id.as("rid"), vec.cast("array<double>").as("rv"))
      .join(cells.withColumnRenamed("neighbor_id", "rid"), "rid")
      .join(broadcast(cvecs.select(col("grp").as("cell"), col("cv"))), "cell")
      .select(col("rid"), zip_with(col("rv"), col("cv"), (a, b) => a - b).as("r"))

  /** The residual-ADC search tail shared by the inline and
    * index-backed paths: per-cell correction table + per-(query, cell)
    * centroid dots + the corrected ADC fold over the candidate rows,
    * then the exact shortlist re-rank. */
  private def resAdcSearch(cvecs: DataFrame, corpusCells: DataFrame,
                           books: DataFrame, codes: DataFrame, cand: DataFrame,
                           corpus: DataFrame, corpusId: Column, corpusVec: Column,
                           queries: DataFrame, queryId: Column, queryVec: Column,
                           m: Int, ksub: Int, k: Int, shortlist: Int): DataFrame = {
    // per-cell correction table: ‖µ_c‖² and the dense
    // t2[slot] = 2·dot(µ_c_sub, cw) + ‖cw‖² array — nlist rows, broadcast
    val centSubs = pqSubvectors(cvecs, col("grp"), col("cv"), m)
    val cellTab = centSubs.join(broadcast(books), "sub")
      .select(col("vec_id").as("cell"),
        (col("sub") * ksub + col("code")).as("slot"),
        (lit(2.0) * VectorFunctions.dot(col("sv"), col("cv"))
          + VectorFunctions.dot(col("cv"), col("cv"))).as("t"))
      .groupBy(col("cell"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("t")))).as("mp"))
      .select(col("cell"),
        transform(sequence(lit(0), lit(m * ksub - 1)),
          s => coalesce(element_at(col("mp"), s), lit(0.0))).as("t2arr"))
      .join(cvecs.select(col("grp").as("cell"),
        VectorFunctions.dot(col("cv"), col("cv")).as("mu2")), "cell")
    // per-(query, cell) centroid dots — |Q|·nlist rows, broadcast
    val qc = queries.select(queryId.as("query_id"),
        queryVec.cast("array<double>").as("qv"))
      .crossJoin(broadcast(cvecs))
      .select(col("query_id"), col("grp").as("cell"),
        VectorFunctions.dot(col("qv"), col("cv")).as("qc"))
    val scored = cand
      .join(codes, col("neighbor_id") === codes("vec_id"))
      .join(corpusCells, "neighbor_id")
      .join(broadcast(pqLuts(queries, queryId, queryVec, m, ksub, books)), "query_id")
      .join(broadcast(cellTab), "cell")
      .join(broadcast(qc), Seq("query_id", "cell"))
      .select(col("query_id"), col("neighbor_id"),
        ((col("qc") + pqFold(col("lutd"), m, ksub))
          / sqrt(col("mu2") + pqFold(col("t2arr"), m, ksub))).as("approx"))
    exactReRank(approxShortlist(scored, shortlist),
      corpus, corpusId, corpusVec, queries, queryId, queryVec, k)
  }

  /** Persistable IVFADC index — the composed [[ivfIndex]]+[[Codec.PQ]]
    * story with residual encoding, i.e. the complete billion-scale
    * search state: `(centroids (cell, cv), cells (vec_id, cell),
    * codebook (sub, code, cv), codes (vec_id, codes))` with
    * byte-typed codes when ksub ≤ 128. Materialize all four as
    * tables; [[ivfPqResTopKAgainstIndex]] then searches any query
    * batch touching only broadcast centroids, the id-keyed cells and
    * codes tables, and shortlist-fetched full vectors — no training,
    * no residual computation, no corpus-wide pass at query time.
    * (m, ksub, nlist) MUST match between build and search. */
  def ivfPqResIndex(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    nlist: Int, m: Int, ksub: Int,
                    ivfIters: Int = 1, pqIters: Int = 1)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val (cvecs, acell, books, codes) =
      ivfPqResBuild(corpus, corpusId, corpusVec, nlist, m, ksub, ivfIters, pqIters)
    (cvecs.select(col("grp").as("cell"), col("cv")),
      acell.select(col("neighbor_id").as("vec_id"), col("cell")),
      books, codes)
  }

  /** Incremental IVFADC append (the C33/C1 increment discipline for the
    * ANN index): encode a NEW batch against an EXISTING
    * [[ivfPqResIndex]] — nearest-centroid assignment and residual PQ
    * encoding with the index's FROZEN centroids and codebook, no
    * retraining, no touch of the historical corpus. Returns
    * `(cells (vec_id, cell), codes (vec_id, codes))` rows to UNION
    * onto the stored index tables. Both stages are the build path's
    * own per-row functions ([[assignCells]], [[residualFrame]],
    * [[Codec.PQ]]'s encode) — appending the index's own rows reproduces its
    * tables exactly (spec-pinned), so a grown index is
    * indistinguishable from one whose encode pass saw the increment.
    * At 100 TB this is the daily-ingest shape: the increment pays
    * |inc|·nlist map-side centroid scores and one m·ksub-bounded
    * encode — work linear in the increment, zero in the history.
    * Centroid drift is the operator's documented limit: after enough
    * appends, retrain and re-encode (the build API) — same contract as
    * FAISS's add-versus-train split. */
  def ivfPqResAppend(centroids: DataFrame, books: DataFrame,
                     increment: DataFrame, incId: Column, incVec: Column,
                     m: Int, ksub: Int): (DataFrame, DataFrame) = {
    val (cells, codes, _) =
      ivfPqResAppendPinned(centroids, books, increment, incId, incVec, m, ksub)
    (cells, codes)
  }

  /** [[ivfPqResAppend]] with its internal pinned assignment frame
    * returned as the third element, for callers that own the cache
    * lifetime (the streaming append leg, which must unpersist per
    * micro-batch instead of stranding one cached frame per batch for
    * the app lifetime — the batch API's pin is clearCache-managed
    * like every other signature cache). Unpersist it only after BOTH
    * returned frames are materialized: codes derive from the pinned
    * assignment via the residual join. */
  private[graft] def ivfPqResAppendPinned(centroids: DataFrame, books: DataFrame,
                                          increment: DataFrame,
                                          incId: Column, incVec: Column,
                                          m: Int, ksub: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    graft.GraftExtensions.ensureRegistered(increment.sparkSession)
    requireCols(centroids, "centroid", "cell", "cv")
    requireCols(books, "codebook", "sub", "code", "cv")
    val cvecs = centroids.select(col("cell").as("grp"), col("cv"))
    val c = increment.select(incId.as("neighbor_id"),
      incVec.cast("array<double>").as("v"))
    val cells = assignCells(c, cvecs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val resid = residualFrame(increment, incId, incVec, cells, cvecs)
    val codes = Codec.PQ(m, ksub).encode(resid, col("rid"), col("r"), books)
    (cells.select(col("neighbor_id").as("vec_id"), col("cell")),
      codes, cells)
  }

  /** The DELETE half of every keyed ANN artifact ([[ivfPqResAppend]]'s
    * inverse, and the BQ/SQ/IVF code tables' too): drop a removal
    * batch from a `vec_id`-keyed index table by anti-join. Stats,
    * centroids and codebooks stay FROZEN — removal is not drift (the
    * remaining rows' codes were computed against those artifacts and
    * stay exactly right; only NEW distributions drift, and the
    * monitors watch for that). Ids absent from the table are no-ops,
    * so delete lists replay idempotently. Spec pins
    * remove(X) ≡ rebuild-without(X) frame-for-frame AND
    * search-for-search under the frozen artifacts.
    *
    * Scale shape: one anti-join on the key — the history is never
    * rewritten row-by-row, and a small delete list broadcasts under
    * AQE. */
  def indexRemove(table: DataFrame, ids: DataFrame,
                  key: String = "vec_id"): DataFrame = {
    require(table.columns.contains(key),
      s"index table must carry '$key'; got ${table.columns.mkString(", ")}")
    val keyType = table.schema(key).dataType
    val rem = ids.select(col(ids.columns.head).cast(keyType).as(key)).distinct()
    table.join(rem, Seq(key), "left_anti")
  }

  /** The one-argument form of the StreamIndex reader contract: a
    * still-growing streamed artifact dir must be read through
    * `indexRemove(table, tombstones)` until the next compaction
    * materializes the pruned table — passing the tombstone frame here
    * makes that guard an ARGUMENT of every `AgainstIndex` search
    * instead of caller folklore. `None` = the artifact is already
    * compacted/pruned (the batch-maintained case); the guard itself is
    * the same keyed anti-join as the takedown, so search-with-
    * tombstones ≡ search-over-rebuilt-without (spec-pinned). */
  private def tombstoneGuarded(table: DataFrame,
                               tombstones: Option[DataFrame]): DataFrame =
    tombstones.map(indexRemove(table, _)).getOrElse(table)

  /** [[indexRemove]] applied to an [[ivfPqResIndex]]'s BOTH keyed
    * artifacts in lockstep — cells and codes must shrink together or
    * a searched candidate has no code (or a code no cell). Centroids
    * and codebooks stay frozen per the [[indexRemove]] contract. */
  def ivfPqResRemove(cells: DataFrame, codes: DataFrame,
                     ids: DataFrame): (DataFrame, DataFrame) = {
    requireCols(cells, "cells", "vec_id", "cell")
    requireCols(codes, "codes", "vec_id", "codes")
    (indexRemove(cells, ids), indexRemove(codes, ids))
  }

  /** Re-crawl maintenance for the IVFADC artifacts ([[indexRemove]] ∘
    * [[ivfPqResAppend]], the [[graft.functions.Keywords.textIndexUpsert]]
    * shape): drop the updated ids' current cells/codes rows in
    * lockstep, then assign + encode the new vectors against the SAME
    * frozen centroids/codebook. Ids the index has never seen degrade
    * to a plain append (the remove leg no-ops). Returns the pruned
    * tables with the re-encoded rows unioned on — work linear in the
    * updated batch, zero in the history. Centroid/codebook staleness
    * is the append side's documented drift contract: upsert keeps the
    * artifacts frozen (the monitors watch the distribution), retrain
    * is the deliberate batch job behind [[sources.Layout
    * .publishIndexVersion]]. Spec pins upsert(X') ≡ frozen-artifact
    * rebuild-with(X') frame-for-frame AND search-for-search. */
  def ivfPqResUpsert(centroids: DataFrame, books: DataFrame,
                     cells: DataFrame, codes: DataFrame,
                     updated: DataFrame, updId: Column, updVec: Column,
                     m: Int, ksub: Int): (DataFrame, DataFrame) = {
    val (prunedCells, prunedCodes) =
      ivfPqResRemove(cells, codes, updated.select(updId))
    val (newCells, newCodes) =
      ivfPqResAppend(centroids, books, updated, updId, updVec, m, ksub)
    (prunedCells.unionByName(newCells), prunedCodes.unionByName(newCodes))
  }

  /** CDC-driven ANN index sync ([[graft.functions.Keywords
    * .textIndexSync]]'s IVFADC twin): advance the cells/codes tables
    * from corpus v1 to v2 using a corpusDiff-shaped feed — removed ∪
    * changed ids drop in lockstep, added ∪ changed vectors encode
    * against the SAME frozen centroids/codebook from the v2 payloads.
    * Index work proportional to the change set, never the corpus;
    * artifacts stay frozen per the [[indexRemove]] contract (retrain
    * is the monitors' deliberate batch job). Spec pins
    * sync(v1→v2) ≡ frozen-artifact encode of v2. */
  def ivfPqResSync(centroids: DataFrame, books: DataFrame,
                   cells: DataFrame, codes: DataFrame,
                   diff: DataFrame, newCorpus: DataFrame,
                   newId: Column, newVec: Column,
                   m: Int, ksub: Int): (DataFrame, DataFrame) = {
    require(Seq("doc_id", "status").forall(diff.columns.contains),
      s"diff must carry (doc_id, status); got ${diff.columns.mkString(", ")}")
    val stale = diff.filter(col("status").isin("removed", "changed"))
      .select(col("doc_id"))
    val freshIds = diff.filter(col("status").isin("added", "changed"))
      .select(col("doc_id"))
    val fresh = newCorpus.select(newId.as("__sync_id"), newVec.as("__sync_v"))
      .join(freshIds.select(col("doc_id").as("__sync_id")),
        Seq("__sync_id"), "left_semi")
    val (prunedCells, prunedCodes) = ivfPqResRemove(cells, codes, stale)
    val (newCells, newCodes) = ivfPqResAppend(centroids, books,
      fresh, col("__sync_id"), col("__sync_v"), m, ksub)
    (prunedCells.unionByName(newCells), prunedCodes.unionByName(newCodes))
  }

  /** [[ivfPqResTopK]] with every build artifact served from a prebuilt
    * [[ivfPqResIndex]]. `corpus` supplies full vectors for the exact
    * re-rank only. */
  def ivfPqResTopKAgainstIndex(centroids: DataFrame, cells: DataFrame,
                               books: DataFrame, codes: DataFrame,
                               corpus: DataFrame, corpusId: Column, corpusVec: Column,
                               queries: DataFrame, queryId: Column, queryVec: Column,
                               m: Int, ksub: Int, k: Int, nprobe: Int,
                               shortlist: Int,
                               tombstones: Option[DataFrame] = None): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    requireCols(centroids, "centroid", "cell", "cv")
    requireCols(cells, "cells", "vec_id", "cell")
    requireCols(books, "codebook", "sub", "code", "cv")
    requireCols(codes, "codes", "vec_id", "codes")
    val cvecs = centroids.select(col("cell").as("grp"), col("cv"))
    // both keyed artifacts guarded in lockstep (the ivfPqResRemove
    // contract): a tombstoned id neither seeds a candidate nor scores
    val corpusCells = tombstoneGuarded(cells, tombstones)
      .select(col("vec_id").as("neighbor_id"), col("cell"))
    val cand = ivfCandOf(corpusCells,
      ivfProbes(queries, queryId, queryVec, cvecs, nprobe))
    resAdcSearch(cvecs, corpusCells, books,
      tombstoneGuarded(codes, tombstones), cand,
      corpus, corpusId, corpusVec, queries, queryId, queryVec,
      m, ksub, k, shortlist)
  }

  /** Deterministic pseudo-random unit hyperplanes (fixed seed → stable
    * signatures across runs and executors). */
  private[operators] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(r.nextGaussian()))
  }

  /** Sign-bit signature of a vector against one table's hyperplanes
    * (shared with Dedup's embedding LSH candidate generation). */
  private[operators] def signature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val d = VectorFunctions.dot(vec, typedLit(p))
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All (table_id, bucket) rows for a vector column: one row per LSH
    * table, bucket = that table's sign-bit signature. */
  private[operators] def bucketRows(v: DataFrame, idName: String, vecName: String,
                                    dim: Int, tables: Int, planesPerTable: Int,
                                    seed: Long): DataFrame =
    v.select(col(idName), posexplode(array(
      (0 until tables).map { t =>
        signature(col(vecName), hyperplanes(planesPerTable, dim, seed + t))
      }: _*)).as(Seq("table_id", "bucket")))

  /** Prototypicality (SURVEY.md §2.C31): each vector's cosine to its
    * OWN trained cell centroid — the ranking signal SemDedup-family
    * pruning uses beyond the binary drop (keep the most / least
    * prototypical members of each semantic cluster). Train is
    * [[ivfTrainCells]]; the final assignment's centroids are one more
    * fixed-point aggregation, broadcast back (nlist rows) for a
    * map-side score — the corpus shuffles once (posexplode agg), never
    * as whole vectors. Returns `(vec_id, cell, proto)`; `proto` is a
    * reported metric rounded to 4 — no membership boundary rides on
    * the float. */
  def prototypicality(corpus: DataFrame, id: Column, vec: Column,
                      nlist: Int, iters: Int = 1): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    // persisted for the same reason as semDedup: (vec_id, cell) is two
    // longs per row and feeds BOTH the centroid agg and the score join —
    // without the boundary the Lloyd train pipeline executes twice
    val cells = ivfTrainCells(corpus, id, vec, nlist, iters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = corpus.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
    val assigned = v.join(cells, "vec_id")
    val cents = centroidFrame(
        assigned.select(col("cell"), col("v")), col("cell"), col("v"))
      .select(col("grp").as("cell"), col("cv"))
    assigned.join(broadcast(cents), "cell")
      .select(col("vec_id"), col("cell"),
        round(VectorFunctions.cosine(col("v"), col("cv")), 4).as("proto"))
  }

  /** Clustering-quality stats (SURVEY.md §2.C57): per-cell size and
    * sum-of-squared-error of a trained quantizer — the inertia signal
    * every k-means-family index build needs BEFORE trusting nlist/iters
    * (elbow curves, dead-cell detection, skew: one giant cell means the
    * coarse quantizer is not pruning). Train is [[ivfTrainCells]]; the
    * final assignment's centroids are one more fixed-point aggregation
    * broadcast back (nlist rows) for a map-side SSE. Returns
    * `(cell, n, sse_micro, sse)`.
    *
    * Fixed-point discipline (the C37/C56 recipe): each dimension's
    * `(x−c)²·1e9` term is truncated ONCE to a long, so the per-cell sum
    * is exact in any order and in both engines; the exposed `sse` is
    * one deterministic division of the exact integer. Scale shape: the
    * SSE terms are a `zip_with` + integer `aggregate` fold INSIDE the
    * row (no per-dimension explode at score time) — the corpus is
    * scanned once map-side against the broadcast centroids, and only
    * (cell, long) partial-agg rows shuffle. */
  def clusterStats(corpus: DataFrame, id: Column, vec: Column,
                   nlist: Int, iters: Int = 1): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    // persisted for the prototypicality reason: (vec_id, cell) feeds
    // BOTH the centroid agg and the SSE scan
    val cells = ivfTrainCells(corpus, id, vec, nlist, iters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = corpus.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
    val assigned = v.join(cells, "vec_id")
    val cents = centroidFrame(
        assigned.select(col("cell"), col("v")), col("cell"), col("v"))
      .select(col("grp").as("cell"), col("cv"))
    assigned.join(broadcast(cents), "cell")
      .select(col("cell"),
        // ANSI double→long cast truncates toward zero (DuckDB: trunc)
        aggregate(
          zip_with(col("v"), col("cv"),
            (x, c) => ((x - c) * (x - c) * lit(1e9)).cast("long")),
          lit(0L), (acc, t) => acc + t).as("vm"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("sse_micro"))
      .select(col("cell"), col("n"), col("sse_micro"),
        (col("sse_micro").cast("double") / lit(1e9)).as("sse"))
  }

  /** Per-term once-truncated squared Euclidean distance in 1e9
    * fixed-point — each `(x−c)²` term truncates to a long BEFORE the
    * sum, so the accumulated distance is an exact integer identical in
    * any summation order and any engine (the C56/C57 recipe). Shared
    * by the DBI and silhouette cluster metrics. */
  private def sqDistMicro(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, c) => ((x - c) * (x - c) * lit(1e9)).cast("long")),
      lit(0L), (acc, t) => acc + t)

  /** Davies-Bouldin index of a trained quantizer (C129; Davies &
    * Bouldin 1979) — the SEPARATION metric completing the clustering-
    * eval triad: inertia ([[clusterStats]]) measures tightness alone,
    * ARI needs labels; DB needs neither and punishes exactly the
    * failure inertia can't see — tight clusters sitting on top of
    * each other. Per cluster: RMS scatter S_i = sqrt(SSE_i/n_i) and
    * the worst similarity ratio R_i = max_{j≠i} (S_i+S_j)/‖c_i−c_j‖;
    * the corpus DB index is the mean of R_i (left to the reader of
    * the per-cluster frame — the per-cluster view is the actionable
    * one: WHICH cells to merge/re-train).
    *
    * Exactness: SSE and pairwise centroid distances accumulate as
    * once-truncated 1e9 fixed-point longs (the C56/C57 recipe), so
    * every sqrt/ratio is one pinned IEEE tree over exact integers.
    * Scale shape: the member pass is [[clusterStats]]' map-side scan
    * against broadcast centroids; everything after runs on
    * nlist-bounded frames (the nlist×nlist centroid self-join is a
    * bounded broadcast). */
  def daviesBouldin(corpus: DataFrame, id: Column, vec: Column,
                    nlist: Int, iters: Int = 1): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val cells = ivfTrainCells(corpus, id, vec, nlist, iters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = corpus.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
    val assigned = v.join(cells, "vec_id")
    val cents = centroidFrame(
        assigned.select(col("cell"), col("v")), col("cell"), col("v"))
      .select(col("grp").as("cell"), col("cv"))
    val s = assigned.join(broadcast(cents), "cell")
      .select(col("cell"), sqDistMicro(col("v"), col("cv")).as("vm"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("sse_micro"))
      .select(col("cell"), col("n"),
        sqrt(col("sse_micro").cast("double") / lit(1e9) / col("n").cast("double"))
          .as("s_raw"))
    val m2 = cents.as("a")
      .join(broadcast(cents.as("b")), col("a.cell") =!= col("b.cell"))
      .select(col("a.cell").as("gi"), col("b.cell").as("gj"),
        sqDistMicro(col("a.cv"), col("b.cv")).as("m2"))
    val r = m2
      .join(broadcast(s.select(col("cell").as("gi"), col("s_raw").as("sa"))), "gi")
      .join(broadcast(s.select(col("cell").as("gj"), col("s_raw").as("sb"))), "gj")
      .groupBy(col("gi"))
      .agg(max((col("sa") + col("sb")) /
        sqrt(col("m2").cast("double") / lit(1e9))).as("r_raw"))
      .select(col("gi").as("cell"), col("r_raw"))
    s.join(r, "cell")
      .select(col("cell"), col("n"),
        round(col("s_raw"), 6).as("s_i"),
        round(col("r_raw"), 6).as("r_max"))
  }

  /** Simplified (centroid-based) silhouette of a trained quantizer
    * (C130; Hruschka et al.'s medoid-free variant of Rousseeuw 1987)
    * — the PER-POINT read the corpus-level DBI ([[daviesBouldin]])
    * can't give: for each vector, a = distance to its own centroid,
    * b = distance to the nearest FOREIGN centroid, s = (b−a)/max(a,b)
    * ∈ [−1, 1]; negative s marks vectors sitting closer to another
    * cell than their own — the exact rows a cluster-scoped operation
    * (SemDedup, cluster-aware splits) treats least reliably. Reported
    * per cell as (n, mean_s): WHICH cells are porous, not just how
    * separated the clustering is overall.
    *
    * The classic silhouette's mean-pairwise-distance a/b is O(n²) and
    * irreparably shuffle-heavy; the centroid form is one map-side
    * pass against the broadcast nlist-row centroid frame — the same
    * scale shape as IVF assignment itself.
    *
    * Exactness: squared distances accumulate via [[sqDistMicro]]
    * (exact longs); each vector's s truncates to 1e6 fixed-point
    * BEFORE the per-cell mean, so the mean is an exact integer sum in
    * both engines. max(a,b)=0 (vector equal to both centroids) reads
    * s=0 by convention. */
  def silhouette(corpus: DataFrame, id: Column, vec: Column,
                 nlist: Int, iters: Int = 1): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val cells = ivfTrainCells(corpus, id, vec, nlist, iters)
    val v = corpus.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
    val assigned = v.join(cells, "vec_id")
    val cents = centroidFrame(
        assigned.select(col("cell"), col("v")), col("cell"), col("v"))
    val ab = assigned.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"), col("grp"),
        sqDistMicro(col("v"), col("cv")).as("d2m"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(when(col("grp") === col("cell"), col("d2m"))).as("a2m"),
        min(when(col("grp") =!= col("cell"), col("d2m"))).as("b2m"))
    val sv = ab.select(col("vec_id"), col("cell"),
      sqrt(col("a2m").cast("double") / lit(1e9)).as("a"),
      sqrt(col("b2m").cast("double") / lit(1e9)).as("b"))
    val sm = sv.select(col("cell"),
      when(greatest(col("a"), col("b")) === 0d, lit(0L))
        .otherwise(((col("b") - col("a")) / greatest(col("a"), col("b")) * lit(1e6))
          .cast("long")).as("s_micro"))
    sm.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("s_micro")).as("sm"))
      .select(col("cell"), col("n"),
        round(col("sm").cast("double") / lit(1e6) / col("n").cast("double"), 6)
          .as("mean_s"))
  }

  /** Approximate top-k: `tables` independent hyperplane tables of
    * `planesPerTable` bits each; a corpus vector is a candidate for a
    * query if they share a bucket in ANY table (OR-construction).
    *
    * Shuffle discipline: the bucket join and the candidate `distinct()`
    * carry (query_id, neighbor_id) ids only — never the vectors — so the
    * shuffle rows are ~16 bytes, not ~1 KB of 64-dim doubles. Vectors are
    * re-attached afterwards: corpus side by one equi-join on neighbor_id,
    * query side broadcast. */
  def lshTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, dim: Int, tables: Int = 16, planesPerTable: Int = 4,
              seed: Long = 42L): DataFrame = {
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    // bucket on the RAW (double-cast) vectors: the sign of dot(v, plane)
    // is scale-invariant, and hashing the unnormalized values keeps the
    // signature arithmetic bit-reproducible outside Spark (the DuckDB
    // oracle re-derives identical buckets from the same plane literals)
    val cRaw = corpus.select(corpusId.as("neighbor_id"), corpusVec.cast("array<double>").as("craw"))
    val qRaw = queries.select(queryId.as("query_id"), queryVec.cast("array<double>").as("qraw"))
    val cand = bucketRows(cRaw, "neighbor_id", "craw", dim, tables, planesPerTable, seed)
      .join(broadcast(bucketRows(qRaw, "query_id", "qraw", dim, tables, planesPerTable, seed)),
        Seq("table_id", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    exactReRank(cand, corpus, corpusId, corpusVec,
      queries, queryId, queryVec, k)
  }

  /** Clustering-vs-label agreement (SURVEY.md §2.C95; Hubert & Arabie
    * 1985): purity and the Adjusted Rand Index between a cluster
    * assignment and ground-truth labels — the evaluation every
    * clustering consumer (SemDedup cells, IVF coarse quantizers,
    * balanced-mixture planning) needs before trusting the cells:
    * inertia (C57) says the cells are TIGHT, this says they mean
    * something. ARI corrects raw pair-agreement for chance (a random
    * partition scores ~0; raw Rand inflates with many clusters).
    *
    * Exactness: the contingency table and every pair-count sum
    * `Σ x(x−1)` are exact integers, widened to DECIMAL(38,0)/HUGEINT
    * before the multiply (x(x−1) overflows a long past x ≈ 3e9 rows —
    * the pageRank lesson); the final ARI is ONE pinned IEEE tree over
    * doubles of those exact sums, identical on both engines. ARI is
    * NULL when the chance-corrected denominator is zero (both
    * partitions trivial — undefined, not 1.0). Rows missing from
    * either side are excluded (agreement over the labeled
    * intersection).
    *
    * Scale shape: one id-keyed join, one (cluster, label) grouped
    * count — contingency cells number ≤ clusters·labels, tiny — then
    * scalar aggregates crossJoined as 1-row broadcasts. Nothing
    * corpus-sized survives the first aggregation. */
  def clusterLabelAgreement(asg: DataFrame, id: Column, cluster: Column,
                            labels: DataFrame, labelId: Column,
                            label: Column): DataFrame = {
    val ct = asg.select(id.as("__id"), cluster.as("c"))
      .join(labels.select(labelId.as("__id"), label.as("l")), "__id")
      .groupBy(col("c"), col("l")).agg(count(lit(1)).as("nij"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byC = ct.groupBy(col("c"))
      .agg(sum(col("nij")).as("ai"), max(col("nij")).as("mx"))
    val totals = ct.agg(
        sum(col("nij")).as("n"),
        count_distinct(col("c")).as("n_clusters"),
        count_distinct(col("l")).as("n_labels"),
        sum(expr("CAST(nij AS DECIMAL(38,0)) * (nij - 1)")).as("tij"))
      .crossJoin(broadcast(byC.agg(
        sum(expr("CAST(ai AS DECIMAL(38,0)) * (ai - 1)")).as("ta"),
        sum(col("mx")).as("purity_hits"))))
      .crossJoin(broadcast(ct.groupBy(col("l"))
        .agg(sum(col("nij")).as("bj"))
        .agg(sum(expr("CAST(bj AS DECIMAL(38,0)) * (bj - 1)")).as("tb"))))
    val e = (col("ta").cast("double") * col("tb").cast("double")) /
      (col("n").cast("double") * (col("n") - lit(1L)).cast("double"))
    val den = (col("ta").cast("double") + col("tb").cast("double")) / lit(2.0) - e
    totals.select(col("n"), col("n_clusters"), col("n_labels"),
      col("purity_hits"),
      (col("purity_hits").cast("double") / col("n").cast("double")).as("purity"),
      when(col("n") < 2 || den === lit(0.0), lit(null).cast("double"))
        .otherwise((col("tij").cast("double") - e) / den).as("ari"))
  }
}
