package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.multimodal.Media

/** Oracle-backed similarity-search and multimodal queries
  * (SURVEY.md §2.C6-C7, C12). */
object SimilarityQueries {
  import Similarity.Codec

  /** Build `codec`'s index over the embeddings and search `qset`
    * against it — flat, or bounded by an [[Similarity.ivfIndex]] of
    * `nlist` cells probed `nprobe` per query when `ivf = Some((nlist,
    * nprobe))`. */
  private def codecTopK(e: DataFrame, qset: DataFrame, codec: Codec,
                        k: Int, shortlist: Int,
                        ivf: Option[(Int, Int)] = None): DataFrame = {
    val coarse = ivf.map { case (nlist, nprobe) =>
      val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"), nlist)
      Similarity.Ivf(cents, cells, nprobe)
    }
    val (stats, codes) = Similarity.annIndex(codec, e, col("vec_id"), col("embedding"))
    Similarity.annSearch(codec, stats, codes, e, col("vec_id"), col("embedding"),
      qset, col("vec_id"), col("embedding"), k, shortlist, coarse)
  }

  /** Query set: vec_id < 10 against the full corpus (self excluded). */
  val qBrute = Q(
    "qann_brute_topk",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.bruteTopK(
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 10),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(c.v, q.v) AS cos
        FROM e c JOIN q ON c.vec_id != q.vec_id),
      r AS (SELECT query_id, neighbor_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
              ROUND(cos, 4) AS cosine
            FROM scored)
      SELECT query_id, neighbor_id, rank, cosine
      FROM r WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Full-parity DuckDB oracle for the LSH path: the deterministic
    * hyperplanes are embedded as double literals (Double.toString
    * round-trips bit-exactly) and each signature dot product is an
    * explicit LEFT-ASSOCIATED sum chain, matching `graft_vec_dot`'s
    * accumulation order — so both engines compute bit-identical float64
    * dots, identical signs, identical buckets, identical candidates.
    * Spark buckets on the raw double-cast vectors for the same reason.
    * Cosine/rank parity is the same formulation qann_brute_topk's green
    * oracle already proves. */
  private def lshOracleSql(dim: Int, tables: Int, planesPerTable: Int,
                           seed: Long, k: Int): String = {
    def chain(p: Seq[Double]): String =
      p.zipWithIndex.map { case (w, i) => s"v[${i + 1}]*($w)" }.mkString(" + ")
    val bcols = (0 until tables).map { t =>
      val planes = Similarity.hyperplanes(planesPerTable, dim, seed + t)
      val bits = planes.zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN (${chain(p)}) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"($bits) AS b$t"
    }.mkString(", ")
    val orCond = (0 until tables).map(t => s"c.b$t = q.b$t").mkString(" OR ")
    s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      sig AS (SELECT vec_id, $bcols FROM e),
      qs AS (SELECT * FROM sig WHERE vec_id < 10),
      cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM sig c JOIN qs q ON ($orCond)
        WHERE c.vec_id != q.vec_id),
      scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               list_cosine_similarity(c.v, q.v) AS cos
        FROM cand
        JOIN e c ON c.vec_id = cand.neighbor_id
        JOIN e q ON q.vec_id = cand.query_id),
      r AS (SELECT query_id, neighbor_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
              ROUND(cos, 4) AS cosine
            FROM scored)
      SELECT query_id, neighbor_id, rank, cosine
      FROM r WHERE rank <= $k
      ORDER BY query_id, rank"""
  }

  val qLsh = Q(
    "qann_lsh_bucketed",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.lshTopK(
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5, dim = 64)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(lshOracleSql(dim = 64, tables = 16, planesPerTable = 4, seed = 42L, k = 5)))

  /** Full algorithm-parity IVF oracle: the fixed-point centroid CTE is
    * qvec_centroid's proven-identical formulation; cell assignment and
    * probing replicate the same argmax (score desc, cell asc) in SQL;
    * cosine/rank parity is the formulation qann_brute_topk's green
    * oracle already proves. */
  /** Centroid-probe CTEs over a `cells0(vec_id, grp)` assignment:
    * fixed-point centroids, corpus re-assignment argmax (`acell`),
    * per-query nprobe probing (`qprobe`) — the SQL twin of
    * Similarity.ivfCandidates' front-end, shared by every IVF-family
    * oracle so the probe recipe can't drift. */
  private def ivfProbeCtes(nprobe: Int, nq: Int,
                           dim: Option[Int] = None): String = {
    val vr = dim.map(d => s"range(0, $d)").getOrElse("range(0, len(e2.embedding))")
    val vx = dim.map(d => s"(CAST(e2.embedding AS DOUBLE[]))[1:$d]")
      .getOrElse("CAST(e2.embedding AS DOUBLE[])")
    val ev = dim.map(d => s"e.v[1:$d]").getOrElse("e.v")
    s"""
      u AS (SELECT c0.grp,
              unnest($vr) AS pos,
              unnest($vx) AS x
            FROM embeddings e2 JOIN cells0 c0 ON e2.vec_id = c0.vec_id),
      cent AS (SELECT grp, pos,
                 (CAST(SUM(CAST(trunc(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
                   / COUNT(*) AS c
               FROM u GROUP BY grp, pos),
      cvecs AS (SELECT grp, list(c ORDER BY pos) AS cv FROM cent GROUP BY grp),
      ascore AS (SELECT e.vec_id, cvecs.grp,
                   list_cosine_similarity($ev, cvecs.cv) AS s
                 FROM e, cvecs),
      ranked AS (SELECT vec_id, grp,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, grp) AS rn
                 FROM ascore),
      acell AS (SELECT vec_id, grp AS cell FROM ranked WHERE rn = 1),
      qprobe AS (SELECT vec_id AS query_id, grp AS cell
                 FROM ranked WHERE vec_id < $nq AND rn <= $nprobe)"""
  }

  /** The exact-re-rank tail every candidate oracle shares — `cand`
    * must hold (query_id, neighbor_id). */
  private def reRankSql(candCte: String, k: Int): String = s"""
      scored AS (SELECT $candCte.query_id, $candCte.neighbor_id,
                   list_cosine_similarity(c.v, qv.v) AS cos
                 FROM $candCte
                 JOIN e c ON c.vec_id = $candCte.neighbor_id
                 JOIN e qv ON qv.vec_id = $candCte.query_id),
      r AS (SELECT query_id, neighbor_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
              ROUND(cos, 4) AS cosine
            FROM scored)
      SELECT query_id, neighbor_id, rank, cosine
      FROM r WHERE rank <= $k
      ORDER BY query_id, rank"""

  /** `cells0Ctes` must end in a `cells0(vec_id, grp)` CTE — the cell
    * assignment the index is built from (plain labels, or the trained
    * hash-seeded Lloyd cells). The tail is shared. */
  private def ivfOracleSql(cells0Ctes: String, k: Int, nprobe: Int,
                           candFilter: String = "",
                           nq: Int = 10,
                           probeDim: Option[Int] = None): String =
    s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      $cells0Ctes,
      ${ivfProbeCtes(nprobe, nq = nq, dim = probeDim)},
      cand AS (SELECT q.query_id, a.vec_id AS neighbor_id
               FROM qprobe q JOIN acell a ON a.cell = q.cell
               WHERE a.vec_id != q.query_id$candFilter),
      ${reRankSql("cand", k)}"""

  val qIvf = Q(
    "qann_ivf",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.ivfTopK(
          e, col("vec_id"), col("embedding"), col("label"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5, nprobe = 2)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfOracleSql("cells0 AS (SELECT vec_id, label AS grp FROM embeddings)",
      k = 5, nprobe = 2)))

  /** `iters` hash-seeded Lloyd steps as CTEs ending in cells0: FNV
    * pmod init cells, then per step fixed-point centroids → argmax
    * re-assignment. Every stage reuses an already-proven parity
    * recipe; the chain is generated per iteration (k0 → k1 → … →
    * k`iters`) because each step's centroids depend on the previous
    * step's assignment. */
  private[operators] def trainedCellsCtes(nlist: Int, iters: Int = 1,
                                          dim: Option[Int] = None): String = {
    val init = s"""${graft.Q.sqlutil.fnvSignedCtes("t",
        "'ivf:' || CAST(vec_id AS VARCHAR)", Seq("vec_id"), "embeddings")},
      k0 AS (SELECT vec_id, ((sb % $nlist) + $nlist) % $nlist AS grp
             FROM tg)"""
    val steps = (1 to iters).map { i =>
      val p = i - 1
      val vr = dim.map(d => s"range(0, $d)").getOrElse(s"range(0, len(e$i.embedding))")
      val vx = dim.map(d => s"(CAST(e$i.embedding AS DOUBLE[]))[1:$d]")
        .getOrElse(s"CAST(e$i.embedding AS DOUBLE[])")
      val ev = dim.map(d => s"e.v[1:$d]").getOrElse("e.v")
      s"""u$i AS (SELECT k$p.grp,
               unnest($vr) AS pos,
               unnest($vx) AS x
             FROM embeddings e$i JOIN k$p ON e$i.vec_id = k$p.vec_id),
      cent$i AS (SELECT grp, pos,
                  (CAST(SUM(CAST(trunc(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
                    / COUNT(*) AS c
                FROM u$i GROUP BY grp, pos),
      cv$i AS (SELECT grp, list(c ORDER BY pos) AS cv FROM cent$i GROUP BY grp),
      as$i AS (SELECT e.vec_id, cv$i.grp,
                list_cosine_similarity($ev, cv$i.cv) AS s
              FROM e, cv$i),
      k$i AS (SELECT vec_id, grp FROM (
                   SELECT vec_id, grp,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, grp) AS rn
                   FROM as$i)
                 WHERE rn = 1)"""
    }
    (init +: steps).mkString(",\n      ") +
      s",\n      cells0 AS (SELECT vec_id, grp FROM k$iters)"
  }

  /** The same IVF search over a LABEL-FREE quantizer: hash-seeded
    * cells refined by one engine-reproducible Lloyd step. Removes the
    * labels-as-cells stand-in — this is the full train+index+search
    * story under one oracle. */
  val qIvfTrained = Q(
    "qann_ivf_trained",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val cells = Similarity.ivfTrainCells(e, col("vec_id"), col("embedding"),
        nlist = 10, iters = 1)
      val indexed = e.join(cells, "vec_id")
      Similarity.ivfTopK(
          indexed, col("vec_id"), col("embedding"), col("cell"),
          indexed.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5, nprobe = 2)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfOracleSql(trainedCellsCtes(nlist = 10), k = 5, nprobe = 2)))

  /** The index-backed IVF search under the SAME oracle as the inline
    * trained path: ivfIndex materializes (centroids, cells) with the
    * identical re-assignment the inline front-end computes, so
    * searching against the index is result-identical — the oracle
    * equality proves the build/search split changes the COST model
    * (no corpus-wide pass at query time), not the answer. */
  val qIvfIndexed = Q(
    "qann_ivf_indexed",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
        nlist = 10, iters = 1)
      Similarity.ivfTopKAgainstIndex(cents, cells,
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5, nprobe = 2)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfOracleSql(trainedCellsCtes(nlist = 10), k = 5, nprobe = 2)))

  /** C150: the C149 curve's scale path made concrete — IVF trained,
    * assigned and probed entirely on the 16-dim Matryoshka prefix,
    * with the exact re-rank on full 64-dim vectors. The oracle is the
    * proven trained-IVF recipe with every quantizer-side vector
    * sliced [1:16] (probeDim/dim parameters) and the UNTOUCHED
    * full-dim re-rank tail — parity proves truncation moved only the
    * candidate boundary, never the scoring. */
  val qIvfMrl = Q(
    "qann_ivf_mrl",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val cells = Similarity.ivfTrainCells(e, col("vec_id"),
        slice(col("embedding"), 1, 16), nlist = 10, iters = 1)
      val indexed = e.join(cells, "vec_id")
      Similarity.ivfTopKTruncated(
          indexed, col("vec_id"), col("embedding"), col("cell"),
          indexed.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          prefixDims = 16, k = 5, nprobe = 2)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfOracleSql(trainedCellsCtes(nlist = 10, dim = Some(16)),
      k = 5, nprobe = 2, probeDim = Some(16))))

  /** C94: k-NN graph — EVERY corpus vector is a query against the
    * trained IVF index (self excluded), yielding the neighborhood
    * graph SemDedup-style clustering, graph dedup, and label-
    * propagation pipelines consume. The scale story is the whole
    * point: a brute kNN graph is O(n²) by definition, the
    * index-probed build is per-vector O(nprobe · cell); the queries
    * frame being the corpus itself changes no plan shape (the probe
    * side broadcasts only centroids). Oracle = the proven IVF recipe
    * with the probe set widened to every vector. */
  val qKnnGraph = Q(
    "qann_knn_graph",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
        nlist = 10, iters = 1)
      Similarity.ivfTopKAgainstIndex(cents, cells,
          e, col("vec_id"), col("embedding"),
          e, col("vec_id"), col("embedding"),
          k = 5, nprobe = 2)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfOracleSql(trainedCellsCtes(nlist = 10), k = 5, nprobe = 2,
      nq = Int.MaxValue)))

  /** C79 exact baseline: top-k among even-label rows only — the
    * PRE-filter semantics (true top-k of the eligible subset; a
    * post-filtered unfiltered top-k under-returns whenever the
    * predicate kills an unfiltered winner, which the label cut here
    * does for most queries). Oracle = the brute formulation with the
    * predicate on the corpus side only. */
  val qFiltered = Q(
    "qann_filtered",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.filteredTopK(
          e, col("vec_id"), col("embedding"),
          pmod(col("label"), lit(2)) === 0,
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 10),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(c.v, q.v) AS cos
        FROM e c JOIN q ON c.vec_id != q.vec_id
        WHERE c.label % 2 = 0),
      r AS (SELECT query_id, neighbor_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
              ROUND(cos, 4) AS cosine
            FROM scored)
      SELECT query_id, neighbor_id, rank, cosine
      FROM r WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** C79 scale path: the SAME predicate pushed into the prebuilt
    * index's cells table (id-only semi-join) before the probe join —
    * the index is built predicate-free on the full corpus, searched
    * under the filter. One oracle composing the proven trained-cells
    * probe recipe with the candidate-side predicate. */
  val qFilteredIvf = Q(
    "qann_filtered_ivf",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
        nlist = 10, iters = 1)
      Similarity.ivfTopKFilteredAgainstIndex(cents, cells,
          e, col("vec_id"), col("embedding"),
          pmod(col("label"), lit(2)) === 0,
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5, nprobe = 2)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfOracleSql(trainedCellsCtes(nlist = 10), k = 5, nprobe = 2,
      candFilter =
        " AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)")))

  /** C84: semi-hard negatives for the pairs (a, a+100), a < 8 — the
    * band cut compares two values of the ONE proven cosine
    * formulation, so the boundary is engine-exact. */
  val qHardNeg = Q(
    "qann_hardneg",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val pairs = e.select(col("vec_id").as("a"), (col("vec_id") + 100).as("p"))
        .filter(col("a") < 8)
      Similarity.hardNegatives(
          e, col("vec_id"), col("embedding"),
          pairs, col("a"), col("p"), k = 5, margin = 0.0)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      pr AS (SELECT a.vec_id AS query_id, a.vec_id + 100 AS pos_id,
               a.v AS av, p.v AS pv
             FROM e a JOIN e p ON p.vec_id = a.vec_id + 100
             WHERE a.vec_id < 8),
      pc AS (SELECT query_id, pos_id, av,
               list_cosine_similarity(av, pv) AS pcos FROM pr),
      sc AS (SELECT pc.query_id, pc.pos_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(c.v, pc.av) AS ncos, pc.pcos
             FROM e c JOIN pc
               ON c.vec_id != pc.query_id AND c.vec_id != pc.pos_id
             WHERE list_cosine_similarity(c.v, pc.av) < pc.pcos - 0.0),
      r AS (SELECT query_id, pos_id, neighbor_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id, pos_id
                ORDER BY ncos DESC, neighbor_id) AS BIGINT) AS rank,
              ROUND(ncos, 4) AS cosine, ROUND(pcos, 4) AS pos_cosine
            FROM sc)
      SELECT query_id, pos_id, neighbor_id, rank, cosine, pos_cosine
      FROM r WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** C83 oracle: the greedy MMR loop unrolled as k CTE steps — each
    * step anti-joins the shortlist against the selected set, computes
    * the max-redundancy term over selected vectors, and picks the
    * (score desc, cid asc) argmax. Cosines are list_cosine_similarity
    * (proven bit-equal to the engine's normalized-dot); the score tree
    * `λ·rel − (1−λ)·COALESCE(div, 0)` mirrors the Spark expression
    * term for term. Shortlist/k kept small: DuckDB inlines the cand
    * CTE once per reference, so the unrolled chain re-evaluates it
    * O(k) times (harmless at nq=5, shortlist=20). */
  private def mmrOracleSql(nq: Int, shortlist: Int, k: Int, lam: Double): String = {
    val om = 1.0 - lam
    val sb = new StringBuilder(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < $nq),
      sc0 AS (SELECT q.vec_id AS query_id, c.vec_id AS cid,
                list_cosine_similarity(c.v, q.v) AS rel, c.v AS cv
              FROM e c JOIN q ON c.vec_id != q.vec_id),
      cand AS (SELECT query_id, cid, rel, cv FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, cid) AS rn FROM sc0)
               WHERE rn <= $shortlist),
      p1 AS (SELECT query_id, cid, cv, score, CAST(1 AS BIGINT) AS step FROM (
               SELECT query_id, cid, cv,
                 ($lam * rel - $om * 0.0) AS score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY ($lam * rel - $om * 0.0) DESC, cid) AS rn
               FROM cand) WHERE rn = 1),
      sel1 AS (SELECT query_id, cid, cv FROM p1)""")
    for (t <- 2 to k) {
      val p = t - 1
      sb ++= s""",
      d$t AS (SELECT c.query_id, c.cid,
                MAX(list_cosine_similarity(c.cv, s.cv)) AS div
              FROM cand c JOIN sel$p s ON s.query_id = c.query_id
              GROUP BY 1, 2),
      p$t AS (SELECT query_id, cid, cv, score, CAST($t AS BIGINT) AS step FROM (
               SELECT c.query_id, c.cid, c.cv,
                 ($lam * c.rel - $om * COALESCE(d.div, 0.0)) AS score,
                 ROW_NUMBER() OVER (PARTITION BY c.query_id
                   ORDER BY ($lam * c.rel - $om * COALESCE(d.div, 0.0)) DESC,
                     c.cid) AS rn
               FROM cand c
               ANTI JOIN sel$p a ON a.query_id = c.query_id AND a.cid = c.cid
               LEFT JOIN d$t d ON d.query_id = c.query_id AND d.cid = c.cid)
              WHERE rn = 1),
      sel$t AS (SELECT query_id, cid, cv FROM sel$p
                UNION ALL SELECT query_id, cid, cv FROM p$t)"""
    }
    sb ++= "\n      " + (1 to k).map(t =>
      s"SELECT query_id, step, cid AS neighbor_id, ROUND(score, 6) AS score FROM p$t")
      .mkString(" UNION ALL ")
    sb ++= "\n      ORDER BY query_id, step"
    sb.toString
  }

  val qMmr = Q(
    "qann_mmr",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.mmrTopK(
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
          k = 3, shortlist = 20, lambda = 0.5)
        .transform(Q.orderedDump(_, col("query_id"), col("step")))
    },
    Some(mmrOracleSql(nq = 5, shortlist = 20, k = 3, lam = 0.5)))

  /** Two Lloyd iterations under the same oracle: proves the
    * fixed-point k-means refinement COMPOSES engine-exactly — iteration
    * 2's centroids are built from iteration 1's oracle-identical
    * assignment, so any drift would compound and surface here. */
  val qIvfTrained2 = Q(
    "qann_ivf_trained2",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val cells = Similarity.ivfTrainCells(e, col("vec_id"), col("embedding"),
        nlist = 10, iters = 2)
      val indexed = e.join(cells, "vec_id")
      Similarity.ivfTopK(
          indexed, col("vec_id"), col("embedding"), col("cell"),
          indexed.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5, nprobe = 2)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfOracleSql(trainedCellsCtes(nlist = 10, iters = 2), k = 5, nprobe = 2)))

  /** Full-parity PQ oracle (C38): per-subspace FNV-seeded Lloyd train
    * (the trainedCellsCtes recipe, composite (sub, code) key over
    * array slices), cosine argmax encode, then the ADC stage with the
    * SAME left-associated addition order as the Spark fold — the
    * m-way self-join chain materializes each subspace's lookup as a
    * column so `((d0+d1)+d2)+d3` is explicit. The shortlist boundary
    * therefore compares identical doubles; the exact re-rank is the
    * proven brute formulation. */
  /** PQ train/encode/LUT CTEs, all `p`-prefixed so they compose with
    * the IVF cell CTEs (which own the bare k0…/u…/cent… names). Emits
    * …`pk$iters` (the final per-(vec, sub) codes), `plut` (per-query
    * subvector·codeword dots), `pn2` (codeword squared norms).
    * `src`/`vcol` select the frame and vector column the quantizer
    * trains and encodes on (the raw corpus `e.v` for plain PQ, the
    * residual frame for IVFADC); `lutSubv` names the subvector CTE the
    * per-query LUT reads — it must stay the RAW query slices when the
    * corpus side is residual-encoded (queries are never residualized:
    * the cell correction term carries dot(q, µ) instead). */
  private def pqCtes(m: Int, ksub: Int, dsub: Int, nq: Int, iters: Int,
                     src: String = "e", vcol: String = "v",
                     lutSubv: String = "psubv"): String = {
    val train = (1 to iters).map { i =>
      val p = i - 1
      s"""pu$i AS (SELECT s.sub, pk$p.code,
               unnest(range(0, len(s.sv))) AS pos, unnest(s.sv) AS x
             FROM psubv s JOIN pk$p ON pk$p.vec_id = s.vec_id AND pk$p.sub = s.sub),
      pcent$i AS (SELECT sub, code, pos,
                  (CAST(SUM(CAST(trunc(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
                    / COUNT(*) AS c
                FROM pu$i GROUP BY sub, code, pos),
      pbooks$i AS (SELECT sub, code, list(c ORDER BY pos) AS cv
                  FROM pcent$i GROUP BY sub, code),
      pasg$i AS (SELECT s.vec_id, s.sub, b.code,
                  list_cosine_similarity(s.sv, b.cv) AS sc
                FROM psubv s JOIN pbooks$i b ON b.sub = s.sub),
      pk$i AS (SELECT vec_id, sub, code FROM (
                SELECT vec_id, sub, code,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY sc DESC, code) AS rn
                FROM pasg$i) WHERE rn = 1)"""
    }.mkString(",\n      ")
    s"""psubv AS (SELECT vec_id, j AS sub,
                 $vcol[CAST(j * $dsub + 1 AS BIGINT):CAST(j * $dsub + $dsub AS BIGINT)] AS sv
               FROM $src, UNNEST(range(0, $m)) t(j)),
      ${graft.Q.sqlutil.fnvSignedCtes("pq",
        "'pq:' || CAST(sub AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)",
        Seq("vec_id", "sub"), "psubv")},
      pk0 AS (SELECT vec_id, sub, ((sb % $ksub) + $ksub) % $ksub AS code FROM pqg),
      $train,
      plut AS (SELECT s.vec_id AS query_id, s.sub, b.code,
                list_inner_product(s.sv, b.cv) AS d
              FROM $lutSubv s JOIN pbooks$iters b ON b.sub = s.sub
              WHERE s.vec_id < $nq),
      pn2 AS (SELECT sub, code, list_inner_product(cv, cv) AS nn FROM pbooks$iters)"""
  }

  /** The LEFT-ASSOCIATED m-term list-indexing chain mirroring
    * Similarity.pqFold — shared by the plain and residual ADC CTEs. */
  private def adcChain(m: Int, ksub: Int)(arr: String, codes: String): String =
    (0 until m).map { j =>
      s"$arr[CAST(${j * ksub} AS BIGINT) + $codes[${j + 1}] + 1]"
    }.reduceLeft((acc, t) => s"($acc + $t)")

  /** The ADC + shortlist CTEs, structurally mirroring the Spark fold:
    * per-vector code LISTS and dense per-query/1-row lookup LISTS,
    * scored by a LEFT-ASSOCIATED chain of list indexings (identical
    * addition order → the float shortlist boundary compares identical
    * doubles). List indexing — not an m-way join: DuckDB inlines a CTE
    * per reference, so joining `pk$iters` m times re-evaluates the
    * whole train chain m times (observed: the composed IVF+PQ oracle
    * never finished). `restrict` = None scores every (query, vector)
    * pair (plain PQ); Some(cte) scores only that CTE's pairs (IVF+PQ).
    * Emits `cand(query_id, neighbor_id)`. */
  private def adcCtes(m: Int, ksub: Int, nq: Int, iters: Int, shortlist: Int,
                      restrict: Option[String]): String = {
    val chain = adcChain(m, ksub) _
    val pairSrc = restrict match {
      case Some(cte) =>
        s"""FROM $cte rc
              JOIN pcodes pc ON pc.vec_id = rc.neighbor_id
              JOIN plutarr pl ON pl.query_id = rc.query_id"""
      case None =>
        "FROM pcodes pc CROSS JOIN plutarr pl"
    }
    s"""pcodes AS (SELECT vec_id, list(code ORDER BY sub) AS codes
                 FROM pk$iters GROUP BY vec_id),
      pslots AS (SELECT i AS slot FROM range(0, ${m * ksub}) t(i)),
      plutarr AS (SELECT q.query_id,
                    list(COALESCE(l.d, 0.0) ORDER BY s.slot) AS lutd
                  FROM (SELECT vec_id AS query_id FROM e WHERE vec_id < $nq) q
                  CROSS JOIN pslots s
                  LEFT JOIN plut l ON l.query_id = q.query_id
                    AND l.sub = s.slot // $ksub AND l.code = s.slot % $ksub
                  GROUP BY q.query_id),
      pn2arr AS (SELECT list(COALESCE(n.nn, 0.0) ORDER BY s.slot) AS n2arr
                 FROM pslots s LEFT JOIN pn2 n
                   ON n.sub = s.slot // $ksub AND n.code = s.slot % $ksub),
      adc AS (SELECT pl.query_id, pc.vec_id AS neighbor_id,
                ${chain("pl.lutd", "pc.codes")} AS dotsum,
                ${chain("pn.n2arr", "pc.codes")} AS norm2
              $pairSrc
              CROSS JOIN pn2arr pn),
      srt AS (SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY dotsum / sqrt(norm2) DESC, neighbor_id) AS srank
              FROM adc WHERE neighbor_id != query_id),
      cand AS (SELECT query_id, neighbor_id FROM srt WHERE srank <= $shortlist)"""
  }

  private def pqOracleSql(m: Int, ksub: Int, dsub: Int, k: Int,
                          shortlist: Int, nq: Int, iters: Int = 1): String =
    s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${pqCtes(m, ksub, dsub, nq, iters)},
      ${adcCtes(m, ksub, nq, iters, shortlist, restrict = None)},
      ${reRankSql("cand", k)}"""

  /** PQ-ADC search end to end under one oracle: train (per-subspace
    * Lloyd), encode (m codes per vector), ADC shortlist, exact
    * re-rank. m=4 subspaces × ksub=8 codewords over the dim-64
    * embeddings; shortlist 50 of 500. */
  val qPq = Q(
    "qann_pq",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      codecTopK(e, e.filter(col("vec_id") < 10), Codec.PQ(m = 4, ksub = 8, iters = 1),
          k = 5, shortlist = 50)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(pqOracleSql(m = 4, ksub = 8, dsub = 16, k = 5, shortlist = 50, nq = 10)))

  /** Two per-subspace Lloyd iterations under the same oracle — the
    * qann_ivf_trained2 discipline applied to the product quantizer:
    * iteration 2's codebooks are built from iteration 1's
    * oracle-identical assignment, so any fixed-point drift in the
    * per-subspace train chain would compound and surface here. */
  val qPq2 = Q(
    "qann_pq2",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      codecTopK(e, e.filter(col("vec_id") < 10), Codec.PQ(m = 4, ksub = 8, iters = 2),
          k = 5, shortlist = 50)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(pqOracleSql(m = 4, ksub = 8, dsub = 16, k = 5, shortlist = 50,
      nq = 10, iters = 2)))

  /** IVF+PQ composed (C39): the coarse trained cells bound WHICH
    * vectors are ADC-scored, the codes bound WHAT is read — the
    * complete FAISS-style index under ONE oracle composing the two
    * proven generators (trainedCellsCtes + pqCtes, probe + restricted
    * ADC). */
  val qIvfPq = Q(
    "qann_ivfpq",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      codecTopK(e, e.filter(col("vec_id") < 10), Codec.PQ(m = 4, ksub = 8),
          k = 5, shortlist = 30, ivf = Some((10, 3)))
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10)},
      ${ivfProbeCtes(nprobe = 3, nq = 10)},
      cand0 AS (SELECT q.query_id, a.vec_id AS neighbor_id
                FROM qprobe q JOIN acell a ON a.cell = q.cell
                WHERE a.vec_id != q.query_id),
      ${pqCtes(m = 4, ksub = 8, dsub = 16, nq = 10, iters = 1)},
      ${adcCtes(m = 4, ksub = 8, nq = 10, iters = 1, shortlist = 30,
        restrict = Some("cand0"))},
      ${reRankSql("cand", k = 5)}"""))

  /** The residual-ADC + shortlist CTEs (IVFADC): numerator
    * `qc + Σ lut[code]`, denominator `√(‖µ‖² + Σ t2_cell[code])` —
    * the SQL twin of ivfPqResTopK's scoring, same left association on
    * both folds. Needs `cvecs`/`acell` (probe CTEs), `cand0`
    * (restricted pairs) and the `p`-CTEs trained on the residual
    * frame. Emits `cand`. */
  private def resAdcCtes(m: Int, ksub: Int, dsub: Int, nq: Int, iters: Int,
                         shortlist: Int): String = {
    val chain = adcChain(m, ksub) _
    s"""pcodes AS (SELECT vec_id, list(code ORDER BY sub) AS codes
                 FROM pk$iters GROUP BY vec_id),
      pslots AS (SELECT i AS slot FROM range(0, ${m * ksub}) t(i)),
      plutarr AS (SELECT q.query_id,
                    list(COALESCE(l.d, 0.0) ORDER BY s.slot) AS lutd
                  FROM (SELECT vec_id AS query_id FROM e WHERE vec_id < $nq) q
                  CROSS JOIN pslots s
                  LEFT JOIN plut l ON l.query_id = q.query_id
                    AND l.sub = s.slot // $ksub AND l.code = s.slot % $ksub
                  GROUP BY q.query_id),
      csubv AS (SELECT grp AS cell, j AS sub,
                  cv[CAST(j * $dsub + 1 AS BIGINT):CAST(j * $dsub + $dsub AS BIGINT)] AS sv
                FROM cvecs, UNNEST(range(0, $m)) t(j)),
      ct2 AS (SELECT c.cell, b.sub, b.code,
                2.0 * list_inner_product(c.sv, b.cv)
                  + list_inner_product(b.cv, b.cv) AS t
              FROM csubv c JOIN pbooks$iters b ON b.sub = c.sub),
      ct2arr AS (SELECT cl.cell, list(COALESCE(t.t, 0.0) ORDER BY s.slot) AS t2arr
                 FROM (SELECT DISTINCT cell FROM csubv) cl
                 CROSS JOIN pslots s
                 LEFT JOIN ct2 t ON t.cell = cl.cell
                   AND t.sub = s.slot // $ksub AND t.code = s.slot % $ksub
                 GROUP BY cl.cell),
      cmu2 AS (SELECT grp AS cell, list_inner_product(cv, cv) AS mu2 FROM cvecs),
      qcd AS (SELECT e.vec_id AS query_id, cvecs.grp AS cell,
                list_inner_product(e.v, cvecs.cv) AS qc
              FROM e, cvecs WHERE e.vec_id < $nq),
      adc AS (SELECT rc.query_id, rc.neighbor_id,
                (qcd.qc + ${chain("pl.lutd", "pc.codes")}) AS dotsum,
                (cmu2.mu2 + ${chain("t2.t2arr", "pc.codes")}) AS norm2
              FROM cand0 rc
              JOIN acell a ON a.vec_id = rc.neighbor_id
              JOIN pcodes pc ON pc.vec_id = rc.neighbor_id
              JOIN plutarr pl ON pl.query_id = rc.query_id
              JOIN ct2arr t2 ON t2.cell = a.cell
              JOIN cmu2 ON cmu2.cell = a.cell
              JOIN qcd ON qcd.query_id = rc.query_id AND qcd.cell = a.cell),
      srt AS (SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY dotsum / sqrt(norm2) DESC, neighbor_id) AS srank
              FROM adc WHERE neighbor_id != query_id),
      cand AS (SELECT query_id, neighbor_id FROM srt WHERE srank <= $shortlist)"""
  }

  /** IVF+PQ with residual encoding (C42, IVFADC): the full composed
    * oracle — trained coarse cells, residual computation vs the
    * assigned centroid, per-subspace residual Lloyd train, and the
    * corrected ADC score — under the one-oracle discipline of qann_pq
    * / qann_ivfpq. */
  /** The one IVFADC oracle definition (C42) — shared verbatim by the
    * inline query and the drop-and-append query, whose results must be
    * identical because append-with-frozen-artifacts is the build
    * path's own per-row function. */
  private def ivfPqResOracleSql: String = s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10)},
      ${ivfProbeCtes(nprobe = 3, nq = 10)},
      cand0 AS (SELECT q.query_id, a.vec_id AS neighbor_id
                FROM qprobe q JOIN acell a ON a.cell = q.cell
                WHERE a.vec_id != q.query_id),
      rsd AS (SELECT e.vec_id,
                [e.v[CAST(i + 1 AS BIGINT)] - cvecs.cv[CAST(i + 1 AS BIGINT)]
                 FOR i IN range(0, len(e.v))] AS r
              FROM e JOIN acell a ON a.vec_id = e.vec_id
              JOIN cvecs ON cvecs.grp = a.cell),
      qsubv AS (SELECT vec_id, j AS sub,
                  v[CAST(j * 16 + 1 AS BIGINT):CAST(j * 16 + 16 AS BIGINT)] AS sv
                FROM e, UNNEST(range(0, 4)) t(j) WHERE vec_id < 10),
      ${pqCtes(m = 4, ksub = 8, dsub = 16, nq = 10, iters = 1,
        src = "rsd", vcol = "r", lutSubv = "qsubv")},
      ${resAdcCtes(m = 4, ksub = 8, dsub = 16, nq = 10, iters = 1, shortlist = 30)},
      ${reRankSql("cand", k = 5)}"""

  val qIvfPqRes = Q(
    "qann_ivfpq_res",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.ivfPqResTopK(
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          nlist = 10, nprobe = 3, m = 4, ksub = 8, k = 5, shortlist = 30,
          ivfIters = 1, pqIters = 1)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfPqResOracleSql))

  /** Incremental IVFADC append under the SAME full oracle as the
    * inline path: build the index on the whole corpus, DROP a 20%
    * slice from the stored cells/codes tables, re-add that slice
    * through [[Similarity.ivfPqResAppend]] (frozen-artifact assignment
    * + residual encode — the daily-ingest path), and search the
    * reassembled index. Any divergence between the append path's
    * assignment/encode and the build's breaks hash equality with
    * qann_ivfpq_res's proven oracle — the qann_ivf_indexed discipline
    * applied to index growth. */
  val qIvfPqApp = Q(
    "qann_ivfpq_app",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val slice = col("vec_id") % 5 === 3
      val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
        e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8,
        ivfIters = 1, pqIters = 1)
      val (appCells, appCodes) = Similarity.ivfPqResAppend(
        cents, books, e.filter(slice), col("vec_id"), col("embedding"),
        m = 4, ksub = 8)
      Similarity.ivfPqResTopKAgainstIndex(
          cents,
          cells.filter(not(col("vec_id") % 5 === 3)).unionByName(appCells),
          books,
          codes.filter(not(col("vec_id") % 5 === 3)).unionByName(appCodes),
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfPqResOracleSql))

  /** Index DELETE propagation under the SAME full oracle a third time
    * (qann_ivfpq_app inverted): grow the built index with a junk
    * slice — real vectors re-id'd past the corpus, encoded through
    * the frozen-artifact append path so their rows interleave into
    * the same cells/codes tables — then [[Similarity.ivfPqResRemove]]
    * the junk ids and search. The pruned index must be
    * hash-identical to never having appended at all; a code row
    * surviving its cell row (or vice versa) breaks the lockstep
    * contract and this oracle. */
  val qIvfPqRm = Q(
    "qann_ivfpq_rm",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
        e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8,
        ivfIters = 1, pqIters = 1)
      val junk = e.filter(col("vec_id") % 5 === 3)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
      val (junkCells, junkCodes) = Similarity.ivfPqResAppend(
        cents, books, junk, col("vec_id"), col("embedding"), m = 4, ksub = 8)
      val (prunedCells, prunedCodes) = Similarity.ivfPqResRemove(
        cells.unionByName(junkCells), codes.unionByName(junkCodes),
        junk.select(col("vec_id")))
      Similarity.ivfPqResTopKAgainstIndex(
          cents, prunedCells, books, prunedCodes,
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfPqResOracleSql))

  /** Re-crawl UPSERT under the SAME full oracle a fourth time: a 20%
    * slice is re-crawled with IDENTICAL vectors — the remove leg drops
    * its cells/codes rows, the append leg re-encodes them against the
    * frozen artifacts, and by the append-parity law (the build path's
    * own per-row functions) the reassembled index must be
    * hash-identical to the untouched build. The modified-content form
    * is spec-pinned (upsert(X') ≡ frozen-artifact rebuild-with(X'));
    * this registered form driver-gates the composition's plumbing. */
  val qIvfPqUpsert = Q(
    "qann_ivfpq_upsert",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
        e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8,
        ivfIters = 1, pqIters = 1)
      val slice = e.filter(col("vec_id") % 5 === 2)
        .select(col("vec_id"), col("embedding"))
      val (upCells, upCodes) = Similarity.ivfPqResUpsert(
        cents, books, cells, codes, slice, col("vec_id"), col("embedding"),
        m = 4, ksub = 8)
      Similarity.ivfPqResTopKAgainstIndex(
          cents, upCells, books, upCodes,
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfPqResOracleSql))

  /** C158: the retrain loop's PUBLISH leg driver-gated end-to-end
    * under the SAME full oracle a fifth time (the qtext_bm25_indexed
    * discipline extended to the index family a retrain actually
    * rewrites): build the four IVFADC artifacts, land them through
    * [[graft.sources.Layout.publishIndexVersion]] (one `gen=<n>` dir +
    * atomic commit marker), resolve them back with `readIndexVersion`
    * (one generation, never a mix), and serve the search purely from
    * the PUBLISHED frames. Oracle equality with qann_ivfpq_res proves
    * the publish/read round-trip changes the storage model — never one
    * scored bit — which is exactly the atomicity obligation of a
    * 100 TB retrain: readers flip generations whole. */
  val qIvfPqPub = Q(
    "qann_ivfpq_pub",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
        e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8,
        ivfIters = 1, pqIters = 1)
      val base = graft.Q.scratchDir(s, "q_ivfpq_pub")
      graft.sources.Layout.publishIndexVersion(s, base, Map(
        "centroids" -> cents, "cells" -> cells,
        "books" -> books, "codes" -> codes))
      val (_, art) = graft.sources.Layout.readIndexVersion(s, base,
        Seq("centroids", "cells", "books", "codes"))
      Similarity.ivfPqResTopKAgainstIndex(
          art("centroids"), art("cells"), art("books"), art("codes"),
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfPqResOracleSql))

  val qDecode = Q(
    "qmm_decode_meta",
    (s, dir) => {
      val docs = Media.withFakeBlob(Tables(s, dir).documents, col("text"))
      Media.decodeMeta(docs, col("doc_id"), col("media"))
        .orderBy(col("media_id"))
    },
    Some("""
      SELECT doc_id AS media_id,
        16 + octet_length(encode(text)) % 113 AS width,
        16 + (octet_length(encode(text)) * 7) % 97 AS height,
        CAST(3 AS BIGINT) AS channels,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
      ORDER BY media_id"""))

  /** C159: WAV/PCM audio metadata (r17 — the qmm_decode_meta
    * discipline on the audio codec): the synthetic blobs are not WAVs,
    * so every row takes the DETERMINISTIC stub whose integer-exact
    * formulas the oracle replays verbatim — the driver gate thus pins
    * the codec boundary's plumbing (schema, NULL contract, stub
    * dispatch) while the REAL `javax.sound.sampled` parse is
    * golden-pinned in WavSpec on an in-memory-authored WAV. */
  val qWavMeta = Q(
    "qmm_wav_meta",
    (s, dir) => {
      val docs = Media.withFakeBlob(Tables(s, dir).documents, col("text"))
      Media.decodeWavMeta(docs, col("doc_id"), col("media"))
        .orderBy(col("media_id"))
    },
    Some("""
      WITH n AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
                 FROM documents),
      m AS (SELECT doc_id, n,
              1 + n % 2 AS channels,
              8 * (1 + n % 3) AS bit_depth,
              8000 + (n * 3) % 40001 AS sample_rate
            FROM n),
      f AS (SELECT *, n // (channels * (bit_depth // 8)) AS n_frames FROM m)
      SELECT doc_id AS media_id, sample_rate, channels, bit_depth, n_frames,
             n_frames * 1000000 // sample_rate AS duration_us, n AS n_bytes
      FROM f ORDER BY media_id"""))

  /** C163 (r17): REAL end-to-end audio decode under the oracle — the
    * one leg `qmm_wav_meta` could not cover (the synthetic corpus has
    * no real audio, so that gate pins only the stub dispatch). Here
    * the query AUTHORS a genuine 16-bit mono WAV per document through
    * the real `AudioSystem` encoder, decodes it back through the real
    * `javax.sound.sampled` parse, and computes integer-exact windowed
    * PCM features (energy / peak / zero-crossings) with pure codegen
    * column ops; the oracle replays the authoring formula and the
    * feature arithmetic in SQL. Any header mis-parse, byte-order or
    * signedness slip, or off-by-one in the window slicing breaks the
    * hash — this is the image-codec `qmm_byte_histogram` discipline
    * upgraded to prove the DECODER, not just the plumbing. */
  val qWavFeatures = Q(
    "qmm_wav_features",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val wavs = Media.withAuthoredWav(docs, col("doc_id"),
        lit(64L) + pmod(col("doc_id"), lit(129L)))
      Media.wavSamples(wavs, col("media_id"), col("media"))
        .select(col("media_id"),
          explode(Media.pcmWindowFeatures(col("samples"), 32)).as("f"))
        .select(col("media_id"), col("f.win_idx").as("win_idx"),
          col("f.n_samples").as("n_samples"), col("f.energy").as("energy"),
          col("f.peak").as("peak"), col("f.zcr").as("zcr"))
        .transform(Q.orderedDump(_, col("media_id"), col("win_idx")))
    },
    Some("""
      WITH d AS (SELECT doc_id, 64 + doc_id % 129 AS ns FROM documents),
      s AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i,
              ((doc_id * 31 + CAST(u.i AS BIGINT) * 17) % 65536) - 32768 AS v
            FROM d, UNNEST(range(ns)) AS u(i)),
      z AS (SELECT doc_id, i, v, i // 32 AS win_idx,
              LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
            FROM s)
      SELECT doc_id AS media_id, win_idx,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(v * v) AS BIGINT) AS energy,
             CAST(MAX(abs(v)) AS BIGINT) AS peak,
             CAST(SUM(CASE WHEN i % 32 > 0 AND pv * v < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS zcr
      FROM z GROUP BY 1, 2
      ORDER BY media_id, win_idx"""))

  /** C164 (r17): REAL end-to-end image decode under the oracle —
    * `qmm_wav_features`' image sibling, closing the same gap for the
    * `ImageIO` path (every other image gate feeds fake blobs, so only
    * the stub dispatch was driver-gated; the real parse lived in
    * specs). Authors a genuine PNG per document through the real
    * encoder (pixel formula pinned at [[Media.MediaCodec.authorPng]]),
    * drives the real decode through `decodeMeta` (header parse:
    * width/height/channels) AND the nearest-resize kernel (raster
    * access: every byte of the 4×4×3 output unpivoted), and the
    * oracle replays the pixel formula + the integer index mapping
    * `src = dst·srcDim div 4`. PNG is lossless 8-bit truecolor, so
    * any decode, channel-order, or resize-geometry slip breaks the
    * hash on some (media_id, pos). */
  val qPngDecode = Q(
    "qmm_png_decode",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      // persisted: both the meta branch and the resize branch consume
      // the authored frame — without the pin each branch re-runs the
      // PNG ENCODE (the chain's cost center) from the raw scan.
      // clearCache-managed like every other signature cache.
      val pngs = Media.withAuthoredPng(docs, col("doc_id"),
        lit(4L) + pmod(col("doc_id"), lit(13L)),
        lit(4L) + pmod(col("doc_id") * lit(3L), lit(11L)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val meta = Media.decodeMeta(pngs, col("media_id"), col("media"))
        .select(col("media_id"), col("width"), col("height"), col("channels"))
      val px = Media.resize(pngs, col("media_id"), col("media"), 4, 4)
        .select(col("media_id"), posexplode(expr(
          "transform(sequence(0, 47), i -> " +
            "CAST(conv(hex(substring(resized, i + 1, 1)), 16, 10) AS BIGINT))"))
          .as(Seq("pos", "value")))
      meta.join(px, "media_id")
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          col("pos").cast("long").as("pos"), col("value"))
        .transform(Q.orderedDump(_, col("media_id"), col("pos")))
    },
    Some("""
      WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 4 + (doc_id * 3) % 11 AS h
                 FROM documents),
      cells AS (SELECT doc_id, w, h, CAST(u.p AS BIGINT) AS pos
                FROM d, UNNEST(range(48)) AS u(p)),
      m AS (SELECT doc_id, w, h, pos,
              (pos % 12) // 3 AS x, pos // 12 AS y, pos % 3 AS c
            FROM cells),
      src AS (SELECT doc_id, w, h, pos, c,
              (x * w) // 4 AS sx, (y * h) // 4 AS sy
            FROM m)
      SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
             CAST(h AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels, pos,
             CAST(CASE c
               WHEN 0 THEN (doc_id * 31 + sx * 7 + sy * 13) % 256
               WHEN 1 THEN (doc_id * 17 + sx * 11 + sy * 3) % 256
               ELSE (doc_id * 23 + sx * 5 + sy * 19) % 256 END AS BIGINT) AS value
      FROM src ORDER BY media_id, pos"""))

  /** C143: aspect-ratio bucketing over decode metadata — the all-
    * integer nearest-ratio argmin (keys multiplied through by
    * lcm(dens) so no float ratio forms; ties to the earlier ladder
    * entry) and the packShards-discipline within-bucket batch order.
    * The oracle replays the stub decode dims, the same integer keys
    * via a ladder VALUES table with ROW_NUMBER tie-break, and the
    * unsigned-FNV within-bucket positions. */
  val qArBuckets = Q(
    "qmm_ar_buckets",
    (s, dir) => {
      val docs = Media.withFakeBlob(Tables(s, dir).documents, col("text"))
      Media.arBuckets(Media.decodeMeta(docs, col("doc_id"), col("media")))
        .orderBy(col("media_id"))
    },
    Some(s"""
      WITH meta AS (SELECT doc_id AS media_id,
              CAST(16 + octet_length(encode(text)) % 113 AS BIGINT) AS width,
              CAST(16 + (octet_length(encode(text)) * 7) % 97 AS BIGINT) AS height
            FROM documents),
      lad AS (SELECT * FROM (VALUES (1, 1, 1), (2, 4, 3), (3, 3, 4), (4, 16, 9),
                                    (5, 9, 16), (6, 3, 2), (7, 2, 3)) t(idx, bn, bd)),
      scored AS (SELECT media_id, width, height, idx, bn, bd,
              abs(width * bd - bn * height) * (144 // bd) AS k
            FROM meta CROSS JOIN lad),
      best AS (SELECT media_id, width, height, bn || ':' || bd AS bucket
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY k, idx) AS rn
                  FROM scored) WHERE rn = 1),
      ${graft.Q.sqlutil.fnvSignedCtes("ab",
        "'arb:' || CAST(media_id AS VARCHAR)",
        Seq("media_id", "width", "height", "bucket"), "best")},
      pos AS (SELECT media_id, width, height, bucket,
              CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY fh, media_id)
                AS BIGINT) AS pos
            FROM abf)
      SELECT media_id, width, height, bucket, pos, (pos - 1) // 8 AS batch_idx
      FROM pos ORDER BY media_id"""))

  val qFrames = Q(
    "qmm_frame_sample",
    (s, dir) => {
      val docs = Media.withFakeBlob(Tables(s, dir).documents, col("text"))
      val fr = Media.frames(col("media"), 256)
      docs.select(
          col("doc_id").as("media_id"),
          size(fr).cast("long").as("n_frames"),
          size(Media.sampleFrames(fr, 4)).cast("long").as("n_sampled"),
          length(element_at(fr, -1)).cast("long").as("last_frame_bytes"))
        .orderBy(col("media_id"))
    },
    Some("""
      WITH f AS (SELECT doc_id, octet_length(encode(text)) AS n,
                        CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS nf
                 FROM documents)
      SELECT doc_id AS media_id, nf AS n_frames,
        (nf + 3) // 4 AS n_sampled,
        n - (nf - 1) * 256 AS last_frame_bytes
      FROM f
      ORDER BY media_id"""))

  /** The byteHistogram feature extractor under an oracle: nonzero
    * histogram bins unpivoted to (media_id, byte, freq) rows. Both
    * engines compute freq as a SINGLE-precision division of exact
    * integer counts (Spark: the Float array math; DuckDB: FLOAT/FLOAT)
    * then widen to double — float widening is exact, so parity rests
    * only on both divisions rounding once to float. ord(char) = byte
    * is the same ASCII-corpus assumption as the FNV oracles. */
  /** ANN recall evaluation (C53): LSH result vs brute truth at the
    * registered queries' own parameters. The oracle COMPOSES the two
    * already-green oracle chains as subqueries (each referenced once —
    * the DuckDB CTE-inlining trap doesn't bite) and re-derives the
    * same join-and-count, so a recall drift in either engine path
    * breaks the gate. */
  val qRecall = Q(
    "qann_recall",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val qset = e.filter(col("vec_id") < 10)
      val truth = Similarity.bruteTopK(
        e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"), k = 5)
      val res = Similarity.lshTopK(
        e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"),
        k = 5, dim = 64)
      Similarity.annRecall(truth, res).transform(Q.orderedDump(_, col("query_id")))
    },
    Some(s"""
      WITH truth AS (SELECT query_id, neighbor_id FROM (${qBrute.oracle.get}) tb),
           res AS (SELECT query_id, neighbor_id FROM (${qLsh.oracle.get}) tr)
      SELECT t.query_id,
        CAST(COUNT(*) AS BIGINT) AS truth_n,
        CAST(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        ROUND(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 4) AS recall
      FROM truth t LEFT JOIN res r
        ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
      ORDER BY t.query_id"""))

  /** Recall-vs-nprobe curve (C102): the tuning table every IVF
    * deployment needs — micro-averaged recall@5 of the trained index
    * at nprobe 1, 2, and 10 against the brute truth, in ONE query.
    * nprobe = nlist probes every cell, so its row is the built-in
    * sanity anchor: recall must be exactly 1.0 (the re-rank is the
    * brute formulation on the full candidate set). The truth frame
    * persists (three consumers); each probe reuses the ONE trained
    * index — what varies is only the probe set, which is the whole
    * point of the curve. The oracle instantiates the proven IVF
    * recipe once per nprobe plus the brute chain, each subquery
    * referenced exactly once (the CTE-inlining discipline), and
    * re-derives the same micro-average: sum(hits)/sum(truth_n) of
    * exact integers, one ROUND. */
  val qRecallCurve = Q(
    "qann_recall_curve",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val qset = e.filter(col("vec_id") < 10)
      val truth = Similarity.bruteTopK(
          e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"),
          k = 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
        nlist = 10, iters = 1)
      Seq(1, 2, 10).map { np =>
        val res = Similarity.ivfTopKAgainstIndex(cents, cells,
          e, col("vec_id"), col("embedding"),
          qset, col("vec_id"), col("embedding"), k = 5, nprobe = np)
        Similarity.annRecall(truth, res)
          .agg(sum(col("truth_n")).as("truth_n"), sum(col("hits")).as("hits"))
          .select(lit(np.toLong).as("nprobe"), col("truth_n"), col("hits"),
            round(col("hits").cast("double") / col("truth_n"), 4).as("recall"))
      }.reduce(_.unionByName(_)).orderBy(col("nprobe"))
    },
    Some {
      def leg(np: Int) = s"""(SELECT query_id, neighbor_id FROM
        (${ivfOracleSql(trainedCellsCtes(nlist = 10), k = 5, nprobe = np)}) s$np)"""
      def row(np: Int) = s"""
      SELECT CAST($np AS BIGINT) AS nprobe,
        CAST(COUNT(*) AS BIGINT) AS truth_n,
        CAST(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        ROUND(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 4) AS recall
      FROM (SELECT query_id, neighbor_id FROM (${qBrute.oracle.get}) tb) t
      LEFT JOIN ${leg(np)} r
        ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id"""
      s"""SELECT * FROM (${row(1)} UNION ALL ${row(2)} UNION ALL ${row(10)})
          ORDER BY nprobe"""
    })

  /** C149: the Matryoshka truncation recall curve — brute recall@5 of
    * the 8-, 16- and 32-dim prefixes against the 64-dim truth. The
    * oracle instantiates the PROVEN brute formulation once per prefix
    * (v[1:d] slices — cosine is scale-invariant, no re-normalize) and
    * re-derives the same micro-average of exact integers. */
  val qMatryoshka = Q(
    "qann_matryoshka",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.matryoshkaRecallCurve(
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          dims = Seq(8, 16, 32), k = 5)
        .orderBy(col("dims"))
    },
    Some {
      def leg(d: Int) = s"""(
        WITH e AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:$d] AS v
                   FROM embeddings),
        q AS (SELECT * FROM e WHERE vec_id < 10),
        scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(c.v, q.v) AS cos
                   FROM e c JOIN q ON c.vec_id != q.vec_id),
        rr AS (SELECT query_id, neighbor_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
               FROM scored)
        SELECT query_id, neighbor_id FROM rr WHERE rank <= 5)"""
      def row(d: Int) = s"""
        SELECT CAST($d AS BIGINT) AS dims,
          CAST(COUNT(*) AS BIGINT) AS truth_n,
          CAST(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
          ROUND(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 4) AS recall
        FROM (SELECT query_id, neighbor_id FROM (${qBrute.oracle.get}) tb) t
        LEFT JOIN ${leg(d)} r
          ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id"""
      s"""SELECT * FROM (${row(8)} UNION ALL ${row(16)} UNION ALL ${row(32)})
          ORDER BY dims"""
    })

  /** SQ8 scalar-quantized ANN (C54) under a full algorithm-parity
    * oracle: per-dim min/max stats (exactly order-independent — no
    * accumulation), the encode round/clamp, the dequantize arithmetic
    * and the shortlist are all mirrored term-for-term; the shortlist
    * ranks on the cosine TRUNCATED to 1e-9 in both engines (the
    * fixed-point-centroid quantization discipline), so the float
    * association difference between `graft_vec_dot` and DuckDB's
    * `list_cosine_similarity` cannot move the shortlist boundary.
    * Final cosine/rank parity is qann_brute_topk's proven
    * formulation. */
  val qSq = Q(
    "qann_sq",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      codecTopK(e, e.filter(col("vec_id") < 10), Codec.SQ8, k = 5, shortlist = 50)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      st AS (SELECT i AS d, MIN(v[i]) AS lo, MAX(v[i]) AS hi
             FROM e, UNNEST(range(1, len(v)+1)) u(i) GROUP BY i),
      sr AS (SELECT list(lo ORDER BY d) AS los, list(hi ORDER BY d) AS his FROM st),
      dec AS (SELECT e.vec_id,
                list_transform(range(1, len(e.v)+1), i ->
                  sr.los[i] + CAST(CASE WHEN sr.his[i] = sr.los[i] THEN 0
                    ELSE LEAST(255, GREATEST(0,
                      CAST(ROUND((e.v[i]-sr.los[i])/(sr.his[i]-sr.los[i])*255) AS INT)))
                    END AS DOUBLE) * (sr.his[i]-sr.los[i]) / 255.0) AS dv
              FROM e, sr),
      q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
      scored AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                   CAST(trunc(list_cosine_similarity(d.dv, q.v) * 1e9) AS BIGINT) AS approx
                 FROM dec d JOIN q ON d.vec_id != q.vec_id),
      sl AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS srn
               FROM scored) t WHERE srn <= 50),
      rr AS (SELECT sl.query_id, sl.neighbor_id,
               list_cosine_similarity(c.v, qq.v) AS cos
             FROM sl JOIN e c ON c.vec_id = sl.neighbor_id
                   JOIN q qq ON qq.vec_id = sl.query_id),
      r AS (SELECT query_id, neighbor_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
              ROUND(cos, 4) AS cosine
            FROM rr)
      SELECT query_id, neighbor_id, rank, cosine FROM r WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** C154: 1-bit binary-quantized ANN under a full algorithm-parity
    * oracle: the per-dim integer mean thresholds (order-independent
    * exact sums), the multiply-through-by-n bit rule, the 32-bit fold
    * packing, the xor+bit_count Hamming shortlist (exact INTEGERS —
    * the one approximate scan in this module whose shortlist boundary
    * needs no float-quantization discipline) and the exact re-rank
    * are mirrored term-for-term; the re-rank tail is qann_sq's proven
    * formulation. */
  /** The C154 threshold/bit/pack chain as CTEs over an existing
    * `e(vec_id, v)` — fx (fixed-point components, NULL/empty vectors
    * excluded: the BQ encode contract), st (per-dim exact-integer
    * threshold sums), sr (1-row dense arrays), bits (vfx·n > s), words
    * (32-bit pack fold). ONE definition shared by the linear-scan
    * oracle ([[bqOracleSql]]) and the IVF-bounded composition
    * ([[ivfBqOracleSql]]), mirroring bqWordsExpr being the one Spark
    * definition. */
  private val bqWordCtes: String = """
      fx AS (SELECT vec_id,
               [CAST(ROUND(v[i] * 1000000) AS BIGINT) FOR i IN range(1, len(v)+1)] AS vfx
             FROM e WHERE v IS NOT NULL AND len(v) > 0),
      st AS (SELECT i AS d, CAST(SUM(vfx[i]) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
             FROM fx, UNNEST(range(1, len(vfx)+1)) u(i) GROUP BY i),
      sr AS (SELECT list(s ORDER BY d) AS ss, list(n ORDER BY d) AS ns FROM st),
      bits AS (SELECT f.vec_id,
                 [CASE WHEN f.vfx[i] * sr.ns[i] > sr.ss[i] THEN 1 ELSE 0 END
                  FOR i IN range(1, len(f.vfx)+1)] AS b
               FROM fx f, sr),
      words AS (SELECT vec_id,
                  [list_reduce(list_prepend(CAST(0 AS BIGINT), b[(w-1)*32+1 : (w-1)*32+32]),
                     (acc, x) -> acc * 2 + x)
                   FOR w IN range(1, CAST(ceil(len(b)/32.0) AS INT)+1)] AS cw
                FROM bits)"""

  /** The C154 oracle chain at a given shortlist — shared by the main
    * query (50) and the recall gate's tighter leg (20). */
  private def bqOracleSql(shortlist: Int): String = s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      $bqWordCtes,
      qw AS (SELECT vec_id AS query_id, cw AS qcw FROM words WHERE vec_id < 10),
      scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                   CAST(list_sum([bit_count(xor(c.cw[i], q.qcw[i]))
                     FOR i IN range(1, len(c.cw)+1)]) AS BIGINT) AS hm
                 FROM words c JOIN qw q ON c.vec_id != q.query_id),
      sl AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hm ASC, neighbor_id) AS srn
               FROM scored) t WHERE srn <= $shortlist),
      q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
      rr AS (SELECT sl.query_id, sl.neighbor_id,
               list_cosine_similarity(c.v, qq.v) AS cos
             FROM sl JOIN e c ON c.vec_id = sl.neighbor_id
                   JOIN q qq ON qq.vec_id = sl.query_id),
      r AS (SELECT query_id, neighbor_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
              ROUND(cos, 4) AS cosine
            FROM rr)
      SELECT query_id, neighbor_id, rank, cosine FROM r WHERE rank <= 5
      ORDER BY query_id, rank"""

  val qBq = Q(
    "qann_bq",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      codecTopK(e, e.filter(col("vec_id") < 10), Codec.BQ, k = 5, shortlist = 50)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(bqOracleSql(50)))

  /** C154b: the BQ recall gate — recall@5 of the Hamming shortlist at
    * a TIGHT shortlist (20 of 500) against the brute truth: the
    * decision table for how small the 32×-cheaper first pass can cut
    * before precision pays. Composes the two proven oracle chains
    * (each referenced once — the CTE-inlining discipline). */
  val qBqRecall = Q(
    "qann_bq_recall",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val qset = e.filter(col("vec_id") < 10)
      val truth = Similarity.bruteTopK(
        e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"), k = 5)
      val res = codecTopK(e, qset, Codec.BQ, k = 5, shortlist = 20)
      Similarity.annRecall(truth, res).transform(Q.orderedDump(_, col("query_id")))
    },
    Some(s"""
      WITH truth AS (SELECT query_id, neighbor_id FROM (${qBrute.oracle.get}) tb),
           res AS (SELECT query_id, neighbor_id FROM (${bqOracleSql(20)}) tr)
      SELECT t.query_id,
        CAST(COUNT(*) AS BIGINT) AS truth_n,
        CAST(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        ROUND(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 4) AS recall
      FROM truth t LEFT JOIN res r
        ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
      ORDER BY t.query_id"""))

  /** C154d oracle: same word chain, but the query side keeps its
    * fixed-point components (fx, never thresholded) and each corpus
    * row scores Σ qfx·(2b−1) — scored from the `bits` CTE, which the
    * words pack verbatim, so a wrong Spark-side UNPACK (shift/mask
    * layout) breaks parity here. */
  private def bqAsymOracleSql(k: Int, shortlist: Int): String = s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      $bqWordCtes,
      qf AS (SELECT vec_id AS query_id, vfx AS qfx FROM fx WHERE vec_id < 10),
      ascored AS (SELECT q.query_id, b.vec_id AS neighbor_id,
                    CAST(list_sum([q.qfx[i] * (2 * b.b[i] - 1)
                      FOR i IN range(1, len(b.b)+1)]) AS BIGINT) AS sc
                  FROM bits b JOIN qf q ON b.vec_id != q.query_id),
      sl AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sc DESC, neighbor_id) AS srn
               FROM ascored) t WHERE srn <= $shortlist),
      ${reRankSql("sl", k)}"""

  /** C154d: asymmetric BQ — the corpus stays 1-bit packed (identical
    * index bytes) but the query is never quantized; each row scores
    * the query's fixed-point components under the bit pattern's signs.
    * Registered at the recall gate's tight 20-of-500 cut so its
    * numbers sit directly beside qann_bq_recall's symmetric leg. */
  val qBqAsym = Q(
    "qann_bq_asym",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      codecTopK(e, e.filter(col("vec_id") < 10), Codec.AsymBQ, k = 5, shortlist = 20)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(bqAsymOracleSql(k = 5, shortlist = 20)))

  /** C154c oracle: the proven trained-IVF candidate chain (cells0 →
    * probe → cand, the qann_ivf_trained recipe verbatim) feeding the
    * proven BQ word chain's Hamming rank — the composition is a JOIN
    * of the two green oracles, exactly mirroring the Spark side where
    * annSearch joins the IVF candidate pairs to BQ's Hamming score.
    * `hscored` avoids the `scored` name reRankSql owns. */
  private def ivfBqOracleSql(k: Int, nprobe: Int, shortlist: Int): String = s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10)},
      ${ivfProbeCtes(nprobe, nq = 10)},
      cand AS (SELECT q.query_id, a.vec_id AS neighbor_id
               FROM qprobe q JOIN acell a ON a.cell = q.cell
               WHERE a.vec_id != q.query_id),
      $bqWordCtes,
      qw AS (SELECT vec_id AS query_id, cw AS qcw FROM words WHERE vec_id < 10),
      hscored AS (SELECT cand.query_id, cand.neighbor_id,
                    CAST(list_sum([bit_count(xor(c.cw[i], q.qcw[i]))
                      FOR i IN range(1, len(c.cw)+1)]) AS BIGINT) AS hm
                  FROM cand JOIN words c ON c.vec_id = cand.neighbor_id
                       JOIN qw q ON q.query_id = cand.query_id),
      sl AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hm ASC, neighbor_id) AS srn
               FROM hscored) t WHERE srn <= $shortlist),
      ${reRankSql("sl", k)}"""

  /** C154c: IVF+BQ — the composition that makes the 32×-cheaper BQ
    * first pass CORPUS-BOUNDED (probe nprobe cells, Hamming-score only
    * their members' packed codes, exact re-rank): the FAISS
    * IVF+binary-refine architecture. Both quantizers train by their
    * already-proven engine-reproducible recipes, so the whole
    * composition sits under one DuckDB oracle (the C39 pattern). */
  val qIvfBq = Q(
    "qann_ivf_bq",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      codecTopK(e, e.filter(col("vec_id") < 10), Codec.BQ, k = 5, shortlist = 20,
          ivf = Some((10, 2)))
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfBqOracleSql(k = 5, nprobe = 2, shortlist = 20)))

  /** C154e: the composed pass's recall gate — recall@5 of IVF+BQ at
    * the production settings (nprobe 2 of 10 cells × the tight
    * 20-of-500 shortlist) against the brute truth: the decision table
    * for the JOINT cost of the cell bound and the Hamming cut, read
    * beside C154b (shortlist alone) and C53 (cells alone) to see which
    * bound is eating the recall. Composes two proven oracle chains,
    * each referenced once (the CTE-inlining discipline). */
  val qIvfBqRecall = Q(
    "qann_ivf_bq_recall",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val qset = e.filter(col("vec_id") < 10)
      val truth = Similarity.bruteTopK(
        e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"), k = 5)
      val res = codecTopK(e, qset, Codec.BQ, k = 5, shortlist = 20, ivf = Some((10, 2)))
      Similarity.annRecall(truth, res).transform(Q.orderedDump(_, col("query_id")))
    },
    Some(s"""
      WITH truth AS (SELECT query_id, neighbor_id FROM (${qBrute.oracle.get}) tb),
           res AS (SELECT query_id, neighbor_id
                   FROM (${ivfBqOracleSql(k = 5, nprobe = 2, shortlist = 20)}) tr)
      SELECT t.query_id,
        CAST(COUNT(*) AS BIGINT) AS truth_n,
        CAST(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        ROUND(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 4) AS recall
      FROM truth t LEFT JOIN res r
        ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
      ORDER BY t.query_id"""))

  /** C154h's batch twin under the driver gate: per-dimension bit
    * populations of the whole corpus under its own trained thresholds
    * (bucket = 2·d + bit — the EXACT distribution the streaming drift
    * monitor accumulates and PSIs). The oracle unnests the pre-pack
    * `bits` CTE, so the monitored distribution is hash-pinned to the
    * same bit rule the stored words pack. */
  val qBqBitCounts = Q(
    "qann_bq_bitcounts",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val stats = Codec.BQ.train(e, col("vec_id"), col("embedding"))
      Similarity.bqBitCounts(e, col("embedding"), stats)
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      $bqWordCtes,
      db AS (SELECT u.i - 1 AS d, b[u.i] AS bit
             FROM bits, UNNEST(range(1, len(b)+1)) u(i))
      SELECT 'bq' AS grp, CAST(2*d + bit AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM db GROUP BY 2 ORDER BY bucket"""))

  /** C154j's batch twin under the driver gate: trained-IVF cell
    * occupancy via the frozen-centroid assignment operator the
    * streaming monitor rides — the oracle rolls up the SAME `acell`
    * chain every composed-search oracle candidate-joins, so a drifted
    * argmax (tie-break included) breaks hash parity here. */
  val qIvfCellCounts = Q(
    "qann_ivf_cellcounts",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val (cents, _) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
        nlist = 10)
      Similarity.ivfCellCounts(e, col("vec_id"), col("embedding"), cents)
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10)},
      ${ivfProbeCtes(nprobe = 1, nq = 1)}
      SELECT 'ivf' AS grp, CAST(cell AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM acell GROUP BY 2 ORDER BY bucket"""))

  /** C154g oracle: the trained-IVF candidate chain (the qann_ivf_bq
    * recipe verbatim) feeding the asymmetric sign-sum rank (the
    * qann_bq_asym scorer CTE over the candidate pairs, scored from the
    * `bits` CTE the words pack verbatim) — the composition is again a
    * JOIN of two green oracles, exactly mirroring the Spark side where
    * annSearch joins the IVF candidate pairs to AsymBQ's
    * bqAsymScore sign-sum. */
  private def ivfBqAsymOracleSql(k: Int, nprobe: Int, shortlist: Int): String = s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10)},
      ${ivfProbeCtes(nprobe, nq = 10)},
      cand AS (SELECT q.query_id, a.vec_id AS neighbor_id
               FROM qprobe q JOIN acell a ON a.cell = q.cell
               WHERE a.vec_id != q.query_id),
      $bqWordCtes,
      qf AS (SELECT vec_id AS query_id, vfx AS qfx FROM fx WHERE vec_id < 10),
      ascored AS (SELECT cand.query_id, cand.neighbor_id,
                    CAST(list_sum([q.qfx[i] * (2 * b.b[i] - 1)
                      FOR i IN range(1, len(b.b)+1)]) AS BIGINT) AS sc
                  FROM cand JOIN bits b ON b.vec_id = cand.neighbor_id
                       JOIN qf q ON q.query_id = cand.query_id),
      sl AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sc DESC, neighbor_id) AS srn
               FROM ascored) t WHERE srn <= $shortlist),
      ${reRankSql("sl", k)}"""

  /** C154g: IVF + asymmetric BQ — the composed pass with the
    * recall-recovering scorer: the coarse quantizer bounds WHICH packed
    * codes are scored, the never-quantized query scores each
    * candidate's bit pattern with its own fixed-point magnitudes.
    * Registered at qann_ivf_bq's exact settings (nprobe 2 of 10,
    * shortlist 20) so the two compositions' recall reads side by side;
    * the asym-beats-sym gate at these settings is spec-pinned. */
  val qIvfBqAsym = Q(
    "qann_ivf_bq_asym",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      codecTopK(e, e.filter(col("vec_id") < 10), Codec.AsymBQ, k = 5, shortlist = 20,
          ivf = Some((10, 2)))
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(ivfBqAsymOracleSql(k = 5, nprobe = 2, shortlist = 20)))

  /** C154g's recall gate beside C154e: recall@5 of IVF+asym-BQ at the
    * SAME production settings as the symmetric composition's gate
    * (nprobe 2 of 10 × shortlist 20) against the brute truth — read
    * the two tables side by side to see what the query's magnitudes
    * buy back at an identical cell bound and identical index bytes.
    * Composes two proven oracle chains, each referenced once. */
  val qIvfBqAsymRecall = Q(
    "qann_ivf_bq_asym_recall",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val qset = e.filter(col("vec_id") < 10)
      val truth = Similarity.bruteTopK(
        e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"), k = 5)
      val res = codecTopK(e, qset, Codec.AsymBQ, k = 5, shortlist = 20,
        ivf = Some((10, 2)))
      Similarity.annRecall(truth, res).transform(Q.orderedDump(_, col("query_id")))
    },
    Some(s"""
      WITH truth AS (SELECT query_id, neighbor_id FROM (${qBrute.oracle.get}) tb),
           res AS (SELECT query_id, neighbor_id
                   FROM (${ivfBqAsymOracleSql(k = 5, nprobe = 2, shortlist = 20)}) tr)
      SELECT t.query_id,
        CAST(COUNT(*) AS BIGINT) AS truth_n,
        CAST(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        ROUND(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 4) AS recall
      FROM truth t LEFT JOIN res r
        ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
      ORDER BY t.query_id"""))

  /** Full algorithm-parity oracle for perceptual image near-dup: the
    * stub raster (stride byte-sample — the deterministic path every
    * synthetic blob takes), integer gray averaging, the 64 dHash bit
    * comparisons and the signed-BIGINT cast are mirrored
    * term-for-term; pairs are the all-pairs Hamming truth (the
    * pigeonhole banding is lossless, so the engine's candidate join
    * must find exactly these). Bit values are emitted via BigInt —
    * at b=63 a Long literal would interpolate negative. */
  private def dhashPairOracleSql(maxDist: Int): String = {
    val bits = (0 until 64).map { b =>
      val l = (b / 8) * 9 + (b % 8)
      s"(CASE WHEN gray[${l + 2}] > gray[${l + 1}] THEN ${BigInt(1) << b}::HUGEINT ELSE 0::HUGEINT END)"
    }.mkString(" + ")
    val grays = "[ (" +
      "ord(substring(t, ((3*p)*length(t))//216 + 1, 1)) + " +
      "ord(substring(t, ((3*p+1)*length(t))//216 + 1, 1)) + " +
      "ord(substring(t, ((3*p+2)*length(t))//216 + 1, 1))) // 3 FOR p IN range(0, 72) ]"
    s"""
      WITH m AS (
        SELECT doc_id * 2 AS mid, text AS t FROM documents
        UNION ALL
        SELECT doc_id * 2 + 1 AS mid, 'X' || substring(text, 2) AS t FROM documents),
      g AS (SELECT mid, $grays AS gray FROM m),
      sig AS (SELECT mid, ($bits) AS s FROM g),
      sigb AS (SELECT mid,
                 CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                      THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS sb
               FROM sig)
      SELECT a.mid AS media_a, b.mid AS media_b,
             CAST(bit_count(xor(a.sb, b.sb)) AS BIGINT) AS hamming
      FROM sigb a JOIN sigb b ON a.mid < b.mid
      WHERE bit_count(xor(a.sb, b.sb)) <= $maxDist
      ORDER BY media_a, media_b"""
  }

  /** Perceptual image near-dup pairs (C51): each doc's blob plus a
    * lightly-perturbed variant (same length, first byte flipped — a
    * handful of raster samples move, the visual-similarity analogue)
    * — the planted pair lands within Hamming 3 while unrelated docs'
    * hashes stay far apart. */
  val qDhash = Q(
    "qmm_dhash_pairs",
    (s, dir) => {
      val t = Tables(s, dir).documents
      val media = t.select((col("doc_id") * 2).as("mid"),
          encode(col("text"), "UTF-8").as("blob"))
        .unionAll(t.select((col("doc_id") * 2 + 1).as("mid"),
          encode(concat(lit("X"), expr("substring(text, 2)")), "UTF-8").as("blob")))
      Media.dHashPairs(media, col("mid"), col("blob"), maxDist = 3)
        .orderBy(col("media_a"), col("media_b"))
    },
    Some(dhashPairOracleSql(maxDist = 3)))

  /** Oracle for [[qPhash]]: rebuilds the stub 32×32 raster from the
    * text bytes (the dhash oracle's stride recipe at 3072 samples),
    * re-derives every DCT coefficient RELATIONALLY — gray rows join
    * the 8×32 fixed-point cosine table twice (u-by-x, v-by-y) and
    * SUM exact integer products — then takes the AC median as the
    * 32nd-smallest row and folds bits through a HUGEINT weight
    * lookup (shifts on HUGEINT are unreliable; literals are not).
    * The cosine table literal is generated FROM
    * [[graft.multimodal.Media.PhashCosMicro]], so both engines use
    * byte-identical basis constants and no libm call crosses the
    * engine boundary. */
  private def phashPairOracleSql(maxDist: Int): String = {
    val cosLit = graft.multimodal.Media.PhashCosMicro.take(8)
      .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    val bitVals = (0 until 63)
      .map(b => s"($b, ${BigInt(1) << b}::HUGEINT)").mkString(", ")
    s"""
      WITH m AS (
        SELECT doc_id * 2 AS mid, text AS t FROM documents
        UNION ALL
        SELECT doc_id * 2 + 1 AS mid, 'X' || substring(text, 2) AS t FROM documents),
      gp AS MATERIALIZED (
        SELECT mid, pp.p AS p,
          CAST((ord(substring(t, ((3*pp.p)*length(t))//3072 + 1, 1)) +
           ord(substring(t, ((3*pp.p+1)*length(t))//3072 + 1, 1)) +
           ord(substring(t, ((3*pp.p+2)*length(t))//3072 + 1, 1))) // 3
            AS BIGINT) AS gray
        FROM m, UNNEST(range(0, 1024)) AS pp(p)),
      ct AS MATERIALIZED (
        SELECT u.i - 1 AS u, x.i - 1 AS x, CAST(ll[u.i][x.i] AS BIGINT) AS c
        FROM (SELECT $cosLit AS ll),
             UNNEST(range(1, 9)) AS u(i), UNNEST(range(1, 33)) AS x(i)),
      coef AS MATERIALIZED (
        SELECT g.mid, cx.u AS u, cy.u AS v, SUM(g.gray * cx.c * cy.c) AS s
        FROM gp g
        JOIN ct cx ON cx.x = g.p % 32
        JOIN ct cy ON cy.x = g.p // 32
        GROUP BY 1, 2, 3),
      med AS (SELECT mid, s AS med FROM (
                SELECT mid, s, ROW_NUMBER() OVER (PARTITION BY mid ORDER BY s) AS rn
                FROM coef WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
      bv AS (SELECT * FROM (VALUES $bitVals) AS t(b, w)),
      sig AS (SELECT coef.mid,
                SUM(CASE WHEN coef.s > med.med THEN bv.w ELSE 0::HUGEINT END) AS s
              FROM coef
              JOIN med USING (mid)
              JOIN bv ON bv.b = coef.u * 8 + coef.v - 1
              WHERE NOT (coef.u = 0 AND coef.v = 0)
              GROUP BY 1),
      sigb AS (SELECT mid,
                 CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                      THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS sb
               FROM sig)
      SELECT a.mid AS media_a, b.mid AS media_b,
             CAST(bit_count(xor(a.sb, b.sb)) AS BIGINT) AS hamming
      FROM sigb a JOIN sigb b ON a.mid < b.mid
      WHERE bit_count(xor(a.sb, b.sb)) <= $maxDist
      ORDER BY media_a, media_b"""
  }

  /** Spectral image near-dup pairs (C51b): pHash on the same
    * planted-perturbation fixture as [[qDhash]] — the flipped first
    * byte moves a few raster samples, the DCT spectrum barely shifts
    * (measured: planted pairs ≤ 6 bits, unrelated ≥ 26), so the pair
    * detection is a Hamming-6 problem on 63-bit signatures. */
  val qPhash = Q(
    "qmm_phash_pairs",
    (s, dir) => {
      val t = Tables(s, dir).documents
      val media = t.select((col("doc_id") * 2).as("mid"),
          encode(col("text"), "UTF-8").as("blob"))
        .unionAll(t.select((col("doc_id") * 2 + 1).as("mid"),
          encode(concat(lit("X"), expr("substring(text, 2)")), "UTF-8").as("blob")))
      Media.pHashPairs(media, col("mid"), col("blob"), maxDist = 6)
        .orderBy(col("media_a"), col("media_b"))
    },
    Some(phashPairOracleSql(maxDist = 6)))

  val qHistogram = Q(
    "qmm_byte_histogram",
    (s, dir) => {
      val docs = Media.withFakeBlob(Tables(s, dir).documents, col("text"))
      Media.byteHistogram(docs, col("doc_id"), col("media"))
        .select(col("media_id"), posexplode(col("features")).as(Seq("byte", "freq")))
        .filter(col("freq") > 0)
        .select(col("media_id"), col("byte").cast("long").as("byte"),
          col("freq").cast("double").as("freq"))
        .orderBy(col("media_id"), col("byte"))
    },
    Some("""
      WITH b AS (SELECT doc_id,
                   unnest([ord(substring(text, i, 1)) FOR i IN range(1, length(text)+1)]) AS byte
                 FROM documents),
      h AS (SELECT doc_id, byte, COUNT(*) AS cnt FROM b GROUP BY doc_id, byte),
      n AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
      SELECT h.doc_id AS media_id, CAST(h.byte AS BIGINT) AS byte,
             CAST(CAST(h.cnt AS FLOAT) / CAST(n.n AS FLOAT) AS DOUBLE) AS freq
      FROM h JOIN n ON h.doc_id = n.doc_id
      ORDER BY media_id, byte"""))

  /** C136: per-dimension z-score standardization — the scale
    * normalizer before k-means/PCA/euclidean ANN. Registered in the
    * exploded `(vec_id, pos, z)` scalar form (the [[qRp]] idiom; the
    * driver's comparator can't sort/hash array columns, and the thin
    * rows are the primary API anyway). The oracle rebuilds the same
    * once-truncated moment sums (the centroid recipe plus an x² sum),
    * the identical clamped-variance IEEE tree, and the per-element
    * rounded z — so the hash proves moments, stats broadcast and
    * per-element z all at once. */
  val qStandardize = Q(
    "qvec_standardize",
    (s, dir) =>
      VectorFunctions.standardizeExploded(
          graft.sources.Tables(s, dir).embeddings,
          col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"), col("pos")),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      u AS (SELECT vec_id, unnest(range(0, len(v))) AS pos, unnest(v) AS x
            FROM e),
      st AS (SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(trunc(x * 1e9) AS BIGINT)) AS s1,
               SUM(CAST(trunc(x * x * 1e9) AS BIGINT)) AS s2
             FROM u GROUP BY pos),
      m AS (SELECT pos,
              (CAST(s1 AS DOUBLE) / 1e9) / n AS mu,
              sqrt(greatest(
                CAST(s2 AS DOUBLE) / 1e9 / n
                  - ((CAST(s1 AS DOUBLE) / 1e9) / n) * ((CAST(s1 AS DOUBLE) / 1e9) / n),
                0.0)) AS sd
            FROM st)
      SELECT vec_id, CAST(u.pos AS BIGINT) AS pos,
             CASE WHEN sd = 0.0 THEN 0.0 ELSE ROUND((x - mu) / sd, 6) END AS z
      FROM u JOIN m ON m.pos = u.pos
      ORDER BY vec_id, pos"""))

  /** C74: hash-sign random projection. The engine derives the ±1
    * projection matrix per row from the FNV hash (no join, pure map);
    * the oracle MATERIALIZES the same matrix as a (j, i, sign) table
    * off the shared fnvSignedCtes recipe and recomputes the fixed-
    * point ±sums relationally — identical integers by construction. */
  val qRp = Q(
    "qvec_rp",
    (s, dir) => {
      graft.GraftExtensions.ensureRegistered(s)
      graft.sources.Tables(s, dir).embeddings
        .select(col("vec_id"), posexplode(
          VectorFunctions.randomProjectFixed(col("embedding"), k = 4, seed = "42"))
          .as(Seq("dim", "proj_fixed")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("proj_fixed"))
        .orderBy(col("vec_id"), col("dim"))
    },
    Some(s"""
      WITH grid AS (SELECT t1.j, t2.i FROM range(0, 4) t1(j), range(0, 64) t2(i)),
      ${graft.Q.sqlutil.fnvSignedCtes("sg",
        "'rp:42:' || CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)",
        Seq("j", "i"), "grid")},
      signs AS (SELECT j, i,
                  CASE WHEN ((sb % 2) + 2) % 2 = 1 THEN 1 ELSE -1 END AS sgn
                FROM sgg),
      ex AS (SELECT vec_id, unnest(range(0, len(embedding))) AS i,
               unnest([CAST(trunc(CAST(x AS DOUBLE) * 1e9) AS BIGINT) FOR x IN embedding]) AS x
             FROM embeddings)
      SELECT e.vec_id, CAST(s.j AS BIGINT) AS dim,
             CAST(SUM(s.sgn * e.x) AS BIGINT) AS proj_fixed
      FROM ex e JOIN signs s ON s.i = e.i
      GROUP BY 1, 2
      ORDER BY vec_id, dim"""))

  /** C75: PCA top component. The oracle replays the ENTIRE
    * computation — exact fixed-point moments, the pinned covariance
    * tree, and all 40 power-iteration rounds as a recursive CTE whose
    * matvec/norm folds are left-associated ascending exactly like the
    * driver loop — so the loadings compare BIT-identical as raw
    * doubles (verified: zero mismatches at prototype time). */
  val qPca = Q(
    "qvec_pca",
    (s, dir) => {
      VectorFunctions.topComponent(
          graft.sources.Tables(s, dir).embeddings, col("embedding"),
          dim = 64, iters = 40)
        .orderBy(col("pos"))
    },
    Some {
      val D = 64; val IT = 40
      s"""
      WITH xf AS MATERIALIZED (SELECT vec_id,
              [CAST(trunc(CAST(x AS DOUBLE) * 1e6) AS BIGINT) FOR x IN embedding] AS v
            FROM embeddings WHERE embedding IS NOT NULL),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM xf),
      m1 AS MATERIALIZED (SELECT i, SUM(v[i+1]) AS s1 FROM xf, range(0,$D) r(i) GROUP BY i),
      m2 AS MATERIALIZED (SELECT r1.i, r2.j, SUM(v[r1.i+1] * v[r2.j+1]) AS s2
             FROM xf, range(0,$D) r1(i), range(0,$D) r2(j)
             WHERE r2.j >= r1.i GROUP BY r1.i, r2.j),
      cmat AS (SELECT m2.i, m2.j,
                ((CAST(m2.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE) / nn.c) / nn.c) / 1e12 AS cv
               FROM m2 JOIN m1 a ON a.i = m2.i JOIN m1 b ON b.i = m2.j CROSS JOIN nn),
      fl AS (SELECT i, j, cv FROM cmat UNION ALL SELECT j AS i, i AS j, cv FROM cmat WHERE i <> j),
      rws AS (SELECT i, list(cv ORDER BY j) AS rw FROM fl GROUP BY i),
      cm AS MATERIALIZED (SELECT list(rw ORDER BY i) AS c FROM rws),
      it AS (
        WITH RECURSIVE pow(k, v, lam) AS (
          SELECT 0, [CAST(1.0 AS DOUBLE) FOR q IN range(0,$D)], CAST(0.0 AS DOUBLE)
          UNION ALL
          SELECT k + 1, [w[i+1] / nrm FOR i IN range(0,$D)], nrm
          FROM (
            SELECT k, w, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     [w[i+1] * w[i+1] FOR i IN range(0,$D)]), (a, b) -> a + b)) AS nrm
            FROM (
              SELECT k,
                [list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   [c[i+1][j+1] * v[j+1] FOR j IN range(0,$D)]),
                   (a, b) -> a + b) FOR i IN range(0,$D)] AS w
              FROM pow, cm WHERE k < $IT) t1) t2
        ) SELECT v, lam FROM pow WHERE k = $IT)
      SELECT CAST(unnest(range(0,$D)) AS BIGINT) AS pos, unnest(v) AS loading,
             lam AS eigenvalue
      FROM it
      ORDER BY pos"""
    })

  /** Per-label centroid components via fixed-point accumulation (see
    * VectorFunctions.groupCentroids for why neither double avg nor a
    * decimal cast is engine-deterministic). DuckDB side zips parallel
    * unnests of the position range and the double-widened embedding. */
  val qCentroid = Q(
    "qvec_centroid",
    (s, dir) => {
      VectorFunctions.groupCentroids(
          graft.sources.Tables(s, dir).embeddings, col("label"), col("embedding"))
        .orderBy(col("grp"), col("pos"))
    },
    Some("""
      WITH u AS (
        SELECT label AS grp,
               unnest(range(0, len(embedding))) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings)
      SELECT grp, CAST(pos AS BIGINT) AS pos,
             (CAST(SUM(CAST(trunc(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
               / COUNT(*) AS centroid,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM u GROUP BY grp, pos
      ORDER BY grp, pos"""))

  /** Prototypicality (C31): cosine of each vector to its own trained
    * cell centroid — the SemDedup-family ranking signal. The oracle
    * composes three proven recipes end to end: the trained-cells Lloyd
    * CTEs, the fixed-point centroid formulation, and the pair-cosine
    * parity — so the score column checks train, assignment, centroid,
    * and scoring in one row set. */
  val qProto = Q(
    "qvec_prototypicality",
    (s, dir) => {
      Similarity.prototypicality(
          graft.sources.Tables(s, dir).embeddings,
          col("vec_id"), col("embedding"), nlist = 10, iters = 1)
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10, iters = 1)},
      u AS (SELECT c0.grp,
              unnest(range(0, len(e2.embedding))) AS pos,
              unnest(CAST(e2.embedding AS DOUBLE[])) AS x
            FROM embeddings e2 JOIN cells0 c0 ON e2.vec_id = c0.vec_id),
      cent AS (SELECT grp, pos,
                 (CAST(SUM(CAST(trunc(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
                   / COUNT(*) AS c
               FROM u GROUP BY grp, pos),
      cvecs AS (SELECT grp, list(c ORDER BY pos) AS cv FROM cent GROUP BY grp)
      SELECT c0.vec_id, c0.grp AS cell,
             ROUND(list_cosine_similarity(e.v, cvecs.cv), 4) AS proto
      FROM cells0 c0
      JOIN e ON e.vec_id = c0.vec_id
      JOIN cvecs ON cvecs.grp = c0.grp
      ORDER BY c0.vec_id"""))

  /** Clustering inertia (C57). The oracle composes the proven
    * trained-cells Lloyd CTEs and fixed-point centroid formulation,
    * then mirrors the per-dimension `(x−c)²·1e9` truncation
    * term-for-term — integer sums agree in any order, and the exposed
    * `sse` is one deterministic division both engines compute on the
    * same exact long. */
  val qInertia = Q(
    "qvec_inertia",
    (s, dir) => {
      Similarity.clusterStats(
          graft.sources.Tables(s, dir).embeddings,
          col("vec_id"), col("embedding"), nlist = 10, iters = 1)
        .orderBy(col("cell"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10, iters = 1)},
      u AS (SELECT c0.grp, c0.vec_id,
              unnest(range(0, len(e2.embedding))) AS pos,
              unnest(CAST(e2.embedding AS DOUBLE[])) AS x
            FROM embeddings e2 JOIN cells0 c0 ON e2.vec_id = c0.vec_id),
      cent AS (SELECT grp, pos,
                 (CAST(SUM(CAST(trunc(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
                   / COUNT(*) AS c
               FROM u GROUP BY grp, pos),
      t AS (SELECT u.grp, u.vec_id,
              CAST(trunc((u.x - cent.c) * (u.x - cent.c) * 1e9) AS BIGINT) AS tm
            FROM u JOIN cent ON cent.grp = u.grp AND cent.pos = u.pos)
      SELECT grp AS cell, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n,
             CAST(SUM(tm) AS BIGINT) AS sse_micro,
             CAST(SUM(tm) AS DOUBLE) / 1e9 AS sse
      FROM t GROUP BY grp
      ORDER BY cell"""))

  /** C129: Davies-Bouldin separation — the oracle reuses the proven
    * inertia chain (trained cells → fixed-point centroids →
    * once-truncated SSE terms) and adds the pairwise-centroid
    * fixed-point distances + the max-ratio fold, term for term. */
  val qDbi = Q(
    "qvec_dbi",
    (s, dir) =>
      Similarity.daviesBouldin(
          graft.sources.Tables(s, dir).embeddings,
          col("vec_id"), col("embedding"), nlist = 10, iters = 1)
        .orderBy(col("cell")),
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10, iters = 1)},
      u AS (SELECT c0.grp, c0.vec_id,
              unnest(range(0, len(e2.embedding))) AS pos,
              unnest(CAST(e2.embedding AS DOUBLE[])) AS x
            FROM embeddings e2 JOIN cells0 c0 ON e2.vec_id = c0.vec_id),
      cent AS (SELECT grp, pos,
                 (CAST(SUM(CAST(trunc(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
                   / COUNT(*) AS c
               FROM u GROUP BY grp, pos),
      t AS (SELECT u.grp, u.vec_id,
              CAST(trunc((u.x - cent.c) * (u.x - cent.c) * 1e9) AS BIGINT) AS tm
            FROM u JOIN cent ON cent.grp = u.grp AND cent.pos = u.pos),
      sse AS (SELECT grp, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n,
                SUM(tm) AS sse_micro
              FROM t GROUP BY grp),
      sc AS (SELECT grp, n,
               sqrt(CAST(sse_micro AS DOUBLE) / 1e9 / CAST(n AS DOUBLE)) AS s_raw
             FROM sse),
      cm AS (SELECT a.grp AS gi, b.grp AS gj,
               SUM(CAST(trunc((a.c - b.c) * (a.c - b.c) * 1e9) AS BIGINT)) AS m2
             FROM cent a JOIN cent b ON a.pos = b.pos AND a.grp <> b.grp
             GROUP BY 1, 2),
      r AS (SELECT cm.gi,
              MAX((sa.s_raw + sb.s_raw) / sqrt(CAST(cm.m2 AS DOUBLE) / 1e9)) AS r_raw
            FROM cm JOIN sc sa ON sa.grp = cm.gi JOIN sc sb ON sb.grp = cm.gj
            GROUP BY cm.gi)
      SELECT sc.grp AS cell, sc.n,
             ROUND(sc.s_raw, 6) AS s_i, ROUND(r.r_raw, 6) AS r_max
      FROM sc JOIN r ON r.gi = sc.grp
      ORDER BY cell"""))

  /** C130: simplified silhouette — the oracle reuses the trained-cells
    * chain and its fixed-point centroids, then mirrors the per-vector
    * all-centroid distance pass (own = a, min foreign = b), the pinned
    * (b−a)/max(a,b) tree, and the 1e6 truncation before the per-cell
    * mean, term for term. */
  val qSil = Q(
    "qvec_silhouette",
    (s, dir) =>
      Similarity.silhouette(
          graft.sources.Tables(s, dir).embeddings,
          col("vec_id"), col("embedding"), nlist = 10, iters = 1)
        .orderBy(col("cell")),
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10, iters = 1)},
      u AS (SELECT c0.grp, c0.vec_id,
              unnest(range(0, len(e2.embedding))) AS pos,
              unnest(CAST(e2.embedding AS DOUBLE[])) AS x
            FROM embeddings e2 JOIN cells0 c0 ON e2.vec_id = c0.vec_id),
      cent AS (SELECT grp, pos,
                 (CAST(SUM(CAST(trunc(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
                   / COUNT(*) AS c
               FROM u GROUP BY grp, pos),
      d AS (SELECT u.vec_id, u.grp AS own, cent.grp AS g,
              SUM(CAST(trunc((u.x - cent.c) * (u.x - cent.c) * 1e9) AS BIGINT)) AS d2m
            FROM u JOIN cent ON cent.pos = u.pos
            GROUP BY 1, 2, 3),
      ab AS (SELECT vec_id, own,
               MIN(CASE WHEN g = own THEN d2m END) AS a2m,
               MIN(CASE WHEN g <> own THEN d2m END) AS b2m
             FROM d GROUP BY 1, 2),
      sv AS (SELECT vec_id, own,
               sqrt(CAST(a2m AS DOUBLE) / 1e9) AS a,
               sqrt(CAST(b2m AS DOUBLE) / 1e9) AS b
             FROM ab),
      sm AS (SELECT own,
               CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(trunc((b - a) / greatest(a, b) * 1e6) AS BIGINT)
               END AS s_micro
             FROM sv)
      SELECT own AS cell, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(CAST(SUM(s_micro) AS DOUBLE) / 1e6 / COUNT(*), 6) AS mean_s
      FROM sm GROUP BY own
      ORDER BY cell"""))

  /** Max-inner-product search (C58). The oracle mirrors the per-term
    * `x·y·1e9` truncation with a lateral position unnest — the inner
    * product is the same exact integer in both engines, so rank
    * boundaries cannot ride on float association. */
  val qMips = Q(
    "qann_mips",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.mipsTopK(
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 10),
      t AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              SUM(CAST(trunc(c.v[CAST(i AS INT)] * q.v[CAST(i AS INT)] * 1e9)
                       AS BIGINT)) AS ipm
            FROM e c JOIN q ON c.vec_id != q.vec_id,
                 UNNEST(range(1, len(c.v) + 1)) u(i)
            GROUP BY 1, 2),
      r AS (SELECT query_id, neighbor_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY ipm DESC, neighbor_id) AS BIGINT) AS rank,
              CAST(ipm AS DOUBLE) / 1e9 AS ip
            FROM t)
      SELECT query_id, neighbor_id, rank, ip
      FROM r WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** C95: purity + ARI of the trained IVF cells against the embedding
    * labels — the "do the cells MEAN anything" evaluation next to
    * C57's "are they tight". Oracle replays the contingency table and
    * the one pinned ARI tree over HUGEINT-widened pair sums. */
  val qAri = Q(
    "qvec_ari",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.clusterLabelAgreement(
        Similarity.ivfTrainCells(e, col("vec_id"), col("embedding"),
          nlist = 10, iters = 1),
        col("vec_id"), col("cell"),
        e, col("vec_id"), col("label"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10)},
      ct AS MATERIALIZED (SELECT c0.grp AS c, em.label AS l,
              CAST(COUNT(*) AS BIGINT) AS nij
            FROM cells0 c0 JOIN embeddings em ON em.vec_id = c0.vec_id
            GROUP BY c0.grp, em.label),
      byc AS MATERIALIZED (SELECT c, SUM(nij) AS ai, MAX(nij) AS mx
            FROM ct GROUP BY c),
      byl AS (SELECT l, SUM(nij) AS bj FROM ct GROUP BY l),
      tot AS (SELECT
          (SELECT SUM(nij) FROM ct) AS n,
          (SELECT COUNT(DISTINCT c) FROM ct) AS n_clusters,
          (SELECT COUNT(DISTINCT l) FROM ct) AS n_labels,
          (SELECT SUM(CAST(nij AS HUGEINT) * (nij - 1)) FROM ct) AS tij,
          (SELECT SUM(CAST(ai AS HUGEINT) * (ai - 1)) FROM byc) AS ta,
          (SELECT SUM(mx) FROM byc) AS purity_hits,
          (SELECT SUM(CAST(bj AS HUGEINT) * (bj - 1)) FROM byl) AS tb)
      SELECT CAST(n AS BIGINT) AS n, CAST(n_clusters AS BIGINT) AS n_clusters,
        CAST(n_labels AS BIGINT) AS n_labels,
        CAST(purity_hits AS BIGINT) AS purity_hits,
        CAST(purity_hits AS DOUBLE) / CAST(n AS DOUBLE) AS purity,
        CASE WHEN n < 2 OR
              ((CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)) / 2.0
               - (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) = 0.0
             THEN NULL
             ELSE (CAST(tij AS DOUBLE)
                   - (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                  / ((CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)) / 2.0
                     - (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        END AS ari
      FROM tot"""))

  /** kNN label spreading (C114): vectors at vec_id % 7 == 0 stand in
    * as the labeled seed set (label `c(vec_id % 3)` — arbitrary but
    * deterministic classes; the vote machinery is what's under test),
    * a bounded unlabeled batch takes the majority label of its 7
    * nearest seeds. The oracle mirrors qann_brute_topk's proven
    * cosine/rank formulation, then the vote and the
    * (votes desc, label asc) argmax. */
  val qKnnLabel = Q(
    "qvec_knn_label",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.knnLabel(
          e.filter(col("vec_id") % 7 === 0), col("vec_id"), col("embedding"),
          concat(lit("c"), col("vec_id") % 3),
          e.filter(col("vec_id") % 7 =!= 0 && col("vec_id") < 60),
          col("vec_id"), col("embedding"),
          k = 7)
        .orderBy(col("vec_id"))
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      l AS (SELECT vec_id, 'c' || CAST(vec_id % 3 AS VARCHAR) AS label, v
            FROM e WHERE vec_id % 7 = 0),
      q AS (SELECT vec_id, v FROM e WHERE vec_id % 7 <> 0 AND vec_id < 60),
      scored AS (
        SELECT q.vec_id AS query_id, l.vec_id AS neighbor_id, l.label,
               list_cosine_similarity(l.v, q.v) AS cos
        FROM l JOIN q ON l.vec_id != q.vec_id),
      r AS (SELECT query_id, label,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored),
      votes AS (SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS votes
                FROM r WHERE rank <= 7 GROUP BY query_id, label),
      top AS (SELECT query_id, label, votes,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY votes DESC, label) AS vr
              FROM votes)
      SELECT query_id AS vec_id, label AS pred_label, votes
      FROM top WHERE vr = 1
      ORDER BY vec_id"""))

  /** C122: graph-expanded search — a deliberately STARVED nprobe=1
    * probe whose candidates are widened one hop through the C94 kNN
    * graph (k=5, nprobe=2 — qann_knn_graph's exact build), then
    * exact-re-ranked. The oracle reuses the shared probe CTEs once
    * and derives BOTH probe sets from the single `ranked` frame
    * (graph build: rn ≤ 2 for every vector; search: rn ≤ 1 for the
    * query batch) — the graph edges, seeds, hop expansion, and
    * re-rank are each the already-proven formulation, so a mismatch
    * isolates to the expansion wiring. */
  val qGraphSearch = Q(
    "qann_graph_search",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
        nlist = 10, iters = 1)
      val graph = Similarity.ivfTopKAgainstIndex(cents, cells,
          e, col("vec_id"), col("embedding"),
          e, col("vec_id"), col("embedding"),
          k = 5, nprobe = 2)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      Similarity.graphExpandedTopK(cents, cells, graph,
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5, nprobe = 1)
        .transform(Q.orderedDump(_, col("query_id"), col("rank")))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      ${trainedCellsCtes(nlist = 10)},
      ${ivfProbeCtes(nprobe = 2, nq = Int.MaxValue)},
      gcand AS (SELECT q.query_id, a.vec_id AS neighbor_id
                FROM qprobe q JOIN acell a ON a.cell = q.cell
                WHERE a.vec_id != q.query_id),
      gsc AS (SELECT gcand.query_id, gcand.neighbor_id,
                list_cosine_similarity(c.v, qv.v) AS cos
              FROM gcand
              JOIN e c ON c.vec_id = gcand.neighbor_id
              JOIN e qv ON qv.vec_id = gcand.query_id),
      edges AS (SELECT query_id AS src, neighbor_id AS dst FROM (
                  SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
                  FROM gsc) WHERE rnk <= 5),
      sprobe AS (SELECT vec_id AS query_id, grp AS cell FROM ranked
                 WHERE vec_id < 10 AND rn <= 1),
      seeds AS (SELECT s.query_id, a.vec_id AS neighbor_id
                FROM sprobe s JOIN acell a ON a.cell = s.cell
                WHERE a.vec_id != s.query_id),
      hop AS (SELECT s.query_id, ed.dst AS neighbor_id
              FROM seeds s JOIN edges ed ON ed.src = s.neighbor_id
              WHERE ed.dst != s.query_id),
      cand AS (SELECT DISTINCT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id FROM seeds
                 UNION ALL SELECT query_id, neighbor_id FROM hop)),
      ${reRankSql("cand", 5)}"""))

  val all: Seq[Q] = Seq(qBrute, qLsh, qIvf, qIvfTrained, qIvfIndexed, qIvfTrained2,
    qKnnLabel, qKnnGraph, qGraphSearch, qAri, qFiltered, qFilteredIvf, qMmr, qHardNeg,
    qPq, qPq2, qIvfPq, qIvfPqRes, qIvfPqApp, qIvfPqRm, qIvfPqUpsert, qIvfPqPub,
    qSq, qBq, qBqRecall, qIvfBq,
    qIvfBqRecall, qBqAsym, qIvfBqAsym, qIvfBqAsymRecall, qBqBitCounts,
    qIvfCellCounts, qRecall, qRecallCurve, qDecode, qWavMeta, qWavFeatures, qPngDecode,
    qFrames, qArBuckets, qHistogram, qDhash, qPhash, qCentroid, qProto, qInertia,
    qDbi, qSil, qMips, qRp, qPca, qStandardize, qMatryoshka, qIvfMrl)
}
