package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph operators (SURVEY.md §2.C88). PageRank is the classic
  * web-curation authority signal (Page et al. 1999; Common Crawl
  * publishes exactly this ranking over its host graph): a domain- or
  * page-level quality prior the mixture/filter stages (C23, C81)
  * consume, from the same link structure the blocklist and domain
  * operators already extract.
  */
object Graph {

  /** Deterministic fixed-iteration PageRank over an edge list.
    *
    * Ranks are AVERAGE-RELATIVE fixed-point integers: store
    * `ρ = rank · N` in micro units (init 1 000 000), so the update is
    * scale-free — `ρ' (v) = (1 − d) + d · Σ ρ(u)/outdeg(u)` — and no
    * N-dependent division ever happens (at 10¹⁰ nodes a rank scaled
    * to total mass would underflow any fixed point). Every step is
    * exact integer arithmetic: per-edge contribution is
    * `ρ div outdeg` (one truncation, mirrored by the oracle), the
    * damped term is one multiply + `div 1e6`. Bit-identical on any
    * engine and partitioning — a double-summed PageRank is not.
    *
    * Contract notes: a fixed `iters` (the production norm — Common
    * Crawl runs a fixed iteration budget) rather than a convergence
    * test keeps the oracle a finite CTE unroll; dangling nodes (no
    * out-edges) LEAK their damped mass instead of redistributing it —
    * the simple variant, stated rather than hidden (redistribution
    * adds one 1-row aggregate per round if needed); self-loops are
    * dropped (a page voting for itself is not authority); duplicate
    * edges count once — `(src, dst)` is distinct-ed, the host-graph
    * convention.
    *
    * Scale shape: the CC-resolution discipline — edges and ranks are
    * (long, long) rows; each round is ONE src-keyed join + ONE
    * dst-keyed partial-agg shuffle; the rank frame persists per round
    * and the previous round unpersists; nodes with no in-edges keep
    * the base term via the left join. Output: (node_id, rank_micro,
    * rank) — rank is the one cosmetic double division.
    */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iters: Int = 5, dampingMicro: Long = 850000L): DataFrame = {
    require(iters >= 1 && iters <= 30, s"iters must be in [1, 30], got $iters")
    require(dampingMicro > 0 && dampingMicro < 1000000L,
      s"dampingMicro must be in (0, 1e6), got $dampingMicro")
    val e = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // nodes and the degree-annotated edge list are cached PRE-HASHED on
    // their iteration-time join keys: each round's src-join then only
    // shuffles the (small) rank frame, and the dst-aggregated contribs
    // land already co-partitioned with nodes — two exchanges per round
    // instead of four, and the exchange that remains moves (long, long)
    // rank rows, never edges
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .repartition(col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = e.join(outdeg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = 1000000L - dampingMicro
    val loop = Iterate("pageRank")
    try {
      val ranks = loop.fixed(nodes.select(col("id"), lit(1000000L).as("rm")), iters) {
          (ranks, _) =>
        val contribs = withDeg
          .join(ranks.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), expr("rm div deg").as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("cs"))
        // the damped term widens to DECIMAL(38,0) before the multiply:
        // a high in-degree hub on a 10^7+-node graph has cs past
        // Long.MaxValue/dampingMicro (~1e13), and a bare long multiply
        // would wrap silently negative — the oracle mirrors with
        // HUGEINT; `div` truncates identically on the nonnegative
        // fixed-point values
        val next = nodes.join(contribs, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + expr(
              s"(CAST($dampingMicro AS DECIMAL(38,0)) * coalesce(cs, 0L)) div 1000000"))
              .as("rm"))
        // eager tiny checkpoint per round (the CC/train-lr discipline):
        // constant-size plans instead of an iteration-nested tree, and
        // it doubles as the materialization barrier the old
        // persist+count+unpersist dance bought
        loop.checkpoint(next)
      }
      ranks.select(col("id").as("node_id"), col("rm").as("rank_micro"),
        (col("rm").cast("double") / lit(1e6)).as("rank"))
    } finally { e.unpersist(); nodes.unpersist(); withDeg.unpersist() }
  }

  /** C88 oracle generator: the engine's integer update unrolled as one
    * linear CTE chain (r_k referenced exactly once by r_{k+1} — the
    * DuckDB CTE-inlining discipline), `//` mirroring `div` on the
    * nonnegative fixed-point values term-for-term. */
  private def pageRankOracleSql(iters: Int, dampingMicro: Long): String = {
    val base = 1000000L - dampingMicro
    val sb = new StringBuilder(
      s"""WITH eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM eraw WHERE src <> dst),
      n AS MATERIALIZED (SELECT DISTINCT id FROM
        (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      od AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                          FROM e GROUP BY src),
      r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rm FROM n)""")
    for (k <- 1 to iters) sb ++= s""",
      r$k AS (SELECT n.id,
          CAST($base + (CAST($dampingMicro AS HUGEINT) * COALESCE(s.cs, 0)) // 1000000 AS BIGINT) AS rm
        FROM n LEFT JOIN (
          SELECT e.dst AS id, SUM(r.rm // od.deg) AS cs
          FROM e JOIN r${k - 1} r ON r.id = e.src
                 JOIN od ON od.src = e.src
          GROUP BY e.dst) s ON s.id = n.id)"""
    sb ++= s"""
      SELECT id AS node_id, rm AS rank_micro,
             CAST(rm AS DOUBLE) / 1000000 AS rank
      FROM r$iters ORDER BY node_id"""
    sb.toString
  }

  // C88: PageRank over an injected doc-id link graph — 50 hub targets
  // (doc_id % 50: heavy in-degree skew) plus a binary-tree edge toward
  // low ids (doc_id // 2: depth ~log n, so 5 iterations genuinely
  // propagate). The oracle replays all 5 integer rounds; any
  // accumulation-order or truncation drift breaks the hash.
  val qPageRank = Q(
    "qgraph_pagerank",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
      pageRank(edges, col("src"), col("dst"), iters = 5)
        .transform(Q.orderedDump(_, col("node_id")))
    },
    Some(pageRankOracleSql(5, 850000L)))

  /** Deterministic fixed-iteration HITS (SURVEY.md §2.C92; Kleinberg
    * 1999) — the hub/authority pair PageRank doesn't give: PageRank
    * scores where surfers END UP; HITS separates pages that ARE good
    * content (authorities) from pages that POINT AT good content
    * (hubs/link directories) — for corpus curation the distinction
    * matters because link-farm hubs score high on raw degree but are
    * exactly what a quality mixture should downweight.
    *
    * Fixed-point discipline: scores are micro-unit longs; each
    * half-iteration is an exact integer sum (`a ← Σ h(in)`,
    * `h ← Σ a(out)`) followed by MAX-normalization — `v·1e6 div max`
    * (one truncation, oracle-mirrored; L2 normalization would need a
    * square root per round and break integer exactness, and max-norm
    * is the standard convergent alternative). The multiply widens to
    * DECIMAL(38,0)/HUGEINT — at 10¹⁰ nodes `v` reaches ~1e16 and
    * `v·1e6` overflows a long (the pageRank lesson). Self-loops
    * dropped, duplicate edges count once, dangling sides keep score
    * 0 via the left join — same contract as [[pageRank]].
    *
    * Scale shape: edges and scores are (long, long) rows; each
    * iteration is two keyed join+partial-agg shuffles plus two 1-ROW
    * max broadcasts (the allowlisted scalar-totals BNLJ shape); the
    * raw sum frame is eagerly checkpointed per half-step (the
    * normalize reads it twice — see the halfStep comment). */
  def hits(edges: DataFrame, src: Column, dst: Column,
           iters: Int = 3,
           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && iters <= 30, s"iters must be in [1, 30], got $iters")
    val e = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // NOTE: pre-hashing cached edge copies per join direction (the
    // pageRank trick) was MEASURED SLOWER here (5.9 s -> 6.7 s at
    // sf0.1): the two upfront edge repartitions don't amortize over
    // 2·iters=6 half-steps the way pageRank's single layout does over
    // its 5 same-key rounds
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one raw-sum + max-normalize half-step: score(to) = sum over
    // edges of score(from), 0 for nodes with no incoming side, then
    // v*1e6 div max(v). The CHECKPOINT sits on `raw`, not on the
    // normalized output: the normalize reads raw twice (the map pass +
    // its scalar max), so checkpointing downstream of it re-ran the
    // whole join+agg once more per half-step for the broadcast-max
    // build — measured 2× the join work per half-step. Checkpointing
    // raw materializes the expensive part ONCE; the normalize is a
    // map-only pass plus a ~node-partition max scan over the
    // checkpointed rows, cheap to re-derive lazily, and lineage stays
    // constant-size per half-step (the truncation point merely moved
    // one operator up — same CC / kCore discipline, same
    // `checkpointDir` durability knob).
    val loop = Iterate("hits", checkpointDir)
    def halfStep(score: DataFrame, scoreCol: String,
                 joinSide: String, aggSide: String): DataFrame = {
      val raw = loop.checkpoint(
        nodes.join(
            e.join(score.withColumnRenamed("id", joinSide), joinSide)
              .groupBy(col(aggSide).as("id")).agg(sum(col(scoreCol)).as("v")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("v"), lit(0L)).as("v")))
      val mx = raw.agg(max(col("v")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"),
          when(col("mx") > 0,
            expr("CAST((CAST(v AS DECIMAL(38,0)) * 1000000) div mx AS BIGINT)"))
            .otherwise(lit(0L)).as(scoreCol))
    }
    val hub0 = loop.checkpoint(nodes.select(col("id"), lit(1000000L).as("hm")))
    try {
      val (hub, auth) = loop.fixed((hub0, hub0), iters) { case ((hub, _), _) =>
        val auth = halfStep(hub.withColumnRenamed("hm", "sc"), "sc", "src", "dst")
          .withColumnRenamed("sc", "am")
        (halfStep(auth.withColumnRenamed("am", "sc"), "sc", "dst", "src")
          .withColumnRenamed("sc", "hm"), auth)
      }
      auth.join(hub, "id")
        .select(col("id").as("node_id"),
          col("am").as("authority_micro"), col("hm").as("hub_micro"),
          (col("am").cast("double") / lit(1e6)).as("authority"),
          (col("hm").cast("double") / lit(1e6)).as("hub"))
    } finally { e.unpersist(); nodes.unpersist() }
  }

  /** C92 oracle generator: the integer half-steps unrolled as a
    * linear CTE chain; raw-sum CTEs are MATERIALIZED because each is
    * referenced twice (the normalize + its scalar max). */
  private def hitsOracleSql(iters: Int): String = {
    val sb = new StringBuilder(
      s"""WITH eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM eraw WHERE src <> dst),
      n AS MATERIALIZED (SELECT DISTINCT id FROM
        (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hm FROM n)""")
    for (k <- 1 to iters) sb ++= s""",
      ar$k AS MATERIALIZED (SELECT n.id, COALESCE(s.v, 0) AS v
        FROM n LEFT JOIN (
          SELECT e.dst AS id, SUM(h.hm) AS v
          FROM e JOIN h${k - 1} h ON h.id = e.src GROUP BY e.dst) s
        ON s.id = n.id),
      a$k AS (SELECT id, CASE WHEN mx > 0
            THEN CAST((CAST(v AS HUGEINT) * 1000000) // mx AS BIGINT)
            ELSE 0 END AS am
        FROM ar$k CROSS JOIN (SELECT MAX(v) AS mx FROM ar$k) m),
      hr$k AS MATERIALIZED (SELECT n.id, COALESCE(s.v, 0) AS v
        FROM n LEFT JOIN (
          SELECT e.src AS id, SUM(a.am) AS v
          FROM e JOIN a$k a ON a.id = e.dst GROUP BY e.src) s
        ON s.id = n.id),
      h$k AS (SELECT id, CASE WHEN mx > 0
            THEN CAST((CAST(v AS HUGEINT) * 1000000) // mx AS BIGINT)
            ELSE 0 END AS hm
        FROM hr$k CROSS JOIN (SELECT MAX(v) AS mx FROM hr$k) m)"""
    sb ++= s"""
      SELECT a.id AS node_id, a.am AS authority_micro, h.hm AS hub_micro,
             CAST(a.am AS DOUBLE) / 1000000 AS authority,
             CAST(h.hm AS DOUBLE) / 1000000 AS hub
      FROM a$iters a JOIN h$iters h USING (id) ORDER BY node_id"""
    sb.toString
  }

  // C92: HITS over the same injected link graph as qgraph_pagerank —
  // the % 50 hubs give authority mass to low ids, every doc is a hub
  // toward its two targets. 3 iterations = 6 integer half-steps, each
  // max-truncation oracle-replayed.
  val qHits = Q(
    "qgraph_hits",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
      hits(edges, col("src"), col("dst"), iters = 3)
        .orderBy(col("node_id"))
    },
    Some(hitsOracleSql(3)))

  /** Deterministic fixed-iteration label propagation with clamped
    * seeds (SURVEY.md §2.C97; Zhu & Ghahramani 2002 / Raghavan et al.
    * 2007) — semi-supervised label spreading over a link or similarity
    * graph: a small seeded subset (hand-audited sources, fastText-
    * classified domains, known-good/known-spam hosts) propagates its
    * labels to the unlabeled rest along graph edges. This is the
    * consumer the C94 k-NN graph was built for, and the cheap
    * alternative to classifying 10¹⁰ documents one by one: classify
    * 10⁶ seeds, propagate 3 rounds.
    *
    * Determinism contract (the classic LPA is RANDOMIZED — iteration
    * order and tie coins — and useless as an oracle-able operator):
    * synchronous rounds; per node the next label is the neighbor-vote
    * argmax with ties broken by SMALLEST label; seeds are CLAMPED
    * (keep their seed label every round — Zhu's variant); a node with
    * no labeled neighbor keeps its current label (NULL while the
    * frontier hasn't reached it). The argmax is
    * `min(struct(-count, label))` — all-integer, engine-exact, no
    * float score anywhere. Multi-labeled seed ids collapse to their
    * min label up front (duplicate seed rows must not make the result
    * depend on join multiplicity). Edges are symmetrized (votes flow
    * both ways — similarity graphs are undirected; for a directed
    * link graph pass the direction you mean twice), self-loops
    * dropped, duplicates count once.
    *
    * Scale shape: the CC-resolution discipline — edges and labels are
    * (long, long) rows; each round is ONE src-keyed join + ONE
    * (dst, label) partial-agg shuffle + ONE dst-keyed argmax agg (both
    * map-side combinable), then a label-frame left join; the label
    * frame is eagerly CHECKPOINTED per round (each round reads it
    * twice — vote side + carry side — so persist-only rotation
    * doubles the logical plan per round; pass `checkpointDir` for
    * durable checkpoints on a real cluster, the CC-resolution
    * contract). Payloads (text, vectors) never enter the loop. */
  def labelPropagate(edges: DataFrame, src: Column, dst: Column,
                     seeds: DataFrame, seedId: Column, seedLabel: Column,
                     iters: Int = 3,
                     checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && iters <= 30, s"iters must be in [1, 30], got $iters")
    val ed = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val e = ed.unionAll(ed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK) // symmetric: src covers dst
    val sd = seeds
      .select(seedId.cast("long").as("id"), seedLabel.cast("long").as("seed_label"))
      .filter(col("id").isNotNull && col("seed_label").isNotNull)
      .groupBy(col("id")).agg(min(col("seed_label")).as("seed_label"))
    // each round reads the label frame TWICE (vote side + carry side),
    // so a persist-only rotation doubles the logical plan per round —
    // the eager checkpoint truncates lineage like the CC resolution
    val loop = Iterate("labelPropagate", checkpointDir)
    val init = loop.checkpoint(nodes.join(sd, Seq("id"), "left")
      .select(col("id"), col("seed_label"), col("seed_label").as("label")))
    try {
      val labels = loop.fixed(init, iters) { (labels, _) =>
        val votes = e
          .join(labels.select(col("id").as("src"), col("label")), "src")
          .filter(col("label").isNotNull)
          .groupBy(col("dst").as("id"), col("label"))
          .agg(count(lit(1)).as("c"))
        val winners = votes.groupBy(col("id"))
          .agg(min(struct((-col("c")).as("nc"), col("label").as("lb"))).as("w"))
          .select(col("id"), col("w.lb").as("vlabel"))
        loop.checkpoint(labels.join(winners, Seq("id"), "left")
          .select(col("id"), col("seed_label"),
            when(col("seed_label").isNotNull, col("seed_label"))
              .otherwise(coalesce(col("vlabel"), col("label"))).as("label")))
      }
      labels.select(col("id").as("node_id"), col("label"),
        col("seed_label").isNotNull.as("is_seed"))
    } finally { e.unpersist(); nodes.unpersist() }
  }

  /** C97 oracle generator: the clamped synchronous rounds unrolled —
    * each round's argmax is a ROW_NUMBER over (count desc, label asc),
    * the exact tie order of the engine's `min(struct(-c, label))`;
    * label frames are MATERIALIZED because round k reads l{k-1} twice
    * (vote side + carry side). */
  /** The labelprop fixture's CTE chain up to `l{iters}` — shared by
    * the C97 oracle and the C108 modularity oracle that audits C97's
    * own output. */
  private def labelPropOracleCtes(iters: Int): String = {
    val sb = new StringBuilder(
      s"""WITH eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents),
      ed AS (SELECT DISTINCT src, dst FROM eraw WHERE src <> dst),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed)),
      n AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
      sd AS (SELECT doc_id AS id, CAST(doc_id % 3 AS BIGINT) AS seed_label
             FROM documents WHERE doc_id % 10 = 0),
      l0 AS MATERIALIZED (SELECT n.id, sd.seed_label, sd.seed_label AS label
            FROM n LEFT JOIN sd ON sd.id = n.id)""")
    for (k <- 1 to iters) sb ++= s""",
      v$k AS (SELECT e.dst AS id, l.label, CAST(COUNT(*) AS BIGINT) AS c
            FROM e JOIN l${k - 1} l ON l.id = e.src
            WHERE l.label IS NOT NULL GROUP BY e.dst, l.label),
      w$k AS (SELECT id, label AS vlabel FROM (
            SELECT id, label,
                   ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
            FROM v$k) WHERE rn = 1),
      l$k AS MATERIALIZED (SELECT l.id, l.seed_label,
            CASE WHEN l.seed_label IS NOT NULL THEN l.seed_label
                 ELSE COALESCE(w.vlabel, l.label) END AS label
          FROM l${k - 1} l LEFT JOIN w$k w ON w.id = l.id)"""
    sb.toString
  }

  private def labelPropOracleSql(iters: Int): String =
    labelPropOracleCtes(iters) + s"""
      SELECT id AS node_id, label, (seed_label IS NOT NULL) AS is_seed
      FROM l$iters ORDER BY node_id"""

  // C97: label propagation over the same injected link graph as
  // qgraph_pagerank/qgraph_hits (symmetrized), seeded on every 10th
  // doc with label doc_id % 3 — the %50 hubs relay seed labels to the
  // whole graph within 3 rounds, so the oracle exercises frontier
  // growth, vote ties (broken by min label), and clamping together.
  val qLabelProp = Q(
    "qgraph_labelprop",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
      val seeds = d.filter(pmod(col("doc_id"), lit(10L)) === 0)
        .select(col("doc_id"), pmod(col("doc_id"), lit(3L)).as("lab"))
      labelPropagate(edges, col("src"), col("dst"),
          seeds, col("doc_id"), col("lab"), iters = 3)
        .orderBy(col("node_id"))
    },
    Some(labelPropOracleSql(3)))

  /** Per-node triangle counts + local clustering coefficient
    * (SURVEY.md §2.C99; compact-forward, Latapy 2008 / Schank &
    * Wagner 2005) — the link-farm/community signal degree alone
    * can't give: a spam hub has high degree and near-zero clustering,
    * a genuine community interlinks (high clustering), and the
    * coefficient is the standard feature both curation blocklists and
    * graph-dedup cluster audits consume.
    *
    * Scale shape — the whole algorithm is the ORIENTATION: counting
    * wedges on the raw undirected graph is Σ deg² (a 10⁷-degree hub
    * contributes 10¹⁴ wedges); orienting every edge from its
    * (degree, id)-smaller endpoint to its larger one makes every
    * out-degree O(√m), bounding total wedges by O(m^1.5) — each
    * triangle {a≺b≺c} is generated exactly once, as the wedge
    * (b, c) at its smallest-rank corner a closed by the oriented
    * edge b→c. Three equi-join shuffles on node keys ((long, long)
    * rows throughout): degree join, the wedge self-join on the
    * source, the closing-edge join on (x, y). Duplicate and reversed
    * input edges collapse (canonical least/greatest + distinct),
    * self-loops drop. Clustering = 2T / (deg·(deg−1)) with the
    * multiply in DOUBLE (a long deg² overflows past ~3·10⁹ degree),
    * 0 for deg < 2 — one pinned IEEE tree, oracle-mirrored. */
  def triangleStats(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val und = edges.select(src.cast("long").as("s"), dst.cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // orient a→b iff (deg_a, a) ≺ (deg_b, b); a < b canonically, so the
    // degree tie always keeps a→b
    val oriented = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") <= col("db"),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.dv").as("dv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges at u: out-neighbor pairs ordered by orientation rank, so
    // the closing edge is oriented x→y by construction
    val wedges = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("dv").as("dy")), "u")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val tris = wedges
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    val corners = tris.select(col("u").as("id"))
      .unionAll(tris.select(col("x").as("id")))
      .unionAll(tris.select(col("y").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("nt"))
    deg.join(corners, Seq("id"), "left")
      .select(col("id").as("node_id"), col("deg").as("degree"),
        coalesce(col("nt"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("nt"), lit(0L)).cast("double") /
            (col("deg").cast("double") * (col("deg") - 1).cast("double")), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  // C99: triangles over the pagerank fixture plus a third edge family
  // (doc_id % 20) — the two-family graph is nearly a forest (10
  // triangles); the %20 hubs interlock with the %50 hubs and the
  // binary tree to 176, enough to exercise per-node counts, the
  // orientation pairing, and zero-triangle leaves together. The
  // oracle enumerates id-ordered triangles by brute 3-way join — the
  // SET of triangles is orientation-independent, which is exactly
  // what the hash compare proves about the engine's oriented count.
  val qTriangles = Q(
    "qgraph_triangles",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
        .unionAll(d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(20L)).as("dst")))
      triangleStats(edges, col("src"), col("dst"))
        .orderBy(col("node_id"))
    },
    Some("""
      WITH eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id % 20 AS dst FROM documents),
      e AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM eraw WHERE src <> dst),
      deg AS MATERIALIZED (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM
            (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
      tri AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      tc AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM
            (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri) GROUP BY id)
      SELECT d.id AS node_id, d.degree,
             COALESCE(tc.n_triangles, 0) AS n_triangles,
             CASE WHEN d.degree >= 2
                  THEN ROUND(2.0 * COALESCE(tc.n_triangles, 0) /
                       (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE)), 6)
                  ELSE 0.0 END AS clustering
      FROM deg d LEFT JOIN tc ON tc.id = d.id
      ORDER BY node_id"""))

  /** Fixed-round k-core peeling (SURVEY.md §2.C100; Seidman 1983;
    * Batagelj & Zaveršnik 2003's peel, synchronized) — the densest-
    * substructure membership signal: the k-core is the maximal
    * subgraph where every node keeps ≥ k neighbors INSIDE the
    * subgraph, the standard web-graph spam/community feature (a
    * quality domain survives peeling, a sparse link-tendril does
    * not) and the coarse sibling of C99's clustering coefficient.
    *
    * Synchronous rounds, fixed `iters`: each round drops EVERY node
    * whose degree among currently-alive nodes is < k, simultaneously
    * (the parallel peel — per-node sequential peeling is inherently
    * serial and partitioning-dependent; the synchronous variant is
    * deterministic and converges to the same fixpoint, Batagelj §4).
    * Peeling cascades one "layer" per round, so `iters` bounds the
    * peel DEPTH, not graph size — degenerate chains need diameter
    * rounds; pick iters ≥ observed stabilization (the spec proves
    * the fixture stabilizes strictly inside the budget by showing
    * round R+1 changes nothing). Output covers every input node:
    * `in_core` = alive after all rounds, `core_degree` = degree
    * within the surviving subgraph (0 outside).
    *
    * Scale shape: the CC discipline again — (long, long) edges; each
    * round is two node-keyed semi-join shuffles (edge endpoints vs
    * the alive set) + one map-side-combinable degree count + the
    * ≥ k filter; the alive frame is eagerly CHECKPOINTED per round
    * (each round reads it twice — both endpoints — so persist-only
    * rotation would double the logical plan per round; 2^iters
    * lineage copies OOM the planner long before data does); pass
    * `checkpointDir` for durable checkpoints on a real cluster, the
    * CC-resolution contract; payloads never move. */
  def kCore(edges: DataFrame, src: Column, dst: Column,
            k: Int, iters: Int = 8,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(iters >= 1 && iters <= 30, s"iters must be in [1, 30], got $iters")
    val und = edges.select(src.cast("long").as("s"), dst.cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val loop = Iterate("kCore", checkpointDir)
    val alive = peel(loop, und, loop.observe(nodes, count(lit(1))), k, iters).df
    // und/nodes stay persisted for the returned frame's final degree
    // pass — released by clearCache(), the docTermCounts discipline
    nodes
      .join(degrees(liveEdges(und, alive)), Seq("id"), "left")
      .join(alive.select(col("id"), lit(true).as("__in")), Seq("id"), "left")
      .select(col("id").as("node_id"),
        coalesce(col("__in"), lit(false)).as("in_core"),
        coalesce(col("c"), lit(0L)).as("core_degree"))
  }

  /** The live edges of `und` (canonical `(a, b)`) among `alive` ids. */
  private def liveEdges(und: DataFrame, alive: DataFrame): DataFrame = und
    .join(alive.select(col("id").as("a")), "a")
    .join(alive.select(col("id").as("b")), "b")

  private def degrees(live: DataFrame): DataFrame = live
    .select(col("a").as("id")).unionAll(live.select(col("b").as("id")))
    .groupBy(col("id")).agg(count(lit(1)).as("c"))

  /** The synchronous peel shared by [[kCore]] and [[coreness]]: at most
    * `iters` rounds, each keeping the `alive` ids with degree ≥ k among
    * alive nodes.
    *
    * Each round reads the alive frame TWICE (both edge endpoints), so a
    * persist-only rotation doubles the logical plan per round — 2^iters
    * lineage copies OOM the planner before any data moves; the eager
    * checkpoint truncates lineage exactly like the CC resolution's.
    * EARLY EXIT at the provable fixpoint: the peel is monotone
    * (alive_{r+1} ⊆ alive_r — degrees() only emits ids from the current
    * alive set), so an unchanged COUNT is an unchanged SET, and every
    * remaining budgeted round is the identity. `iters` stays the
    * correctness budget; the count rides the checkpoint's own job,
    * and every skipped round saves ~5 AQE stage jobs (the peel queries
    * are JOB-COUNT-bound at any SF where the graph fits the cluster). */
  private def peel(loop: Iterate.Loop, und: DataFrame, alive: Iterate.Observed,
                   k: Int, iters: Int): Iterate.Observed =
    loop.fixpoint(alive, iters, Iterate.Return)(_.signal) { (alive, _) =>
      loop.observe(degrees(liveEdges(und, alive.df)).filter(col("c") >= k).select(col("id")),
        count(lit(1)))
    }

  /** C100 oracle generator: the synchronous peel unrolled — each
    * round's alive set is MATERIALIZED because the next round's edge
    * restriction reads it twice (both endpoints). */
  private def kCoreOracleSql(k: Int, iters: Int): String = {
    val sb = new StringBuilder(
      s"""WITH eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id % 20 AS dst FROM documents),
      e AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM eraw WHERE src <> dst),
      n AS MATERIALIZED (SELECT DISTINCT id FROM
            (SELECT a AS id FROM e UNION ALL SELECT b FROM e)),
      a0 AS MATERIALIZED (SELECT id FROM n)""")
    for (r <- 1 to iters) sb ++= s""",
      a$r AS MATERIALIZED (SELECT id FROM (
            SELECT g.id, COUNT(*) AS c FROM (
              SELECT e.a AS id FROM e
                JOIN a${r - 1} x ON x.id = e.a JOIN a${r - 1} y ON y.id = e.b
              UNION ALL
              SELECT e.b FROM e
                JOIN a${r - 1} x ON x.id = e.a JOIN a${r - 1} y ON y.id = e.b) g
            GROUP BY g.id) WHERE c >= $k)"""
    sb ++= s""",
      fd AS (SELECT g.id, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT e.a AS id FROM e
              JOIN a$iters x ON x.id = e.a JOIN a$iters y ON y.id = e.b
            UNION ALL
            SELECT e.b FROM e
              JOIN a$iters x ON x.id = e.a JOIN a$iters y ON y.id = e.b) g
          GROUP BY g.id)
      SELECT n.id AS node_id,
             (a.id IS NOT NULL) AS in_core,
             COALESCE(fd.c, 0) AS core_degree
      FROM n LEFT JOIN a$iters a ON a.id = n.id
             LEFT JOIN fd ON fd.id = n.id
      ORDER BY node_id"""
    sb.toString
  }

  // C100: 3-core of the three-family fixture graph — the %50/%20 hub
  // lattice survives, the binary-tree tendrils peel off layer by
  // layer (4-6 rounds to the fixpoint across SFs; 8 budgeted). All 8
  // alive sets are oracle-replayed, so a single node peeling one
  // round early or late breaks the hash.
  val qKCore = Q(
    "qgraph_kcore",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
        .unionAll(d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(20L)).as("dst")))
      kCore(edges, col("src"), col("dst"), k = 3, iters = 8)
        .orderBy(col("node_id"))
    },
    Some(kCoreOracleSql(k = 3, iters = 8)))

  /** Personalized PageRank toward a SEED set (SURVEY.md §2.C101;
    * Page et al. 1999 §6 / Haveliwala 2002) — the same damped
    * propagation as [[pageRank]], but the teleport mass lands ONLY on
    * seeds: scores measure proximity-weighted reachability FROM the
    * seed set, not global authority. This is the trust/quality-
    * propagation primitive (TrustRank, Gyöngyi et al. 2004): seed
    * hand-audited good domains, rank the crawl by how much seed mass
    * flows to each host — the C97 label propagation's continuous
    * sibling (labels argmax votes; PPR accumulates a score you can
    * threshold or mix per C23).
    *
    * Same fixed-point contract as [[pageRank]]: micro-unit longs,
    * `ρ'(v) = (v ∈ S ? (1−d) : 0) + d·Σ ρ(u)/outdeg(u)`, init
    * ρ = 1e6 on seeds and 0 elsewhere, per-edge `div` truncation
    * mirrored by the oracle, DECIMAL(38,0) widening on the damped
    * multiply, dangling mass leaks (stated), self-loops dropped,
    * duplicate edges count once. Scores are per-seed-relative (no
    * 1/|S| division — scale-free like pageRank's average-relative
    * convention; divide by |S| cosmetically if normalized mass is
    * wanted). A node unreachable from the seeds scores exactly 0 —
    * the integer form makes "no seed mass" a hard zero, not a float
    * residue. Same per-round shapes, pre-hashed caches and per-round
    * eager lineage truncation as [[pageRank]]. */
  def personalizedPageRank(edges: DataFrame, src: Column, dst: Column,
                           seeds: DataFrame, seedId: Column,
                           iters: Int = 5, dampingMicro: Long = 850000L): DataFrame = {
    require(iters >= 1 && iters <= 30, s"iters must be in [1, 30], got $iters")
    require(dampingMicro > 0 && dampingMicro < 1000000L,
      s"dampingMicro must be in (0, 1e6), got $dampingMicro")
    val e = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(seedId.cast("long").as("id")).filter(col("id").isNotNull)
      .distinct()
    // the pageRank cache layout, ported (measured there as −2 exchanges
    // per round): nodes and the degree-annotated edge list persist
    // PRE-HASHED on their iteration-time join keys, so each round's
    // src-join only shuffles the (small) rank frame and the
    // dst-aggregated contribs land co-partitioned with nodes
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(sd.withColumn("__seed", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("__seed"), lit(false)).as("is_seed"))
      .repartition(col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = e.join(outdeg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = 1000000L - dampingMicro
    val loop = Iterate("personalizedPageRank")
    val init = nodes
      .select(col("id"), when(col("is_seed"), lit(1000000L)).otherwise(lit(0L)).as("rm"))
    try {
      val ranks = loop.fixed(init, iters) { (ranks, _) =>
        val contribs = withDeg
          .join(ranks.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), expr("rm div deg").as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("cs"))
        val next = nodes.join(contribs, Seq("id"), "left")
          .select(col("id"),
            (when(col("is_seed"), lit(base)).otherwise(lit(0L)) + expr(
              s"(CAST($dampingMicro AS DECIMAL(38,0)) * coalesce(cs, 0L)) div 1000000"))
              .as("rm"))
        // eager tiny checkpoint per round (the pageRank discipline):
        // constant-size plans, and it replaces the old
        // persist+count+unpersist rotation's extra materialization pass
        loop.checkpoint(next)
      }
      nodes.join(ranks, "id")
        .select(col("id").as("node_id"), col("is_seed"),
          col("rm").as("rank_micro"),
          (col("rm").cast("double") / lit(1e6)).as("rank"))
    } finally { e.unpersist(); withDeg.unpersist(); nodes.unpersist() }
  }

  /** C101 oracle generator: [[pageRankOracleSql]]'s unroll with the
    * teleport term gated on seed membership. */
  private def pprOracleSql(iters: Int, dampingMicro: Long): String = {
    val base = 1000000L - dampingMicro
    val sb = new StringBuilder(
      s"""WITH eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM eraw WHERE src <> dst),
      sd AS (SELECT doc_id AS id FROM documents WHERE doc_id % 10 = 0),
      n AS MATERIALIZED (SELECT id, (sd.id IS NOT NULL) AS is_seed FROM
        (SELECT DISTINCT id FROM
          (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)) u
        LEFT JOIN sd USING (id)),
      od AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                          FROM e GROUP BY src),
      r0 AS (SELECT id, CAST(CASE WHEN is_seed THEN 1000000 ELSE 0 END AS BIGINT) AS rm
             FROM n)""")
    for (k <- 1 to iters) sb ++= s""",
      r$k AS (SELECT n.id,
          CAST(CASE WHEN n.is_seed THEN $base ELSE 0 END
               + (CAST($dampingMicro AS HUGEINT) * COALESCE(s.cs, 0)) // 1000000 AS BIGINT) AS rm
        FROM n LEFT JOIN (
          SELECT e.dst AS id, SUM(r.rm // od.deg) AS cs
          FROM e JOIN r${k - 1} r ON r.id = e.src
                 JOIN od ON od.src = e.src
          GROUP BY e.dst) s ON s.id = n.id)"""
    sb ++= s"""
      SELECT n.id AS node_id, n.is_seed, r.rm AS rank_micro,
             CAST(r.rm AS DOUBLE) / 1000000 AS rank
      FROM n JOIN r$iters r USING (id) ORDER BY node_id"""
    sb.toString
  }

  // C101: PPR on the pagerank fixture seeded at every 10th doc — the
  // same seed set as qgraph_labelprop, so the two operators' outputs
  // are directly comparable signals. 5 integer rounds oracle-replayed;
  // unreached nodes must score a hard 0.
  val qPpr = Q(
    "qgraph_ppr",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
      val seeds = d.filter(pmod(col("doc_id"), lit(10L)) === 0)
      personalizedPageRank(edges, col("src"), col("dst"),
          seeds, col("doc_id"), iters = 5)
        .transform(Q.orderedDump(_, col("node_id")))
    },
    Some(pprOracleSql(5, 850000L)))

  /** Bounded-hop BFS distances from a seed set (C148) — the
    * reachability audit next to C101's PPR mass: how many hops does
    * each node sit from the trusted (or contaminated) seeds, with the
    * frontier bounded at `k` hops so cost is k node-keyed shuffles,
    * never a full closure. The discrete sibling of PPR (exact hop
    * counts instead of decayed mass): leakage audits ask "is this
    * eval doc within 2 link-hops of training?", curation asks "how
    * far does the seed whitelist actually reach?".
    *
    * Synchronous frontier expansion on the canonical UNDIRECTED edge
    * set (least/greatest + distinct, self-loops dropped — the C99
    * contract): round h joins the (h−1)-frontier to the edges and
    * anti-joins everything already labeled, so each node is labeled
    * exactly once at its true BFS distance — deterministic on any
    * partitioning (set semantics, no order anywhere). Unreached
    * nodes are ABSENT (honest absence; left-join a node table for
    * NULL rows if needed). The dist frame is checkpoint-truncated per
    * round (the CC discipline — k rounds of union would stack 2^k
    * plan copies). Scale: (long, long) edges; each round shuffles
    * only frontier-adjacent ids. */
  def kHopDistances(edges: DataFrame, src: Column, dst: Column,
                    seeds: DataFrame, seedId: Column, k: Int,
                    checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be 1..64, got $k")
    val und0 = edges.select(src.cast("long").as("s"), dst.cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()
    val und = und0.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und0.select(col("b").as("u"), col("a").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      bfs(Iterate("kHopDistances", checkpointDir), seeds, seedId, k) { (frontier, dist, _) =>
        frontier.join(und, col("id") === col("u"))
          .select(col("v").as("id")).distinct()
          .join(dist, Seq("id"), "left_anti")
      }.select(col("id").as("node_id"), col("dist"))
    } finally {
      // every round's frame is eagerly checkpoint-truncated, so the
      // returned result no longer reads the edge cache — release it
      // here (the bpeTrain/PageRank try/finally idiom) instead of
      // leaking it for the session's lifetime
      und.unpersist(blocking = false): Unit
    }
  }

  /** The frontier expansion both k-hop variants share: from the seeds
    * at dist 0, hop h's frontier is `expand(previous frontier, every row
    * reached so far, h)` at dist h, for at most `hops` hops. Returns
    * every reached `(id, dist)` row. Each hop's rows are new, so an
    * unchanged reached count ⇔ an empty frontier: nothing is left to
    * expand. */
  private def bfs(loop: Iterate.Loop, seeds: DataFrame, seedId: Column, hops: Int)(
      expand: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    val seeded = loop.observe(
      seeds.select(seedId.cast("long").as("id")).distinct().withColumn("dist", lit(0L)),
      count(lit(1)))
    loop.fixpoint((seeded, seeded.df), hops, Iterate.Return)(_._1.signal) {
      case ((reached, frontier), h) =>
        val next = loop.checkpoint(expand(frontier, reached.df, h).withColumn("dist", lit(h.toLong)))
        (loop.observe(reached.df.unionByName(next), count(lit(1))), next)
    }._1.df
  }

  /** [[kHopDistances]] with a PER-HOP edge-label mask (C148b) — the
    * typed-frontier question leakage audits actually ask: not "is
    * this eval doc within 2 hops of training" but "within 2 hops
    * THROUGH WHICH edge types" (doc→domain→doc, never doc→author→doc).
    * `hopLabels(h-1)` is the set of edge labels hop h may traverse;
    * dist(x) = the minimum h such that some path reaches x whose i-th
    * edge's label ∈ hopLabels(i-1).
    *
    * The plain-BFS anti-join is INVALID here and deliberately absent:
    * in C148, a node reached at hop h₁ never needs re-expansion at
    * h₂ > h₁ because any continuation through it is no shorter — but
    * with per-hop masks the continuation LANGUAGE differs by hop
    * index, so a node must expand at every hop it is reachable at.
    * The state space is therefore (id, hop) — each round's frontier
    * is the exact-h reachable set (distinct; ≤|V| rows), the output
    * is min dist per node. Same shuffle bill as C148 (k node-keyed
    * shuffles of (long, long) rows, checkpoint-truncated per round);
    * the hop masks filter the edge side BEFORE the join, so each
    * round joins only the labels it may use. Unreached nodes are
    * ABSENT (honest absence). With every mask equal to the full label
    * set this reduces exactly to [[kHopDistances]] (spec-pinned). */
  def kHopDistancesLabeled(edges: DataFrame, src: Column, dst: Column,
                           label: Column, seeds: DataFrame, seedId: Column,
                           hopLabels: Seq[Seq[String]],
                           checkpointDir: Option[String] = None): DataFrame = {
    require(hopLabels.nonEmpty && hopLabels.size <= 64,
      s"hopLabels must give 1..64 hops, got ${hopLabels.size}")
    require(hopLabels.forall(_.nonEmpty),
      "every hop needs a non-empty label mask (an empty mask is an " +
        "unreachable hop — cut the sequence there instead)")
    val und0 = edges.select(src.cast("long").as("s"), dst.cast("long").as("d"),
        label.cast("string").as("lbl"))
      .filter(col("s").isNotNull && col("d").isNotNull &&
        col("s") =!= col("d") && col("lbl").isNotNull)
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"), col("lbl"))
      .distinct()
    val und = und0.select(col("a").as("u"), col("b").as("v"), col("lbl"))
      .unionAll(und0.select(col("b").as("u"), col("a").as("v"), col("lbl")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      bfs(Iterate("kHopDistancesLabeled", checkpointDir), seeds, seedId, hopLabels.size) {
        (frontier, _, h) =>
          frontier.join(und.filter(col("lbl").isin(hopLabels(h - 1): _*)), col("id") === col("u"))
            .select(col("v").as("id")).distinct()
      }.groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .select(col("id").as("node_id"), col("dist"))
    } finally {
      // rounds are eagerly checkpoint-truncated — the returned frame
      // never reads the edge cache, so release it (the kHopDistances
      // try/finally idiom) instead of leaking it for the session
      und.unpersist(blocking = false): Unit
    }
  }

  /** C148 registered: 4-hop BFS from the doc%10 seed set over the
    * shared two-family edge fixture — directly comparable to
    * qgraph_ppr's decayed mass on the same seeds. Oracle: recursive
    * CTE with UNION (set) semantics over (id, dist) states, min dist
    * per node, depth-bounded at 4. */
  val qKhop = Q(
    "qgraph_khop",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
      val seeds = d.filter(pmod(col("doc_id"), lit(10L)) === 0)
      kHopDistances(edges, col("src"), col("dst"), seeds, col("doc_id"), k = 4)
        .orderBy(col("node_id"))
    },
    Some("""
      WITH RECURSIVE eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents),
      eu AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
             FROM eraw WHERE src <> dst),
      e AS (SELECT a AS u, b AS v FROM eu UNION ALL SELECT b, a FROM eu),
      seeds AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id % 10 = 0),
      r AS (SELECT id, 0 AS dist FROM seeds
            UNION
            SELECT e.v AS id, r.dist + 1 AS dist
            FROM r JOIN e ON e.u = r.id WHERE r.dist < 4)
      SELECT id AS node_id, CAST(MIN(dist) AS BIGINT) AS dist
      FROM r GROUP BY id
      ORDER BY node_id"""))

  /** Shared C148b oracle chain: labeled canonical edges ('hub' =
    * doc→doc%50, 'tree' = doc→doc÷2), the per-hop allowed-label VALUES
    * table (hop 1 hub-only, hop 2 tree-only, hop 3 both), train-split
    * seeds, and the (id, dist) state recursion with the label
    * predicate IN the join — UNION set semantics bounds the states at
    * |V|·(k+1). Ends at CTE `ld` = min feasible hop per node. */
  private val khopLabeledCtes: String = """
      WITH RECURSIVE eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst, 'hub' AS lbl FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst, 'tree' AS lbl FROM documents),
      eu AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, lbl
             FROM eraw WHERE src <> dst),
      e AS (SELECT a AS u, b AS v, lbl FROM eu UNION ALL SELECT b, a, lbl FROM eu),
      allowed AS (SELECT * FROM (VALUES (1, 'hub'), (2, 'tree'),
                                        (3, 'hub'), (3, 'tree')) t(hop, lbl)),
      seeds AS (SELECT DISTINCT doc_id AS id FROM documents
                WHERE doc_id % 10 = 0 AND doc_id % 5 < 3),
      r AS (SELECT id, 0 AS dist FROM seeds
            UNION
            SELECT e.v AS id, r.dist + 1 AS dist
            FROM r JOIN e ON e.u = r.id
                   JOIN allowed al ON al.hop = r.dist + 1 AND al.lbl = e.lbl
            WHERE r.dist < 3),
      ld AS (SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM r GROUP BY id)"""

  // C148b registered: 3 typed hops (hub, then tree, then either) from
  // the TRAIN-split members of the doc%10 seed set — per-node minimum
  // feasible hop, every row hash-gated.
  val qKhopTyped = Q(
    "qgraph_khop_typed",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"), lit("hub").as("lbl"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst"), lit("tree").as("lbl")))
      val seeds = d.filter(pmod(col("doc_id"), lit(10L)) === 0 &&
        pmod(col("doc_id"), lit(5L)) < 3)
      kHopDistancesLabeled(edges, col("src"), col("dst"), col("lbl"),
          seeds, col("doc_id"),
          hopLabels = Seq(Seq("hub"), Seq("tree"), Seq("hub", "tree")))
        .orderBy(col("node_id"))
    },
    Some(khopLabeledCtes + """
      SELECT id AS node_id, dist FROM ld ORDER BY node_id"""))

  /** C148b composed with the C116 leakage-audit read: the same typed
    * reach, rolled up to (split, dist) — how many eval/val docs sit
    * within each feasible typed hop of the train seeds. Off-train
    * rows at small dist ARE the leakage exposure (the C116 question
    * asked of hop structure instead of a dedup pair frame). */
  val qKhopLeakage = Q(
    "qgraph_khop_leakage",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"), lit("hub").as("lbl"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst"), lit("tree").as("lbl")))
      val seeds = d.filter(pmod(col("doc_id"), lit(10L)) === 0 &&
        pmod(col("doc_id"), lit(5L)) < 3)
      val reach = kHopDistancesLabeled(edges, col("src"), col("dst"), col("lbl"),
        seeds, col("doc_id"),
        hopLabels = Seq(Seq("hub"), Seq("tree"), Seq("hub", "tree")))
      val split = when(pmod(col("doc_id"), lit(5L)) === 4, lit("eval"))
        .when(pmod(col("doc_id"), lit(5L)) === 3, lit("val"))
        .otherwise(lit("train"))
      reach.join(Tables(s, dir).documents.select(col("doc_id"), split.as("split")),
          col("node_id") === col("doc_id"))
        .groupBy(col("split"), col("dist"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("split"), col("dist"))
    },
    Some(khopLabeledCtes + """
      SELECT (CASE WHEN d.doc_id % 5 = 4 THEN 'eval'
                   WHEN d.doc_id % 5 = 3 THEN 'val'
                   ELSE 'train' END) AS split,
             ld.dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM ld JOIN documents d ON d.doc_id = ld.id
      GROUP BY 1, 2
      ORDER BY split, dist"""))

  /** Log₂-bucketed degree distribution (SURVEY.md §2.C104) — the
    * power-law audit every link-graph consumer runs first: a web
    * graph's degree histogram is heavy-tailed (straight line on
    * log-log), and a bucket that bulges off that line marks link
    * farms / mirror clusters before PageRank or k-core spends a full
    * fixpoint on them; the graph sibling of C60's Zipf fit.
    *
    * The bucket is INTEGER-exact: `length(bin(deg)) − 1` =
    * ⌊log₂ deg⌋ for deg ≥ 1 via the binary-string length — no libm
    * log2 whose sub-ulp rounding could flip a power-of-two boundary
    * bucket between engines. Degrees count the UNDIRECTED distinct
    * neighbor set (canonical least/greatest + distinct, self-loops
    * dropped — the C99 edge contract). Output per bucket: node
    * count, the [lo, hi] degree range covered, and the min/max
    * OBSERVED degree (the tail bucket's hi is the graph's max
    * degree — the single number that decides skew strategy).
    *
    * Scale: one distinct + one degree count + one ≤64-row bucket agg
    * — all map-side combinable; nothing but (long, long) rows. */
  def degreeProfile(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val und = edges.select(src.cast("long").as("s"), dst.cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()
    und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .select((length(bin(col("deg"))) - 1).cast("long").as("bucket"), col("deg"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
      .select(col("bucket"),
        expr("CAST(1 AS BIGINT) << bucket").as("lo"),
        (expr("CAST(1 AS BIGINT) << (bucket + 1)") - 1).as("hi"),
        col("n_nodes"), col("min_deg"), col("max_deg"))
  }

  // C104: degree profile of the three-family fixture graph — leaves,
  // the binary-tree middle, and the %50/%20 hubs land in well-
  // separated buckets, so the histogram exercises the whole range
  // including the skewed tail.
  val qDegrees = Q(
    "qgraph_degrees",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
        .unionAll(d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(20L)).as("dst")))
      degreeProfile(edges, col("src"), col("dst"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id % 20 AS dst FROM documents),
      e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM eraw WHERE src <> dst),
      deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM
            (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
      bk AS (SELECT CAST(LENGTH(bin(deg)) - 1 AS BIGINT) AS bucket, deg FROM deg)
      SELECT bucket,
             CAST(1 AS BIGINT) << bucket AS lo,
             (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             MIN(deg) AS min_deg, MAX(deg) AS max_deg
      FROM bk GROUP BY bucket
      ORDER BY bucket"""))

  /** Degree assortativity coefficient (SURVEY.md §2.C105; Newman
    * 2002) — the one-number answer to "do hubs link to hubs?":
    * Pearson correlation of the endpoint degrees over every edge-end.
    * Web/link graphs are characteristically DISassortative (hubs
    * link to leaves, r < 0); a crawl slice that measures strongly
    * assortative instead is usually a mirror-farm or template cluster
    * talking to itself — the scalar companion to C104's histogram.
    *
    * Exactness: degrees are integers, so every moment (Σx, Σx², Σxy
    * over the symmetrized edge-end pairs) is summed EXACTLY in
    * DECIMAL(38,0) — partition order cannot flip a bit, and a long
    * sum of deg² would overflow at ~10⁹-degree hubs; the final
    * Pearson form is one pinned IEEE tree over the exact moments
    * (the q23 correlation discipline). Each undirected edge
    * contributes both (dₐ, d_b) and (d_b, dₐ) — the standard
    * symmetrization that makes r direction-free. A degree-regular
    * graph has zero variance and r is NULL (undefined, not 0 or
    * NaN). C99's edge contract: canonical distinct, self-loops
    * dropped.
    *
    * Scale: degree count + two broadcast-or-shuffle joins of the
    * (long, long) edge list against the (long, long) degree frame +
    * one 1-row moment aggregate (map-side combinable). */
  def assortativity(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val und = edges.select(src.cast("long").as("s"), dst.cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val ed = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    val pairs = ed.select(col("da").as("x"), col("db").as("y"))
      .unionAll(ed.select(col("db").as("x"), col("da").as("y")))
    val DEC = "decimal(38,0)"
    val m = pairs.agg(
      count(lit(1)).as("n_ends"),
      sum(col("x").cast(DEC)).cast("double").as("sx"),
      sum(col("y").cast(DEC)).cast("double").as("sy"),
      sum((col("x").cast(DEC) * col("x").cast(DEC)).cast(DEC)).cast("double").as("sxx"),
      sum((col("x").cast(DEC) * col("y").cast(DEC)).cast(DEC)).cast("double").as("sxy"),
      sum((col("y").cast(DEC) * col("y").cast(DEC)).cast(DEC)).cast("double").as("syy"))
    val n = col("n_ends").cast("double")
    val vx = n * col("sxx") - col("sx") * col("sx")
    val vy = n * col("syy") - col("sy") * col("sy")
    m.select(col("n_ends"),
      when(vx > 0 && vy > 0,
        (n * col("sxy") - col("sx") * col("sy")) / (sqrt(vx) * sqrt(vy)))
        .otherwise(lit(null).cast("double")).as("assortativity"))
  }

  // C105: assortativity of the three-family fixture — hubs (%50, %20)
  // connect overwhelmingly to tree leaves, so the measured r is
  // strongly negative (web-shaped); the moments are exact integers,
  // so the single-row double result transfers bit-for-bit.
  val qAssortativity = Q(
    "qgraph_assortativity",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
        .unionAll(d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(20L)).as("dst")))
      assortativity(edges, col("src"), col("dst"))
    },
    Some("""
      WITH eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id % 20 AS dst FROM documents),
      e AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM eraw WHERE src <> dst),
      deg AS MATERIALIZED (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM
            (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
      ed AS (SELECT x.deg AS dx, y.deg AS dy
             FROM e JOIN deg x ON x.id = e.a JOIN deg y ON y.id = e.b),
      p AS (SELECT dx AS x, dy AS y FROM ed UNION ALL SELECT dy, dx FROM ed),
      m AS (SELECT COUNT(*) AS n_ends,
              CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
              CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
              CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE) AS sxx,
              CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS sxy,
              CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS syy
            FROM p)
      SELECT n_ends,
        CASE WHEN CAST(n_ends AS DOUBLE) * sxx - sx * sx > 0
              AND CAST(n_ends AS DOUBLE) * syy - sy * sy > 0
             THEN (CAST(n_ends AS DOUBLE) * sxy - sx * sy) /
                  (sqrt(CAST(n_ends AS DOUBLE) * sxx - sx * sx) *
                   sqrt(CAST(n_ends AS DOUBLE) * syy - sy * sy))
             ELSE NULL END AS assortativity
      FROM m"""))

  /** Full coreness (core-number) decomposition (SURVEY.md §2.C106;
    * Seidman 1983; Batagelj & Zaveršnik 2003) — per node, the LARGEST
    * k such that the node survives in the k-core: the standard graph
    * quality feature ranking pages by how deeply embedded they are in
    * a dense neighborhood (coreness 1 = tendril, high coreness =
    * community member), where C100 answers only the yes/no at one k.
    *
    * One CONTINUED peel, not maxK independent runs: the k-core is a
    * subset of the (k−1)-core, so phase k resumes peeling from phase
    * k−1's fixpoint with the higher threshold — total work is one
    * monotone shrink of the alive set. A node dropped during phase k
    * was in the (k−1)-core but not the k-core: coreness k−1. Nodes
    * surviving every phase report `maxK` — an explicit CAP, stated
    * rather than hidden (raise maxK for graphs with deeper cores).
    * Fixed `itersPerK` synchronous rounds per phase keep the oracle a
    * finite unroll (same contract as C100: the spec proves the
    * fixture stabilizes inside the budget).
    *
    * Scale shape: identical to [[kCore]] per round (two node-keyed
    * semi-joins + a map-side degree count, alive frame eagerly
    * checkpointed); the phase boundary adds one id-only left_anti per
    * k (the dropped set). Output covers every input node exactly
    * once. */
  def coreness(edges: DataFrame, src: Column, dst: Column,
               maxK: Int, itersPerK: Int = 8,
               checkpointDir: Option[String] = None): DataFrame = {
    require(maxK >= 1 && maxK <= 16, s"maxK must be in [1, 16], got $maxK")
    require(itersPerK >= 1 && itersPerK <= 30,
      s"itersPerK must be in [1, 30], got $itersPerK")
    val und = edges.select(src.cast("long").as("s"), dst.cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the kCore early-exit, carried across phases: each phase resumes
    // from the previous phase's fixpoint (and its observed count) and
    // must still run its first round (the threshold rose). Measured:
    // the 4×8 budget ran 32 rounds ≈ 200 tiny sequential jobs; the
    // fixture reaches each phase fixpoint in far fewer.
    val init = Iterate("coreness", checkpointDir).observe(nodes, count(lit(1)))
    val phases = (1 to maxK).scanLeft(init) { (alive, k) =>
      peel(Iterate(s"coreness.k$k", checkpointDir), und, alive, k, itersPerK)
    }.map(_.df)
    val dropped = phases.zip(phases.tail).zipWithIndex.map { case ((prev, alive), k) =>
      prev.join(alive, Seq("id"), "left_anti")
        .select(col("id").as("node_id"), lit(k.toLong).as("coreness"))
    }
    (dropped :+ phases.last.select(col("id").as("node_id"), lit(maxK.toLong).as("coreness")))
      .reduce(_ unionByName _)
  }

  /** C106 oracle generator: maxK phases × itersPerK rounds unrolled;
    * each phase's dropped set is the EXCEPT of consecutive phase
    * fixpoints, survivors report the maxK cap. */
  private def corenessOracleSql(maxK: Int, itersPerK: Int): String = {
    val sb = new StringBuilder(
      s"""WITH eraw AS (
        SELECT doc_id AS src, doc_id % 50 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, doc_id % 20 AS dst FROM documents),
      e AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM eraw WHERE src <> dst),
      n AS MATERIALIZED (SELECT DISTINCT id FROM
            (SELECT a AS id FROM e UNION ALL SELECT b FROM e)),
      p0_$itersPerK AS MATERIALIZED (SELECT id FROM n)""")
    for (k <- 1 to maxK) {
      sb ++= s""",
      p${k}_0 AS MATERIALIZED (SELECT id FROM p${k - 1}_$itersPerK)"""
      for (r <- 1 to itersPerK) sb ++= s""",
      p${k}_$r AS MATERIALIZED (SELECT id FROM (
            SELECT g.id, COUNT(*) AS c FROM (
              SELECT e.a AS id FROM e
                JOIN p${k}_${r - 1} x ON x.id = e.a JOIN p${k}_${r - 1} y ON y.id = e.b
              UNION ALL
              SELECT e.b FROM e
                JOIN p${k}_${r - 1} x ON x.id = e.a JOIN p${k}_${r - 1} y ON y.id = e.b) g
            GROUP BY g.id) WHERE c >= $k)"""
    }
    val dropped = (1 to maxK).map { k =>
      s"""SELECT id AS node_id, CAST(${k - 1} AS BIGINT) AS coreness
          FROM (SELECT id FROM p${k - 1}_$itersPerK EXCEPT SELECT id FROM p${k}_$itersPerK)"""
    }
    sb ++= s"""
      ${dropped.mkString("", "\n      UNION ALL\n      ", "")}
      UNION ALL
      SELECT id AS node_id, CAST($maxK AS BIGINT) AS coreness FROM p${maxK}_$itersPerK
      ORDER BY node_id"""
    sb.toString
  }

  // C106: coreness of the three-family fixture, maxK=4 — the binary
  // tree peels at k=2 (coreness 1), the hub lattice layers out at 2-3,
  // and the densest hub intersection reports the cap. Every one of
  // the 32 alive sets is oracle-replayed.
  val qCoreness = Q(
    "qgraph_coreness",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
        .unionAll(d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(20L)).as("dst")))
      coreness(edges, col("src"), col("dst"), maxK = 4, itersPerK = 8)
        .orderBy(col("node_id"))
    },
    Some(corenessOracleSql(maxK = 4, itersPerK = 8)))

  /** Newman modularity per community (SURVEY.md §2.C108; Newman &
    * Girvan 2004) — the quality score OF a community assignment:
    * `Q = Σ_c [ e_c/m − (d_c/2m)² ]`, each community's excess of
    * internal edges over the degree-preserving random expectation.
    * This is the audit the C97 label propagation (or a CC dedup
    * clustering read as communities) was missing: near-zero Q says
    * the "communities" are degree artifacts, strongly positive Q says
    * the partition tracks real link structure — the number a curation
    * pipeline checks before trusting per-community decisions.
    *
    * Exactness: per-community contribution as EXACT integers —
    * `q_micro = round(1e6 · (4·m·e_c − d_c²) / (4·m²))` with the
    * numerator/denominator widened to DECIMAL(38,0)/HUGEINT (the
    * C92/C105 overflow discipline: d_c² overflows a long past
    * ~3·10⁹ summed degree), each cast to double from the SAME exact
    * integer (identical round-half-even on both engines), ONE IEEE
    * division, rounded once. The raw integers (n_nodes,
    * internal_edges, degree_sum) are emitted alongside so the float
    * never carries information the hash can't check.
    *
    * Contract: C99's undirected edge contract (distinct
    * least/greatest pairs, self-loops dropped, duplicates/reversals
    * collapse); nodes missing from `labels` fall into community −1
    * (stated, not silent — modularity needs a full partition);
    * duplicate label rows collapse to the min community.
    *
    * Scale shape: one distinct + one degree count + two node-keyed
    * equi-joins (the triangle-stats shape) + a community-keyed
    * partial agg; `m` rides a 1-row broadcast; (long, long) rows
    * throughout — community count, not corpus size, bounds the
    * output. */
  def modularity(edges: DataFrame, src: Column, dst: Column,
                 labels: DataFrame, nodeId: Column, community: Column): DataFrame = {
    val und = edges.select(src.cast("long").as("s"), dst.cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val m1 = und.agg(count(lit(1)).as("m"))
    val comm = labels
      .select(nodeId.cast("long").as("id"), community.cast("long").as("comm"))
      .filter(col("id").isNotNull)
      .groupBy(col("id")).agg(min(col("comm")).as("comm"))
    val deg = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val nc = deg.join(comm, Seq("id"), "left")
      .select(col("id"), coalesce(col("comm"), lit(-1L)).as("comm"), col("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ein = und
      .join(nc.select(col("id").as("a"), col("comm").as("ca")), "a")
      .join(nc.select(col("id").as("b"), col("comm").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comm")).agg(count(lit(1)).as("e_in"))
    val ds = nc.groupBy(col("comm"))
      .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_nodes"))
    val DEC = "decimal(38,0)"
    val eInt = coalesce(col("e_in"), lit(0L))
    val num = (lit(4L).cast(DEC) * col("m").cast(DEC) * eInt.cast(DEC) -
      col("deg_sum").cast(DEC) * col("deg_sum").cast(DEC)).cast(DEC)
    val den = (lit(4L).cast(DEC) * col("m").cast(DEC) * col("m").cast(DEC)).cast(DEC)
    ds.join(ein, Seq("comm"), "left")
      .crossJoin(broadcast(m1))
      .select(col("comm").as("community"), col("n_nodes"),
        eInt.as("internal_edges"), col("deg_sum").as("degree_sum"),
        round((num.cast("double") / den.cast("double")) * lit(1e6))
          .cast("long").as("q_micro"))
  }

  // C108: modularity OF the C97 label propagation's own output on the
  // shared fixture (unlabeled nodes → community −1) — the composed
  // audit, with every alive count integer and the oracle replaying the
  // full 3-round propagation before the modularity arithmetic.
  val qModularity = Q(
    "qgraph_modularity",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          pmod(col("doc_id"), lit(50L)).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst")))
      val seeds = d.filter(pmod(col("doc_id"), lit(10L)) === 0)
        .select(col("doc_id"), pmod(col("doc_id"), lit(3L)).as("lab"))
      val labels = labelPropagate(edges, col("src"), col("dst"),
        seeds, col("doc_id"), col("lab"), iters = 3)
      modularity(edges, col("src"), col("dst"),
          labels, col("node_id"), coalesce(col("label"), lit(-1L)))
        .orderBy(col("community"))
    },
    Some(labelPropOracleCtes(3) + s""",
      und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM eraw WHERE src <> dst),
      mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
      degm AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM
            (SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
      cm AS (SELECT id, COALESCE(label, -1) AS comm FROM l3),
      nc AS MATERIALIZED (SELECT degm.id, COALESCE(cm.comm, -1) AS comm, degm.deg
            FROM degm LEFT JOIN cm ON cm.id = degm.id),
      ein AS (SELECT x.comm AS comm, CAST(COUNT(*) AS BIGINT) AS e_in
            FROM und JOIN nc x ON x.id = und.a JOIN nc y ON y.id = und.b
            WHERE x.comm = y.comm GROUP BY x.comm),
      ds AS (SELECT comm, SUM(deg) AS deg_sum, CAST(COUNT(*) AS BIGINT) AS n_nodes
             FROM nc GROUP BY comm)
      SELECT ds.comm AS community, ds.n_nodes,
        CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS internal_edges,
        CAST(ds.deg_sum AS BIGINT) AS degree_sum,
        CAST(ROUND((CAST(CAST(4 AS HUGEINT) * mm.m * COALESCE(ein.e_in, 0)
                         - CAST(ds.deg_sum AS HUGEINT) * ds.deg_sum AS DOUBLE)
                    / CAST(CAST(4 AS HUGEINT) * mm.m * mm.m AS DOUBLE))
                   * 1000000) AS BIGINT) AS q_micro
      FROM ds LEFT JOIN ein ON ein.comm = ds.comm
      CROSS JOIN mm
      ORDER BY community"""))

  val all: Seq[Q] = Seq(qPageRank, qHits, qLabelProp, qTriangles, qKCore, qPpr,
    qDegrees, qAssortativity, qCoreness, qModularity, qKhop,
    qKhopTyped, qKhopLeakage)
}
