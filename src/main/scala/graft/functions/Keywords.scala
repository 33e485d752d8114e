package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF keyword extraction (SURVEY.md §2.C16): top-k terms per
  * document. Two shuffles total (doc-term aggregation, then the
  * per-doc top-k window re-using the doc key); the document-frequency
  * frame and corpus count are broadcast back — term payloads, not
  * documents, are all that moves after tokenization.
  *
  * Ranking is INTEGER-exact on (tf desc, df asc, term asc), never on
  * the float score: `ln` is libm-dependent, and a 1-ulp divergence
  * between engines could flip a float-ordered top-k boundary. The
  * tf-idf score is still emitted (rounded) — it rides along; it just
  * doesn't decide membership.
  */
object Keywords {

  /** THE tokenize-and-count core both corpus-statistics operators
    * share: lowercased whitespace terms, empties dropped, aggregated
    * to per-(doc, term) counts and persisted (every caller consumes it
    * at least twice; without the boundary each consumer re-runs
    * tokenize+explode+aggregate from the raw scan — the plan's cost
    * center). ONE definition so a tokenization change can't silently
    * diverge the tf-idf and unigram-LM vocabularies. clearCache-managed
    * like the dedup signature caches. */
  private[graft] def docTermCounts(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), explode(split(lower(text), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  def tfIdfTopK(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val tf = docTermCounts(df, id, text)
    // (doc_id, term) is unique in tf, so count(*) per term IS the
    // document frequency — no second distinct needed
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("kw_rank", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("tf").desc, col("df").asc, col("term").asc))
        .cast("long"))
      .filter(col("kw_rank") <= k)
      .select(col("doc_id"), col("kw_rank"), col("term"),
        col("tf"), col("df"), col("tfidf"))
  }

  /** BM25 keyword retrieval (SURVEY.md §2.C78; Robertson & Zaragoza
    * 2009, the Lucene `+1` idf variant so the log stays positive for
    * high-df terms): top-k documents per keyword query over the
    * corpus's own index. The retrieval every curation run eventually
    * needs ("show me the docs about X the filter kept/killed") and
    * the scoring backbone of hard-negative mining.
    *
    * `queries` is `(query_id, term)` — one row per keyword; terms are
    * lowercased and dup terms deduped (a repeated keyword must not
    * double-bill its contribution). The index is the token-bearing
    * corpus: N and avgdl are computed over docs with ≥1 token —
    * token-free docs are unmatchable by construction, and indexing
    * them would only dilute avgdl with rows retrieval can never see.
    *
    * Exactness: each (query, doc, term) contribution
    * `ln((N−df+.5)/(df+.5)+1) · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl))`
    * is ONE pinned IEEE tree rounded ONCE to integer micro-units (the
    * C37 discipline); the per-(query, doc) score is then an integer
    * SUM — partial-agg order cannot perturb it — and the top-k ranks
    * on (score_micro desc, doc_id asc), never on a float boundary.
    *
    * Scale shape: the corpus collapses to the shared [[docTermCounts]]
    * frame (persisted once — tf, df and dl all derive from it without
    * re-tokenizing); the query join is a term-keyed equi-join that
    * moves only MATCHING postings (queries are ~10¹-10³ rows —
    * broadcast); dl joins back doc-keyed; the 1-row (N, total) stats
    * frame broadcasts. Documents themselves never shuffle — postings
    * (doc_id, term, tf) do. The top-k window gets the map-side
    * WindowGroupLimit rescue, partitioned by query_id. */
  /** The materialized retrieval structure [[bm25AgainstIndex]] scores
    * from (C127, the `annIndex`/`minhashIndex` discipline applied to
    * text): term postings with per-doc tf, per-term document
    * frequencies, per-doc lengths, and the 1-row corpus stats. Build
    * once, write all four as tables (partition/bucket `postings` by
    * term for postings-pruned reads), then search any query batch
    * without re-tokenizing or re-scanning the corpus — the build is
    * the corpus pass, a search touches only the QUERY terms' postings.
    * `docs`/`stats` count docs with ≥ 1 token (BM25's population —
    * empty docs can't be retrieved and must not dilute avgdl). */
  final case class TextIndex(postings: DataFrame, terms: DataFrame,
                             docs: DataFrame, stats: DataFrame)

  def textIndex(df: DataFrame, id: Column, text: Column): TextIndex =
    textIndexFromPostings(docTermCounts(df, id, text))

  /** The index frames derived from an already-built (doc_id, term, tf)
    * postings frame — the [[textIndex]] body behind the tokenize step,
    * exposed so a caller that owns the postings' cache lifetime (the
    * streaming append leg, which must unpersist per micro-batch
    * instead of stranding one cached tf frame per batch for the app
    * lifetime) can reuse the ONE aggregation definition set. */
  private[graft] def textIndexFromPostings(tf: DataFrame): TextIndex = {
    // NOT persisted (A/B'd at sf0.1): caching (doc_id, dl) here made
    // the maintenance trio ~25% SLOWER — the cache build serializes
    // the otherwise-overlapping broadcast/aggregate jobs and the
    // repeated groupBy over the cached postings is cheaper than the
    // barrier it removes.
    val docs = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    TextIndex(
      postings = tf.select(col("doc_id"), col("term"), col("tf")),
      // ctf (corpus term frequency) rides in `terms` at BUILD time so
      // QL search never rescans postings beyond the query terms'
      terms = tf.groupBy(col("term")).agg(count(lit(1)).as("df"),
        sum(col("tf")).as("ctf")),
      docs = docs,
      // coalesce: an empty (or all-token-free) corpus must yield
      // (0, 0), not (0, NULL) — a NULL here poisons every avgdl /
      // smoothing-mass division downstream and silently NULLs scores
      stats = docs.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_tokens")))
  }

  /** BM25 search served entirely from a prebuilt [[TextIndex]] — no
    * corpus access: the broadcast query-term frame semi-cuts the
    * postings (with term-bucketed storage only matching buckets are
    * even read), df/dl/stats join in from their materialized frames,
    * and the scoring tree is IDENTICAL to [[bm25TopK]] (which now
    * delegates here — one definition, so the inline and indexed paths
    * cannot drift; the shared DuckDB oracle gates both). */
  def bm25AgainstIndex(ix: TextIndex, queries: DataFrame, k: Int,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(Seq("doc_id", "term", "tf").forall(ix.postings.columns.contains),
      s"postings must carry (doc_id, term, tf); got ${ix.postings.columns.mkString(", ")}")
    require(Seq("term", "df").forall(ix.terms.columns.contains),
      s"terms must carry (term, df); got ${ix.terms.columns.mkString(", ")}")
    require(Seq("doc_id", "dl").forall(ix.docs.columns.contains),
      s"docs must carry (doc_id, dl); got ${ix.docs.columns.mkString(", ")}")
    require(Seq("n_docs", "total_tokens").forall(ix.stats.columns.contains),
      s"stats must carry (n_docs, total_tokens); got ${ix.stats.columns.mkString(", ")}")
    val Seq(qidC, termC) = queries.columns.toSeq.take(2).map(col)
    val qterms = queries.select(qidC.as("query_id"),
      lower(termC).as("term")).distinct()
    val avgdl = col("total_tokens").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("df").cast("double")
        + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfPart = (col("tf").cast("double") * lit(k1 + 1)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1 - b) + lit(b) * (col("dl").cast("double") / avgdl)))
    ix.postings.join(broadcast(qterms), "term")
      .join(ix.terms, "term")
      .join(ix.docs, "doc_id")
      .crossJoin(broadcast(ix.stats))
      .select(col("query_id"), col("doc_id"),
        round(idf * tfPart * lit(1e6)).cast("long").as("contrib_micro"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"),
        sum(col("contrib_micro")).as("score_micro"))
      .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score_micro").desc, col("doc_id").asc))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_hit_terms"), col("score_micro"))
  }

  def bm25TopK(df: DataFrame, id: Column, text: Column,
               queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25AgainstIndex(textIndex(df, id, text), queries, k, k1, b)

  /** Dirichlet-smoothed query-likelihood retrieval (C132; Zhai &
    * Lafferty 2004) — the classic SECOND retrieval model next to BM25
    * (different failure modes: QL's length normalization is
    * probabilistic, its missing-term penalty comes from the corpus
    * LM), which is exactly why hybrid stacks fuse the two
    * ([[rrfFuse]]). score(q,d) = Σ_t ln((tf_td + µ·p(t|C)) / (dl_d + µ)),
    * decomposed so the plan never densifies over absent terms:
    *   Σ_present [L1(t,d) − L2(t)]  +  Σ_t L2(t)  −  |q|·L3(d)
    * with L1 = round(ln(tf + µp)·1e6), L2 = round(ln(µp)·1e6),
    * L3 = round(ln(dl + µ)·1e6) — each ln rounded ONCE to micro-nats
    * (the C37 discipline), everything after exact integer arithmetic.
    * Query terms absent from the corpus drop (they shift every doc by
    * the same −∞ under pure Dirichlet smoothing; dropping is the
    * standard practical contract and is mirrored by the oracle's
    * inner ctf join).
    *
    * Scale shape: matching postings join broadcast query terms (the
    * BM25 path); the ranking base is docs × queries — |queries|-
    * bounded, with the per-query constants riding as a broadcast
    * ≤|queries|-row frame — and the top-k is a rank window cut
    * (map-side WindowGroupLimit). Every doc scores, as QL semantics
    * require: a doc with no query term still ranks by its length
    * penalty. */
  def qlTopK(df: DataFrame, id: Column, text: Column,
             queries: DataFrame, k: Int, mu: Double = 300.0): DataFrame =
    qlAgainstIndex(textIndex(df, id, text), queries, k, mu)

  /** [[qlTopK]] served from a prebuilt [[TextIndex]] — the
    * [[bm25AgainstIndex]] split: ONE index build serves both hybrid
    * retrievers (and any query batch) without re-tokenizing the
    * corpus. */
  def qlAgainstIndex(ix: TextIndex, queries: DataFrame, k: Int,
                     mu: Double = 300.0): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(mu > 0, s"mu must be positive, got $mu")
    val Seq(qidC, termC) = queries.columns.toSeq.take(2).map(col)
    val qterms = queries.select(qidC.as("query_id"),
      lower(termC).as("term")).distinct()
    // ctf comes from the materialized `terms` frame when the index
    // carries it (build-time since C132's indexed split); a legacy
    // df-only index falls back to postings — semi-cut to the QUERY
    // terms first, so even the fallback never re-aggregates the
    // whole corpus vocabulary per search
    val ctf =
      if (ix.terms.columns.contains("ctf"))
        ix.terms.select(col("term"), col("ctf"))
      else
        ix.postings
          .join(broadcast(qterms.select(col("term")).distinct()),
            Seq("term"), "left_semi")
          .groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    // in-vocab query terms with their smoothing mass L2
    val qv = qterms.join(ctf, "term")
      .crossJoin(broadcast(ix.stats))
      .select(col("query_id"), col("term"),
        (lit(mu) * (col("ctf").cast("double") / col("total_tokens").cast("double")))
          .as("mu_p"))
      .select(col("query_id"), col("term"), col("mu_p"),
        round(log(col("mu_p")) * lit(1e6)).cast("long").as("l2"))
    val qstats = qv.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("l2")).as("qconst"))
    // present-term deltas: only matching postings move
    val hits = ix.postings.join(broadcast(qv), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        (round(log(col("tf").cast("double") + col("mu_p")) * lit(1e6)).cast("long")
          - col("l2")).as("delta"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("delta")).as("hit_micro"))
    // every doc's per-query base: qconst − |q|·ln(dl + µ)
    val base = ix.docs.crossJoin(broadcast(qstats))
      .select(col("query_id"), col("doc_id"), col("n_terms"), col("qconst"),
        round(log(col("dl").cast("double") + lit(mu)) * lit(1e6)).cast("long").as("l3"))
      .select(col("query_id"), col("doc_id"),
        (col("qconst") - col("n_terms") * col("l3")).as("base_micro"))
    base.join(hits, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("n_hit_terms"), lit(0L)).as("n_hit_terms"),
        (col("base_micro") + coalesce(col("hit_micro"), lit(0L))).as("score_micro"))
      .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score_micro").desc, col("doc_id").asc))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_hit_terms"), col("score_micro"))
  }

  /** Reciprocal-rank fusion (C133; Cormack et al. 2009) — the standard
    * hybrid-retrieval combiner: each ranking contributes
    * `1/(kRrf + rank)` per doc, missing docs contribute 0, fuse by the
    * sum. Rank-based, so the two retrievers' score SCALES never need
    * reconciling — exactly why RRF is the default in production
    * hybrid (lexical + semantic / BM25 + QL) stacks. Contributions
    * truncate once to 1e9 fixed-point so the fused order is an exact
    * integer comparison in any engine. Inputs are two
    * `(query_id, rank, doc_id, …)` frames (the [[bm25AgainstIndex]] /
    * [[qlTopK]] output contract); the join is per-(query, doc) over
    * two already-top-k-bounded frames — nothing corpus-sized. */
  def rrfFuse(a: DataFrame, b: DataFrame,
              kRrf: Int = 60, topK: Int = 10): DataFrame = {
    require(kRrf >= 1, s"kRrf must be positive, got $kRrf")
    require(topK >= 1, s"topK must be positive, got $topK")
    for ((f, n) <- Seq(a -> "a", b -> "b"))
      require(Seq("query_id", "rank", "doc_id").forall(f.columns.contains),
        s"ranking '$n' must carry (query_id, rank, doc_id); got ${f.columns.mkString(", ")}")
    def contrib(rank: Column): Column =
      (lit(1e9) / (lit(kRrf.toDouble) + rank.cast("double"))).cast("long")
    val ra = a.select(col("query_id"), col("doc_id"), col("rank").as("rank_a"))
    val rb = b.select(col("query_id"), col("doc_id"), col("rank").as("rank_b"))
    ra.join(rb, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(contrib(col("rank_a")), lit(0L)) +
          coalesce(contrib(col("rank_b")), lit(0L))).as("rrf_nano"))
      .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("rrf_nano").desc, col("doc_id").asc))
        .cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_nano"))
  }

  /** Mean reciprocal rank (C145) — THE retrieval-quality gate every
    * index change ships behind (BM25 parameter tweaks, df cuts,
    * incremental appends, hybrid fusion weights): given a ranked
    * result frame (`query_id`, `rank`, `doc_id` — any of [[bm25TopK]]
    * / [[qlTopK]] / [[rrfFuse]]'s output contracts) and a relevance
    * table (`query_id`, `doc_id`), score MRR = mean over queries of
    * 1/rank-of-first-relevant (0 when no relevant doc ranks). One
    * summary row: `(n_queries, n_hit, mrr)`.
    *
    * Exactness: each reciprocal is the INTEGER `1000000 div rank`
    * (never a float 1/3), the sum is an exact long, and the mean is
    * one pinned two-division IEEE tree rounded once — so an MRR
    * regression gate compares bit-identical doubles run to run.
    * Every query in the relevance table counts in the denominator,
    * hit or not (dropping misses would inflate the metric —
    * the left join is the honest part).
    *
    * Scale shape: the ranked frame is already top-k-bounded per
    * query; the relevance join is per-(query, doc) equi; everything
    * after runs on ≤|queries| rows. */
  def mrrAtK(ranked: DataFrame, relevant: DataFrame): DataFrame = {
    require(Seq("query_id", "rank", "doc_id").forall(ranked.columns.contains),
      s"ranked must carry (query_id, rank, doc_id); got ${ranked.columns.mkString(", ")}")
    val Seq(qC, dC) = relevant.columns.toSeq.take(2).map(col)
    val rel = relevant.select(qC.as("query_id"), dC.as("doc_id")).distinct()
    val firstHit = ranked.join(rel, Seq("query_id", "doc_id"))
      .groupBy(col("query_id")).agg(min(col("rank")).as("first_hit"))
    rel.select(col("query_id")).distinct()
      .join(firstHit, Seq("query_id"), "left")
      .select(coalesce(expr("1000000L div first_hit"), lit(0L)).as("rr_micro"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("rr_micro") > 0, 1L).otherwise(0L)).as("n_hit"),
        sum(col("rr_micro")).as("rr_sum"))
      .select(col("n_queries"), col("n_hit"),
        round(col("rr_sum").cast("double") / col("n_queries").cast("double")
          / lit(1e6), 6).as("mrr"))
  }

  /** Incremental [[TextIndex]] maintenance (the `ivfPqResAppend`
    * discipline for retrieval): fold a NEW document batch into an
    * existing index with work linear in the increment and ZERO in the
    * history — the historical postings are unioned untouched (under
    * term-bucketed storage the new files land beside the old), term
    * dfs add via one outer-merge on the increment's terms, doc
    * lengths union, and the 1-row stats add. A daily crawl updates a
    * 100 TB corpus's index without re-tokenizing the corpus; spec
    * pins append ≡ full rebuild frame-for-frame AND search-for-search.
    * Caller contract: increment ids must be new (an upsert would need
    * the old rows subtracted first — compose with a keyed anti-join
    * of the increment against `docs` when re-crawling). */
  def textIndexAppend(ix: TextIndex, increment: DataFrame,
                      id: Column, text: Column): TextIndex = {
    val inc = textIndex(increment, id, text)
    // a legacy df-only index (pre-ctf builds) merges without ctf — the
    // QL search path then takes its query-term-semi-cut postings
    // fallback; a ctf-bearing index keeps ctf maintained exactly
    val hasCtf = ix.terms.columns.contains("ctf")
    val oldTerms =
      if (hasCtf) ix.terms.select(col("term"), col("df").as("__df_old"),
        col("ctf").as("__ctf_old"))
      else ix.terms.select(col("term"), col("df").as("__df_old"),
        lit(null).cast("long").as("__ctf_old"))
    val mergedTerms0 = oldTerms
      .join(inc.terms.select(col("term"), col("df").as("__df_new"),
        col("ctf").as("__ctf_new")), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("__df_old"), lit(0L)) +
          coalesce(col("__df_new"), lit(0L))).as("df"),
        (coalesce(col("__ctf_old"), lit(0L)) +
          coalesce(col("__ctf_new"), lit(0L))).as("ctf"))
    val mergedTerms = if (hasCtf) mergedTerms0 else mergedTerms0.drop("ctf")
    // the per-side coalesce guards an index whose stats row predates
    // the coalesced build (or a hand-built one): + NULL would
    // otherwise NULL total_tokens and every later score
    val mergedStats = ix.stats.select(col("n_docs").as("__n0"),
        col("total_tokens").as("__t0"))
      .crossJoin(broadcast(inc.stats.select(col("n_docs").as("__n1"),
        col("total_tokens").as("__t1"))))
      .select((col("__n0") + col("__n1")).as("n_docs"),
        (coalesce(col("__t0"), lit(0L)) +
          coalesce(col("__t1"), lit(0L))).as("total_tokens"))
    TextIndex(
      postings = ix.postings.unionByName(inc.postings),
      terms = mergedTerms,
      docs = ix.docs.unionByName(inc.docs),
      stats = mergedStats)
  }

  /** The DELETE half of [[textIndexAppend]] — fold a removal batch
    * OUT of an existing index with work linear in the removed docs'
    * postings and ZERO re-tokenization: the docs to drop are located
    * in the index's OWN postings (removal needs ids only, never the
    * original text — the GDPR/takedown shape, where the text may
    * already be gone), their per-term (df, ctf) mass is aggregated
    * and SUBTRACTED from `terms` via one left-merge (terms whose df
    * reaches 0 drop — a full rebuild would never have seen them),
    * postings/docs anti-join away, and the 1-row stats shrink by the
    * removed docs' count and token mass. Spec pins
    * remove(X) ≡ rebuild-without(X) frame-for-frame AND
    * search-for-search (the [[textIndexAppend]] parity law inverted).
    * Ids absent from the index are no-ops — remove(absent) ≡
    * rebuild-without(absent) ≡ unchanged — so a delete list may be
    * replayed idempotently.
    *
    * Scale shape: `ids`' first column is the key; the removed-postings
    * locate is a semi-join on doc_id (delete lists are 10¹-10⁶ rows —
    * AQE broadcasts small ones), the term merge moves only the
    * REMOVED docs' distinct terms, and the history's postings are
    * anti-joined, never rewritten row-by-row. A removal approaching
    * the corpus size is rebuild territory, same contract as the
    * append side's retrain-on-drift. */
  def textIndexRemove(ix: TextIndex, ids: DataFrame): TextIndex = {
    val keyType = ix.docs.schema("doc_id").dataType
    val rem = ids.select(col(ids.columns.head).cast(keyType).as("doc_id"))
      .distinct()
    val remTf = ix.postings.join(rem, Seq("doc_id"), "left_semi")
    val hasCtf = ix.terms.columns.contains("ctf")
    val remTerms = remTf.groupBy(col("term"))
      .agg(count(lit(1)).as("__df_rem"), sum(col("tf")).as("__ctf_rem"))
    val mergedTerms0 = ix.terms
      .join(remTerms, Seq("term"), "left")
      .withColumn("df", col("df") - coalesce(col("__df_rem"), lit(0L)))
      .filter(col("df") > 0)
    val mergedTerms =
      if (hasCtf) mergedTerms0
        .select(col("term"), col("df"),
          (col("ctf") - coalesce(col("__ctf_rem"), lit(0L))).as("ctf"))
      else mergedTerms0.select(col("term"), col("df"))
    // stats shrink by the docs ACTUALLY present (replayed/absent ids
    // must not drive n_docs negative); the coalesce guards an empty
    // removal set (sum over zero rows is NULL, not 0)
    val remStats = ix.docs.join(rem, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("__n_rem"),
        coalesce(sum(col("dl")), lit(0L)).as("__t_rem"))
    val mergedStats = ix.stats.crossJoin(broadcast(remStats))
      .select((col("n_docs") - col("__n_rem")).as("n_docs"),
        (coalesce(col("total_tokens"), lit(0L)) - col("__t_rem"))
          .as("total_tokens"))
    TextIndex(
      postings = ix.postings.join(rem, Seq("doc_id"), "left_anti"),
      terms = mergedTerms,
      docs = ix.docs.join(rem, Seq("doc_id"), "left_anti"),
      stats = mergedStats)
  }

  /** Re-crawl index maintenance (the UPSERT [[textIndexAppend]]'s
    * scaladoc prescribes): replace the `updated` docs' contribution
    * wholesale — [[textIndexRemove]] their CURRENT rows out of the
    * index (located from its own postings; the old text need not
    * exist anywhere), then [[textIndexAppend]] the new crawls. Work is
    * linear in the updated batch on both legs, zero in the history;
    * ids the index has never seen degrade to a plain append (the
    * remove leg no-ops), so one upsert call serves mixed
    * new-plus-re-crawled batches. Spec pins
    * upsert(X') ≡ rebuild-with(X') frame-for-frame AND
    * search-for-search; the registered query oracle-gates a
    * genuinely-modified quarter under a modified-corpus DuckDB
    * replay. */
  def textIndexUpsert(ix: TextIndex, updated: DataFrame,
                      id: Column, text: Column): TextIndex =
    textIndexAppend(
      textIndexRemove(ix, updated.select(id)),
      updated, id, text)

  /** CDC-driven index sync (the full corpus-versioning composition):
    * advance an index built on corpus v1 to corpus v2 using a
    * [[graft.operators.Curation.corpusDiff]]-shaped feed
    * `(doc_id, status ∈ added|changed|removed|unchanged)` and the v2
    * payloads — removed ∪ changed ids are [[textIndexRemove]]d,
    * added ∪ changed docs [[textIndexAppend]]ed from v2, unchanged
    * history untouched. This is the nightly-snapshot shape: diff two
    * corpus versions once (payload-free md5 comparison), then pay
    * index work proportional to the CHANGE SET, never the corpus.
    * Oracle-gated with all three change kinds live in one query;
    * sync(v1→v2) ≡ rebuild-on-v2 is the composition of the two parity
    * laws already pinned per leg. */
  def textIndexSync(ix: TextIndex, diff: DataFrame, newCorpus: DataFrame,
                    id: Column, text: Column): TextIndex = {
    require(Seq("doc_id", "status").forall(diff.columns.contains),
      s"diff must carry (doc_id, status); got ${diff.columns.mkString(", ")}")
    // NOTE (A/B'd at sf0.1): persisting the change set here measured
    // FLAT — the two diff consumers' identical md5-join subtrees are
    // already deduplicated by exchange reuse, so the cache only added
    // a materialization barrier.
    val stale = diff.filter(col("status").isin("removed", "changed"))
      .select(col("doc_id"))
    val freshIds = diff.filter(col("status").isin("added", "changed"))
      .select(col("doc_id"))
    val fresh = newCorpus.select(id.as("doc_id"), text.as("__sync_text"))
      .join(freshIds, Seq("doc_id"), "left_semi")
    textIndexAppend(textIndexRemove(ix, stale),
      fresh, col("doc_id"), col("__sync_text"))
  }

  /** Dictionary tagging (C135) — taxonomy/topic labeling of a corpus
    * against a curated term list, the FlashText/gazetteer problem: a
    * `(tag, term)` dictionary where terms are single words OR
    * word-boundary-exact phrases up to `maxWords` words ("hash join"
    * matches the token pair, never the substring of "rehash joining").
    * Output is one row per (doc, tag) that matched: occurrence count
    * (bag semantics — a doc saying "join" thrice bills "joins" three
    * times) and distinct matched terms (breadth — one term repeating
    * is weaker evidence than three different ones). Docs matching
    * nothing are absent by construction (the absent row IS "untagged";
    * left-join against the corpus to materialize zeros).
    *
    * Scale shape: the dictionary distinct-s and BROADCASTS (term
    * lists are 10²-10⁵ rows); the corpus explodes to its 1..maxWords
    * positional grams MAP-SIDE and probes the broadcast — only
    * matching (doc, tag, term) hits ever shuffle, into one partial-agg
    * count. The text is rescanned once per gram width (maxWords narrow
    * map passes, no join, no shuffle between them) — at maxWords ≤ 3
    * that is cheaper than materializing a combined gram frame. */
  def tagByDictionary(df: DataFrame, id: Column, text: Column,
                      dict: DataFrame, maxWords: Int = 2): DataFrame = {
    require(maxWords >= 1 && maxWords <= 5,
      s"maxWords must be in [1, 5], got $maxWords")
    val Seq(tagC, termC) = dict.columns.toSeq.take(2).map(col)
    val d = dict.select(tagC.as("tag"), lower(termC).as("term")).distinct()
    val grams = (1 to maxWords)
      .map(n => df.select(id.as("doc_id"),
        explode(graft.operators.Dedup.wordShingles(lower(text), n,
          distinct = false)).as("term")))
      .reduce(_ unionAll _)
    grams.filter(col("term") =!= "")
      .join(broadcast(d), "term")
      .groupBy(col("doc_id"), col("tag"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("term")).as("n_terms"))
  }

  /** RAKE keyphrase extraction (C141; Rose et al. 2010) — the classic
    * MULTI-WORD keyphrase ranker next to tf-idf's single terms:
    * candidate phrases are the maximal token runs between stopword
    * delimiters, each word scores degree/frequency over the doc's
    * candidates (degree = Σ length of phrases it appears in — words
    * that ride long phrases with other content words outrank words
    * that repeat alone), and a phrase scores the sum of its words.
    * Candidates longer than `maxPhraseWords` DROP (the standard cap:
    * it bounds the per-run collect buffer AND keeps "keyphrase"
    * meaning short); word stats are computed over the capped
    * candidate set, per document.
    *
    * Exactness: run ids come from a RUNNING stopword-count frame
    * (the A15 prefix-count idiom — partition key scales with docs);
    * degree/frequency are exact longs, the word score is ONE
    * integral `(1e6·deg) div freq`, and phrase scores are integer
    * sums — every rank boundary is an integer comparison with a
    * phrase-text tiebreak. Scale shape: one tokenize pass, one
    * per-doc window, two (doc, run)/(doc, term) partial aggs and a
    * per-doc top-k rank window (map-side WindowGroupLimit). */
  def rakeTopK(df: DataFrame, id: Column, text: Column,
               stopwords: Seq[String], k: Int,
               maxPhraseWords: Int = 8): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(maxPhraseWords >= 1,
      s"maxPhraseWords must be positive, got $maxPhraseWords")
    require(stopwords.nonEmpty, "RAKE needs a delimiter stopword set")
    val sw = stopwords.map(_.toLowerCase)
    val toks = df.select(id.as("doc_id"),
        posexplode(split(lower(text), " ")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = toks
      .withColumn("run",
        sum(when(col("term").isInCollection(sw), 1L).otherwise(0L)).over(wRun))
      .filter(!col("term").isInCollection(sw))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val phrases = cand.groupBy(col("doc_id"), col("run"))
      .agg(count(lit(1)).as("plen"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("term")))),
          s => s.getField("term")), " ").as("phrase"))
      .filter(col("plen") <= maxPhraseWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val words = cand
      .join(phrases.select(col("doc_id"), col("run"), col("plen")),
        Seq("doc_id", "run"))
      .groupBy(col("doc_id"), col("term"))
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .select(col("doc_id"), col("term"),
        expr("(1000000 * deg) div freq").as("wscore"))
    cand
      .join(phrases, Seq("doc_id", "run"))
      .join(words, Seq("doc_id", "term"))
      .groupBy(col("doc_id"), col("run"), col("phrase"), col("plen"))
      .agg(sum(col("wscore")).as("score_micro"))
      .groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        max(col("score_micro")).as("score_micro"),
        max(col("plen")).as("n_words"))
      .withColumn("rank", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score_micro").desc, col("phrase").asc))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("phrase"), col("n_words"),
        col("n_occurrences"), col("score_micro"))
  }

  /** Zipf-law fit of the corpus token distribution (SURVEY.md §2.C82)
    * — the least-squares slope of `ln(tf)` against `ln(rank)` over
    * the top-N vocabulary: natural language sits near −1 (Zipf 1949);
    * a corpus that drifts far flags synthetic/templated text (too
    * steep: generation loops; too flat: keyword spam / shuffled
    * vocabularies). One summary row `(n_terms, slope, intercept)` —
    * the audit a corpus-health dashboard plots per source or crawl.
    *
    * Exactness: tf and rank are exact integers; each `ln` is rounded
    * ONCE to integer micro-nats (the C37 discipline), so the five
    * regression sums (n, Σx, Σy, Σxy, Σx²) are exact longs — overflow-
    * safe at topN=1000 (Σxy ≤ ~2e17) — and the closed-form slope
    * `(nΣxy−ΣxΣy)/(nΣx²−(Σx)²)` is ONE pinned IEEE tree over those
    * longs, identical in any engine, rounded once. The intercept
    * reuses the UNROUNDED slope. Scale shape: one term-keyed partial
    * agg off the shared [[docTermCounts]] core, a map-side-limited
    * global top-N (WindowGroupLimit), and a 1-row final aggregate —
    * the corpus shuffles only as (term, count) pairs. */
  def zipfFit(df: DataFrame, id: Column, text: Column,
              topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"topN must be at least 2, got $topN")
    val vocab = docTermCounts(df, id, text)
      .groupBy(col("term")).agg(sum(col("tf")).as("tf"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("tf").desc, col("term"))).cast("long"))
      .filter(col("rank") <= topN)
    val pts = vocab.select(
      round(log(col("rank").cast("double")) * 1e6).cast("long").as("x"),
      round(log(col("tf").cast("double")) * 1e6).cast("long").as("y"))
    val s = pts.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val nd = col("n").cast("double"); val sxd = col("sx").cast("double")
    val syd = col("sy").cast("double")
    val den = nd * col("sxx").cast("double") - sxd * sxd
    s.withColumn("__slope_raw",
        when(col("n") >= 2 && den =!= 0.0,
          (nd * col("sxy").cast("double") - sxd * syd) / den))
      .select(col("n").as("n_terms"),
        round(col("__slope_raw"), 6).as("slope"),
        round((syd - col("__slope_raw") * sxd) / nd, 6).as("intercept"))
  }

  /** Unigram LM scoring (SURVEY.md §2.C37): each document's mean token
    * log-probability under the corpus's OWN unigram model — the shape
    * of the CCNet/KenLM-style perplexity quality filter (docs whose
    * token mix is improbable under the reference model are gibberish /
    * boilerplate / wrong-language candidates; here the reference model
    * is the corpus itself, so no external model ships). Returns
    * `(doc_id, n_tokens, lp_micro_sum, mean_logprob)` — callers rank
    * or threshold on it (more negative = less probable).
    *
    * Cross-engine exactness, same discipline as [[tfIdfTopK]]: `ln` is
    * libm-dependent, so each term's log-prob is FIXED-POINT — rounded
    * once to integer micro-nats (`round(ln(tf/total)·1e6)`), after
    * which every sum is exact integer arithmetic in any order and in
    * both engines; a 1-ulp `ln` divergence would have to land within
    * ~1e-10 of a .5 micro-nat boundary to flip anything. The per-doc
    * mean divides two exact integers in one fixed operation order.
    *
    * Scale shape: one (doc, term) aggregation shuffle (the shared
    * persisted [[docTermCounts]] frame — it feeds both the vocab
    * aggregation and the scoring join; the token total is re-summed
    * from the cached vocab frame, never a second corpus scan), the
    * 1-row total broadcast onto the vocab frame (never onto the
    * corpus), and one term-keyed join back; the join moves (doc_id,
    * term-id-sized) rows, never text. Docs with ZERO tokens (empty /
    * whitespace-only text) survive via a left join with n_tokens = 0
    * and a NULL mean — a perplexity-style filter must see them, and
    * neither 0.0 ("maximally probable") nor any other sentinel is an
    * honest score for "nothing to score". */
  def unigramLogProb(df: DataFrame, id: Column, text: Column): DataFrame = {
    val perDoc = docTermCounts(df, id, text)
    val vocab = perDoc.groupBy(col("term")).agg(sum(col("tf")).as("tf"))
    val total = vocab.agg(sum(col("tf")).as("total"))
    val lp = vocab.crossJoin(broadcast(total))
      .select(col("term"),
        round(log(col("tf").cast("double") / col("total").cast("double")) * 1e6)
          .cast("long").as("lp_micro"))
    val scored = perDoc.join(lp, "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("lp_micro")).as("lp_sum"),
        sum(col("tf")).as("n_toks"))
    df.select(id.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_tokens"),
        coalesce(col("lp_sum"), lit(0L)).as("lp_micro_sum"),
        when(col("n_toks").isNull, lit(null).cast("double"))
          .otherwise(round(col("lp_sum").cast("double") / col("n_toks") / 1e6, 4))
          .as("mean_logprob"))
  }

  /** Bigram-LM log-probability (C52): each doc scored by the mean
    * conditional log-prob `ln P(w2|w1)` of its adjacent token pairs
    * under the corpus's OWN bigram model — one order up from
    * [[unigramLogProb]], and the step change that matters for a
    * perplexity-style filter: a doc whose TOKENS are individually
    * common but whose TRANSITIONS are improbable (shuffled words,
    * keyword-stuffed spam, wrong-grammar machine text) scores low
    * here while the unigram model waves it through. MLE on the bigram
    * stream: `P(w2|w1) = C(w1,w2) / C(w1·)` where `C(w1·)` sums the
    * bigrams starting at `w1` — every observed bigram has positive
    * probability, so no smoothing term and the model is
    * self-contained. Same fixed-point discipline as the unigram
    * scorer: each conditional is rounded ONCE to integer micro-nats,
    * then all sums are exact in any order and in both engines.
    * Returns `(doc_id, n_bigrams, lp_micro_sum, mean_logprob)`; docs
    * with fewer than 2 tokens have no transitions and an honest NULL
    * mean.
    *
    * Scale shape: bigrams leave their doc as `(doc_id, xxhash64(w1
    * +' '+w2), xxhash64(w1))` — 8-byte keys shuffle, never the pair
    * strings (the C22 hashed-key discipline; the oracle keys on the
    * strings, a ~1e-11 collision risk). One (doc, bigram) partial-agg
    * shuffle, the bigram-vocab aggregation, a vocab-sized context
    * join, and one hash-keyed join back; the context counts come from
    * the persisted bigram vocab itself — no second corpus scan. */
  /** THE adjacent-token-pair expression the bigram-LM scorer (C52)
    * and the PMI collocation miner (C62) share: lowercased
    * whitespace tokens, empties dropped, zipped with their right
    * neighbor as `struct(w1, w2)`; <2-token docs yield an empty
    * array. ONE definition so a pairing change (tokenizer tweak,
    * boundary rule) can't silently diverge the LM from the
    * collocation stats — the [[docTermCounts]] rule, one order up. */
  private def bigramPairs(text: Column): Column = {
    val toks = filter(split(lower(text), " "), t => t =!= "")
    graft.functions.Cols.let(toks) { w =>
      when(size(w) >= 2,
        zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(typedLit(Array.empty[(String, String)])
          .cast("array<struct<w1:string,w2:string>>"))
    }
  }

  def bigramLogProb(df: DataFrame, id: Column, text: Column): DataFrame = {
    val perDoc = df.select(id.as("doc_id"), explode(bigramPairs(text)).as("p"))
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", col("p.w1"), col("p.w2"))).as("bh"),
        xxhash64(col("p.w1")).as("uh"))
      .groupBy(col("doc_id"), col("bh"), col("uh"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bvocab = perDoc.groupBy(col("bh"), col("uh")).agg(sum(col("tf")).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ctx = bvocab.groupBy(col("uh")).agg(sum(col("c12")).as("c1"))
    val lp = bvocab.join(ctx, "uh")
      .select(col("bh"),
        round(log(col("c12").cast("double") / col("c1").cast("double")) * 1e6)
          .cast("long").as("lp_micro"))
    val scored = perDoc.join(lp, "bh")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("lp_micro")).as("lp_sum"),
        sum(col("tf")).as("n_bg"))
    df.select(id.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bg"), lit(0L)).as("n_bigrams"),
        coalesce(col("lp_sum"), lit(0L)).as("lp_micro_sum"),
        when(col("n_bg").isNull, lit(null).cast("double"))
          .otherwise(round(col("lp_sum").cast("double") / col("n_bg") / 1e6, 4))
          .as("mean_logprob"))
  }

  /** Repetition metric (SURVEY.md §2.C24): each document's most
    * frequent word n-gram and the fraction of the document's
    * characters it covers — the Gopher/MassiveText-style "top n-gram
    * character fraction" quality filter (degenerate machine-generated
    * text repeats one phrase; prose doesn't). Docs shorter than n
    * tokens have no grams and are absent.
    *
    * The fraction counts characters COVERED, not occurrences×length:
    * bag-semantics occurrences of a self-overlapping gram ("a a a"
    * holds "a a" twice in 5 chars) would push occurrences×length past
    * the document length, and a "fraction" above 1.0 is nonsense for
    * exactly the repetitive docs this metric exists to flag. Coverage
    * is measured as `len(text) − len(replace(text, gram, ''))` — the
    * left-to-right non-overlapping occurrence count × gram length,
    * bounded by the text length, with identical `replace` semantics in
    * both engines (the recipe qtext_boilerplate_rm's oracle proves).
    * The bag occurrence count still rides along as `n_occurrences`.
    *
    * Scale shape: one (doc_id, gram) aggregation shuffle, then the
    * per-doc argmax window re-uses the doc key — and since it is a
    * rank-1 filter over high-cardinality doc_id, Spark plans a
    * map-side WindowGroupLimit (no whole-partition buffering); the
    * winning gram equi-joins back to the doc frame for the coverage
    * pass (one row per doc, ids + one gram string). The cut decision
    * stays INTEGER-exact (count desc, gram asc); the float fraction
    * rides along rounded, it never decides the argmax.
    *
    * `df` is consumed twice (gram aggregation + the coverage
    * join-back) and deliberately NOT persisted: like
    * [[graft.operators.Dedup.embeddingCosinePairs]], the
    * double-consumed side is the raw corpus (full text, no derived
    * reduction to amortize), so a cache write costs more than the
    * second scan it saves. A caller whose input is an EXPENSIVE
    * derived pipeline should persist it before calling.
    */
  def topNgramStats(df: DataFrame, id: Column, text: Column, n: Int = 2): DataFrame = {
    val grams = df.select(id.as("doc_id"),
      explode(graft.operators.Dedup.wordShingles(text, n, distinct = false)).as("gram"))
    val counts = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("n_occurrences"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_occurrences").desc, col("gram").asc)
    val top = counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("gram").as("top_gram"),
        col("n_occurrences").cast("long").as("n_occurrences"))
    val docs = df.select(id.as("doc_id"), text.as("__text"))
    top.join(docs, "doc_id")
      .withColumn("covered_chars",
        (length(col("__text")) - length(replace(col("__text"), col("top_gram"))))
          .cast("long"))
      .withColumn("text_chars", length(col("__text")).cast("long"))
      .select(col("doc_id"), col("top_gram"), col("n_occurrences"),
        col("covered_chars"), col("text_chars"),
        round(col("covered_chars").cast("double") /
          col("text_chars").cast("double"), 4).as("top_gram_char_frac"))
  }

  /** Out-of-vocabulary rate (SURVEY.md §2.C61): each document's
    * fraction of tokens outside the corpus's own top-`vocabK`
    * vocabulary — the coverage signal a tokenizer/vocab decision
    * needs BEFORE training (docs dense in rare terms are
    * transliteration, code, boilerplate IDs, or wrong-language
    * residue; a vocab sized against them wastes merges), and the
    * per-doc complement of [[unigramLogProb]]'s probability view.
    * Vocabulary membership is INTEGER-exact: top-`vocabK` by (corpus
    * tf desc, term asc), the [[tfIdfTopK]] tie discipline, so the
    * boundary never depends on a float. Returns `(doc_id, n_tokens,
    * n_oov, oov_rate)`; zero-token docs survive with an honest NULL
    * rate (the [[unigramLogProb]] contract).
    *
    * Scale shape: ONE corpus tokenization (the shared persisted
    * [[docTermCounts]] frame feeds both the vocab aggregation and the
    * per-doc scoring), the vocab is `vocabK` rows BROADCAST onto the
    * (doc, term) frame — membership is a map-side left join, no
    * term-keyed shuffle of the corpus — then one doc-keyed partial
    * agg. Only (doc_id, term, count) rows ever move, never text. */
  def oovRate(df: DataFrame, id: Column, text: Column, vocabK: Int): DataFrame = {
    val tf = docTermCounts(df, id, text)
    val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
      .withColumn("vr", row_number().over(
        Window.orderBy(col("ctf").desc, col("term").asc)))
      .filter(col("vr") <= vocabK)
      .select(col("term"), lit(1).as("__in_vocab"))
    val scored = tf.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_toks"),
        sum(when(col("__in_vocab").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_oov"))
    df.select(id.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(col("n_toks").isNull, lit(null).cast("double"))
          .otherwise(round(col("n_oov").cast("double") / col("n_toks"), 6))
          .as("oov_rate"))
  }

  /** Top bigram collocations by pointwise mutual information
    * (SURVEY.md §2.C62): the corpus's most-associated adjacent word
    * pairs — `PMI(w1,w2) = ln( P(w1,w2) / (P(w1)·P(w2)) )` over the
    * bigram stream, the classic collocation statistic (Church &
    * Hanks 1990) and the corpus-analysis twin of [[bigramLogProb]]:
    * that scores DOCS under the transition model, this surfaces the
    * TRANSITIONS themselves (multi-word entities, templated phrases,
    * segmentation candidates). Marginals are the bigram table's own
    * first/second-position sums, so `sum(c1) = sum(c2) = total` holds
    * by construction. Pairs below `minCount` are dropped first — PMI
    * is maximized by hapax pairs, so unfiltered ranking surfaces
    * noise. Cross-engine exactness: the PMI is computed in ONE fixed
    * double expression `(c12/c1)·(total/c2)` (exact IEEE steps), its
    * `ln` rounded ONCE to integer micro-nats (the [[unigramLogProb]]
    * discipline), and the top-k ranks on (pmi_micro desc, bigram asc)
    * — integers and strings, never a float boundary.
    *
    * Scale shape: bigrams aggregate in ONE (w1, w2) partial-agg
    * shuffle (the [[topNgramStats]] string-keyed corpus-stat idiom —
    * the output IS the strings, so hashing would only defer the
    * carry); both marginals and the grand total derive from the
    * persisted bigram-count frame — no second corpus scan; marginal
    * join-backs move (word, count) rows; the global top-k plans as a
    * map-side WindowGroupLimit (≤ k rows per partition reach the
    * final sort), the qtext_vocab shape. */
  /** CCNet-style perplexity bucketing (SURVEY.md §2.C70; Wenzek et al.
    * 2020): label every doc head/middle/tail by its unigram-LM mean
    * log-prob ([[unigramLogProb]]'s integer micro-nat sums — the mean
    * here is `lp_micro_sum div n_tokens`, one exact integer division,
    * so the bucket boundary NEVER rides a float). CCNet trains on the
    * head, audits the middle, drops the tail; the bucket label is the
    * rate-controlling input the C23 mixture sampler consumes.
    *
    * Cut derivation: thirds of the [min, max] score RANGE via exact
    * integer lerp — one 1-row scalar fetch (the z-order stats idiom),
    * then the labeling is a pure map-side when-chain. Range cuts keep
    * the whole operator exactly reproducible cross-engine (the driver
    * oracle rides this path); they are also sensitive to outlier docs
    * — ONE extreme score drags both cuts toward it and empties a
    * bucket. The 100 TB production path is [[pplBucketsQuantile]]:
    * same output contract, cuts at the score distribution's own
    * tertiles. Zero-token docs are 'unscored': no sentinel score is
    * an honest probability for "nothing to score".
    *
    * Boundary inclusion: the range cuts label with `>=` (a score
    * EXACTLY at a cut lands in the UPPER bucket) while
    * [[pplBucketsQuantile]] labels strictly `>` against its sketch
    * cut elements (an exact-cut score lands in the LOWER bucket) —
    * the quantile cuts are actual corpus scores, and "the cut element
    * itself stays below the boundary" is what its rank-ECDF spec
    * pins. Same output contract otherwise, but a caller swapping cut
    * policies must expect exact-boundary docs to move buckets.
    *
    * Cache lifetime: the returned frame reads the persisted scored
    * frame (one scoring pass serves both the stats fetch and the
    * labeling); the CALLER owns that cache — unpersisting here would
    * force a second full scoring pass when the result materializes.
    */
  def pplBuckets(df: DataFrame, id: Column, text: Column): DataFrame = {
    val scored = unigramLogProb(df, id, text)
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0, expr("lp_micro_sum div n_tokens"))
          .as("lp_mean_micro"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = scored.agg(min(col("lp_mean_micro")), max(col("lp_mean_micro")))
      .collect()(0)
    // empty corpus / all-unscored: min is NULL, there are no cuts —
    // every row (if any) is honestly 'unscored'; the cache buys
    // nothing on this path, so release it before returning
    if (stats.isNullAt(0)) {
      scored.unpersist(blocking = false)
      return scored.select(col("doc_id"), col("n_tokens"), col("lp_mean_micro"),
        lit("unscored").as("bucket"))
    }
    val (mn, mx) = (stats.getLong(0), stats.getLong(1))
    val c1 = mn + (mx - mn) / 3
    val c2 = mn + (2 * (mx - mn)) / 3
    scored.select(col("doc_id"), col("n_tokens"), col("lp_mean_micro"),
      when(col("lp_mean_micro").isNull, lit("unscored"))
        .when(col("lp_mean_micro") >= c2, lit("head"))
        .when(col("lp_mean_micro") >= c1, lit("middle"))
        .otherwise(lit("tail")).as("bucket"))
  }

  /** [[pplBuckets]] with QUANTILE cuts (C70's 100 TB cut policy) —
    * same scoring, same output contract, but the head/middle/tail
    * boundaries sit at the score distribution's own tertiles
    * (`approx_percentile` at 1/3 and 2/3) instead of range thirds,
    * so ONE outlier document can no longer drag both cuts toward it
    * and empty a bucket: on a skewed corpus the buckets hold ~equal
    * DOC COUNTS, which is what CCNet's train-on-head/audit-middle/
    * drop-tail recipe actually wants (Wenzek et al. 2020 cut on
    * perplexity terciles, not range).
    *
    * The cuts come from Spark's Greenwald-Khanna sketch over the
    * integer micro-nat scores — returned values are ACTUAL corpus
    * scores within `accuracy`-bounded rank error (exact on inputs
    * smaller than `accuracy`), so the label chain still compares
    * exact integers; only the cut SELECTION is approximate. That
    * makes this the q10b/no_oracle discipline: registered and
    * driver-exercised but not hash-gated — the spec pins it to the
    * exact ECDF tertiles on fixtures where the sketch is exact, and
    * [[pplBuckets]] keeps the byte-exact oracle coverage of the
    * shared scoring chain.
    *
    * Scale shape: identical to [[pplBuckets]] except the 1-row stats
    * fetch is the sketch aggregate (map-side partials, mergeable —
    * one pass, no sort, no window); labeling stays a map-side
    * when-chain.
    *
    * Boundary inclusion: labels compare strictly `>` against the cut
    * elements (the cut element itself lands in the LOWER bucket —
    * what the rank-ECDF spec pins), where [[pplBuckets]]'s range
    * variant uses `>=` against its lerp cuts: a doc scoring exactly
    * at a boundary moves buckets between the two policies.
    *
    * Cache lifetime: as in [[pplBuckets]], the returned frame reads
    * the persisted scored frame and the CALLER owns that cache. */
  def pplBucketsQuantile(df: DataFrame, id: Column, text: Column,
                         accuracy: Int = 100000): DataFrame = {
    require(accuracy >= 100, s"accuracy must be >= 100, got $accuracy")
    val scored = unigramLogProb(df, id, text)
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0, expr("lp_micro_sum div n_tokens"))
          .as("lp_mean_micro"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cuts = scored
      .agg(percentile_approx(col("lp_mean_micro"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("cs"))
      .collect()(0)
    // empty corpus / all-unscored: the sketch sees no values — every
    // row (if any) is honestly 'unscored'; the cache buys nothing on
    // this path, so release it before returning
    if (cuts.isNullAt(0)) {
      scored.unpersist(blocking = false)
      return scored.select(col("doc_id"), col("n_tokens"), col("lp_mean_micro"),
        lit("unscored").as("bucket"))
    }
    val cs = cuts.getSeq[Long](0)
    val (c1, c2) = (cs(0), cs(1))
    scored.select(col("doc_id"), col("n_tokens"), col("lp_mean_micro"),
      when(col("lp_mean_micro").isNull, lit("unscored"))
        .when(col("lp_mean_micro") > c2, lit("head"))
        .when(col("lp_mean_micro") > c1, lit("middle"))
        .otherwise(lit("tail")).as("bucket"))
  }

  /** Distributed BPE vocabulary training (SURVEY.md §2.C69; Sennrich
    * et al. 2016) — learn the first `merges` byte-pair merges from the
    * corpus's own word distribution. The trainer uses the CLASSIC
    * scale decomposition: the corpus is scanned ONCE into a
    * (word, count) vocabulary table (~10⁶ rows at 100 TB — web-corpus
    * word vocabularies grow sub-linearly), and every merge round runs
    * against that table, never the corpus: a wc-weighted adjacent-pair
    * count (map-side partials; (symbol, symbol) keys), a 1-row argmax
    * fetch (the CC-convergence scalar idiom — ties broken on
    * (count desc, left asc, right asc), integer-exact), and a
    * merge-application map stage. Each round's symbol frame persists;
    * the previous round's unpersists.
    *
    * Merge application is the standard GREEDY left-to-right
    * non-overlapping scan ("a a a" under merge (a,a) → ["aa","a"]) as
    * one `aggregate` fold per word — a plain string replace over a
    * delimiter-joined form is WRONG here (a consumed delimiter hides
    * the next occurrence, so alternating chains merge at the wrong
    * positions) and the fold is what the oracle mirrors exactly.
    *
    * Pre-tokenization contract: lowercased whitespace words restricted
    * to printable ASCII (the standard trainer runs AFTER such a
    * pre-tokenizer; it also guarantees the `</w>` end marker and the
    * oracle's control-char state encoding can't collide with a symbol).
    *
    * Returns the merge table — (step, l_sym, r_sym, merged,
    * pair_count), `merges` rows (fewer only if the vocabulary runs out
    * of pairs) — the artifact a tokenizer ships.
    */
  /** THE greedy left-to-right non-overlapping merge application both
    * BPE halves share — training folds each learned merge into the
    * vocabulary, [[bpeApply]] folds the shipped table into every word.
    * One definition so the trainer and the tokenizer can never
    * disagree on merge positions ("a a a" under (a,a) → ["aa","a"]).
    * `pend` holds the last unmerged symbol ("" = none). */
  private def greedyMergeFold(syms: Column, a: String, b: String, m: String): Column = {
    val empty = struct(array().cast("array<string>").as("out"), lit("").as("pend"))
    aggregate(syms, empty,
      (acc, x) => when(acc("pend") === a && x === b,
          struct(concat(acc("out"), array(lit(m))).as("out"), lit("").as("pend")))
        .when(acc("pend") === "",
          struct(acc("out").as("out"), x.as("pend")))
        .otherwise(struct(concat(acc("out"), array(acc("pend"))).as("out"),
          x.as("pend"))),
      acc => when(acc("pend") === "", acc("out"))
        .otherwise(concat(acc("out"), array(acc("pend")))))
  }

  def bpeTrain(df: DataFrame, text: Column, merges: Int): DataFrame = {
    require(merges >= 1 && merges <= 64,
      s"merges must be in [1, 64] (each round is a Spark job), got $merges")
    val spark = df.sparkSession
    import spark.implicits._
    var words = df.filter(text.isNotNull)
      .select(explode(split(lower(text), " ")).as("word"))
      .filter(col("word").rlike("^[\\x21-\\x7e]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("wc"),
        concat(regexp_extract_all(col("word"), lit("(?s)."), lit(0)),
          array(lit("</w>"))).as("syms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    try {
      for (step <- 1 to merges if learned.size == step - 1) {
        val n = size(col("syms"))
        val best = words
          .select(col("wc"), explode(arrays_zip(
            slice(col("syms"), lit(1), n - 1).as("l"),
            slice(col("syms"), lit(2), n - 1).as("r"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("wc")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
          .collect()
        if (best.nonEmpty) {
          val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          val m = a + b
          learned += ((step.toLong, a, b, m, cnt))
          val next = words.select(col("wc"), greedyMergeFold(col("syms"), a, b, m).as("syms"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          next.count() // materialize before dropping the parent
          words.unpersist()
          words = next
        }
      }
    } finally words.unpersist()
    learned.toSeq.toDF("step", "l_sym", "r_sym", "merged", "pair_count")
  }

  /** BPE tokenization with a LEARNED merge table (SURVEY.md §2.C85) —
    * the deployment half of [[bpeTrain]]: segment every document with
    * the shipped merges and report the tokenizer-evaluation view
    * `(doc_id, n_words, n_tokens, fertility, tokens)` — fertility
    * (BPE tokens per word) is THE signal a vocab decision reads (a
    * merge table that fits the corpus drives fertility toward 1; a
    * mismatched one leaves every word at char+1 pieces), and the
    * byte-exact `tokens` stream is what a downstream pipeline feeds
    * the model.
    *
    * The merge table is a tokenizer ARTIFACT (≤ tens of rows here,
    * ~30k in production) collected once and folded into a literal
    * expression chain — each merge is one [[greedyMergeFold]] pass, so
    * the whole operator is ONE codegen map stage over the corpus:
    * zero shuffle, zero join, scan-bounded at 100 TB. The literal
    * chain is capped at 16 merges (expression depth grows per merge);
    * a production-vocab swap is the vocabulary-JOIN formulation —
    * distinct words → fold once per word → word-keyed join back —
    * which trades the map work for one string-keyed shuffle and no
    * expression-depth bound. The cap keeps this operator honest about
    * which regime it implements.
    *
    * Pre-tokenizer contract mirrors the trainer (lowercased whitespace
    * words); words OUTSIDE the trainer's printable-ASCII alphabet
    * can't match any merge by construction, so they pass through as
    * one ATOMIC `word</w>` token (the unk-word convention) rather
    * than exploding into characters the table never saw. NULL/empty
    * text reports 0 words, 0 tokens, '' stream and NULL fertility —
    * counts of work done are 0 when there was nothing to work on. */
  def bpeApply(df: DataFrame, id: Column, text: Column, merges: DataFrame,
               carry: Seq[(String, Column)] = Nil): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val reserved = Set("doc_id", "n_words", "n_tokens", "fertility", "tokens", "ws", "toks")
    val clash = carry.map(_._1).toSet.intersect(reserved)
    require(clash.isEmpty,
      s"bpeApply carry names collide with its outputs: ${clash.toSeq.sorted.mkString(", ")}")
    val table = merges.select(col("step"), col("l_sym"), col("r_sym"), col("merged"))
      .orderBy(col("step")).collect()
    require(table.length <= 16,
      s"literal-fold bpeApply is capped at 16 merges (expression depth); " +
        s"got ${table.length} — use the vocabulary-join formulation for production tables")
    // the merge table rides into every task as ONE array<struct> literal
    // consumed by the native BpeSegment kernel — one O(word·merges)
    // loop per word, replacing a chain of `aggregate` folds whose
    // accumulator copy made it O(word²) per merge (measured 19 s →
    // ~1 s at sf0.1 on qtext_bpe_apply; positions bit-identical, the
    // fold-replaying DuckDB oracle is the proof)
    val mergeLit =
      if (table.isEmpty) array().cast("array<struct<l:string,r:string,m:string>>")
      else array(table.toIndexedSeq.map(r => struct(lit(r.getString(1)).as("l"),
        lit(r.getString(2)).as("r"), lit(r.getString(3)).as("m"))): _*)
    def symsOf(w: Column): Column = call_function("graft_bpe_segment", w, mergeLit)
    val carried = carry.map { case (n, c) => c.as(n) }
    val carriedRefs = carry.map { case (n, _) => col(n) }
    df.select(id.as("doc_id") +: carried :+
        filter(split(lower(coalesce(text, lit(""))), " "), w => w =!= "").as("ws"): _*)
      .select(col("doc_id") +: carriedRefs :+
        size(col("ws")).cast("long").as("n_words") :+
        flatten(transform(col("ws"), w =>
          when(w.rlike("^[\\x21-\\x7e]+$"), symsOf(w))
            .otherwise(array(concat(w, lit("</w>")))))).as("toks"): _*)
      .select(col("doc_id") +: carriedRefs :+ col("n_words") :+
        size(col("toks")).cast("long").as("n_tokens") :+
        when(col("n_words") > 0,
          round(size(col("toks")).cast("double") / col("n_words").cast("double"), 6))
          .as("fertility") :+
        array_join(col("toks"), " ").as("tokens"): _*)
  }

  /** Production-vocab BPE tokenization (SURVEY.md §2.C85's documented
    * vocabulary-JOIN formulation, now implemented — C153) — the same
    * contract and output schema as [[bpeApply]], with NO bound on the
    * merge-table size: a real tokenizer ships ~50k merges, far past
    * the literal fold's 16-merge expression-depth cap.
    *
    * The scale decomposition trades [[bpeApply]]'s per-occurrence map
    * work for per-DISTINCT-WORD work plus one word-keyed join back
    * (Zipf makes that trade enormous at 100 TB: ~10⁶ distinct words
    * carry ~10¹⁰ occurrences): (1) the merge table collapses to ONE
    * ordered array<struct> row (array_sort on the unique `step` key —
    * deterministic on any partitioning) and broadcast-cross-joins the
    * distinct-word frame (1-row build side, PlanAuditSpec-allowlisted);
    * (2) each distinct word runs the SAME native `graft_bpe_segment`
    * kernel — per-occurrence folding and per-distinct-word folding are
    * the same function of the word, so the two formulations are
    * token-for-token identical (spec-proven at ≤16 merges where both
    * run); (3) occurrences rejoin the word→tokens dictionary on the
    * word key (the ONE string-keyed shuffle this formulation pays —
    * AQE broadcasts the dictionary when it fits) and reassemble per
    * doc via an array_sort on the unique occurrence position; (4) docs
    * with zero words are recovered by an id-keyed left join back whose
    * scan reads ONLY (id, carry) — `n_words` is the occurrence count
    * the reassembly aggregation already carries, so the fat text
    * column is never read a third time.
    *
    * Pre-tokenizer contract mirrors [[bpeApply]]: lowercased
    * whitespace words; non-printable-ASCII words pass through as one
    * atomic `word</w>` token (they are absent from the dictionary by
    * construction — the unk-word convention); NULL/empty text reports
    * 0 words, 0 tokens, '' stream, NULL fertility. */
  def bpeApplyJoined(df: DataFrame, id: Column, text: Column,
                     merges: DataFrame,
                     carry: Seq[(String, Column)] = Nil): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val reserved = Set("doc_id", "n_words", "n_tokens", "fertility", "tokens",
      "ws", "toks", "pos", "word", "wtoks", "marr", "nw")
    val clash = carry.map(_._1).toSet.intersect(reserved)
    require(clash.isEmpty,
      s"bpeApplyJoined carry names collide with its internals: " +
        clash.toSeq.sorted.mkString(", "))
    // merge table → ONE ordered array row: array_sort on the struct's
    // leading (unique) step key replays the table in step order on any
    // partitioning; an EMPTY table still yields one row (empty array)
    val marr = merges
      .agg(transform(
        array_sort(collect_list(struct(col("step"),
          struct(col("l_sym").as("l"), col("r_sym").as("r"),
            col("merged").as("m")).as("mg")))),
        e => e("mg")).as("marr"))
    val wsOf = filter(split(lower(coalesce(text, lit(""))), " "), w => w =!= "")
    val occ = df.select(id.as("doc_id"), posexplode(wsOf).as(Seq("pos", "word")))
    val dict = occ.select(col("word"))
      .filter(col("word").rlike("^[\\x21-\\x7e]+$"))
      .distinct()
      .crossJoin(broadcast(marr))
      .select(col("word"),
        call_function("graft_bpe_segment", col("word"), col("marr")).as("wtoks"))
    val perDoc = occ.join(dict, Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        // only non-ASCII words miss the dictionary → atomic unk token
        coalesce(col("wtoks"), array(concat(col("word"), lit("</w>")))).as("wtoks"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"),
        flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("wtoks")))),
          e => e("wtoks"))).as("toks"))
    val carried = carry.map { case (n, c) => c.as(n) }
    val carriedRefs = carry.map { case (n, _) => col(n) }
    df.select(id.as("doc_id") +: carried: _*)
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id") +: carriedRefs :+
        coalesce(col("nw"), lit(0L)).as("n_words") :+
        when(col("toks").isNull, lit(0L))
          .otherwise(size(col("toks")).cast("long")).as("n_tokens") :+
        when(col("nw") > 0,
          round(size(col("toks")).cast("double") / col("nw").cast("double"), 6))
          .as("fertility") :+
        coalesce(array_join(col("toks"), " "), lit("")).as("tokens"): _*)
  }

  /** Word-chain merge-table bootstrap (C153's table builder) — the
    * deterministic way a WORD-LEVEL tokenizer vocabulary becomes a BPE
    * merge table: for each of the `topWords` most frequent conforming
    * words (count desc, word asc — integer-exact rank), emit the
    * word's left-to-right build chain ((w₁,w₂), (w₁w₂,w₃), …,
    * (word,</w>)), dedupe on the (l,r) pair keeping its FIRST
    * appearance, and number the survivors in (word-rank, position)
    * order. Applying the table greedily reproduces exactly the
    * interactions a trained table has — an early word's chain can
    * pre-merge a later word's interior (e.g. 'st' from a frequent
    * word splits a rarer word into multi-char pieces), which is why
    * the apply side must REPLAY the table, never shortcut it.
    *
    * Scale shape: one corpus scan into the (word, count) vocabulary,
    * a topWords-row ordered limit, and chain explosion on that
    * bounded frame — the rank and step windows run over ≤ topWords
    * and ≤ topWords·maxWordLen rows respectively, never the corpus. */
  def wordChainMerges(df: DataFrame, text: Column, topWords: Int): DataFrame = {
    require(topWords >= 1 && topWords <= 65536,
      s"topWords must be in [1, 65536], got $topWords")
    val vocab = df.filter(text.isNotNull)
      .select(explode(split(lower(text), " ")).as("word"))
      .filter(col("word").rlike("^[\\x21-\\x7e]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    val top = vocab.orderBy(col("wc").desc, col("word")).limit(topWords)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("wc").desc, col("word"))))
    val wlen = length(col("word"))
    val chains = top
      .select(col("rk"), col("word"),
        explode(sequence(lit(1), wlen)).as("j"))
      .select(col("rk"), col("j"),
        when(col("j") < length(col("word")),
          col("word").substr(lit(1), col("j"))).otherwise(col("word")).as("l_sym"),
        when(col("j") < length(col("word")),
          col("word").substr(col("j") + 1, lit(1))).otherwise(lit("</w>")).as("r_sym"),
        when(col("j") < length(col("word")),
          col("word").substr(lit(1), col("j") + 1))
          .otherwise(concat(col("word"), lit("</w>"))).as("merged"))
    chains
      .withColumn("dup", row_number().over(
        Window.partitionBy(col("l_sym"), col("r_sym"))
          .orderBy(col("rk"), col("j"))))
      .filter(col("dup") === 1)
      .withColumn("step", row_number().over(
        Window.orderBy(col("rk"), col("j"))).cast("long"))
      .select(col("step"), col("l_sym"), col("r_sym"), col("merged"))
  }

  /** Per-source tokenizer-fertility rollup (C125) — the mixture
    * diagnostic a tokenizer decision reads corpus-wide: for each
    * source, total whitespace words, total BPE tokens under the given
    * merge table, and their ratio. A source whose fertility is far
    * above the corpus mean is paying more sequence length per word
    * (domain far from the trainer corpus, mojibake, code-in-prose) —
    * exactly the strata a mixture plan reweights or a tokenizer
    * retrain targets.
    *
    * Scale shape: [[bpeApply]]'s codegen map stage (merge table rides
    * as a literal; `source` rides the carry columns so no corpus
    * join-back recovers it) into ONE source-keyed map-side-combined
    * aggregation; only per-source long triples shuffle. Fertility is
    * an IEEE division of exact longs; sources with zero words report
    * NULL (nothing was tokenized), never 0 or a division error. */
  def fertilityBySource(df: DataFrame, id: Column, text: Column,
                        source: Column, merges: DataFrame): DataFrame =
    fertilityRollup(bpeApply(df, id, text, merges,
      carry = Seq("source" -> source)))

  /** [[fertilityBySource]] under a PRODUCTION-SIZE merge table
    * (C125b): the same rollup over [[bpeApplyJoined]] — `source` rides
    * the carry columns through the codegen stages AND the id-keyed
    * zero-word recovery join, so no corpus join-back recovers it in
    * this formulation either. One rollup definition shared with the
    * literal path — a fertility fix can't diverge them. */
  def fertilityBySourceJoined(df: DataFrame, id: Column, text: Column,
                              source: Column, merges: DataFrame): DataFrame =
    fertilityRollup(bpeApplyJoined(df, id, text, merges,
      carry = Seq("source" -> source)))

  /** Per-doc tokenizer-fertility BUCKETS under a FROZEN merge table —
    * the drift surface of the one frozen TEXT artifact (C153's trained
    * BPE merges), playing exactly the role
    * [[graft.operators.Similarity.bqBitBuckets]] plays for the
    * quantizer's thresholds: fertility mass creeping upward means the
    * vocabulary no longer fits the incoming corpus (domain drift,
    * mojibake, a new language) and every downstream sequence pays the
    * extra tokens — the tokenizer-retrain trigger. One
    * `(grp = source, bucket)` row per token-bearing doc (zero-word
    * docs carry no fertility, the [[fertilityBySource]] NULL
    * contract), bucket = QUARTER-UNIT per-doc fertility
    * (`(4·n_tokens) div n_words`, exact integer): fertility lives in
    * [1, ~avg word length], so the power-of-two length recipe would
    * collapse the whole range into two or three cells — quarter units
    * give PSI mass room to move. The vocabulary-JOIN formulation, so
    * production-size merge tables apply (the monitor pins the frame
    * once per query start). */
  def fertilityBuckets(df: DataFrame, id: Column, text: Column,
                       source: Column, merges: DataFrame): DataFrame =
    bpeApplyJoined(df, id, text, merges, carry = Seq("source" -> source))
      .filter(col("n_words") > 0)
      .select(col("source").cast("string").as("grp"),
        expr("(4L * n_tokens) div n_words").as("bucket"))

  /** [[fertilityBuckets]] rolled up to `(grp, bucket, n)` — the batch
    * side of the fertility drift monitor's twin law, and how a
    * REFERENCE window becomes the pinned counts table
    * [[graft.streaming.StreamIndex.startFertilityDriftMonitor]]
    * compares against (run it over the tokenizer's TRAINING corpus —
    * or any healthy window — and write the result to
    * `refCountsDir`). */
  def fertilityCounts(df: DataFrame, id: Column, text: Column,
                      source: Column, merges: DataFrame): DataFrame =
    fertilityBuckets(df, id, text, source, merges)
      .groupBy(col("grp"), col("bucket")).agg(count(lit(1)).as("n"))

  private def fertilityRollup(applied: DataFrame): DataFrame =
    applied
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("fertility",
        when(col("n_words") > 0,
          round(col("n_tokens").cast("double") / col("n_words").cast("double"), 6)))

  /** Inverted-index build (C126) — the materialized search structure
    * BM25 (C78) scores against: one row per retained term carrying its
    * document frequency, total term frequency, and the SORTED postings
    * list (comma-joined doc ids — a string so the driver's
    * value-hash compare sees a deterministic scalar). `minDf` drops
    * hapax noise; `maxDf` drops stopword-grade terms BEFORE the
    * postings aggregation — the cap is the scale guard: an uncapped
    * ubiquitous term materializes one row holding a corpus-sized id
    * list (10¹⁰ ids in one aggregation buffer at web scale), which is
    * exactly what IR stop lists exist to prevent. Production postings
    * for mid-df terms are bounded by df ≤ maxDf ids per row.
    *
    * Scale shape: explode → (term, doc) map-side-combined count →
    * term-keyed aggregation; only (term, doc_id, tf) triples shuffle,
    * never text. The df bounds apply as a SEMI-JOIN against the
    * (map-side-partialed) per-term df frame BEFORE the postings
    * aggregation — the cdcPairs dropOverCapBuckets discipline — so a
    * stopword-grade term never materializes its corpus-sized id list
    * in an aggregation buffer; the extra df pass reads the persisted
    * (term, doc, tf) frame, not the corpus. */
  def invertedIndex(df: DataFrame, id: Column, text: Column,
                    n: Int = 1, minDf: Int = 2, maxDf: Int = 100): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(minDf >= 1 && maxDf >= minDf,
      s"need 1 <= minDf <= maxDf, got minDf=$minDf maxDf=$maxDf")
    // n = 1 indexes plain terms; n >= 2 builds the PHRASE index (the
    // C34 shingle definition, order-preserving, non-distinct — a
    // phrase occurring twice in a doc counts twice in tf_total)
    val toks = df.select(id.as("doc_id"),
        explode(graft.operators.Dedup.wordShingles(text, n, distinct = false))
          .as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDf && col("df_docs") <= maxDf)
    tf.join(kept, Seq("term"), "left_semi")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df_docs"),
        sum(col("tf")).as("tf_total"),
        array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
  }

  def pmiTopK(df: DataFrame, text: Column, k: Int,
      minCount: Int): DataFrame = {
    val counts = df.select(explode(bigramPairs(text)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = counts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val right = counts.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val total = counts.agg(sum(col("c12")).as("total"))
    counts.filter(col("c12") >= minCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("c12"), col("c1"), col("c2"),
        round(log((col("c12").cast("double") / col("c1").cast("double")) *
            (col("total").cast("double") / col("c2").cast("double"))) * 1e6)
          .cast("long").as("pmi_micro"))
      .withColumn("pmi_rank", row_number().over(
          Window.orderBy(col("pmi_micro").desc, col("bigram").asc))
        .cast("long"))
      .filter(col("pmi_rank") <= k)
      .select(col("pmi_rank"), col("bigram"), col("c12"), col("c1"),
        col("c2"), (col("pmi_micro").cast("double") / 1e6).as("pmi"))
      .orderBy(col("pmi_rank"))
  }

  /** Reference-LM scoring with Jelinek-Mercer interpolation
    * (SURVEY.md §2.C93; Jelinek & Mercer 1980; the CCNet filter
    * shape, Wenzek et al. 2020): train a bigram LM on a REFERENCE
    * corpus (Wikipedia-quality text), score every raw document by its
    * mean token log-probability under it. This is what C52's same-
    * corpus LM cannot do — rank a crawl against an EXTERNAL quality
    * distribution — and unlike the unsmoothed C52, unseen contexts
    * and OOV words BACK OFF instead of having no probability:
    * `p(w2|w1) = λ·c12/c1 + (1−λ)·(c2+1)/(N+V)` (bigram ML term zero
    * when the context is unseen; add-1 unigram term never zero, so
    * `ln` is always finite).
    *
    * Exactness: each distinct (doc, bigram) row evaluates ONE pinned
    * IEEE tree — integer-valued doubles through two divisions, the λ
    * mix, one `ln`, rounded ONCE to micro-nats — identical on both
    * engines (the C37/C52/DSIR discipline); per-doc sums are integer.
    * The mean is plain division (never a 4-decimal round of a binary
    * tie). Tokenization is the ONE bigramPairs/token definition.
    *
    * Scale shape: the reference tables are vocab-sized (bigram/
    * context/unigram counts — web vocabularies grow sub-linearly) and
    * join the doc-side bigram partials on 8-byte xxhash64 keys
    * (strings never shuffle; the string-keyed oracle stays valid
    * because counts, not hashes, are the output — C52's trade). The
    * corpus contributes ONE bigram pass; `N + V` rides a 1-row
    * broadcast. AQE broadcasts the ref tables when the reference is
    * small. */
  def jmRefLogProb(df: DataFrame, id: Column, text: Column,
                   ref: DataFrame, refText: Column,
                   lambdaMicro: Long = 800000L): DataFrame = {
    require(lambdaMicro > 0 && lambdaMicro < 1000000L,
      s"lambdaMicro must be in (0, 1e6), got $lambdaMicro")
    val muMicro = 1000000L - lambdaMicro
    val runi = ref
      .select(explode(filter(split(lower(refText), " "), t => t =!= ""))
        .as("w"))
      .groupBy(xxhash64(col("w")).as("w2h")).agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // N + V in one aggregate: total tokens + distinct tokens
    val totals = runi.agg((sum(col("c2")) + count(lit(1))).as("nv"))
    val rb = ref.select(explode(bigramPairs(refText)).as("p"))
      .select(xxhash64(concat_ws(" ", col("p.w1"), col("p.w2"))).as("bh"),
        xxhash64(col("p.w1")).as("uh"))
      .groupBy(col("bh"), col("uh")).agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rc = rb.groupBy(col("uh")).agg(sum(col("c12")).as("c1"))
    val perDoc = df.select(id.as("doc_id"), explode(bigramPairs(text)).as("p"))
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", col("p.w1"), col("p.w2"))).as("bh"),
        xxhash64(col("p.w1")).as("uh"),
        xxhash64(col("p.w2")).as("w2h"))
      .groupBy(col("doc_id"), col("bh"), col("uh"), col("w2h"))
      .agg(count(lit(1)).as("tf"))
    val pBi = when(coalesce(col("c1"), lit(0L)) > 0,
      lit(lambdaMicro.toDouble) *
        (coalesce(col("c12"), lit(0L)).cast("double") / col("c1").cast("double")))
      .otherwise(lit(0.0))
    val pUni = lit(muMicro.toDouble) *
      ((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
        col("nv").cast("double"))
    val scored = perDoc
      .join(rb.select(col("bh"), col("c12")), Seq("bh"), "left")
      .join(rc, Seq("uh"), "left")
      .join(runi, Seq("w2h"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("tf"),
        round(log((pBi + pUni) / lit(1e6)) * lit(1e6)).cast("long").as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("nb"), sum(col("tf") * col("lp")).as("lps"))
    df.select(id.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("lps"), lit(0L)).as("lp_micro_sum"),
        when(col("nb").isNull, lit(null).cast("double"))
          .otherwise(col("lps").cast("double") / col("nb") / lit(1e6))
          .as("mean_logprob"))
  }

  /** Interpolated Kneser-Ney reference-LM scoring (SURVEY.md §2.C107;
    * Kneser & Ney 1995, formulation per Chen & Goodman 1998): score
    * every raw document by its mean bigram log-probability under an
    * absolute-discount model of a REFERENCE corpus —
    * `p(w2|w1) = max(c12 − D, 0)/c1 + (D·N₁₊(w1·)/c1)·p_cont(w2)`,
    * where the continuation probability `p_cont(w2) ∝ how many
    * DISTINCT contexts w2 completes` (type count, not token count).
    * This is the distinction C93's Jelinek-Mercer mix cannot draw:
    * "francisco" is frequent but follows almost nothing except "san",
    * so KN backs it off hard where JM's unigram term overrates it —
    * the standard smoothing for CCNet-style quality ranking. Unseen
    * contexts back off to the continuation distribution alone, and
    * `p_cont` is add-1-over-types smoothed
    * (`(N₁₊(·w2) + 1)/(B + V)`, B = distinct ref bigrams, V = distinct
    * ref unigram types) so every bigram has finite log-probability.
    *
    * Exactness: the C93 discipline verbatim — all model inputs are
    * INTEGER type/token counts, each distinct (doc, bigram) row
    * evaluates ONE pinned IEEE tree (the discount `D =
    * discountMicro/1e6` is a single exact division; 750000 → exactly
    * 0.75), one `ln`, rounded ONCE to micro-nats; per-doc sums are
    * integer.
    *
    * Scale shape: identical to [[jmRefLogProb]] — the model tables
    * are vocab-sized and join the doc-side distinct-bigram partials
    * on 8-byte xxhash64 keys (strings never shuffle; the string-keyed
    * oracle stays valid because counts, not hashes, are the output);
    * `B + V` rides a 1-row broadcast; ONE bigram pass per corpus. */
  def knRefLogProb(df: DataFrame, id: Column, text: Column,
                   ref: DataFrame, refText: Column,
                   discountMicro: Long = 750000L): DataFrame = {
    require(discountMicro > 0 && discountMicro < 1000000L,
      s"discountMicro must be in (0, 1e6), got $discountMicro")
    val dD = lit(discountMicro.toDouble) / lit(1e6)
    val runi = ref
      .select(explode(filter(split(lower(refText), " "), t => t =!= ""))
        .as("w"))
      .groupBy(xxhash64(col("w")).as("w2h")).agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rb = ref.select(explode(bigramPairs(refText)).as("p"))
      .select(xxhash64(concat_ws(" ", col("p.w1"), col("p.w2"))).as("bh"),
        xxhash64(col("p.w1")).as("uh"),
        xxhash64(col("p.w2")).as("w2h"))
      .groupBy(col("bh"), col("uh"), col("w2h")).agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // context totals + context TYPE fan-out (N₁₊(w1·)) in one agg
    val rcx = rb.groupBy(col("uh"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("ctx"))
    // continuation type counts N₁₊(·w2): distinct contexts w2 completes
    val ct = rb.groupBy(col("w2h")).agg(count(lit(1)).as("cont"))
    // B + V in one 1-row broadcast
    val totals = rb.agg(count(lit(1)).as("b"))
      .crossJoin(runi.agg(count(lit(1)).as("v")))
      .select((col("b") + col("v")).as("bv"))
    val perDoc = df.select(id.as("doc_id"), explode(bigramPairs(text)).as("p"))
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", col("p.w1"), col("p.w2"))).as("bh"),
        xxhash64(col("p.w1")).as("uh"),
        xxhash64(col("p.w2")).as("w2h"))
      .groupBy(col("doc_id"), col("bh"), col("uh"), col("w2h"))
      .agg(count(lit(1)).as("tf"))
    val pCont = (coalesce(col("cont"), lit(0L)) + lit(1L)).cast("double") /
      col("bv").cast("double")
    val seen = coalesce(col("c1"), lit(0L)) > 0
    val term1 = greatest(coalesce(col("c12"), lit(0L)).cast("double") - dD,
      lit(0.0)) / col("c1").cast("double")
    val term2 = ((dD * col("ctx").cast("double")) / col("c1").cast("double")) * pCont
    val scored = perDoc
      .join(rb.select(col("bh"), col("c12")), Seq("bh"), "left")
      .join(rcx, Seq("uh"), "left")
      .join(ct, Seq("w2h"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("tf"),
        round(log(when(seen, term1 + term2).otherwise(pCont)) * lit(1e6))
          .cast("long").as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("nb"), sum(col("tf") * col("lp")).as("lps"))
    df.select(id.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("lps"), lit(0L)).as("lp_micro_sum"),
        when(col("nb").isNull, lit(null).cast("double"))
          .otherwise(col("lps").cast("double") / col("nb") / lit(1e6))
          .as("mean_logprob"))
  }

  /** EXACT corpus heavy hitters by two-pass Misra-Gries (C96; Misra &
    * Gries 1982, mergeability per Agarwal et al. 2012): every term
    * whose corpus frequency strictly exceeds `N / (budget + 1)` (N =
    * total non-empty lowercased whitespace tokens), with its exact
    * count. The result is EXACT and partitioning-independent even
    * though pass 1 is a sketch — that is the whole design:
    *
    *  - Pass 1 (candidates): per-partition Misra-Gries with `budget`
    *    counters over the exploded token stream. MG guarantees any
    *    item with partition count > n_p/(budget+1) survives its
    *    partition, so (pigeonhole over the sum) any term with GLOBAL
    *    count > N/(budget+1) survives in ≥1 partition — the union of
    *    survivors is a guaranteed candidate superset, ≤ budget rows
    *    per partition. This is the one operator where declarative
    *    aggregation genuinely can't express the semantics (bounded
    *    memory per partition REGARDLESS of distinct-term count —
    *    a groupBy must shuffle every distinct (partition, term) pair,
    *    MG shuffles at most budget·partitions candidate terms), so it
    *    uses the builder-preference-order (d) escape hatch: a typed
    *    `mapPartitions` with an imperative O(budget) counter map.
    *    Amortized O(1) per token: each decrement event consumes one
    *    unit of count mass per counter, so total decrement work is
    *    ≤ N/budget events × O(budget) each.
    *  - Pass 2 (exact recount): re-tokenize, broadcast-semi-join the
    *    tiny candidate set (map-side filter — only candidate term
    *    occurrences reach the shuffle), exact groupBy count, then the
    *    all-integer threshold `cnt · (budget+1) > N`. False candidates
    *    are filtered here; true heavy hitters can't be missed (the
    *    superset guarantee), so the output equals the exact
    *    groupBy-everything answer — which is exactly what the oracle
    *    computes.
    *
    * N is a pure map-side `sum(size(...))` — no explode, no shuffle —
    * and rides a 1-row broadcast. At 100 TB: three streaming scans of
    * the text column and a shuffle bounded by candidate occurrences;
    * the trillion-term junk tail (the reason a full vocab groupBy is
    * the cost center of C26) never shuffles at all. */
  def heavyHitters(df: DataFrame, text: Column, budget: Int): DataFrame = {
    require(budget >= 2 && budget <= 100000,
      s"budget must be in [2, 100000], got $budget")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(explode(split(lower(text), " ")).as("term"))
      .filter(col("term") =!= "")
    val candidates = toks.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counters.get(t) match {
          case Some(c) => counters.update(t, c + 1)
          case None if counters.size < budget => counters.update(t, 1L)
          case None =>
            // decrement-all: iterate a snapshot — removing from the
            // map mid-iteration is undefined on mutable.HashMap
            counters.keysIterator.toArray.foreach { k =>
              val c = counters(k)
              if (c == 1L) counters.remove(k) else counters.update(k, c - 1)
            }
        }
      }
      counters.keysIterator
    }.toDF("term").distinct()
    // total tokens WITHOUT an explode: per-row token count summed
    // map-side (null text → null size → ignored by sum, matching
    // explode-of-null producing no rows)
    val total = df.select(
      sum(size(filter(split(lower(text), " "), t => t =!= ""))).as("total"))
    toks.join(broadcast(candidates), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(total))
      .filter(col("n_occurrences") * lit(budget + 1L) > col("total"))
      .select(col("term"), col("n_occurrences"),
        round(col("n_occurrences").cast("double") / col("total"), 6)
          .as("corpus_frac"))
  }
}
