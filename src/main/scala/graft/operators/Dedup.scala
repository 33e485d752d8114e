package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2.C1-C5).
  *
  * Scale design (§5): every variant is candidate-generation + verify —
  * candidates come from an inverted index (shared shingle / LSH bucket /
  * simhash band), never from a cross join, so cost is
  * O(docs·shingles) map-side plus one shuffle on the bucket key. Bucket
  * sizes are capped (`maxBucket`) so a degenerate key can't blow up an
  * executor — the overflow guard drops pathological buckets rather than
  * letting one reducer own the job.
  */
object Dedup {

  // --- C1: exact dedup --------------------------------------------------

  /** Exact duplicate groups over normalized text: one row per distinct
    * normalized content, keeping the smallest id. md5 is used as the
    * group key so the (long) text itself never shuffles. */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    // NULL text never dedups against other NULL text: a bare
    // groupBy(content_hash) puts every NULL hash in ONE group,
    // silently dropping all but one text-less doc — absence of
    // content is not equality of content (the urlDedup contract).
    // NULL-hash rows get a ROW-UNIQUE key (a U+0000-prefixed
    // monotonic id — the prefix can't collide with md5 hex, and
    // row-uniqueness holds even for NULL/duplicate doc_ids, which a
    // doc_id-based key would merge). The nondeterministic id is
    // materialized in a Project (aggregates reject nondeterministic
    // grouping exprs) and never escapes: null groups are singletons,
    // so the VISIBLE output is deterministic. One corpus scan (a
    // filter+union form would hash and scan it twice).
    df.select(id.as("doc_id"),
        md5(TextFunctions.normalizeText(text)).as("content_hash"))
      .withColumn("__gk", when(col("content_hash").isNotNull, col("content_hash"))
        .otherwise(concat(lit("\u0000"), monotonically_increasing_id().cast("string"))))
      .groupBy(col("__gk"))
      .agg(min(col("content_hash")).as("content_hash"),
        min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("content_hash"), col("keep_id"), col("n_copies"))

  /** Survivors only (keep-first semantics). */
  def exactDedup(df: DataFrame, id: Column, text: Column): DataFrame =
    exactGroups(df, id, text).select(col("keep_id").as("doc_id"))

  /** URL-keyed dedup (C55): each row labeled with its canonicalized
    * URL ([[TextFunctions.canonicalizeUrl]] — casing/fragment/port/
    * `www.`/tracking-param/param-order variants collapse) and a
    * keep-first verdict per canonical group — the cheap pre-crawl-text
    * dedup pass every web pipeline runs BEFORE content hashing (two
    * fetches of the same page cost nothing to detect when the URL
    * already says so). Returns `(doc_id, canonical_url, keep)` with
    * `keep` = smallest doc_id in the group.
    *
    * Scale shape: canonicalization is a codegen map stage on the scan;
    * the group key shuffles as xxhash64(canonical) — 8 bytes a row,
    * never the URL string (the C22 discipline; a 64-bit collision
    * would merge two groups at odds ~1e-11 at 10⁷ distinct URLs); one
    * grouped min (map-side partials) + one hash-keyed join back. */
  def urlDedup(df: DataFrame, id: Column, url: Column): DataFrame = {
    // NULL urls never dedup against each other: xxhash64 maps every
    // NULL input to the seed (it SKIPS null inputs — a coalesce after
    // it never sees the NULL it needs), so an unguarded group would
    // collapse all url-less docs into one "duplicate" cluster —
    // absence of a URL is not equality of URLs. NULL rows bypass the
    // group with keep=true. This is deliberately filter+union, NOT a
    // single-pass synthetic row key: the frame feeds BOTH the group
    // build and the probe join, and a nondeterministic per-row key
    // (monotonic id) can diverge between the two evaluations and
    // silently drop rows — the exactGroups single-pass trick is only
    // safe under exactly one evaluation. The extra branch re-scans
    // two narrow columns, map-side.
    val canon = df.select(id.as("doc_id"), url.as("url"))
      .select(col("doc_id"),
        TextFunctions.canonicalizeUrl(col("url")).as("canonical_url"))
    val withUrl = canon.filter(col("canonical_url").isNotNull)
    val keep = withUrl
      .groupBy(xxhash64(col("canonical_url")).as("ch"))
      .agg(min(col("doc_id")).as("keep_id"))
    withUrl.join(keep, xxhash64(col("canonical_url")) === col("ch"))
      .select(col("doc_id"), col("canonical_url"),
        (col("doc_id") === col("keep_id")).as("keep"))
      .unionByName(canon.filter(col("canonical_url").isNull)
        .select(col("doc_id"), col("canonical_url"), lit(true).as("keep")))
  }

  /** The exact-dedup content-hash index: one `content_hash` row per
    * distinct normalized content — materialize it (parquet/bucketed on
    * content_hash via Layout) and screen each increment with
    * [[exactDedupAgainstIndex]]; the C33 incremental discipline for
    * EXACT duplicates. At 100 TB the index is hashes only (16 bytes a
    * row), never text. */
  def contentHashIndex(df: DataFrame, text: Column): DataFrame =
    df.select(md5(TextFunctions.normalizeText(text)).as("content_hash"))
      .distinct()

  /** Rows of `df` whose normalized content is NOT already in a
    * [[contentHashIndex]] — the per-increment exact screen: hash the
    * increment map-side, one hash-keyed left_anti against the index
    * table (ids + 16-byte hashes shuffle, never text), return the
    * surviving rows with their original columns. Within-increment
    * duplicates are NOT collapsed here (each is screened against
    * HISTORY independently) — run [[exactDedup]] on the survivors when
    * the increment itself needs deduping, exactly as the streaming
    * variant layers `dedupWithin` on top of the near-dup screen. */
  def exactDedupAgainstIndex(df: DataFrame, text: Column,
                             index: DataFrame): DataFrame = {
    // same reserved-column discipline as splitByHash/gopherGate: a
    // caller-owned __ch would be silently overwritten then dropped
    require(!df.columns.contains("__ch"),
      "exactDedupAgainstIndex uses the reserved working column __ch; " +
        "the input already carries it — drop or rename it first")
    df.withColumn("__ch", md5(TextFunctions.normalizeText(text)))
      .join(index.select(col("content_hash").as("__ch")), Seq("__ch"), "left_anti")
      .drop("__ch")
  }

  /** [[exactDedupAgainstIndex]] with a Bloom prefilter — the runtime-
    * filter idiom for the common increment regime where MOST rows are
    * new: build a Bloom filter over the index's content hashes ONCE
    * (`stat.bloomFilter` — Spark's public distributed sketch build;
    * the driver holds only the bit array, ~`1.2·n·ln(1/fpp)/ln²2` bits,
    * never a row), probe it map-side via the codegen
    * `bloom_might_contain` expression, and send ONLY the maybe-dup
    * rows (true dups + the fpp tail) into the exact hash-keyed
    * left_anti. Definitely-new rows — the bulk — skip the shuffle
    * entirely; at 100 TB that converts the screen's cost from
    * O(increment) shuffle to O(dups + fpp·increment) shuffle plus one
    * broadcast of the bit array.
    *
    * The result is EXACT and identical to [[exactDedupAgainstIndex]]
    * on any input: Bloom filters have no false negatives (a true dup
    * always routes to the exact join that drops it) and false
    * positives are cleared by that same join (a new row misrouted to
    * the join matches nothing and survives). `fpp` is purely a
    * space/shuffle knob. NULL-normalized rows route to the KEEP path
    * (`coalesce(probe, false)`) — the left_anti's null-never-matches
    * semantics, preserved without paying the join.
    *
    * The sketch build is an eager driver action at plan-build time
    * (the `stat.bloomFilter` contract — same discipline as the CC
    * fixpoint scalar): size it with `expectedItems ≥ |index|`; an
    * undersized filter only degrades toward the plain screen (more
    * maybe-rows), never correctness. Beyond ~10⁹ index entries the
    * single bit array outgrows a broadcast — shard the index by hash
    * range and screen each shard with its own filter. */
  def bloomScreenAgainstIndex(df: DataFrame, text: Column, index: DataFrame,
                              expectedItems: Long,
                              fpp: Double = 0.03): DataFrame = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    require(!df.columns.contains("__ch") && !df.columns.contains("__maybe"),
      "bloomScreenAgainstIndex uses the reserved working columns __ch/__maybe; " +
        "the input already carries one — drop or rename it first")
    val idx = index.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a NULL index hash (NULL-text history) can never match a non-null
    // probe key in the left_anti, so it contributes nothing — and the
    // sketch build must not see it
    val bf = idx.filter(col("content_hash").isNotNull)
      .stat.bloomFilter("content_hash", expectedItems, fpp)
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    val flagged = df
      .withColumn("__ch", md5(TextFunctions.normalizeText(text)))
      .withColumn("__maybe",
        coalesce(call_function("bloom_might_contain", lit(bytes), col("__ch")),
          lit(false)))
    val fresh = flagged.filter(!col("__maybe"))
    val cleared = flagged.filter(col("__maybe"))
      .join(idx.select(col("content_hash").as("__ch")), Seq("__ch"), "left_anti")
    fresh.unionByName(cleared).drop("__ch", "__maybe")
  }

  // --- shingling shared by minhash / ngram-jaccard ----------------------

  /** n-word shingles of a single-space-separated text column — distinct
    * by default (set semantics for Jaccard/MinHash/decontamination);
    * `distinct = false` keeps every occurrence (bag semantics for
    * repetition metrics). Docs shorter than n tokens yield an empty
    * array — without the guard, `sequence(0, size-n)` turns DESCENDING
    * for short docs and the out-of-range `element_at` is a hard error
    * under ANSI mode. The token array is let-bound (Cols.let):
    * referenced un-bound inside the transform lambda, the split would
    * re-run per shingle — O(tokens²) per doc (measured 8× on this
    * stage). */
  def wordShingles(text: Column, n: Int, distinct: Boolean = true): Column =
    graft.functions.Cols.let(split(text, " ")) { toks =>
      val all = transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))
      when(size(toks) >= n, if (distinct) array_distinct(all) else all)
        .otherwise(typedLit(Array.empty[String]))
    }

  /** Jaccard similarity of two pre-distinct string arrays; two empty
    * sets are defined as 0.0 (an integer 0/0 is a hard ANSI error, and
    * "no content" shouldn't read as "identical"). */
  def jaccard(a: Column, b: Column): Column = {
    val u = size(array_union(a, b))
    when(u === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / u.cast("double"))
  }

  /** Sorted xxhash64 set of the n-word shingles — the compact shingle
    * representation the near-dup verifiers join on: 8 bytes per shingle
    * instead of the string, and sortedness lets the codegen'd
    * merge-intersect kernel compute overlaps without allocation. */
  def shingleHashSet(text: Column, n: Int): Column =
    sort_array(transform(wordShingles(text, n), s => xxhash64(s)))

  /** Jaccard over two sorted hash sets via the native merge-intersect
    * kernel: |∩| / (|a| + |b| − |∩|). Numerically equal to the
    * string-set Jaccard (hash collisions aside, P ≈ |pairs|·|s|²/2⁶⁴). */
  def jaccardHashed(a: Column, b: Column): Column = {
    val inter = call_function("graft_sorted_intersect_count", a, b)
    val union = size(a).cast("long") + size(b).cast("long") - inter
    when(union === 0L, lit(0.0))
      .otherwise(inter.cast("double") / union.cast("double"))
  }

  /** Pin a CPU-dense thin-row stage to full cluster parallelism
    * (optimization guide §2.5 — byte-blind coalescing is a skew of CPU,
    * not bytes). AQE's partition coalescing sees only shuffle BYTES
    * (`parallelismFirst` floors at minPartitionSize = 1 MB); the
    * near-dup candidate frames are a few dozen bytes a row while each
    * row's VERIFY (sorted-hash merge-intersect, d-dim dot) costs
    * thousands of cycles. Measured at sf0.1: qdedup_ngram_collapsed's
    * candidate+verify chain was coalesced to TWO post-shuffle
    * partitions holding 21 s of CPU — 11.6 s wall on 32 idle cores;
    * with this pin the same chain runs 32-wide at 2.2 s wall. An
    * explicit partition count disables AQE coalescing for exactly this
    * one exchange; `defaultParallelism` (total scheduler cores) scales
    * with the cluster rather than baking in a local constant. The
    * keyed form keeps the exchange hash-partitioned, so a same-key
    * aggregate directly downstream (the candidate `distinct`) reuses
    * it without another shuffle. */
  private def cpuWide(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)

  // --- C4: n-gram Jaccard via inverted-index candidates -----------------

  /** Near-duplicate pairs by n-word-shingle Jaccard ≥ threshold, found
    * with PPJoin-style prefix filtering: under a global shingle order
    * (ascending document frequency), two sets with Jaccard ≥ t MUST
    * share a shingle within each one's first |s| − ⌈t·|s|⌉ + 1
    * shingles — so only those prefixes enter the inverted index, and
    * the rare-shingle prefixes keep bucket sizes small even on corpora
    * where every doc pair shares SOME shingle.
    *
    * The prefix + length + positional filters themselves are lossless;
    * the `maxBucket` cap is NOT — shingles whose document frequency
    * exceeds it are evicted from the index, so a pair whose every
    * shared shingle is that frequent is missed. That is a deliberate
    * recall/stability tradeoff (a degenerate shingle shared by the
    * whole corpus would otherwise quadratically self-join one bucket);
    * call [[overCapShingles]] with the same (n, maxBucket) to measure
    * how many shingles — and how much document coverage — the cap
    * evicts on a given corpus before trusting the recall.
    * Candidates are then verified with the exact Jaccard over sorted
    * hash sets (codegen merge-intersect), so precision is always exact.
    */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
                        n: Int = 2, threshold: Double = 0.5,
                        maxBucket: Int = 10000): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    // The shingle-less guard is the CHEAP equivalent `tokens >= n` (sh is
    // non-empty iff the doc has ≥ n tokens): a filter on the projected sh
    // alias gets its expression inlined by predicate pushdown and would
    // recompute the whole shingle pipeline a second time at the scan.
    //
    // The shingled frame is PERSISTED: six consumers read it (freq
    // ranking, both self-join sides, both verify joins) and without the
    // cache boundary each re-runs split+shingle+hash from the raw scan —
    // 6× the corpus I/O and CPU at cluster scale. Persisting also makes
    // the repartition safe (it runs once, not six times), so the
    // shingling map stage parallelizes by cluster size instead of by
    // input file layout. At 100 TB, write this frame as an intermediate
    // table instead of caching it (same plan shape, durable storage).
    // The cache is dropped by `spark.catalog.clearCache()`; the frame is
    // compact (id + 8-byte hashes, no text).
    val docs = df.select(id.as("doc_id"), text.as("doc_text"))
      .filter(size(split(col("doc_text"), " ")) >= n)
      .repartition(col("doc_id"))
      .select(col("doc_id"), shingleHashSet(col("doc_text"), n).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = docs.select(col("doc_id"), size(col("sh")).as("sh_n"),
      explode(col("sh")).as("shingle"))
    // global document frequency defines the prefix order (rarest first);
    // the df > maxBucket eviction here is the recall tradeoff documented
    // above (measured by overCapShingles)
    val freq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxBucket)
    val ranked = inv.join(freq, "shingle")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("shingle"))))
    // cpuWide: the self-join + candidate-dedup stage runs on this
    // exchange's partitioning; its rows are thin but its work (the
    // prefix join and the partial distinct) is CPU-dense, so AQE's
    // byte-based coalescing must not shrink it
    val prefix = cpuWide(ranked.filter(
      col("pos") <= col("sh_n") - ceil(col("sh_n") * threshold) + 1),
      col("shingle"))
    // length filter (lossless): j(a,b) ≥ t forces t·|a| ≤ |b| ≤ |a|/t.
    // positional filter (lossless, PPJoin): a shared shingle at ranks
    // (i, j) bounds the overlap by 1 + min(|a|−i, |b|−j), which must
    // reach the Jaccard-implied minimum overlap ⌈t/(1+t)·(|a|+|b|)⌉.
    val minOverlap =
      ceil(lit(threshold) / (1.0 + threshold) * (col("a.sh_n") + col("b.sh_n")))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          col("b.sh_n") >= col("a.sh_n") * threshold &&
          col("b.sh_n") * threshold <= col("a.sh_n") &&
          lit(1) + least(col("a.sh_n") - col("a.pos"), col("b.sh_n") - col("b.pos")) >= minOverlap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // cpuWide BEFORE the distinct: the distinct's aggregate reuses the
      // pinned hash exchange (same keys), and the VERIFY joins below —
      // all broadcast — inherit its parallelism instead of an AQE-
      // coalesced 1-2 partitions for ~30 s of merge-intersect CPU
      .transform(cpuWide(_, col("doc_a"), col("doc_b")))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", round(jaccardHashed(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** [[ngramJaccardPairs]] behind an exact-duplicate COLLAPSE (C4b) —
    * the two-stage shape every production crawl pipeline runs (exact
    * dedup, then near-dedup on survivors), made one operator because
    * the pair-listing output of a naive near-dup pass is QUADRATIC in
    * duplicate multiplicity: the r17 sf1 scale smoke measured a 10×
    * exact-dup corpus growing the true pair answer 979× (each m-dup
    * set alone contributes m·(m−1)/2 J=1 pairs saying nothing a
    * content hash didn't already say). Collapsing first shrinks that
    * to ONE representative per distinct content ([[exactGroups]] —
    * 16-byte hash shuffle, no text), runs the PPJoin pass over
    * representatives only, and carries each side's copy count so
    * downstream mass accounting (cluster sizes, removal estimates)
    * loses nothing. Pairs are between `keep_id`s; `copies_a/b` are the
    * collapsed multiplicities. On a dup-free corpus this is exactly
    * [[ngramJaccardPairs]] with copies 1/1 (the oracle's form); on the
    * 10×-dup proxy it returns to sf0.1-level cost while the naive pass
    * pays the quadratic output (spec pins collapsed(dup-m corpus) ≡
    * plain(corpus) pair-for-pair with copies = m). */
  def ngramJaccardPairsCollapsed(df: DataFrame, id: Column, text: Column,
                                 n: Int = 2, threshold: Double = 0.5,
                                 maxBucket: Int = 10000): DataFrame =
    collapsedPairs(df, id, text) { (reps, rid, rtext) =>
      ngramJaccardPairs(reps, rid, rtext, n, threshold, maxBucket)
    }

  /** [[minhashLshPairs]] behind the same exact-duplicate collapse —
    * the C4b two-stage shape applied to the banded-LSH family (C2b).
    * Beyond the quadratic OUTPUT bill the collapse always avoids, for
    * MinHash it also protects the INDEX: m verbatim copies share one
    * signature, so every band bucket a dup-set lands in carries m× the
    * rows, and `maxBucket`'s recall cap starts evicting real buckets
    * at 1/m the true corpus diversity. Collapsing first keeps bucket
    * occupancy at distinct-content scale. Same output contract as
    * [[ngramJaccardPairsCollapsed]]. */
  def minhashLshPairsCollapsed(df: DataFrame, id: Column, text: Column,
                               n: Int = 2, bands: Int = 16, rows: Int = 4,
                               threshold: Double = 0.5, seed: Long = 42L,
                               maxBucket: Int = 1000): DataFrame =
    collapsedPairs(df, id, text) { (reps, rid, rtext) =>
      minhashLshPairs(reps, rid, rtext, n, bands, rows, threshold, seed, maxBucket)
    }

  /** The shared two-stage combinator behind the `*Collapsed` near-dup
    * variants: [[exactGroups]] collapse (keep-first) → `pairFn` over
    * the representatives only → each side's copy count joined back.
    * Representatives carry their own text forward via an id-keyed join
    * against the collapsed (keep_id, n_copies) frame — only ids and
    * counts shuffle on that side; the broad text column rides the
    * corpus scan it already lives in. `pairFn` must return
    * (doc_a, doc_b, jaccard) keyed by the ids it was handed. */
  private def collapsedPairs(df: DataFrame, id: Column, text: Column)
      (pairFn: (DataFrame, Column, Column) => DataFrame): DataFrame = {
    // PERSISTED: three consumers read the collapsed group table (the
    // reps feed and both copies joins), and its subtree is marked
    // nondeterministic (the NULL-hash row key in exactGroups), so
    // Spark can NEVER reuse its exchange — without the cache boundary
    // each consumer re-runs the full-corpus md5 scan+agg. The frame
    // is (keep_id, n_copies): 16 bytes a row at distinct-content
    // cardinality, the cheapest thing in the pipeline to hold.
    val groups = exactGroups(df, id, text)
      .select(col("keep_id"), col("n_copies"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = df.select(id.as("doc_id"), text.as("__rep_text"))
      .join(groups.withColumnRenamed("keep_id", "doc_id"), "doc_id")
    pairFn(reps, col("doc_id"), col("__rep_text"))
      .join(groups.select(col("keep_id").as("doc_a"),
        col("n_copies").as("copies_a")), "doc_a")
      .join(groups.select(col("keep_id").as("doc_b"),
        col("n_copies").as("copies_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("copies_a"), col("copies_b"))
  }

  /** Diagnostic for the `maxBucket` recall tradeoff in
    * [[ngramJaccardPairs]]: one row per shingle the cap would evict from
    * the inverted index, with its document frequency — plus how many
    * documents contain at least one such shingle (`docs_touched`,
    * constant across rows). Empty result ⇒ the cap evicted nothing and
    * the pair search was fully lossless on this corpus. */
  def overCapShingles(df: DataFrame, id: Column, text: Column,
                      n: Int = 2, maxBucket: Int = 10000): DataFrame = {
    val inv = df.select(id.as("doc_id"), explode(shingleHashSet(text, n)).as("shingle"))
    val over = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxBucket)
    val touched = inv.join(over.select(col("shingle")), Seq("shingle"), "left_semi")
      .agg(count_distinct(col("doc_id")).as("docs_touched"))
    over.crossJoin(touched)
  }

  // --- C34: duplicate-passage coverage -----------------------------------

  /** Per-document duplicate-passage coverage (C34): for each doc, the
    * fraction of its positional word-n-gram windows whose gram also
    * occurs in at least one OTHER document — the passage-level
    * cross-corpus duplication rate (the signal behind exact-substring
    * training-data dedup, cf. Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better": docs that are mostly made of
    * passages seen elsewhere are drop/trim candidates). Per-doc where
    * the boilerplate detector (C28) is a global top-k, and
    * cross-document where the repetition metric (C24) is within-doc.
    *
    * Windows are positional (bag semantics): a doc repeating a shared
    * passage 3× has 3 duplicated windows per shared gram, but a passage
    * repeated ONLY within one doc counts zero — "duplicated" requires a
    * distinct-doc frequency ≥ 2, so within-doc repetition stays C24's
    * business. Scale shape: one (doc, gram) partial-agg shuffle (the
    * distinct-ing agg), one gram-keyed doc-frequency agg, one gram-keyed
    * join back (high-cardinality key; AQE handles the boilerplate-gram
    * skew), one doc-keyed sum — no window functions, no broadcast of
    * anything corpus-sized. Window totals are computed map-side from
    * the token count, so zero-window docs (< n tokens) survive via the
    * left join with dup_frac = 0. Counts are integer-exact; the
    * fraction is the one deterministic ROUND(dup/total, 4) at the end.
    */
  def passageDupStats(df: DataFrame, id: Column, text: Column,
                      n: Int = 5): DataFrame = {
    // one shingling pass, repartitioned off the input file layout and
    // persisted: the window array serves BOTH consumers — its size IS
    // the per-doc window total (bag semantics), and its explode feeds
    // the gram counts — so the split+transform cost center runs once,
    // not once per consumer (same idiom as ngramJaccardPairs /
    // minhashPrepped, where the A/B measured 2-6×)
    val windows = df.select(id.as("doc_id"), text.as("doc_text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        wordShingles(col("doc_text"), n, distinct = false).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-(doc, gram) occurrence counts over positional windows;
    // persisted: consumed by the doc-frequency agg AND the dup join
    val grams = windows.select(col("doc_id"), explode(col("w")).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // distinct-doc frequency per gram: (doc, gram) rows are unique, so a
    // plain count IS the distinct-doc count — no count_distinct shuffle
    val docFreq = grams.groupBy(col("gram")).agg(count(lit(1)).as("doc_count"))
    val dup = grams
      .join(docFreq.filter(col("doc_count") >= 2).select(col("gram")), Seq("gram"))
      .groupBy(col("doc_id")).agg(sum(col("cnt")).as("dup_windows"))
    val totals = windows.select(col("doc_id"),
      size(col("w")).cast("long").as("n_windows"))
    totals.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"))
      .withColumn("dup_frac",
        when(col("n_windows") === 0L, lit(0.0))
          .otherwise(round(col("dup_windows").cast("double") / col("n_windows"), 4)))
  }

  /** Passage-level span REMOVAL (C41) — the surgery [[passageDupStats]]'
    * coverage signal exists to drive (Lee et al. 2022's exact-substring
    * dedup, arXiv:2107.06499): rewrite each document to drop every
    * TOKEN covered by at least one duplicated positional window (a
    * word-n-gram occurring in ≥ 2 distinct documents — the same
    * distinct-doc ≥ 2 rule as C34, so within-doc repetition is never
    * removed). Survivor tokens are re-joined with single spaces;
    * documents with no duplicated window are returned BYTE-IDENTICAL
    * (the untouched branch short-circuits re-assembly, so odd spacing
    * in untouched docs can't be normalized away). Returns
    * (doc_id, clean, removed_tokens).
    *
    * Scale shape: the gram doc-frequency side is the C34 pipeline (one
    * (doc, gram) distinct shuffle, one gram-keyed agg, one gram-keyed
    * semi-join); what shuffles AFTER that is only (doc_id, pos) rows of
    * DUPLICATED windows — ids and ints, never text — collected into a
    * per-doc sorted start array and equi-joined back to the corpus by
    * id. The rewrite itself is one codegen-friendly map stage: expand
    * starts → covered token positions per row, filter the token array
    * by position, concat. Per-doc cost is O(tokens · covered) array
    * probes — bounded by document length, not corpus size. */
  def passageDupRemove(df: DataFrame, id: Column, text: Column,
                       n: Int = 5): DataFrame = {
    // one shingling pass (same idiom as passageDupStats); persisted
    // because BOTH the doc-frequency agg and the dup-start semi-join
    // re-explode it
    val windows = df.select(id.as("doc_id"), text.as("doc_text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        wordShingles(col("doc_text"), n, distinct = false).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posw = windows.select(col("doc_id"),
      posexplode(col("w")).as(Seq("pos", "gram")))
    val dupGrams = posw.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("doc_count"))
      .filter(col("doc_count") >= 2)
      .select(col("gram"))
    val dupStarts = posw.join(dupGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    removeCoveredTokens(df.select(id.as("doc_id"), text.as("doc_text")),
      dupStarts, n)
  }

  /** The shared span-removal rewrite stage under C41/C115: given
    * `(doc_id, doc_text)` docs and a `(doc_id, starts)` frame of sorted
    * match-start token offsets (each start covering n tokens), drop
    * every covered token, re-join survivors with single spaces, return
    * untouched docs BYTE-identical through the short-circuit branch.
    * One codegen-friendly map stage after the equi-join; per-doc cost
    * O(tokens · covered) array probes, bounded by document length. */
  private[operators] def removeCoveredTokens(docs: DataFrame, dupStarts: DataFrame,
                                             n: Int): DataFrame = {
    docs
      .join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.Cols.let(split(col("doc_text"), " ")) { toks =>
          graft.functions.Cols.let(array_distinct(flatten(transform(
              coalesce(col("starts"), typedLit(Array.empty[Int])),
              i => sequence(i, i + (n - 1)))))) { covered =>
            graft.functions.Cols.let(
                filter(toks, (_, p) => !array_contains(covered, p))) { kept =>
              struct(
                when(size(covered) === 0, col("doc_text"))
                  .otherwise(concat_ws(" ", kept)).as("clean"),
                (size(toks) - size(kept)).cast("long").as("removed_tokens"))
            }
          }
        }.as("r"))
      .select(col("doc_id"), col("r.clean").as("clean"),
        col("r.removed_tokens").as("removed_tokens"))
  }

  /** Line-level cross-document dedup (C47) — the RefinedWeb /
    * MassiveWeb boilerplate-line removal step (Penedo et al. 2023,
    * arXiv:2306.01116 §3.4; Rae et al. 2021 §A1.2): drop every LINE
    * occurring verbatim in ≥ `minDocs` distinct documents ("Share this
    * article", cookie banners, nav text — the repetition that survives
    * doc-level dedup because each HOST page is unique). Between C28
    * (global top-k boilerplate GRAMS) and C41 (duplicated positional
    * windows): the unit here is the newline-delimited line, matched
    * exactly, dropped wherever it repeats — no top-k cut, no window
    * arithmetic. Whitespace-only and sub-`minChars` lines are NEVER
    * dropped: they are document structure, and at corpus scale every
    * blank line is "duplicated". The match is byte-level by contract —
    * compose with [[graft.functions.TextFunctions.htmlToText]] /
    * `nfcNormalize` upstream for web text. Returns
    * `(doc_id, clean, removed_lines)`; untouched docs come back
    * BYTE-identical through the short-circuit branch (the C41
    * discipline).
    *
    * Scale shape: lines leave their doc as `(doc_id, pos,
    * xxhash64(line))` — 8-byte hashes shuffle, never line text (the
    * C22 hashed-broadcast tradeoff: a ~1e-11 collision admits a false
    * drop); the (doc, hash) distinct rows make a plain count the
    * distinct-doc frequency; only DUPLICATED line positions (ints)
    * shuffle back into per-doc sorted arrays, and the rewrite is one
    * codegen-friendly map stage over the re-split text. */
  def lineDupRemove(df: DataFrame, id: Column, text: Column,
                    minDocs: Int = 2, minChars: Int = 1): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    // (doc, pos, hash) of drop-eligible lines; persisted — consumed by
    // the frequency agg AND the duplicated-position semi-join
    val keyed = df.select(id.as("doc_id"),
        posexplode(split(text, "\n")).as(Seq("pos", "line")))
      .filter(length(trim(col("line"))) >= minChars)
      .select(col("doc_id"), col("pos"), xxhash64(col("line")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupHashes = keyed.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"))
    val dropPos = keyed.join(dupHashes, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("drops"))
    df.select(id.as("doc_id"), text.as("doc_text"))
      .join(dropPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.Cols.let(split(col("doc_text"), "\n")) { ls =>
          graft.functions.Cols.let(
              coalesce(col("drops"), typedLit(Array.empty[Int]))) { dr =>
            struct(
              when(size(dr) === 0, col("doc_text"))
                .otherwise(array_join(
                  filter(ls, (_, p) => !array_contains(dr, p)), "\n")).as("clean"),
              size(dr).cast("long").as("removed_lines"))
          }
        }.as("r"))
      .select(col("doc_id"), col("r.clean").as("clean"),
        col("r.removed_lines").as("removed_lines"))
  }

  /** WITHIN-doc repeated-line removal (C50) — the intra-document half
    * of the MassiveWeb repetition surgery (Rae et al. 2021 §A1.2):
    * keep only the FIRST occurrence of each line inside a doc, drop
    * later verbatim repeats (scraped pages duplicate their own nav
    * blocks, cookie banners and footers several times per page; C47
    * catches lines repeating ACROSS docs, this catches the same text
    * repeating down ONE doc). Whitespace-only and sub-`minChars`
    * lines are never dropped — same structure rule as C47, and they
    * don't shadow later occurrences either (same text ⇒ same
    * eligibility, so the first ELIGIBLE occurrence survives). Returns
    * `(doc_id, clean, removed_lines)`; untouched docs come back
    * BYTE-identical through the short-circuit branch.
    *
    * Scale shape: the decision needs nothing outside the doc, so this
    * is ONE codegen-friendly map stage — zero shuffle, zero join,
    * nothing broadcast; the per-line prior-occurrence scan is
    * O(lines²) in the worst case but bounded by one doc, the same
    * bound as the C41 rewrite. The cheapest possible 100 TB operator:
    * it composes into any pipeline for free.
    */
  def lineRepeatRemove(df: DataFrame, id: Column, text: Column,
                       minChars: Int = 1): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    df.select(id.as("doc_id"), text.as("doc_text"))
      .select(col("doc_id"),
        graft.functions.Cols.let(split(col("doc_text"), "\n")) { ls =>
          graft.functions.Cols.let(
              filter(ls, (l, i) =>
                length(trim(l)) < minChars ||
                  array_position(slice(ls, lit(1), i), l) === 0)) { kept =>
            struct(
              when(size(kept) === size(ls), col("doc_text"))
                .otherwise(array_join(kept, "\n")).as("clean"),
              (size(ls) - size(kept)).cast("long").as("removed_lines"))
          }
        }.as("r"))
      .select(col("doc_id"), col("r.clean").as("clean"),
        // NULL text passes through as NULL clean — but the COUNT is a
        // statement about work done, and no lines were removed: 0
        coalesce(col("r.removed_lines"), lit(0L)).as("removed_lines"))
  }

  // --- C2: MinHash + banded LSH -----------------------------------------

  /** k-permutation MinHash signature over a shingle-hash set column.
    * Each "permutation" re-hashes the shingle hash with a distinct
    * xxhash64 seed — native, codegen'd, and free of the ANSI-mode
    * overflow that wrapped a·h+b arithmetic would trip. */
  def minhashSignatureFromHashes(hashes: Column, k: Int = 64,
                                 seed: Long = 42L): Column =
    array((0 until k).map { i =>
      array_min(transform(hashes, h => xxhash64(lit(seed + i), h)))
    }: _*)

  /** k-permutation MinHash signature over n-word shingles. */
  def minhashSignature(text: Column, n: Int = 2, k: Int = 64,
                       seed: Long = 42L): Column =
    minhashSignatureFromHashes(shingleHashSet(text, n), k, seed)

  /** The shared MinHash prep: shingle hash set + k-permutation
    * signature per doc, persisted. Shingle-less docs (shorter than n
    * tokens) all share the null signature — without the guard they'd
    * pile into one degenerate bucket and quadratically self-join
    * there; the guard is the cheap `tokens >= n` equivalent, applied
    * BEFORE the repartition so the signature stage (the cost center)
    * parallelizes by cluster size with no pushed-down recompute on the
    * raw scan. Persisted: three consumers (banding + both verify
    * joins) would otherwise each re-run shingling AND the
    * k-permutation signature from the raw scan — the plan's cost
    * center, 3× over (A/B at sf0.1: 4.47s → 3.49s). At 100 TB, write
    * this frame as an intermediate table instead of caching — for the
    * incremental path that table IS the corpus index. */
  private def minhashPrepped(df: DataFrame, id: Column, text: Column,
                             n: Int, k: Int, seed: Long): DataFrame =
    minhashIndex(df, id, text, n, k, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The MinHash corpus index frame — `(doc_id, sh, sig)`: sorted
    * shingle-hash set + k-permutation signature per doc (shingle-less
    * docs excluded, same guard as the pair search). This is the
    * "precomputed index table" the incremental path's scaladoc
    * prescribes, as an API: compute once, write as a table
    * (parquet/bucketed via Layout), then screen each increment with
    * [[minhashLshPairsAgainstIndex]] — prep cost for the historical
    * corpus is paid once, not per increment. The (n, k, seed) used to
    * build MUST match the (n, bands·rows, seed) of every later screen;
    * store them with the table. */
  def minhashIndex(df: DataFrame, id: Column, text: Column,
                   n: Int = 2, k: Int = 64, seed: Long = 42L): DataFrame =
    df.select(id.as("doc_id"), text.as("doc_text"))
      .filter(size(split(col("doc_text"), " ")) >= n)
      .repartition(col("doc_id"))
      .select(col("doc_id"), shingleHashSet(col("doc_text"), n).as("sh"))
      .withColumn("sig", minhashSignatureFromHashes(col("sh"), k, seed))

  /** Evict every row of buckets larger than `maxBucket`, by grouped
    * count + anti-join. NOT `count(*).over(Window.partitionBy(key))`:
    * a WindowExec buffers its whole partition per task BEFORE the
    * filter runs, so the degenerate bucket the cap exists to protect
    * against would be materialized (one straggler task owns it, spills
    * it linearly) just to be dropped. The grouped count combines
    * map-side (partial_count), the over-cap key set is tiny rows
    * (keys only, ≤ n/maxBucket of them — NOT broadcast, it can still
    * be large at corpus scale), and the anti-join shuffles on the same
    * bucket key the downstream candidate self-join uses, so the
    * partitioning carries forward. */
  private def dropOverCapBuckets(rows: DataFrame, keys: Seq[String],
                                 maxBucket: Int): DataFrame = {
    val over = rows.groupBy(keys.map(col): _*).count()
      .filter(col("count") > maxBucket)
      .select(keys.map(col): _*)
    // a USING join puts the key columns first; keep the input's order
    rows.join(over, keys, "left_anti").select(rows.columns.map(col): _*)
  }

  /** The `bands` band hashes of a signature: band b hashes signature
    * elements b·rows … b·rows + rows − 1. ONE definition for the
    * banded join ([[bandedCapped]]) and the row-local probe
    * ([[MinhashProbe]]), so both bucket a document identically. */
  private def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(concat_ws(",", (0 until rows).map(r =>
        element_at(sig, b * rows + r + 1)): _*))
    }: _*)

  /** (doc_id, band, band_hash) rows of a prepped frame, buckets above
    * `maxBucket` evicted (per side — a bucket that big is a degenerate
    * shingle cluster, not a near-dup group). */
  private def bandedCapped(docs: DataFrame, bands: Int, rows: Int,
                           maxBucket: Int): DataFrame =
    dropOverCapBuckets(
      docs.select(col("doc_id"), posexplode(bandHashes(col("sig"), bands, rows))
        .as(Seq("band", "band_hash"))),
      Seq("band", "band_hash"), maxBucket)

  /** The shared exact-Jaccard verify: attach each side's shingle set
    * by id, compute, threshold. ONE definition so the verify recipe
    * (rounding, threshold semantics) can't diverge between the
    * self-join and bipartite paths. */
  private def verifyJaccard(cand: DataFrame, left: DataFrame, right: DataFrame,
                            aName: String, bName: String,
                            threshold: Double): DataFrame =
    // cpuWide: the exact-Jaccard verify (sorted-hash merge-intersect
    // per candidate row) is the CPU center of every LSH path, and the
    // candidate frame it runs on is bytes-tiny — precisely the shape
    // AQE's byte-based coalescing starves (see cpuWide)
    cpuWide(cand, col(aName))
      .join(left.select(col("doc_id").as(aName), col("sh").as("sh_a")), aName)
      .join(right.select(col("doc_id").as(bName), col("sh").as("sh_b")), bName)
      .withColumn("jaccard", round(jaccardHashed(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col(aName), col(bName), col("jaccard"))

  /** Near-duplicate pairs via banded MinHash-LSH, verified by true
    * shingle Jaccard. bands·rows must equal the signature length k.
    * One shuffle on (band, band-hash); per-bucket self-join generates
    * candidates; verification joins back the shingle sets.
    */
  def minhashLshPairs(df: DataFrame, id: Column, text: Column,
                      n: Int = 2, bands: Int = 16, rows: Int = 4,
                      threshold: Double = 0.5, seed: Long = 42L,
                      maxBucket: Int = 1000): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val docs = minhashPrepped(df, id, text, n, bands * rows, seed)
    val capped = bandedCapped(docs, bands, rows, maxBucket)
    val cand = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, docs, docs, "doc_a", "doc_b", threshold)
  }

  /** Incremental near-dedup (C33): near-dup pairs BETWEEN a new batch
    * and an existing corpus — the production ingest shape (a daily
    * increment screened against the historical index) where re-running
    * the full self-join would redo work quadratic in history size.
    * Bipartite banded LSH: each side is prepped independently (at
    * scale the corpus side's shingle+signature frame is a precomputed
    * index table, not recomputed — see [[minhashPrepped]]), candidates
    * come from the (band, band_hash) equi-join ACROSS sides only (no
    * new×new or old×old compares), and the exact Jaccard verify joins
    * each side's own shingle sets back by id. Same recall algebra as
    * [[minhashLshPairs]]. Ids are NOT assumed shared between sides:
    * a colliding id (new batch restarting at 0 against a historical
    * corpus) is compared like any other candidate — excluding same-id
    * pairs would silently let such a near-dup through, and when the
    * id spaces ARE shared, a (x, x) pair is a re-ingestion worth
    * flagging, not noise. Returns (new_id, old_id, jaccard). In a
    * recurring driver, prep the corpus index ONCE (write
    * [[minhashPrepped]]'s frame as a table) instead of re-calling
    * this per increment — each call persists both sides for its own
    * lifetime. */
  def minhashLshPairsAgainst(newDf: DataFrame, newId: Column, newText: Column,
                             corpus: DataFrame, corpusId: Column, corpusText: Column,
                             n: Int = 2, bands: Int = 16, rows: Int = 4,
                             threshold: Double = 0.5, seed: Long = 42L,
                             maxBucket: Int = 1000): DataFrame = {
    graft.GraftExtensions.ensureRegistered(newDf.sparkSession)
    val k = bands * rows
    val nw = minhashPrepped(newDf, newId, newText, n, k, seed)
    val old = minhashPrepped(corpus, corpusId, corpusText, n, k, seed)
    bipartiteLshPairs(nw, old, bands, rows, threshold, maxBucket)
  }

  /** The bipartite band-join + verify tail over ALREADY-BANDED sides —
    * the innermost shared shape: cross-side-only candidate join, dedup,
    * exact verify against each side's shingle sets. */
  private def bipartiteLshPairsFrom(nwBanded: DataFrame, oldBanded: DataFrame,
                                    nw: DataFrame, old: DataFrame,
                                    threshold: Double): DataFrame = {
    val cand = nwBanded.as("a")
      .join(oldBanded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    verifyJaccard(cand, nw, old, "new_id", "old_id", threshold)
  }

  /** The bipartite band-join + verify tail shared by the recompute and
    * index-backed incremental paths — ONE definition so the candidate
    * algebra (cross-side-only join, dedup, exact verify) can't drift. */
  private def bipartiteLshPairs(nw: DataFrame, old: DataFrame,
                                bands: Int, rows: Int, threshold: Double,
                                maxBucket: Int): DataFrame =
    bipartiteLshPairsFrom(bandedCapped(nw, bands, rows, maxBucket),
      bandedCapped(old, bands, rows, maxBucket), nw, old, threshold)

  /** THE signature-length guard both index consumers share: an index
    * built with a different k would make element_at(sig, ...) read
    * past the array end, yielding nulls that concat_ws silently
    * skips — band hashes from PARTIAL signatures, near-dups silently
    * missed. Fail loudly instead. ONE definition so the check (and
    * its message) can't drift between the pair screen and the
    * precomputed-bands path. */
  private def requireSigLength(df: DataFrame, k: Int): DataFrame =
    df.filter(coalesce(assert_true(size(col("sig")) === k,
      concat(lit("minhash index signature length "),
        size(col("sig")).cast("string"),
        lit(s" != bands*rows = $k — the index was built with a different k"))),
      lit(true)))

  /** [[minhashLshPairsAgainst]] with the corpus side served from a
    * prebuilt [[minhashIndex]] frame (typically a parquet table): only
    * the NEW batch is shingled and signed; the index is scanned as-is
    * (twice — banding and verify — which at scale is two reads of a
    * columnar table, not two recomputes of the signature stage).
    * bands·rows must equal the k the index was built with. Each call
    * persists the new batch's prep for its own lifetime (it feeds both
    * the banding and the verify); a recurring ingest driver screening
    * increment after increment should release it between calls —
    * `spark.catalog.clearCache()` or unpersist — or the per-increment
    * caches accumulate until storage eviction. */
  def minhashLshPairsAgainstIndex(newDf: DataFrame, newId: Column, newText: Column,
                                  index: DataFrame,
                                  n: Int = 2, bands: Int = 16, rows: Int = 4,
                                  threshold: Double = 0.5, seed: Long = 42L,
                                  maxBucket: Int = 1000): DataFrame = {
    graft.GraftExtensions.ensureRegistered(newDf.sparkSession)
    val nw = minhashPrepped(newDf, newId, newText, n, bands * rows, seed)
    val idx = requireSigLength(
      index.select(col("doc_id"), col("sh"), col("sig")), bands * rows)
    bipartiteLshPairs(nw, idx, bands, rows, threshold, maxBucket)
  }

  /** Precomputed banded-capped rows of a [[minhashIndex]] —
    * `(doc_id, band, band_hash)` with over-cap buckets already evicted.
    * A recurring screener (a daily ingest driver) should compute this
    * ONCE per index version and pin or materialize it next to the
    * index: re-deriving it per increment re-pays the bands·|index|
    * posexplode AND the grouped-count + anti-join cap shuffle over the
    * whole historical corpus — per increment. [[minhashProbe]] collects
    * it once to build its broadcast buckets. */
  def minhashIndexBands(index: DataFrame, bands: Int = 16, rows: Int = 4,
                        maxBucket: Int = 1000): DataFrame =
    bandedCapped(requireSigLength(
      index.select(col("doc_id"), col("sig")), bands * rows),
      bands, rows, maxBucket)

  /** [[minhashLshPairsAgainstIndex]] with the index side FULLY
    * precomputed: `index` is the [[minhashIndex]] frame (for the
    * verify join) and `indexBands` its [[minhashIndexBands]] (for the
    * candidate join) — the caller pins/materializes both, so a
    * screening call pays only the NEW side's shingle+signature+banding
    * plus the joins. Unlike the other variants the new side is NOT
    * persisted here: two recomputes of a small increment are cheaper
    * than a cached frame per call accumulating for the life of a
    * recurring driver.
    *
    * This is the batch API: it returns the (new_id, old_id, jaccard)
    * PAIRS, caps both sides' buckets, and pays a join plan per call.
    * A screener that only needs the keep/drop decision per row against
    * a frozen index — the forwarder's per-micro-batch near-dup screen —
    * uses [[minhashProbe]] instead: the same hit set as this function's
    * `new_id` column (spec-pinned), as one row-local filter. */
  def minhashLshPairsAgainstBandedIndex(newDf: DataFrame, newId: Column, newText: Column,
                                        index: DataFrame, indexBands: DataFrame,
                                        n: Int = 2, bands: Int = 16, rows: Int = 4,
                                        threshold: Double = 0.5,
                                        seed: Long = 42L,
                                        maxBucket: Int = 1000): DataFrame = {
    graft.GraftExtensions.ensureRegistered(newDf.sparkSession)
    val nw = minhashIndex(newDf, newId, newText, n, bands * rows, seed)
    bipartiteLshPairsFrom(bandedCapped(nw, bands, rows, maxBucket),
      indexBands.select(col("doc_id"), col("band"), col("band_hash")),
      nw, index.select(col("doc_id"), col("sh")), threshold)
  }

  /** A frozen [[minhashIndex]] as a broadcast near-dup probe: the
    * index's capped band buckets and its shingle sets, collected once
    * and broadcast once, so screening a row is a row-local expression
    * with no join and no shuffle (see [[minhashProbe]]). Call
    * [[release]] when done: it destroys the broadcast. */
  final class MinhashProbe private[operators] (
      table: org.apache.spark.broadcast.Broadcast[MinhashProbe.Table],
      n: Int, bands: Int, rows: Int, seed: Long) {

    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)

    /** The index shingle sets of every doc sharing a band bucket with
      * the row — each doc once, with every shingle set stored under
      * its doc_id (a duplicated doc_id verifies against all of them,
      * like the verify join). The closure captures the broadcast
      * handle only. */
    private val candidates = {
      val bc = table
      udf((hashes: Seq[Long]) => bc.value.candidates(hashes))
    }

    /** True when `text` is a near-dup of an indexed document: it shares
      * a capped band bucket with the document and their rounded shingle
      * Jaccard is ≥ `threshold` — the same decision as a non-empty
      * [[minhashLshPairsAgainstBandedIndex]] result for the row, built
      * from the same Column expressions (shingle hashes, signature,
      * band hashes, `jaccardHashed`, `round(·, 4)`). Shingle-less and
      * null text is never a near-dup. Unlike the batch API there is no
      * new-side bucket cap: each row probes alone, so a burst of more
      * than `maxBucket` near-dups in one batch is screened, not evicted.
      * The shingle set and signature are let-bound: un-bound, the 64
      * signature lambdas and the band hashes would each re-derive the
      * shingles. Never null, so `filter(!nearDup(…))` keeps every row
      * that is not a hit. */
    def nearDup(text: Column, threshold: Double): Column =
      when(size(split(text, " ")) >= n,
        graft.functions.Cols.let(shingleHashSet(text, n)) { sh =>
          graft.functions.Cols.let(minhashSignatureFromHashes(sh, bands * rows, seed)) { sig =>
            exists(candidates(bandHashes(sig, bands, rows)),
              o => round(jaccardHashed(sh, o), 4) >= threshold)
          }
        }).otherwise(lit(false))

    /** Destroy the broadcast (idempotent). */
    def release(): Unit = if (released.compareAndSet(false, true)) {
      table.destroy()
      MinhashProbe.live.decrementAndGet(): Unit
    }
  }

  object MinhashProbe {
    /** `buckets(band)`: band_hash → slots of the docs in that capped
      * bucket; `shingles(slot)`: every shingle set stored under that
      * slot's doc_id. */
    private[operators] final class Table(buckets: Array[Map[Long, Array[Int]]],
                                         shingles: Array[Array[Array[Long]]])
        extends Serializable {
      def candidates(hashes: Seq[Long]): Seq[Seq[Long]] = {
        val slots = scala.collection.mutable.LinkedHashSet.empty[Int]
        hashes.iterator.zip(buckets.iterator).foreach { case (h, bucket) =>
          bucket.get(h).foreach(slots ++= _)
        }
        slots.toSeq.flatMap(s =>
          shingles(s).toSeq.map(scala.collection.immutable.ArraySeq.unsafeWrapArray(_)))
      }
    }

    /** Probes built and not yet released, for leak checks. */
    private[graft] val live = new java.util.concurrent.atomic.AtomicInteger(0)
  }

  /** Build a [[MinhashProbe]] over a [[minhashIndex]] frame. Three
    * small jobs on the index, all on the driver's side of the query:
    *  - a size check: the estimated table (8 bytes per shingle hash,
    *    16 + 12·bands bytes per doc) must fit Spark's own broadcast
    *    limit `spark.sql.maxBroadcastTableSize`, else this fails with a
    *    named error before anything is collected;
    *  - the shingle sets, `doc_id → sh` (null ids and sets dropped, as
    *    the verify join would never match them);
    *  - the capped band buckets from [[minhashIndexBands]] (same
    *    index-side `maxBucket` eviction, same signature-length guard —
    *    a wrong-k index fails here, loudly).
    * (n, bands·rows, seed) MUST match the index build. */
  def minhashProbe(index: DataFrame, n: Int = 2, bands: Int = 16, rows: Int = 4,
                   seed: Long = 42L, maxBucket: Int = 1000): MinhashProbe = {
    val spark = index.sparkSession
    graft.GraftExtensions.ensureRegistered(spark)
    val limit = spark.sessionState.conf.maxBroadcastTableSizeInBytes
    val sized = index.agg(count(lit(1)), coalesce(sum(size(col("sh"))), lit(0L))).head()
    val bytes = 8L * sized.getLong(1) + (16L + 12L * bands) * sized.getLong(0)
    require(bytes <= limit,
      s"near-dup probe: the MinHash index (${sized.getLong(0)} docs, ~$bytes bytes) " +
        s"exceeds ${org.apache.spark.sql.internal.SQLConf.MAX_BROADCAST_TABLE_SIZE.key} " +
        s"= $limit bytes; shrink the index or raise the limit")
    // doc_id is any type: binary ids compare by content, as in the join
    def key(v: Any): Any = v match { case b: Array[Byte] => b.toSeq; case x => x }
    val slotOf = scala.collection.mutable.HashMap.empty[Any, Int]
    val sets = scala.collection.mutable.ArrayBuffer.empty[List[Array[Long]]]
    index.filter(col("doc_id").isNotNull && col("sh").isNotNull)
      .select(col("doc_id"), col("sh")).collect().foreach { r =>
        val s = slotOf.getOrElseUpdate(key(r.get(0)), { sets += Nil; sets.size - 1 })
        sets(s) = r.getSeq[Long](1).toArray :: sets(s)
      }
    val buckets = Array.fill(bands)(
      scala.collection.mutable.HashMap.empty[Long, List[Int]])
    minhashIndexBands(index, bands, rows, maxBucket).collect().foreach { r =>
      slotOf.get(key(r.get(0))).foreach { s =>
        val b = buckets(r.getInt(1))
        b(r.getLong(2)) = s :: b.getOrElse(r.getLong(2), Nil)
      }
    }
    val table = new MinhashProbe.Table(
      buckets.map(_.iterator.map { case (h, ss) => h -> ss.distinct.toArray }.toMap),
      sets.iterator.map(_.toArray).toArray)
    val probe = new MinhashProbe(spark.sparkContext.broadcast(table), n, bands, rows, seed)
    MinhashProbe.live.incrementAndGet()
    probe
  }

  // --- C3: SimHash ------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: bit j is set when the sum of
    * ±1 votes (per token, from bit j of the token's hash) is positive.
    * Tokens are hashed with graft's own FNV-1a expression — a standard
    * simhash token hash whose arithmetic is also exactly reproducible in
    * the DuckDB oracle (list_reduce with HUGEINT mod-2⁶⁴), which is what
    * makes `qdedup_simhash` fully oracle-checkable. The token-hash array
    * is let-bound: referenced un-bound by the 64 per-bit aggregates it
    * would be re-derived (split + hash per token) 64× per row. */
  /** Winnowing fingerprints (SURVEY.md §2.C71; Schleimer et al. 2003 —
    * the MOSS algorithm): per doc, FNV-hash every character k-gram of
    * the normalized text, then keep the MINIMUM hash of each window of
    * `w` consecutive k-grams, ties broken to the RIGHTMOST position
    * (robust winnowing — guarantees any shared substring of length
    * ≥ w+k−1 contributes at least one IDENTICAL selected fingerprint
    * in both docs, the locality property plain 0-mod-p hash sampling
    * lacks). Returns (doc_id, pos, fp_hash), distinct per doc.
    *
    * Scale shape: hashing + window selection is ONE codegen map stage
    * (transform/slice/array_min HOFs over the doc's own k-gram array —
    * O(len·w) per doc, bounded by doc length, no shuffle); only the
    * selected (id, pos, 8-byte hash) rows leave the doc. Docs shorter
    * than k have no k-gram and emit nothing; docs with fewer than w
    * k-grams winnow over one whole-doc window.
    */
  def winnowFingerprints(df: DataFrame, id: Column, text: Column,
                         k: Int = 16, w: Int = 12): DataFrame = {
    require(k >= 2, s"k-gram length must be >= 2, got $k")
    require(w >= 1, s"window must be >= 1, got $w")
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    // hashing + robust window selection is ONE native kernel call per
    // doc (WinnowSelect: O(len) monotonic-deque window minimum,
    // rightmost tie) — replacing the HOF formulation that materialized
    // O(len·w) structs per doc (measured 9.7 s → ~1 s at sf0.1 on
    // qdedup_winnow; selections bit-identical, the window-replaying
    // DuckDB oracle is the proof)
    df.filter(text.isNotNull)
      .select(id.as("doc_id"), TextFunctions.normalizeText(text).as("__t"))
      .filter(length(col("__t")) >= k)
      .select(col("doc_id"),
        explode(call_function("graft_winnow", col("__t"), lit(k), lit(w))).as("fp"))
      .select(col("doc_id"), col("fp.p").as("pos"), col("fp.h").as("fp_hash"))
  }

  /** Document pairs sharing ≥ `minShared` distinct winnowed
    * fingerprints — the plagiarism/near-dup detector the fingerprints
    * exist for. Ubiquitous fingerprints (appearing in > `maxDocsPerFp`
    * docs — boilerplate/template grams, not discriminative content)
    * are evicted by the grouped-count + anti-join cap BEFORE the
    * self-join (the C2 bucket discipline: the cap is what bounds the
    * join's fan-out at corpus scale; only (id, hash) rows ever
    * shuffle). */
  def winnowPairs(df: DataFrame, id: Column, text: Column,
                  k: Int = 16, w: Int = 12,
                  minShared: Int = 3, maxDocsPerFp: Int = 8): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocsPerFp >= 2, s"maxDocsPerFp must be >= 2, got $maxDocsPerFp")
    val fps = winnowFingerprints(df, id, text, k, w)
      .select(col("doc_id"), col("fp_hash")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = dropOverCapBuckets(fps, Seq("fp_hash"), maxDocsPerFp)
    capped.select(col("fp_hash"), col("doc_id").as("id_a"))
      .join(capped.select(col("fp_hash"), col("doc_id").as("id_b")), "fp_hash")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-document content-defined chunk spans + hashes (C121): each
    * payload split at [[graft.functions.CdcChunks]] boundaries (LBFS
    * rolling-hash cuts + anchored max-length cuts — see the kernel
    * scaladoc for why anchored, not FastCDC's sequential
    * relative-max), each chunk identified by the MD5 of its content.
    * This is the storage/multimodal dedup primitive: identical spans
    * ANYWHERE in two payloads — regardless of offset shift, which
    * defeats fixed-size blocking — produce identical chunk hashes.
    *
    * Scale shape: chunking + hashing is one codegen map stage over
    * the scan (the kernel is O(len), the per-chunk MD5 touches each
    * byte once); payloads never shuffle — only (doc_id, start, len,
    * chunk_hash) rows leave the stage. */
  def cdcChunks(df: DataFrame, id: Column, text: Column,
                w: Int = 8, div: Int = 64, maxLen: Int = 256): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    df.filter(text.isNotNull)
      .select(id.as("doc_id"), text.as("__t"))
      .select(col("doc_id"), col("__t"),
        explode(call_function("graft_cdc_chunks", col("__t"),
          lit(w), lit(div), lit(maxLen))).as("c"))
      .select(col("doc_id"), col("c.start").as("start"), col("c.len").as("len"),
        md5(expr("substring(__t, start, len)").cast("binary")).as("chunk_hash"))
  }

  /** Duplicate-chunk summary over [[cdcChunks]]: every chunk content
    * occurring more than once corpus-wide, with its distinct-doc and
    * total occurrence counts — the dedup-savings ledger (a storage
    * system would keep one copy per row here; a multimodal curation
    * run reads it as a shared-span report). Grouping key is the
    * chunk hash: one map-side-combined shuffle of (hash, len) pairs,
    * ~50 bytes/chunk independent of chunk size. */
  def cdcChunkDedup(df: DataFrame, id: Column, text: Column,
                    w: Int = 8, div: Int = 64, maxLen: Int = 256): DataFrame =
    cdcChunks(df, id, text, w, div, maxLen)
      .groupBy(col("chunk_hash"))
      .agg(max(col("len")).as("chunk_len"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)

  /** Chunk-level dedup SURGERY over [[cdcChunks]] (the C121 action,
    * completing measure → pairs → rewrite like C34 → C34-rm): keep
    * exactly ONE copy of every duplicated span corpus-wide — the
    * keeper is the (doc_id, start)-minimal occurrence, every other
    * occurrence is dropped from its doc's rewrite. Emits per doc the
    * chunk counts and the rewritten text (the ordered concatenation
    * of its kept chunks — chunks tile the doc, so kept-concat IS the
    * rewrite). The storage-dedup "store once, reference elsewhere"
    * semantic applied as a corpus transform.
    *
    * Scale shape: the keeper argmax is a combiner-friendly grouped
    * MIN of a (doc_id, start) struct on the hash key — ids only, no
    * window over the hash partition; chunk text then moves twice
    * (hash-keyed decision join, doc-keyed reassembly), which is the
    * floor for any rewrite that must materialize new text. Docs with
    * NULL text are excluded (no payload, nothing to rewrite); a doc
    * whose every chunk lost keeps an explicit empty rewrite. */
  def cdcDedupRewrite(df: DataFrame, id: Column, text: Column,
                      w: Int = 8, div: Int = 64, maxLen: Int = 256): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val pieces = df.filter(text.isNotNull)
      .select(id.as("doc_id"), text.as("__t"))
      .select(col("doc_id"), col("__t"),
        explode(call_function("graft_cdc_chunks", col("__t"),
          lit(w), lit(div), lit(maxLen))).as("c"))
      .select(col("doc_id"), col("c.start").as("start"),
        expr("substring(__t, c.start, c.len)").as("piece"))
      .withColumn("chunk_hash", md5(col("piece").cast("binary")))
    val keeper = pieces.groupBy(col("chunk_hash"))
      .agg(min(struct(col("doc_id"), col("start"))).as("k"))
    pieces.join(keeper, "chunk_hash")
      .withColumn("keep",
        col("doc_id") === col("k.doc_id") && col("start") === col("k.start"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(!col("keep"), lit(1L)).otherwise(lit(0L))).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("start"), col("piece"))))),
          s => s.getField("piece")), "").as("new_text"))
  }

  /** Document pairs sharing ≥ `minShared` distinct CDC chunks — the
    * pair detector over [[cdcChunks]] fingerprints, completing the
    * C121 family (chunk → ledger → pairs) with the [[winnowPairs]]
    * discipline: per-doc DISTINCT chunk hashes, ubiquitous chunks
    * (> `maxDocsPerChunk` docs — shared templates, not shared
    * content) evicted by the grouped-count + anti-join cap BEFORE the
    * self-join bounds the fan-out, then an id-pair count. Relative to
    * the shingle detectors this keys on variable-size content-aligned
    * spans, so a single long verbatim reuse scores as several shared
    * chunks even when the surrounding edits break every fixed
    * k-gram window. Only (id, hash) rows ever shuffle. */
  def cdcPairs(df: DataFrame, id: Column, text: Column,
               w: Int = 8, div: Int = 64, maxLen: Int = 256,
               minShared: Int = 2, maxDocsPerChunk: Int = 20): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocsPerChunk >= 2, s"maxDocsPerChunk must be >= 2, got $maxDocsPerChunk")
    val ch = cdcChunks(df, id, text, w, div, maxLen)
      .select(col("doc_id"), col("chunk_hash")).distinct()
    val capped = dropOverCapBuckets(ch, Seq("chunk_hash"), maxDocsPerChunk)
    capped.select(col("chunk_hash"), col("doc_id").as("id_a"))
      .join(capped.select(col("chunk_hash"), col("doc_id").as("id_b")), "chunk_hash")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Asymmetric containment pairs (SURVEY.md §2.C76): ordered pairs
    * (a, b) where at least `threshold` of a's distinct word n-gram
    * shingles also occur in b — `|Sₐ∩S_b| / |Sₐ|`, the QUOTE/SUBSET
    * detector Jaccard structurally cannot be: a short doc quoted
    * verbatim inside a long one has near-total containment but tiny
    * Jaccard (the union is dominated by the long doc), so C4 never
    * surfaces it. Asymmetric by design — (a ⊂ b) says nothing about
    * (b ⊂ a); both directions are emitted when both clear the bar.
    *
    * Scale shape: the C4/C71 candidate discipline — shingles leave
    * their doc as (id, 8-byte xxhash64) rows (oracle keys on the
    * strings, the C22 parity rule), ubiquitous shingles (>
    * `maxDocsPerShingle` docs — template grams) are evicted by the
    * grouped-count anti-join cap BEFORE the self-join bounds fan-out,
    * intersection sizes fall out of the equi-join's group count, and
    * ONE broadcast-able per-doc size frame turns counts into
    * containment. The ratio is rounded to 4 before thresholding in
    * both engines, so the cut never rides a float tail. */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
                       n: Int = 5, threshold: Double = 0.5,
                       maxDocsPerShingle: Int = 20): DataFrame = {
    require(n >= 1, s"shingle length must be >= 1, got $n")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(maxDocsPerShingle >= 2,
      s"maxDocsPerShingle must be >= 2, got $maxDocsPerShingle")
    val sh = df.filter(text.isNotNull)
      .select(id.as("doc_id"), explode(wordShingles(text, n)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val capped = dropOverCapBuckets(sh, Seq("h"), maxDocsPerShingle)
    capped.select(col("h"), col("doc_id").as("id_a"))
      .join(capped.select(col("h"), col("doc_id").as("id_b")), "h")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sz.withColumnRenamed("doc_id", "id_a"), "id_a")
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_sh"), 4))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("containment"))
  }

  /** Edit-distance near-dup pairs (SURVEY.md §2.C87; the SymSpell /
    * FastSS deletion-neighborhood scheme, Schulz & Mihov 2002): all
    * (a, b) with `levenshtein(a, b) <= maxDist` — the CHARACTER-level
    * member of the dedup family, for the short keyed fields
    * (titles, names, product codes, normalized URLs) where one typo,
    * one dropped letter, or one OCR substitution is the whole
    * difference and shingle Jaccard (C4) has nothing to grip: a
    * 12-char title has at most a handful of word shingles.
    *
    * Candidate generation is LOSSLESS: if `ed(a, b) <= d` then the
    * depth-`d` deletion neighborhoods of a and b intersect (align the
    * strings; delete each unmatched/substituted char from its own
    * side — at most d deletions each), so every true pair shares at
    * least one signature and the exact `levenshtein` verify loses
    * nothing. Neighborhood size is O(len^d) per string — the operator
    * is built for SHORT fields and refuses strings past `maxLen`
    * (fail-fast beats a silent len² signature explosion; whole-doc
    * near-dup belongs to C2/C4).
    *
    * Scale shape: signatures are computed map-side as array exprs (no
    * UDF) and leave the row as (id, 8-byte xxhash64) — strings never
    * shuffle for candidacy; ubiquitous signatures (> `maxBucket` rows
    * — degenerate key clusters) are evicted by the shared
    * grouped-count + anti-join cap BEFORE the self-join bounds
    * fan-out; hash collisions can only ADD candidates, and the exact
    * verify (strings re-attached by TWO id-keyed joins) removes them.
    */
  def editDistancePairs(df: DataFrame, id: Column, s: Column,
                        maxDist: Int = 1, maxLen: Int = 64,
                        maxBucket: Int = 1000): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (neighborhood is O(len^d)), got $maxDist")
    require(maxLen >= 1 && maxLen <= 256, s"maxLen must be in [1, 256], got $maxLen")
    val base = df.filter(s.isNotNull)
      .select(id.cast("long").as("id"), s.as("t"))
      .withColumn("t", when(assert_true(length(col("t")) <= maxLen,
          lit(s"editDistancePairs: string longer than maxLen=$maxLen")).isNull,
        col("t")))
    // depth-1 deletions of column expression `c` (named reference into
    // the frame) plus c itself; sequence(1, 0) on an empty string emits
    // descending [1, 0] whose "deletions" are all '' — harmless, the
    // string itself is already in the set and array_distinct collapses
    def withDels(c: String): String =
      s"array_union(array($c), transform(sequence(1, length($c)), " +
        s"i -> concat(substring($c, 1, i-1), substring($c, i+1))))"
    val sigExpr =
      if (maxDist == 1) expr(withDels("t"))
      else expr(s"array_distinct(flatten(transform(${withDels("t")}, " +
        s"x -> ${withDels("x")})))")
    val sigs = base
      .select(col("id"), explode(array_distinct(sigExpr)).as("sig"))
      .select(col("id"), xxhash64(col("sig")).as("sh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = dropOverCapBuckets(sigs, Seq("sh"), maxBucket)
    val cand = capped.select(col("sh"), col("id").as("id_a"))
      .join(capped.select(col("sh"), col("id").as("id_b")), "sh")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("t").as("ta")), "id_a")
      .join(base.select(col("id").as("id_b"), col("t").as("tb")), "id_b")
      .withColumn("dist", levenshtein(col("ta"), col("tb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  def simhash64(text: Column): Column =
    graft.functions.Cols.let(
        transform(split(text, " "), t => call_function("fnv1a64", t))) { hashes =>
      (0 until 64).map { j =>
        val votes = aggregate(hashes, lit(0L),
          (acc, h) => acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
        when(votes > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }

  /** Near-duplicate pairs with simhash Hamming distance ≤ maxDist.
    * Candidates via the pigeonhole principle: split the 64-bit signature
    * into (maxDist+1) chunks — any pair within maxDist shares at least
    * one exact chunk, so an equi-join on (chunk-index, chunk-value)
    * finds all of them with one shuffle. */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
                   maxDist: Int = 3, maxBucket: Int = 1000): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    // repartition first: the 64-bit vote accumulation parallelizes by
    // cluster size, not input file layout. Persisted: the banded frame
    // self-joins (a × b), and without the cache boundary each side
    // re-runs the 64 vote aggregates from the raw scan (A/B at sf0.1:
    // 3.08s → 1.56s). The cached frame is tiny: (doc_id, 8-byte sig).
    val docs = df.repartition(id)
      .select(id.as("doc_id"), simhash64(text).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hammingPairs64(docs, maxDist, maxBucket)
  }

  /** Hamming-≤-`maxDist` pairs over ANY 64-bit signature frame
    * `(doc_id, sig)` — the pigeonhole candidate generator shared by
    * SimHash (C3) and image dHash (C51): split the signature into
    * (maxDist+1) chunks; any pair within maxDist shares at least one
    * exact chunk, so an equi-join on (chunk-index, chunk-value) finds
    * all of them with one shuffle. Degenerate buckets are evicted by
    * the grouped-count + anti-join cap (never buffered). The caller
    * should persist `sigs` if computing them is expensive — the banded
    * frame is consumed twice (cap + self-join). */
  def hammingPairs64(sigs: DataFrame, maxDist: Int, maxBucket: Int = 1000): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist must be in [0, 64), got $maxDist")
    val chunks = maxDist + 1
    val bitsPer = 64 / chunks
    val banded = sigs.select(col("doc_id"), col("sig"), posexplode(
      array((0 until chunks).map { c =>
        shiftrightunsigned(col("sig"), c * bitsPer)
          .bitwiseAND(lit((1L << bitsPer) - 1L))
      }: _*)).as(Seq("chunk", "chunk_val")))
    val capped = dropOverCapBuckets(banded, Seq("chunk", "chunk_val"), maxBucket)
    capped.as("a").join(capped.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // --- C5: embedding-cosine near-dup ------------------------------------

  /** Pairs of vectors with cosine similarity ≥ threshold — EXACT, via a
    * block-partitioned all-pairs join (the registered `qdedup_embedding`
    * path).
    *
    * Why exact and not LSH here: whether bucketed candidate generation
    * can beat exact all-pairs depends on the data having a similarity
    * GAP at the threshold. Measured on the test corpus (all SFs), the
    * smallest above-threshold pair cosine is ~0.4005 and the largest
    * below-threshold is ~0.3999 — the 0.4 threshold slices the bulk of
    * the background cosine distribution, so the LSH gap ratio is ~1:
    * capturing every truth pair at cosine≈0.40 (plane-collision
    * p≈0.63) needs so many hyperplane tables that >99.8% of ALL pairs
    * become candidates, i.e. all-pairs with extra shuffles. On gapless
    * data, exact-and-distributed is the optimal plan; on genuinely
    * near-duplicate corpora (threshold ≥ ~0.8 with a sparse tail) use
    * [[embeddingCosinePairsLsh]] instead.
    *
    * The blocking scheme makes the O(n²) comparisons DISTRIBUTE instead
    * of running as one BroadcastNestedLoopJoin: each vector gets a
    * random block p ∈ [0, blocks); each ORDERED block pair (i ≤ j) is a
    * join cell. A vector plays the LEFT role in the cells of its block
    * row {(p, j): j ≥ p} and the RIGHT role in its block column
    * {(i, p): i ≤ p}, so cell (i, j) holds exactly block-i vectors on
    * the left and block-j vectors on the right — every unordered vector
    * pair meets in exactly one cell (the diagonal i == j additionally
    * dedupes same-block pairs by id order). The equi-join on (bi, bj)
    * then computes each cell's n/blocks × n/blocks cross product with
    * bounded memory and even spread — a shuffle hash/merge join, never
    * a cartesian — and materializes only ~n²/2 candidate rows (a
    * symmetric both-roles-everywhere scheme costs ~2n²). Replication
    * is blocks+1 copies per vector vs n²/2 comparisons — pick blocks ≈
    * n·bytes_per_vec / target_cell_memory at scale. */
  def embeddingCosinePairs(df: DataFrame, id: Column, vec: Column,
                           threshold: Double, blocks: Int = 16): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    // NOT persisted, deliberately: both join roles recompute the
    // normalization (one extra pass over the raw vectors), but an A/B at
    // sf0.1 showed caching the full normalized frame LOSES (3.46s plain
    // vs 3.78s persisted) — the frame is the corpus itself (full float
    // vectors, no reduction), so the cache write costs more than the
    // single recompute it saves. Unlike the shingle/signature frames,
    // there is no expensive per-row derivation to amortize.
    val v = df.select(id.as("vec_id"), VectorFunctions.normalized(vec).as("v"),
      pmod(xxhash64(id), lit(blocks)).cast("int").as("blk"))
    val lefts = v.select(col("vec_id"), col("v"), col("blk").as("bi"),
      explode(sequence(col("blk"), lit(blocks - 1))).as("bj"))
    val rights = v.select(col("vec_id"), col("v"),
      explode(sequence(lit(0), col("blk"))).as("bi"), col("blk").as("bj"))
    lefts.as("a").join(rights.as("b"),
        col("a.bi") === col("b.bi") && col("a.bj") === col("b.bj") &&
          // off-diagonal cells hold disjoint blocks (no dupes, no self
          // pairs); the diagonal needs the id-order guard for both
          (col("a.bi") =!= col("a.bj") || col("a.vec_id") < col("b.vec_id")))
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
        round(VectorFunctions.dot(col("a.v"), col("b.v")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The naive all-pairs θ-join (BroadcastNestedLoopJoin) — kept ONLY as
    * the tiny-corpus cross-check baseline for specs; never register or
    * run this at scale. */
  private[graft] def embeddingCosinePairsBrute(df: DataFrame, id: Column, vec: Column,
                                               threshold: Double): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val v = df.select(id.as("vec_id"), VectorFunctions.normalized(vec).as("v"))
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(VectorFunctions.dot(col("a.v"), col("b.v")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding near-dup pairs via random-hyperplane LSH candidate
    * generation + exact cosine verify — the scale path for SELECTIVE
    * thresholds (a sparse high-similarity tail, the real near-dup
    * regime). Candidate pairs come from per-(table, bucket) self-joins
    * carrying ids only; vectors are re-attached by equi-join for the
    * exact verify, so precision is always exact and recall is the LSH
    * OR-construction's 1 − (1 − p^b)^T with p = 1 − θ/π. At cosine 0.9
    * (p≈0.857, b=4, T=16) recall ≈ 0.9998; at cosine 0.4 on gapless
    * data it degrades by design — see [[embeddingCosinePairs]] for why
    * exact blocking is the right plan there. */
  def embeddingCosinePairsLsh(df: DataFrame, id: Column, vec: Column,
                              threshold: Double, dim: Int,
                              tables: Int = 16, planesPerTable: Int = 4,
                              seed: Long = 42L, maxBucket: Int = 100000): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val v = df.select(id.as("vec_id"), VectorFunctions.normalized(vec).as("v"))
    // bucket on the RAW (double-cast) vectors, not the normalized ones:
    // the sign of dot(v, plane) is scale-invariant, and hashing the
    // unnormalized values keeps the signature arithmetic bit-reproducible
    // outside Spark — the DuckDB oracle re-derives identical buckets from
    // the same plane literals (the recipe qann_lsh_bucketed proved)
    val raw = df.select(id.as("vec_id"), vec.cast("array<double>").as("vraw"))
    val bucketRows = Similarity.bucketRows(raw, "vec_id", "vraw", dim, tables, planesPerTable, seed)
    val capped = dropOverCapBuckets(bucketRows, Seq("table_id", "bucket"), maxBucket)
    val cand = capped.as("a").join(capped.as("b"),
        col("a.table_id") === col("b.table_id") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    // cpuWide: the exact-cosine verify (d-dim dot per candidate) on a
    // bytes-tiny candidate frame — same AQE-starvation shape as the
    // text verifies (see cpuWide)
    cpuWide(cand, col("vec_a"))
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(VectorFunctions.dot(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Exact-duplicate groups keyed by an ARBITRARY expression —
    * [[exactGroups]]'s collapse generalized past text. C5b keys on the
    * embedding array ITSELF: value equality, so no serialization
    * format enters the loop and the oracle's `GROUP BY embedding`
    * replays it exactly (hashing the vector to a string would put a
    * float-formatting parity question in the middle of the collapse).
    * Same NULL contract as [[exactGroups]]: a NULL key never dedups
    * against another NULL key — null rows take a row-unique guard
    * column (materialized in a Project; aggregates reject
    * nondeterministic grouping exprs) and stay singletons, so the
    * VISIBLE output is deterministic. */
  private[graft] def exactGroupsByKey(df: DataFrame, id: Column,
                                      key: Column): DataFrame =
    df.select(id.as("doc_id"), key.as("__k"))
      .withColumn("__nullg",
        when(col("__k").isNotNull, lit(0L))
          .otherwise(monotonically_increasing_id()))
      .groupBy(col("__k"), col("__nullg"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** The [[collapsedPairs]] combinator for the EMBEDDING family (C5b):
    * exact-vector collapse → `pairFn` over representatives → copy
    * counts joined back. Same persist rationale as the text side: the
    * group table has three consumers and its subtree is
    * nondeterministic (the NULL-key guard), so no exchange reuse
    * exists without the cache boundary; the frame is two longs a row
    * at distinct-vector cardinality. */
  private def collapsedVecPairs(df: DataFrame, id: Column, vec: Column)
      (pairFn: (DataFrame, Column, Column) => DataFrame): DataFrame = {
    val groups = exactGroupsByKey(df, id, vec)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = df.select(id.as("vec_id"), vec.as("__rep_vec"))
      .join(groups.select(col("keep_id").as("vec_id")), "vec_id")
    pairFn(reps, col("vec_id"), col("__rep_vec"))
      .join(groups.select(col("keep_id").as("vec_a"),
        col("n_copies").as("copies_a")), "vec_a")
      .join(groups.select(col("keep_id").as("vec_b"),
        col("n_copies").as("copies_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"), col("cosine"),
        col("copies_a"), col("copies_b"))
  }

  /** [[embeddingCosinePairs]] behind the exact-vector collapse — the
    * C4b/C2b two-stage shape reaching the embedding family, motivated
    * by the r17 sf1 full sweep: on the 10×-replica proxy the naive
    * pair listing scaled 13.2× (every vector a 10-dup set → 45
    * cosine-1 pairs each saying nothing value-equality didn't already
    * say), the same quadratic-multiplicity output bill the text
    * collapse closed. Pairs are between `keep_id`s with each side's
    * copy count carried; a dup-free corpus reproduces
    * [[embeddingCosinePairs]] with copies 1/1. */
  def embeddingCosinePairsCollapsed(df: DataFrame, id: Column, vec: Column,
                                    threshold: Double,
                                    blocks: Int = 16): DataFrame =
    collapsedVecPairs(df, id, vec) { (reps, rid, rvec) =>
      embeddingCosinePairs(reps, rid, rvec, threshold, blocks)
    }

  /** [[embeddingCosinePairsLsh]] behind the same collapse — beyond the
    * output bill, for LSH the collapse also protects the INDEX (the
    * C2b argument verbatim): m exact copies share every signature, so
    * each bucket they land in carries m× the rows and `maxBucket`'s
    * recall cap starts evicting real buckets at 1/m the corpus's true
    * diversity. */
  def embeddingCosinePairsLshCollapsed(df: DataFrame, id: Column, vec: Column,
                                       threshold: Double, dim: Int,
                                       tables: Int = 16, planesPerTable: Int = 4,
                                       seed: Long = 42L,
                                       maxBucket: Int = 100000): DataFrame =
    collapsedVecPairs(df, id, vec) { (reps, rid, rvec) =>
      embeddingCosinePairsLsh(reps, rid, rvec, threshold, dim, tables,
        planesPerTable, seed, maxBucket)
    }

  /** SemDedup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding space with the k-means quantizer, then near-dedup ONLY
    * within each cluster — the published recipe for semantic dedup at
    * web scale, where all-pairs (even blocked) is too much and LSH
    * misses the mid-similarity band. A vector is dropped when a
    * SMALLER-id vector in its cell is cosine-≥-threshold — dropped
    * partners do NOT resurrect their neighbors, so the survivor set is
    * exactly "ids with no smaller direct near-dup". That one-shot rule
    * sits between the two classical alternatives: it drops MORE than a
    * sequential greedy scan (which would keep a doc whose only
    * near-dups were themselves dropped) and NEVER more than
    * connected-component keep-min (which also drops ids linked to the
    * minimum only through longer paths). At realistic SemDedup
    * thresholds (≥0.9) near-duplication is almost transitive and the
    * three coincide; when component-exact grouping matters, feed the
    * within-cell pairs to [[Curation.clusters]] + applyClusters
    * instead — same machinery, CC semantics.
    *
    * Scale shape: training is [[Similarity.ivfTrainCells]] (broadcast
    * nlist-bounded centroids, corpus never shuffles whole vectors); the
    * (vec_id, cell) frame is persisted — it is two longs per row and
    * feeds BOTH the pair join and the survivor anti-join, and without
    * the boundary the Lloyd iterations would run twice. The within-cell
    * candidate join is an equi-join on cell (shuffle hash, never a
    * cartesian): with nlist ≈ √n cells of ~√n vectors, candidate volume
    * is ~n^1.5/nlist — the SemDedup operating point — and the drop-set
    * anti-join carries ids only. */
  def semDedup(df: DataFrame, id: Column, vec: Column, nlist: Int,
               threshold: Double, iters: Int = 1): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val cells = Similarity.ivfTrainCells(df, id, vec, nlist, iters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = df.select(id.as("vec_id"), VectorFunctions.normalized(vec).as("v"))
      .join(cells, "vec_id")
    val drops = v.as("a").join(v.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(VectorFunctions.dot(col("a.v"), col("b.v")), 4) >= threshold)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    cells.join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }
}
