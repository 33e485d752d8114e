package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dataset-curation operators for a training-data pipeline
  * (SURVEY.md §2.C14-C15): near-dup cluster resolution (pairs →
  * connected components → canonical doc) and deterministic hash-based
  * sampling. These are the steps that come AFTER the dedup pair
  * generators (Dedup.scala) in a real curation run: pairs alone don't
  * tell you which rows to keep.
  *
  * Everything here is seed-deterministic and shuffle-minimal:
  * sampling is a pure filter/window over an FNV-1a hash (pushes to the
  * scan, no shuffle for the bucket filter; one shuffle for the
  * stratified top-k), and clustering shuffles only the (long, long)
  * edge list — never document payloads.
  */
object Curation {

  /** Deterministic bucket in [0, buckets) from a key column: FNV-1a of
    * `salt + ":" + key` taken pmod buckets. The same (key, salt) maps to
    * the same bucket on any cluster size and any partitioning — this is
    * what makes samples reproducible across runs and re-shards, unlike
    * `rand(seed)` whose draw depends on partition layout.
    */
  def hashBucket(key: Column, buckets: Int, salt: String): Column =
    pmod(call_function("fnv1a64", concat(lit(salt + ":"), key.cast("string"))),
      lit(buckets.toLong))

  /** The one bucket-filter core both samplers share: ANY change to the
    * bucket scheme (count, column name, salt format) must hit flat and
    * per-group sampling together — the spec-proven invariant "mixture
    * restricted to a group == that group's flat sample" depends on it. */
  private def bucketFilter(df: DataFrame, key: Column, cut: Column,
                           salt: String): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    df.withColumn("bucket", hashBucket(key, 100, salt))
      .filter(col("bucket") < cut)
  }

  /** Deterministic ~pct% sample: keep rows whose [[hashBucket]] over
    * `key` falls below `pct`. A pure filter — fully parallel, no
    * shuffle, composes with column pruning (only `key` is evaluated on
    * filtered-out rows).
    */
  def sampleByHash(df: DataFrame, key: Column, pct: Int,
                   salt: String = "graft"): DataFrame =
    bucketFilter(df, key, lit(pct), salt)

  /** Domain-mixture sampling (SURVEY.md §2.C23): per-group keep rates —
    * the pretraining mixture-weights step (up/down-weight domains,
    * languages, sources) as ONE deterministic pass. Same [[hashBucket]]
    * contract as [[sampleByHash]] (reproducible across cluster sizes and
    * re-shards), but the pct cut line comes from the row's group.
    *
    * `rates` is configuration, not data: it compiles to a codegen'd
    * when-chain, so the whole operator stays a pushed-down filter — no
    * join, no shuffle, groups not in the map keep `defaultPct`.
    */
  def sampleByHashPerGroup(df: DataFrame, key: Column, group: Column,
                           rates: Map[String, Int], defaultPct: Int = 100,
                           salt: String = "mix"): DataFrame = {
    require((rates.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      s"rates must be 0..100 percent, got $rates / default $defaultPct")
    // sorted for a deterministic plan (Map iteration order is not)
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (g, p)) => when(group === g, lit(p)).otherwise(acc)
    }
    bucketFilter(df, key, rate, salt)
  }

  /** Temperature-based mixture PLANNING (SURVEY.md §2.C59): per-source
    * token totals → sampling weights `w_i ∝ t_i^α` → token allocations
    * against a training budget — the step that DECIDES the rates
    * [[sampleByHashPerGroup]] then applies (α < 1 is the standard
    * multilingual/domain rebalance: big sources are down-weighted,
    * small ones up-weighted, α = 1 is proportional). Returns one row
    * per source: `(source, n_docs, n_tokens, w_micro, share,
    * alloc_tokens, epochs)`; `epochs > 1` is the overfit warning (the
    * allocation asks for more than one pass over that source).
    *
    * α is expressed as `sqrtTimes` (0 → α = 1, 1 → ½, 2 → ¼, …):
    * IEEE-754 `sqrt` is correctly rounded, so a CHAIN of sqrts is
    * bit-identical on every engine — unlike `pow(t, α)`, whose libm
    * results differ across platforms. The weight is rounded ONCE to
    * integer micro units; `share` is one division of exact longs and
    * `alloc_tokens = trunc(share · budget)` one deterministic
    * multiply+trunc — reproducible everywhere, in the C37 fixed-point
    * discipline.
    *
    * Scale shape: ONE partial-agg pass over the corpus (source
    * cardinality ~10²) → a frame of per-source rows; the window total
    * is over that tiny frame, never the corpus. */
  def mixturePlan(df: DataFrame, source: Column, sizeCol: Column,
                  budget: Long, sqrtTimes: Int = 1): DataFrame = {
    require(sqrtTimes >= 0 && sqrtTimes <= 4,
      s"sqrtTimes must be 0..4 (alpha 1..1/16), got $sqrtTimes")
    require(budget > 0, s"budget must be positive, got $budget")
    val totals = df.groupBy(source.as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(sizeCol.cast("long")).as("n_tokens"))
    val tw = (0 until sqrtTimes).foldLeft(col("n_tokens").cast("double"))(
      (acc, _) => sqrt(acc))
    val weighted = totals
      .withColumn("w_micro", round(tw * lit(1e6)).cast("long"))
    // 1-row weight total broadcast back onto the per-source frame (the
    // qtext_tfidf idiom) — both sides bounded by source cardinality
    val wTot = weighted.agg(sum(col("w_micro")).as("w_total"))
    weighted.crossJoin(broadcast(wTot))
      .withColumn("share",
        col("w_micro").cast("double") / col("w_total").cast("double"))
      .withColumn("alloc_tokens",
        (col("share") * lit(budget.toDouble)).cast("long"))
      .withColumn("epochs",
        col("alloc_tokens").cast("double") / col("n_tokens").cast("double"))
      .drop("w_total")
  }

  /** Weighted sampling WITHOUT replacement (SURVEY.md §2.C86;
    * Efraimidis & Spirakis 2006, A-Res): exactly `k` rows with
    * inclusion odds proportional to `weight` — the curation step
    * between flat hash sampling (C15, every row equal) and mixture
    * rates (C23, per-GROUP odds): per-ROW importance (token count,
    * quality score, cluster mass) without replacement, in one pass.
    * Classic key: keep the k largest `u^(1/w)`; ranked here by the
    * monotone-equivalent `ln(u)/w` (maximized — ln u is negative, so
    * big weights pull the key toward 0).
    *
    * Deterministic and engine-reproducible, no `rand()`: `u` derives
    * from fnv1a64(salt:key) folded to 53 bits — `(h₅₃ + 0.5) / 2⁵³`
    * is EXACT double arithmetic (53-bit numerator, power-of-two
    * denominator) and never 0 or 1, so `ln` is finite. The one libm
    * call (`ln u`) is rounded ONCE to integer micro-nats (the C37
    * discipline); the ranking key is then a single IEEE division of
    * exact values — bit-identical on any engine and partitioning.
    *
    * Scale shape: a pure codegen map stage computes the key, the
    * global top-k plans as TakeOrderedAndProject (map-side partial
    * top-k, k rows to the final merge — never a corpus sort); the
    * rank window runs on the ALREADY-LIMITED k rows. Rows with NULL
    * or non-positive weight cannot be sampled (zero mass, honestly
    * excluded — a NULL weight is not a weight).
    *
    * Weights are quantized ONCE to integer micro-units
    * (`round(w·1e6)` — the same fixed-point discipline as the key's
    * micro-nats), so FRACTIONAL weights work: the C80 soft-dedup
    * weights (1/cluster_size ∈ (0,1]) sample proportionally instead
    * of truncating to zero mass. Uniform scaling leaves the ranking
    * invariant, the division stays exact-over-exact, and weights
    * below 5e-7 honestly round to zero mass (excluded). */
  /** THE weight quantization both weighted samplers share: one
    * HALF_UP round to integer micro-units. `x·1e6` and the round are
    * single IEEE operations on the caller's weight double, so the
    * quantized mass is bit-identical on any engine (the oracle
    * mirrors `CAST(ROUND(w * 1e6) AS BIGINT)`); sub-5e-7 weights
    * round to zero and are excluded by the caller's `> 0` filter. */
  private def microWeight(weight: Column): Column =
    round(weight.cast("double") * lit(1e6)).cast("long")

  /** THE Efraimidis-Spirakis key both weighted samplers share:
    * `lnu_micro / w` where u = (fnv₅₃(salt:key)+0.5)/2⁵³ exactly and
    * the one libm `ln` is rounded ONCE to micro-nats — one shared
    * definition so the flat and per-group samplers can never diverge
    * on what "weight-proportional" means. */
  private def esKeyMicroDiv(key: Column, w: Column, salt: String): Column = {
    val h53 = pmod(
      call_function("fnv1a64", concat(lit(salt + ":"), key.cast("string"))),
      lit(9007199254740992L)) // 2^53
    val u = (h53.cast("double") + lit(0.5)) / lit(9007199254740992.0)
    val lnuMicro = round(log(u) * lit(1e6)).cast("long")
    lnuMicro.cast("double") / w.cast("double")
  }

  def sampleByWeight(df: DataFrame, key: Column, weight: Column, k: Int,
                     salt: String = "wsample"): DataFrame = {
    require(k >= 1, s"sample size must be positive, got $k")
    val clash = df.columns.toSet.intersect(Set("es_key", "sample_rank"))
    require(clash.isEmpty,
      s"sampleByWeight writes reserved columns (es_key, sample_rank); " +
        s"input already carries: ${clash.toSeq.sorted.mkString(", ")} — drop or rename them first")
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val w = microWeight(weight)
    val ord = Seq(col("es_key").desc, key.asc)
    df.filter(w.isNotNull && w > 0)
      .withColumn("es_key", esKeyMicroDiv(key, w, salt))
      .orderBy(ord: _*).limit(k)
      .withColumn("sample_rank",
        row_number().over(Window.orderBy(ord: _*)).cast("long"))
  }

  /** Per-group weighted sampling without replacement (SURVEY.md
    * §2.C86): [[sampleByWeight]]'s key, exact-k PER GROUP — the
    * balanced-mixture step (k docs per language/domain, chosen
    * weight-proportionally WITHIN each group) that [[samplePerGroup]]
    * is the unweighted special case of. Same key derivation (one
    * shared definition via [[esKeyMicroDiv]]); the rank is a
    * group-partitioned window, planned as a map-side WindowGroupLimit
    * — ≤ k rows per group reach the final sort, never a corpus
    * buffer. */
  def sampleByWeightPerGroup(df: DataFrame, group: Column, key: Column,
                             weight: Column, k: Int,
                             salt: String = "wsample"): DataFrame = {
    require(k >= 1, s"sample size must be positive, got $k")
    val clash = df.columns.toSet.intersect(Set("es_key", "sample_rank"))
    require(clash.isEmpty,
      s"sampleByWeightPerGroup writes reserved columns (es_key, sample_rank); " +
        s"input already carries: ${clash.toSeq.sorted.mkString(", ")} — drop or rename them first")
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val w = microWeight(weight)
    df.filter(w.isNotNull && w > 0)
      .withColumn("es_key", esKeyMicroDiv(key, w, salt))
      .withColumn("sample_rank",
        row_number().over(Window.partitionBy(group)
          .orderBy(col("es_key").desc, key.asc)).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** Weighted sampling when only LOG weights exist (SURVEY.md
    * §2.C103): exact top-k by the Gumbel-max key
    * `logw_micro + round(−ln(−ln u)·1e6)` — equivalent to sampling
    * without replacement proportional to `exp(logw)` (the Gumbel-
    * top-k trick; Vieira 2014, Kool et al. 2019). This is the
    * resampling end-cap C89's DSIR weights exist for: DSIR importance
    * is a LOG weight in micro-nats (negative for off-target docs,
    * |logw| can exceed 700 on long documents), so exponentiating into
    * [[sampleByWeight]] would overflow/underflow the double AND add a
    * second unpinnable libm call — the Gumbel key never leaves log
    * space.
    *
    * Same determinism recipe as the ES key: u = (fnv₅₃(salt:key)+0.5)
    * / 2⁵³ exactly; the chained `−ln(−ln u)` (two libm calls, same
    * risk class as the proven single-ln keys) is rounded ONCE to
    * integer micro-units, and the final ranking key is then an exact
    * INTEGER sum — no float comparison anywhere in the order. Rows
    * with NULL logw carry no importance estimate and are excluded
    * (mirror: callers filter featureless docs via their n_feats
    * column). Same plan shape as [[sampleByWeight]]: codegen key map,
    * TakeOrderedAndProject global top-k, rank window on k rows. */
  def sampleByLogWeight(df: DataFrame, key: Column, logWeightMicro: Column,
                        k: Int, salt: String = "gumbel"): DataFrame = {
    require(k >= 1, s"sample size must be positive, got $k")
    val clash = df.columns.toSet.intersect(Set("gumbel_key_micro", "sample_rank"))
    require(clash.isEmpty,
      s"sampleByLogWeight writes reserved columns (gumbel_key_micro, sample_rank); " +
        s"input already carries: ${clash.toSeq.sorted.mkString(", ")} — drop or rename them first")
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val h53 = pmod(
      call_function("fnv1a64", concat(lit(salt + ":"), key.cast("string"))),
      lit(9007199254740992L)) // 2^53
    val u = (h53.cast("double") + lit(0.5)) / lit(9007199254740992.0)
    val gMicro = round(-log(-log(u)) * lit(1e6)).cast("long")
    val ord = Seq(col("gumbel_key_micro").desc, key.asc)
    df.filter(logWeightMicro.isNotNull)
      .withColumn("gumbel_key_micro", logWeightMicro.cast("long") + gMicro)
      .orderBy(ord: _*).limit(k)
      .withColumn("sample_rank",
        row_number().over(Window.orderBy(ord: _*)).cast("long"))
  }

  /** Deterministic train/val/test split assignment (SURVEY.md §2.C30):
    * each row gets the label of the bucket range its [[hashBucket]]
    * falls in — the standard leakage-safe corpus split (hash of a
    * stable key, never `rand()`: re-runs, re-shards, and late-arriving
    * data all land in the same split). `splits` are (label, pct) in
    * order; pcts must sum to 100 so every row is labeled. A pure
    * codegen when-chain over the bucket — no join, no shuffle.
    */
  def splitByHash(df: DataFrame, key: Column, splits: Seq[(String, Int)],
                  salt: String = "split"): DataFrame = {
    require(splits.map(_._2).sum == 100,
      s"split pcts must sum to 100, got $splits")
    require(splits.forall(_._2 > 0), s"split pcts must be positive, got $splits")
    // fail fast instead of silently overwriting: composing after
    // sampleByHash/sampleByMixture (whose outputs keep a "bucket"
    // column) would otherwise replace the sample bucket without warning
    val clash = df.columns.toSet.intersect(Set("bucket", "split"))
    require(clash.isEmpty,
      s"splitByHash writes reserved columns (bucket, split); " +
        s"input already carries: ${clash.toSeq.sorted.mkString(", ")} — drop or rename them first")
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val bucket = hashBucket(key, 100, salt)
    val cuts = splits.scanLeft(0) { case (acc, (_, p)) => acc + p }.tail
    val label = splits.zip(cuts).reverse.tail.foldLeft(lit(splits.last._1)) {
      case (acc, ((name, _), cut)) => when(bucket < cut, lit(name)).otherwise(acc)
    }
    df.withColumn("bucket", bucket).withColumn("split", label)
  }

  /** Temporal train/val/test split (SURVEY.md §2.C66): each row gets
    * the label of the first boundary its timestamp falls under — the
    * train-on-past / evaluate-on-future discipline, the one split
    * family hashing can NEVER provide (a hash split scatters
    * tomorrow's events into today's training set; any model evaluated
    * for forecasting, trend detection, or drift must hold out a
    * FUTURE window, not a random one). `cuts` are (label,
    * upperExclusive) in strictly increasing order; rows at or past
    * the last cut get `tailLabel`. Boundaries are caller-supplied
    * LONGS (epoch micros/nanos — whatever `ts` carries): explicit
    * cuts keep the operator a pure codegen when-chain — no quantile
    * pass, no shuffle, reproducible on any cluster size — and the
    * caller derives them however it likes (fixed dates, integer
    * range fractions, an offline quantile job). Same reserved-column
    * fail-fast contract as [[splitByHash]]. */
  def splitByTime(df: DataFrame, ts: Column, cuts: Seq[(String, Long)],
                  tailLabel: String): DataFrame = {
    require(cuts.nonEmpty, "need at least one (label, upperExclusive) cut")
    require(cuts.map(_._2) == cuts.map(_._2).sorted.distinct,
      s"cut boundaries must be strictly increasing, got $cuts")
    val clash = df.columns.toSet.intersect(Set("split"))
    require(clash.isEmpty,
      "splitByTime writes the reserved column 'split'; " +
        "input already carries it — drop or rename first")
    // NULL timestamps get a NULL split, never tailLabel: every
    // `ts < upper` is NULL for them and would fall through the
    // when-chain into the FUTURE holdout — undated rows contaminating
    // exactly the window a temporal split exists to protect. A NULL
    // label is the honest answer (an undated row belongs to no
    // temporal split) and stays visible to an isNull audit.
    val label = cuts.reverse.foldLeft(lit(tailLabel)) {
      case (acc, (name, upper)) => when(ts < upper, lit(name)).otherwise(acc)
    }
    df.withColumn("split",
      when(ts.isNull, lit(null).cast("string")).otherwise(label))
  }

  /** [[splitByTime]] with QUANTILE-derived boundaries (C66b; the
    * "offline quantile job" splitByTime's scaladoc delegates cut
    * derivation to, as a real entry point) — `splits` are (label,
    * percent) summing to 100 in temporal order, the last label the
    * future tail: cuts land at the timestamp DISTRIBUTION's own
    * cumulative fractions, so a burst-heavy corpus still yields
    * ~80/10/10 BY ROW COUNT where range fractions of [min, max] would
    * hand nearly everything to one window (one far-future event drags
    * a range cut past the whole corpus). Cut = the sketch's quantile
    * element + 1, so `ts < cut` keeps every row at or below that
    * element on the earlier side (exact ECDF behavior where the
    * sketch is exact — spec-pinned).
    *
    * Approximate cut SELECTION (Greenwald-Khanna, rank error bounded
    * by `accuracy`) → the q10b/no_oracle discipline; labeling is
    * still [[splitByTime]]'s exact integer when-chain, NULL
    * timestamps still get a NULL split. A label whose quantile ties
    * the previous cut covers zero rows (point-mass distributions) —
    * its cut is dropped and the rows flow to the next label, honest
    * rather than a strictly-increasing require failure. Scale shape:
    * one mergeable one-pass sketch aggregate (no sort, no window),
    * then the map-side when-chain. */
  def splitByTimeQuantile(df: DataFrame, ts: Column,
                          splits: Seq[(String, Int)],
                          accuracy: Int = 100000): DataFrame = {
    require(splits.size >= 2,
      s"need at least two splits (the last is the tail window), got $splits")
    require(splits.map(_._2).sum == 100, s"split pcts must sum to 100, got $splits")
    require(splits.forall(_._2 > 0), s"split pcts must be positive, got $splits")
    require(accuracy >= 100, s"accuracy must be >= 100, got $accuracy")
    val fracs = splits.map(_._2).scanLeft(0)(_ + _).tail.dropRight(1)
    val qs = df
      .agg(percentile_approx(ts.cast("long"),
        array(fracs.map(f => lit(f / 100.0)): _*), lit(accuracy)).as("qs"))
      .head()
    // empty / all-NULL frame: no distribution to cut — every dated row
    // would be a contradiction (there are none); undated rows keep
    // their NULL split through the delegate
    if (qs.isNullAt(0))
      return splitByTime(df, ts, Seq(splits.head._1 -> Long.MinValue),
        tailLabel = splits.last._1)
    val cutVals = qs.getSeq[Long](0)
    val inc = splits.dropRight(1).map(_._1).zip(cutVals.map(_ + 1L))
      .foldLeft(Vector.empty[(String, Long)]) { case (acc, (n, c)) =>
        if (acc.nonEmpty && c <= acc.last._2) acc else acc :+ (n -> c)
      }
    splitByTime(df, ts, inc, tailLabel = splits.last._1)
  }

  /** Exact stratified split (C123): within every stratum (source,
    * lang, …) EXACTLY floor(n_src · valNum/valDen) rows go to `val`,
    * the rest to `train` — the split a small-or-skewed-strata corpus
    * needs where [[splitByHash]]'s independent-coin-flip assignment
    * only hits the proportion in expectation (a 40-doc source at 10%
    * draws 0-9 val docs; an eval set that under-represents a stratum
    * stops measuring it). Membership is deterministic: rows are taken
    * in salted-FNV order within their stratum (the [[capPerSource]]
    * shuffle discipline — re-running, re-partitioning, or growing
    * OTHER strata never flips a row's split; adding rows to a stratum
    * re-draws only that stratum).
    *
    * Scale shape: the per-stratum rank is [[sourcePrefixSums]]' 256
    * sub-bucketed two-pass prefix sum (no stratum-wide window — a
    * 10⁸-doc megasource never buffers in one task); the stratum sizes
    * are a ~#strata-row broadcast; the verdict is one integer
    * comparison. NULL strata are excluded (a row in no stratum
    * belongs to no stratified split — audit with isNull upstream). */
  def stratifiedSplit(df: DataFrame, id: Column, groupCol: Column,
                      valNum: Int, valDen: Int,
                      salt: String = "split"): DataFrame = {
    require(valDen > 0 && valNum >= 0 && valNum <= valDen,
      s"val fraction must satisfy 0 <= valNum/valDen <= 1, got $valNum/$valDen")
    val ranked = sourcePrefixSums(df, id, lit(1L), groupCol, salt)
    val counts = df.select(groupCol.cast("string").as("source"))
      .filter(col("source").isNotNull)
      .groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    ranked.join(broadcast(counts), "source")
      .select(col("doc_id"), col("source"), col("src_pos"), col("n_src"),
        when(col("src_pos") * valDen <= col("n_src") * valNum, "val")
          .otherwise("train").as("split"))
  }

  /** Leakage-safe [[splitByHash]]: every member of a near-dup cluster
    * lands in the SAME split. Splitting docs independently leaks —
    * a train doc's near-duplicate in the test split means the model
    * is evaluated on (slightly reworded) training data, exactly the
    * contamination near-dedup exists to prevent. The split key is the
    * cluster id for clustered docs (so the whole cluster moves as one
    * unit) and the doc's own id for singletons; the cluster frame is
    * members-only (tiny next to the corpus) and broadcasts, so this
    * stays a map-side when-chain over the corpus — no corpus shuffle,
    * same determinism contract as [[splitByHash]]. */
  def splitByHashClustered(corpus: DataFrame, id: Column,
                           clusterFrame: DataFrame,
                           splits: Seq[(String, Int)],
                           salt: String = "split"): DataFrame = {
    // every borrowed column is __-prefixed before the join — a corpus
    // already annotated with its own cluster_id column (a natural step
    // right before this split) must neither collide nor be dropped
    val members = clusterFrame.select(
      col("doc_id").as("__m_id"), col("cluster_id").as("__m_cid"))
    val keyed = corpus.withColumn("__sid", id)
      .join(broadcast(members), col("__sid") === col("__m_id"), "left")
      .withColumn("__skey", coalesce(col("__m_cid"), col("__sid")))
    splitByHash(keyed, col("__skey"), splits, salt)
      .drop("__m_id", "__m_cid", "__skey", "__sid")
  }

  /** Token-budget corpus carve-out: the first `budget` tokens of the
    * deterministic FNV-ordered shuffle — "give me a fixed-size slice
    * of the corpus" as a reproducible operator (scale a dataset down
    * without biasing toward any source or time range). Exactly
    * [[packShards]]' distributed prefix sum, keeping shard 0: the doc
    * straddling the boundary stays in (its tokens BEFORE the cut
    * started the shard), so the slice is the minimal prefix covering
    * `budget` tokens. */
  def sampleByBudget(df: DataFrame, id: Column, sizeCol: Column,
                     budget: Long, salt: String = "shuffle"): DataFrame =
    packShards(df, id, sizeCol, budget, salt)
      .filter(col("shard") === 0L)
      .drop("shard")

  /** Exactly min(k, |group|) rows per group, chosen by hash order — a
    * deterministic stratified sample (per-class caps for training-mix
    * balancing). One shuffle on the group key; ties (hash collisions)
    * break on the key itself so output is total-ordered and stable.
    * Emits `sample_rank` (1-based) so callers can sub-slice.
    */
  def samplePerGroup(df: DataFrame, group: Column, key: Column, k: Int,
                     salt: String = "strat"): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val h = call_function("fnv1a64", concat(lit(salt + ":"), key.cast("string")))
    df.withColumn("sample_rank",
        row_number().over(Window.partitionBy(group).orderBy(h, key)).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** Neyman-optimal stratified sample allocation (C138; Neyman 1934)
    * — how many docs to draw from each source when a fixed labeling /
    * eval budget must estimate a corpus mean (quality rate, toxicity
    * share, mean length) with minimum variance: n_h ∝ N_h·S_h, so
    * big AND internally-diverse strata get the samples, while a huge
    * but homogeneous crawl source gets few — proportional allocation
    * wastes budget exactly there. Returns the per-source plan
    * `(source, n_docs, std_micro, alloc)`; compose with
    * [[samplePerGroup]] (k = alloc) to draw the sample itself.
    *
    * Exactness: per-source (n, Σx, Σx²) are exact longs, S_h is one
    * pinned IEEE sqrt rounded ONCE to 1e6 fixed-point, and the
    * allocation is ALL-INTEGER largest-remainder apportionment:
    * q_h = ⌊B·N_h·S⌋_micro/T⌋ with the B−Σq leftover going to the
    * largest remainders (rem desc, source asc — a total order, no
    * float boundary). Products ride DECIMAL(38,0) — B·N_h·S_micro
    * overflows a long at corpus scale. Zero-variance strata get
    * allocation 0 (one doc already tells you everything a constant
    * stratum can say — the textbook contract); an allocation larger
    * than the stratum is capped at N_h, and the capped surplus is NOT
    * re-spread (stated: re-spreading iterates to a fixpoint and the
    * honest fix is a bigger budget or collapsing tiny strata).
    *
    * Scale shape: one map-side-combined moment pass per source, then
    * every step runs on the ≤|sources|-row plan frame (1-row total
    * broadcast, one ≤|sources| rank window). */
  def neymanAllocation(df: DataFrame, source: Column, metric: Column,
                       budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be positive, got $budget")
    // NULL metrics read as 0 — the stratum keeps its size (N_h is a
    // row count), the unknown value just contributes no variance
    val m = df.select(source.as("source"),
        coalesce(metric.cast("long"), lit(0L)).as("x"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("s1"), sum(col("x") * col("x")).as("s2"))
    val mean = col("s1").cast("double") / col("n_docs").cast("double")
    val stats = m.select(col("source"), col("n_docs"),
      round(sqrt(greatest(
          col("s2").cast("double") / col("n_docs").cast("double") - mean * mean,
          lit(0.0))) * lit(1e6)).cast("long").as("std_micro"))
    val weighted = stats.withColumn("w",
      (col("n_docs").cast("decimal(38,0)") * col("std_micro")).cast("decimal(38,0)"))
    largestRemainder(weighted, budget)
      .select(col("source"), col("n_docs"), col("std_micro"),
        least(col("n_docs"), col("alloc")).as("alloc"))
  }

  /** Exact integer largest-remainder apportionment of `budget` over a
    * keyed weight frame (must carry `source` and a DECIMAL(38,0) `w`):
    * q_h = ⌊B·w_h/T⌋ plus +1 for the B−Σq largest remainders
    * (rem desc, source asc — a total order). div/% are EXACT integral
    * ops on decimals — a decimal `/` would round HALF_UP at result
    * scale and a 2.9999995 true quotient becomes 3, silently
    * over-apportioning vs the oracle's `//`. The +1 requires rem > 0:
    * when T > 0 this is vacuous (Σrem = leftover·T and each rem < T,
    * so leftover ≤ #{rem > 0}), but when T = 0 — every weight zero,
    * e.g. all-constant Neyman strata — it makes every allocation 0
    * instead of handing the whole budget +1-by-+1 to the first strata
    * by name; a degenerate all-zero-weight input intentionally leaves
    * the budget unspent. Shared by the Neyman (C138) and temperature
    * (C139) allocators; the rank window is partition-less but runs
    * over the ≤|sources|-row plan frame. */
  private[operators] def largestRemainder(weighted: DataFrame,
                                          budget: Long): DataFrame = {
    val tot = weighted.agg(sum(col("w")).cast("decimal(38,0)").as("t"))
    val apportioned = weighted.crossJoin(broadcast(tot))
      .withColumn("bw", lit(budget).cast("decimal(38,0)") * col("w"))
      .withColumn("q",
        when(col("t") > 0, expr("CAST(bw div t AS BIGINT)")).otherwise(lit(0L)))
      .withColumn("rem",
        when(col("t") > 0, expr("bw % t"))
          .otherwise(lit(0L).cast("decimal(38,0)")))
    val leftover = apportioned
      .agg((lit(budget) - coalesce(sum(col("q")), lit(0L))).as("left"))
    apportioned.crossJoin(broadcast(leftover))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, col("source").asc)).cast("long"))
      .withColumn("alloc",
        col("q") + when(col("rr") <= col("left") && col("rem") > 0, 1L)
          .otherwise(0L))
      .drop("t", "bw", "q", "rem", "rr", "left")
  }

  /** Temperature-scaled mixture allocation (C139; the multilingual /
    * multi-source sampling rule of XLM-R, Conneau et al. 2020, and
    * every LLM data recipe since): sampling share p_h ∝ (size_h)^α
    * with α ∈ (0, 1] — α = 1 is proportional (big sources drown the
    * tail), α → 0 is uniform (tiny sources over-repeat); α = 0.5-0.7
    * is the published sweet spot that up-samples low-resource sources
    * without flattening everything. α is DYADIC — `alphaNum / 2^m`
    * with `alphaLog2Den = m ≤ 4` (so ¼, ½, ¾, ⅜, …, 1): size^α is
    * then a PRODUCT over α's binary digits of repeated-√ chains
    * (size^(2⁻ʲ) = √ applied j times), and because IEEE-754 sqrt and
    * multiply are correctly rounded, the whole weight is bit-identical
    * on every engine — unlike `pow(t, α)`, whose libm results differ
    * across platforms (the [[mixturePlan]] α-chain trick, extended
    * from 2⁻ᵏ to any dyadic rational). The weight rounds ONCE to 1e6
    * fixed-point; the token budget then apportions by the shared
    * exact [[largestRemainder]]. Returns `(source, size, alloc)` —
    * alloc in the same unit as `size` (tokens in, tokens out); feed
    * C30's per-source budget truncation or C23's rate sampler to
    * execute. Allocations are NOT capped at size_h: α < 1 deliberately
    * OVER-samples small sources (repeat epochs — the published
    * behavior), unlike the Neyman cap. Default α = ½ (XLM-R's
    * published setting).
    *
    * Scale shape: one map-side-combined size pass per source; the
    * apportionment runs on the ≤|sources|-row plan frame. */
  def temperatureAllocation(df: DataFrame, source: Column, size: Column,
                            budget: Long, alphaNum: Int = 1,
                            alphaLog2Den: Int = 1): DataFrame = {
    require(budget >= 1, s"budget must be positive, got $budget")
    require(alphaLog2Den >= 0 && alphaLog2Den <= 4,
      s"alphaLog2Den must be 0..4, got $alphaLog2Den")
    require(alphaNum >= 1 && alphaNum <= (1 << alphaLog2Den),
      s"alpha must be in (0, 1]: got $alphaNum / 2^$alphaLog2Den")
    val sizes = df.select(source.as("source"),
        coalesce(size.cast("long"), lit(0L)).as("sz"))
      .groupBy(col("source")).agg(sum(col("sz")).as("size"))
    // size^(2^-j) = sqrt applied j times, each correctly rounded
    def chain(j: Int): Column =
      (0 until j).foldLeft(col("size").cast("double"))((a, _) => sqrt(a))
    val w = (0 to alphaLog2Den)
      .filter(j => (alphaNum >> j & 1) == 1)       // α's binary digits
      .map(j => chain(alphaLog2Den - j))
      .reduce(_ * _)
    val weighted = sizes.withColumn("w",
      round(w * lit(1e6)).cast("decimal(38,0)"))
    largestRemainder(weighted, budget)
      .select(col("source"), col("size"), col("alloc"))
  }

  /** Recency-weighted budget allocation (C147) — freshness weighting
    * for replay/eval/training budgets: each row decays by
    * 2^-(age/halflife) from the corpus max timestamp, group weights
    * sum the decayed masses, and the budget apportions by the shared
    * exact [[largestRemainder]]. A group whose volume is all stale
    * history gets little; a smaller but fresh group gets much — the
    * standard freshness bias of news/code mixtures and incident
    * replay, as a deterministic table.
    *
    * ALL-INTEGER exactness: age is `(max_us − ts_us) div halflifeUs`
    * half-lives (exact), and the decay weight is a LEFT SHIFT —
    * w = 1 << (maxHalfLives − age) for age < maxHalfLives, else 0
    * (beyond ~16 half-lives the weight is numerically nothing; the
    * cap makes it exactly nothing) — so the whole chain is integer
    * arithmetic, no pow/exp ever runs, and the dyadic-α lesson (C139)
    * applies: exponential decay with a dyadic base is exact in any
    * engine. NULL timestamps get weight 0 but still count in
    * `n_events` (unknown age must not claim freshness).
    *
    * Scale shape: one 1-row max broadcast, one codegen map for the
    * weight, one map-side-combined group sum; the apportionment runs
    * on the ≤|groups|-row plan frame. */
  def recencyAllocation(df: DataFrame, group: Column, tsUs: Column,
                        budget: Long, halflifeUs: Long,
                        maxHalfLives: Int = 16): DataFrame = {
    require(budget >= 1, s"budget must be positive, got $budget")
    require(halflifeUs >= 1, s"halflifeUs must be positive, got $halflifeUs")
    require(maxHalfLives >= 1 && maxHalfLives <= 62,
      s"maxHalfLives must be 1..62 (shift into a long), got $maxHalfLives")
    val ev = df.select(group.as("source"), tsUs.cast("long").as("us"))
    val mx = ev.agg(max(col("us")).as("max_us"))
    val aged = ev.crossJoin(broadcast(mx))
      .withColumn("age_hl", expr(s"(max_us - us) div ${halflifeUs}L"))
      .withColumn("w_e",
        when(col("age_hl") < maxHalfLives,
          expr(s"shiftleft(CAST(1 AS BIGINT), " +
            s"CAST(${maxHalfLives}L - age_hl AS INT))"))
          .otherwise(lit(0L)))
    val weighted = aged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_events"),
        // accumulate in DECIMAL, not long: at maxHalfLives near the 62
        // cap, two age-0 events (2^62 + 2^62) already wrap a long sum
        sum(col("w_e").cast("decimal(38,0)")).cast("decimal(38,0)").as("w"))
    largestRemainder(weighted, budget)
      .select(col("source"), col("n_events"), col("alloc"))
  }

  /** Connected components over an undirected pair list by iterative
    * min-label propagation: every node repeatedly takes the minimum
    * label among itself and its neighbors until a fixpoint. Returns
    * `(id, lbl)` where `lbl` is the minimum node id reachable from
    * `id` — the canonical representative of its component.
    *
    * Scale shape: converges in O(component diameter) rounds, ONE
    * shuffle per round, and only `(long, long)` rows ever move — the
    * edge list is persisted and the label frame is `localCheckpoint`ed
    * each round. The checkpoint is load-bearing, not an optimization:
    * each round's plan references the previous labels TWICE (own label
    * + the neighbor-min join), so without lineage truncation the
    * logical plan doubles per round and the driver OOMs on analysis
    * (observed at sf0.1). Near-dup components are shallow (dups of a
    * common source), so the round count is small in practice; for
    * adversarial chain-shaped graphs use [[connectedComponentsStar]]
    * (alternating large-star/small-star contraction, O(log² n) rounds
    * — Kiveris et al., "Connected Components in MapReduce and
    * Beyond"). At 100 TB, pass `checkpointDir = Some(hdfsPath)`: every
    * lineage truncation then uses reliable `checkpoint()` to durable
    * storage instead of executor-local blocks, so losing an executor
    * mid-resolution replays from the last round's files rather than
    * killing the job. (The directory is installed once per
    * SparkContext; labels are bit-identical either way — spec-proven.)
    *
    * Convergence is detected by the label SUM (labels only ever
    * decrease, so an unchanged sum ⇔ an unchanged labeling), observed
    * on each round's own checkpoint job — no extra action, no extra
    * join. Failing to converge within maxIter rounds plus one
    * verification round THROWS (partial labels would silently corrupt
    * a downstream keep/drop decision). The persisted edge list is
    * released by `clearCache()`; the per-round localCheckpoint blocks
    * are RDD storage, freed by the ContextCleaner once unreferenced.
    */
  def connectedComponents(pairs: DataFrame, a: Column, b: Column,
                          maxIter: Int = 25,
                          checkpointDir: Option[String] = None): DataFrame = {
    val loop = Iterate("connectedComponents", checkpointDir, keepPartitioning = true)
    // checkpoint BEFORE the symmetrizing union: `half` is referenced
    // twice (forward + swapped), so without the boundary the upstream
    // pair generator (e.g. the whole simhash pipeline) executes twice
    // on first materialization
    val half = loop.checkpoint(
      pairs.select(a.cast("long").as("src"), b.cast("long").as("dst")))
    // NOTE (A/B'd at sf0.1): pre-hashing this cache on `src` (the
    // pageRank layout trick) did NOT drop the per-round exchange here
    // — profile showed +7 stages/+160 tasks and flat wall, so the
    // plain (src, dst)-partitioned cache stays.
    val edges = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // keepPartitioning on the whole loop: each round's left join
    // consumes the previous labels hash-partitioned on `id` (the very
    // layout the round's own output exchange produced) and nbrMin
    // arrives hash-partitioned on `dst` from its aggregate — keeping
    // the layout makes the label-side exchange vanish every round
    // (A/B at sf0.1: qdedup_clusters 63 → 56 jobs / 107 → 93 stages,
    // qcuration_softdedup 68 → 61 / 112 → 98, qdedup_report
    // 68 → 61 / 120 → 106)
    // coalesce: sum over an EMPTY label frame (no pairs at all) is
    // null; the record reports it as 0
    val labelSum = coalesce(sum(col("lbl").cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))
    val init = loop.observe(
      edges.select(col("src").as("id")).distinct().withColumn("lbl", col("id")), labelSum)
    // unconverged labels are WRONG labels (partially propagated) and a
    // downstream keep/drop decision would silently corrupt the corpus —
    // fail loudly instead; callers with deep graphs raise maxIter or
    // switch to star contraction
    loop.fixpoint(init, maxIter, Iterate.Throw("component diameter exceeds maxIter; " +
        "raise maxIter or use alternating star contraction for chain-shaped graphs"))(
        _.signal) { (l, _) =>
      val nbrMin = edges.join(l.df, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nbr"))
        .withColumnRenamed("dst", "nid")
      loop.observe(
        l.df.join(nbrMin, col("id") === col("nid"), "left")
          .select(col("id"), least(col("lbl"), coalesce(col("nbr"), col("lbl"))).as("lbl")),
        labelSum)
    }.df
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the depth-robust alternative to
    * [[connectedComponents]]: min-label propagation needs O(diameter)
    * rounds, star contraction O(log² n) regardless of shape, so this
    * is the variant for chain-shaped graphs (e.g. transitive near-dup
    * chains A≈B≈C≈… where no pair A,C is itself a dup pair).
    *
    * One alternation = two grouped aggregations + two joins over the
    * (long, long) edge list — like min-label, document payloads never
    * move, and each round's edge frame is `localCheckpoint`ed so the
    * plan stays flat. Convergence is EXACT, not fingerprint-based:
    * the canonically-oriented edge set is compared round-over-round
    * by count + one-way anti-join (equal counts + empty difference ⇔
    * equal sets). At the fixpoint every edge is (member, component
    * min) — a star — which a final one-parent-per-node invariant
    * check verifies before labels are emitted.
    *
    * Returns `(id, lbl)` with the same contract as
    * [[connectedComponents]] (lbl = min reachable id; only nodes
    * appearing in `pairs` are labeled), and the two are
    * property-tested equal.
    */
  def connectedComponentsStar(pairs: DataFrame, a: Column, b: Column,
                              maxIter: Int = 20,
                              checkpointDir: Option[String] = None): DataFrame = {
    // canonical orientation (max, min), self-edges dropped
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    // large-star: every node u connects its strictly-larger neighbors
    // to the minimum of its closed neighborhood
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      canon(sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }

    // small-star: every node u connects itself and its smaller
    // neighbors to its minimum smaller neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val self = m.select(col("u"), col("m").as("v"))
      val nbrs = e.join(m, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      canon(self.union(nbrs))
    }

    val loop = Iterate("connectedComponentsStar", checkpointDir)
    val n = count(lit(1))
    // exact set equality: same cardinality (the observed signal) + empty
    // one-way difference
    val edges = loop.fixpoint(
        loop.observe(canon(pairs.select(a.cast("long").as("u"), b.cast("long").as("v"))), n),
        maxIter, Iterate.Throw("raise maxIter (rounds grow with log² of component size)"))(
        _.signal, (prev, next) => next.df.join(prev.df, Seq("u", "v"), "left_anti").isEmpty) {
      (e, _) => loop.observe(smallStar(largeStar(e.df)), n)
    }.df
    // fixpoint invariant: the edge set is a star forest — every node
    // has exactly one parent. A violated invariant means wrong labels,
    // so fail loudly rather than emit them.
    val multiParent = edges.groupBy(col("u"))
      .agg(countDistinct(col("v")).as("np")).filter(col("np") > 1)
    if (!multiParent.isEmpty) throw new IllegalStateException(
      "connectedComponentsStar fixpoint is not a star forest (node with two parents)")
    edges.select(col("u").as("id"), col("v").as("lbl"))
      .union(edges.select(col("v").as("id"), col("v").as("lbl")))
      .distinct()
  }

  /** Deterministic shuffle + greedy shard packing (SURVEY.md §2.C17):
    * order the corpus by a keyed hash (the reproducible global shuffle
    * every training run needs), then cut it into contiguous shards of
    * ~`budget` tokens — a doc is assigned to the shard its starting
    * offset falls in, so no doc is ever split and shards overflow by
    * at most one doc. Emits `(doc_id, pos, n_tokens, cum, shard)`.
    *
    * The global order/prefix-sum is computed as a DISTRIBUTED two-pass
    * prefix sum, not a global window (a partition-less window pulls
    * the whole corpus through ONE task — the canonical Spark scale
    * trap): pass 1 buckets rows by the top 8 unsigned bits of the
    * hash (256 ordered ranges) and computes per-bucket positions and
    * running sums in parallel; pass 2 prefix-sums the 256 per-bucket
    * totals (a tiny frame — the only single-partition window) and
    * broadcasts the offsets back. Within a bucket all hashes share
    * their sign bit, so signed per-bucket ordering equals unsigned
    * global ordering.
    */
  def packShards(df: DataFrame, id: Column, sizeCol: Column, budget: Long,
                 salt: String = "shuffle",
                 carry: Seq[(String, Column)] = Nil): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val reserved = Set("doc_id", "n_tokens", "h", "bucket", "pos", "cum", "shard")
    require(carry.forall(c => !reserved.contains(c._1)),
      s"carry column names clash with packShards' own: ${carry.map(_._1)}")
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val h = call_function("fnv1a64", concat(lit(salt + ":"), id.cast("string")))
    // carry columns ride the row through both passes (no join-back to
    // recover them — at scale a second corpus shuffle)
    val rows = df.select(id.as("doc_id") +: sizeCol.cast("long").as("n_tokens") +:
        carry.map { case (nm, c) => c.as(nm) }: _*)
      .withColumn("h", h)
      .withColumn("bucket", shiftrightunsigned(col("h"), 56).cast("long"))
    val inBucket = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
    val local = rows
      .withColumn("local_pos", row_number().over(inBucket).cast("long"))
      .withColumn("local_cum", sum(col("n_tokens")).over(inBucket))
    val bucketTotals = rows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("b_rows"), sum(col("n_tokens")).as("b_tokens"))
    val off = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .withColumn("pos_off", coalesce(sum(col("b_rows")).over(off), lit(0L)))
      .withColumn("cum_off", coalesce(sum(col("b_tokens")).over(off), lit(0L)))
      .select(col("bucket").as("ob"), col("pos_off"), col("cum_off"))
    local.join(broadcast(offsets), col("bucket") === col("ob"))
      .select(col("doc_id") +:
        (col("pos_off") + col("local_pos")).as("pos") +:
        col("n_tokens") +:
        (col("cum_off") + col("local_cum")).as("cum") +:
        carry.map { case (nm, _) => col(nm) }: _*)
      .withColumn("shard", expr(s"(cum - n_tokens) div ${budget}L"))
  }

  /** Curriculum staging (C144; Bengio et al. 2009 applied to corpus
    * packing) — order the corpus easy→hard by an integer difficulty
    * LEVEL (length bucket, perplexity bucket C70, readability band —
    * any coarse ordinal the pipeline already computes) and cut it into
    * `nStages` stages of ~equal TOKEN mass, so stage s of the training
    * run streams stage-s shards: the standard pacing schedule, as a
    * deterministic table. Within a level, order is the reproducible
    * FNV shuffle (pedagogically interchangeable; determinism is what
    * matters). Emits `(doc_id, level, n_tokens, pos, cum, stage)`; a
    * doc lands in the stage its starting offset falls in —
    * `stage = ⌊cum_before·nStages/total⌋` — so no doc splits and
    * stages differ by at most one doc's tokens. The multiply rides
    * DECIMAL(38,0) (cum·nStages overflows a long past ~10¹⁷ tokens)
    * and div is the exact integral op; zero-token docs at the very
    * end would index stage nStages, clamped by least().
    *
    * Scale shape: the [[packShards]] two-pass prefix-sum discipline,
    * keyed (level, unsigned-hash-range) so the corpus-sized windows
    * stay 256-way parallel per level; the only partition-less window
    * orders the ≤ levels·256-row range-totals frame, and the 1-row
    * token total broadcasts back for the stage cut. */
  def curriculumStages(df: DataFrame, id: Column, sizeCol: Column,
                       levelCol: Column, nStages: Int,
                       salt: String = "curriculum"): DataFrame = {
    require(nStages >= 1, s"nStages must be positive, got $nStages")
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val rows = df.select(id.as("doc_id"), sizeCol.cast("long").as("n_tokens"),
        levelCol.cast("long").as("level"))
      .withColumn("h", call_function("fnv1a64",
        concat(lit(salt + ":"), col("doc_id").cast("string"))))
      .withColumn("rng", shiftrightunsigned(col("h"), 56).cast("long"))
    val inCell = Window.partitionBy(col("level"), col("rng"))
      .orderBy(col("h"), col("doc_id"))
    val local = rows
      .withColumn("local_pos", row_number().over(inCell).cast("long"))
      .withColumn("local_cum", sum(col("n_tokens")).over(inCell))
    val cellTotals = rows.groupBy(col("level"), col("rng"))
      .agg(count(lit(1)).as("c_rows"), sum(col("n_tokens")).as("c_tokens"))
    val off = Window.orderBy(col("level"), col("rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cellTotals
      .withColumn("pos_off", coalesce(sum(col("c_rows")).over(off), lit(0L)))
      .withColumn("cum_off", coalesce(sum(col("c_tokens")).over(off), lit(0L)))
      .select(col("level").as("ol"), col("rng").as("orng"),
        col("pos_off"), col("cum_off"))
    val total = rows.agg(coalesce(sum(col("n_tokens")), lit(0L)).as("total"))
    local.join(broadcast(offsets),
        col("level") === col("ol") && col("rng") === col("orng"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("level"), col("n_tokens"),
        (col("pos_off") + col("local_pos")).as("pos"),
        (col("cum_off") + col("local_cum")).as("cum"), col("total"))
      .withColumn("stage",
        when(col("total") > 0, least(
          expr(s"CAST((CAST(cum - n_tokens AS DECIMAL(38,0)) * ${nStages}L) " +
            s"div CAST(total AS DECIMAL(38,0)) AS BIGINT)"),
          lit(nStages - 1L))).otherwise(lit(0L)))
      .drop("total")
  }

  /** Shard manifest with content checksums (C140) — the shipping
    * record a training-data export writes NEXT TO the shards: per
    * shard, its doc count, token total, and an ORDER-INDEPENDENT
    * 64-bit content checksum (sum mod 2⁶⁴ of per-doc id fingerprints
    * — commutative, so any partitioning/write order yields the same
    * manifest, and a loader re-derives it from whatever order it
    * reads). This is how a 1000-shard corpus hand-off is verified
    * without trusting file sizes: recompute, compare one small table.
    *
    * `packed` is [[packShards]] output (or any frame carrying
    * `doc_id`, `n_tokens`, `shard`). The unsigned mod-2⁶⁴ sum rides
    * DECIMAL(38,0) (a long sum wraps ANSI-fatally; decimal matches
    * the oracle's HUGEINT exactly). One shard-keyed partial agg —
    * output is |shards| rows. */
  def shardManifest(packed: DataFrame): DataFrame = {
    require(Seq("doc_id", "n_tokens", "shard").forall(packed.columns.contains),
      s"packed must carry (doc_id, n_tokens, shard); got ${packed.columns.mkString(", ")}")
    graft.GraftExtensions.ensureRegistered(packed.sparkSession)
    val two64 = lit("18446744073709551616").cast("decimal(38,0)")
    val two63 = lit("9223372036854775808").cast("decimal(38,0)")
    val mh = call_function("fnv1a64",
      concat(lit("manifest:"), col("doc_id").cast("string")))
    packed
      .withColumn("__hu",
        when(mh < 0, mh.cast("decimal(38,0)") + two64)
          .otherwise(mh.cast("decimal(38,0)")))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("__hu")).as("__s"))
      .withColumn("__m", expr(
        "__s % CAST('18446744073709551616' AS DECIMAL(38,0))"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        when(col("__m") >= two63, col("__m") - two64).otherwise(col("__m"))
          .cast("long").as("checksum"))
  }

  /** Fixed-length training-sequence packing (SURVEY.md §2.C48):
    * concat-and-chunk, the step a training data loader performs when
    * it concatenates the shuffled corpus into one token stream and
    * cuts it at exact `seqLen` boundaries. Unlike [[packShards]]
    * (where a doc is never split), a doc here MAY straddle a
    * boundary, so the output is one row per (doc, sequence) overlap:
    * `(doc_id, pos, n_tokens, seq_id, doc_off, seq_off, span_len)` —
    * "tokens `doc_off until doc_off+span_len` of doc `doc_id` land in
    * sequence `seq_id` at offset `seq_off`". Every sequence except
    * the last is exactly `seqLen` tokens, gap-free; zero-size docs
    * contribute no spans and are dropped.
    *
    * Scale shape: the global offset is [[packShards]]' distributed
    * two-pass prefix sum (no corpus-wide window), and the span
    * expansion is a map-side `explode(sequence(...))` over it — a doc
    * overlaps at most `n_tokens/seqLen + 1` sequences, so output rows
    * are O(total_tokens/seqLen + n_docs) and no stage ever holds more
    * than one doc's spans. Payloads never move: the caller joins the
    * span table back to text by id (or feeds it straight to a reader
    * as the shuffle-free index of a packed epoch).
    */
  def packSequences(df: DataFrame, id: Column, sizeCol: Column,
                    seqLen: Long, salt: String = "shuffle"): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val start = col("cum") - col("n_tokens")
    val from = greatest(start, col("seq_id") * seqLen)
    packShards(df, id, sizeCol, budget = seqLen, salt = salt)
      .filter(col("n_tokens") > 0)
      .withColumn("seq_id",
        explode(sequence(expr(s"(cum - n_tokens) div ${seqLen}L"),
                         expr(s"(cum - 1) div ${seqLen}L"))))
      .select(col("doc_id"), col("pos"), col("n_tokens"), col("seq_id"),
        (from - start).as("doc_off"),
        (from - col("seq_id") * seqLen).as("seq_off"),
        (least(col("cum"), (col("seq_id") + 1) * seqLen) - from).as("span_len"))
  }

  /** Length-bucketed batch assignment (SURVEY.md §2.C109) — the
    * dynamic-batching plan a trainer uses to kill padding waste:
    * batching docs of wildly different lengths pads every sequence to
    * the batch max (a 10-token doc next to a 2000-token doc wastes
    * 99.5% of its slot), so docs are first grouped into power-of-two
    * length buckets and batches are cut WITHIN a bucket. Per doc:
    * `(doc_id, n_tokens, bucket = ⌊log₂ n⌋, bucket_cap = 2^(b+1)−1,
    * rank, batch_id, batch_pos)` — capacity per batch is
    * `max(budget div bucket_cap, 1)` rows, so every batch's padded
    * cost (rows × bucket ceiling) is ≤ budget (single-doc batches
    * where one doc exceeds it). Order within a bucket is the
    * [[packShards]] salted-FNV shuffle order — deterministic,
    * partitioning-independent, and a different `salt` gives an
    * independent epoch order.
    *
    * Integer discipline: the bucket is the C104/D11 binary-string
    * length (never a libm log2); capacity/batch arithmetic is all
    * integer division.
    *
    * Scale shape: the per-bucket global rank is [[packShards]]'
    * distributed two-pass prefix sum RE-KEYED by (bucket, 256-way
    * hash sub-bucket) — local row_number windows are bounded by
    * ~corpus/256 rows, the (bucket, sub) offset frame is ≤ 64·256
    * tiny rows and broadcasts; no corpus-wide or per-bucket window
    * ever buffers. Payloads never move (id + count only); the caller
    * joins text back by id per batch. */
  def packLengthBuckets(df: DataFrame, id: Column, sizeCol: Column,
                        budget: Long, salt: String = "shuffle"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val h = call_function("fnv1a64", concat(lit(salt + ":"), id.cast("string")))
    val rows = df.select(id.as("doc_id"), sizeCol.cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("h", h)
      .withColumn("bucket", (length(bin(col("n_tokens"))) - 1).cast("long"))
      .withColumn("sub", shiftrightunsigned(col("h"), 56).cast("long"))
    // within a bucket, (sub asc, h asc) IS unsigned-h order: sub is h's
    // top byte, and within one sub the sign bit is constant — the same
    // argument that makes packShards' global order match the oracle's
    // unsigned ORDER BY
    val inSub = Window.partitionBy(col("bucket"), col("sub"))
      .orderBy(col("h"), col("doc_id"))
    val local = rows.withColumn("local_pos", row_number().over(inSub).cast("long"))
    val subTotals = rows.groupBy(col("bucket"), col("sub"))
      .agg(count(lit(1)).as("s_rows"))
    val off = Window.partitionBy(col("bucket")).orderBy(col("sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = subTotals
      .withColumn("pos_off", coalesce(sum(col("s_rows")).over(off), lit(0L)))
      .select(col("bucket").as("ob"), col("sub").as("os"), col("pos_off"))
    local.join(broadcast(offsets),
        col("bucket") === col("ob") && col("sub") === col("os"))
      .withColumn("bucket_cap", expr("shiftleft(1L, cast(bucket + 1 as int)) - 1"))
      .withColumn("capacity", greatest(expr(s"${budget}L div bucket_cap"), lit(1L)))
      .withColumn("rank", col("pos_off") + col("local_pos"))
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("bucket_cap"),
        col("rank"),
        expr("(rank - 1) div capacity").as("batch_id"),
        expr("(rank - 1) % capacity").as("batch_pos"))
  }

  /** Per-source token cap (SURVEY.md §2.C110) — the domain-quota
    * operator web-corpus recipes apply before mixing (Common Crawl
    * derivatives cap each domain's contribution so one mirror farm or
    * SEO host can't dominate an epoch): within each source, docs are
    * taken in the salted-FNV shuffle order until the source's token
    * budget is exhausted. A doc is kept iff it STARTS strictly inside
    * the budget (`src_cum − n_tokens < budget`, the [[sampleByBudget]]
    * boundary rule — the first straddling doc is kept whole, docs are
    * never split), so every source contributes < budget + one doc.
    * Emits every doc with its per-source position/cumsum and the
    * `kept` verdict — the audit view; filter `kept` for the capped
    * corpus.
    *
    * Scale shape: per-source prefix sums via the [[packShards]]
    * two-pass discipline RE-KEYED by (source, 256-way hash
    * sub-bucket): local windows are bounded by ~|source|/256 rows
    * (a 10⁸-doc megadomain never buffers in one task), the
    * (source, sub) offset frame is sources×256 small rows and
    * broadcasts. Deterministic and partitioning-independent; a
    * different `salt` draws an independent epoch. */
  def capPerSource(df: DataFrame, id: Column, sizeCol: Column,
                   groupCol: Column, budget: Long,
                   salt: String = "shuffle"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    sourcePrefixSums(df, id, sizeCol, groupCol, salt)
      .withColumn("kept", col("src_cum") - col("n_tokens") < budget)
  }

  /** [[capPerSource]] with PER-SOURCE budgets — the execution half of
    * [[mixturePlan]] (SURVEY.md §2.C111): the plan's `alloc_tokens`
    * frame decides how many tokens each source may contribute, this
    * operator cuts each source at its allocation in deterministic
    * salted-FNV order. Sources missing from `budgets` get budget 0
    * (their rows stay in the audit view, kept = false — absence of an
    * allocation is a decision, not a silent pass-through). Allocation
    * is truncation-only: a source whose allocation EXCEEDS its token
    * count (`epochs > 1` in the plan) keeps everything here, and the
    * >1-epoch upsampling factor is the training reader's repeat
    * count — an executor that duplicated rows would silently distort
    * every downstream dedup/count audit.
    *
    * `budgets` is source-cardinality-sized (~10² rows) and rides a
    * broadcast; everything else is the [[capPerSource]] shape. */
  def capPerSourceBudgets(df: DataFrame, id: Column, sizeCol: Column,
                          groupCol: Column,
                          budgets: DataFrame, budgetSource: Column,
                          budgetTokens: Column,
                          salt: String = "shuffle"): DataFrame = {
    val b = budgets.select(budgetSource.cast("string").as("source"),
      budgetTokens.cast("long").as("src_budget"))
    sourcePrefixSums(df, id, sizeCol, groupCol, salt)
      .join(broadcast(b), Seq("source"), "left")
      .withColumn("src_budget", coalesce(col("src_budget"), lit(0L)))
      .withColumn("kept", col("src_cum") - col("n_tokens") < col("src_budget"))
  }

  /** One-call training-epoch assembly (SURVEY.md §2.C113): the
    * end-to-end composition a training run actually executes —
    * temperature [[mixturePlan]] decides each source's token
    * allocation, [[capPerSourceBudgets]] cuts every source at its
    * allocation in deterministic shuffle order, and [[packShards]]
    * lays the surviving docs into fixed-budget shards — returned as
    * the SHARD MANIFEST `(shard, n_docs, shard_tokens, n_sources,
    * first_pos, last_pos)` the data loader reads to plan an epoch
    * (per-doc layout is [[packShards]]' own contract, available by
    * running the stages separately). Every stage is its proven single
    * definition; this operator adds only the wiring, so a manifest
    * mismatch isolates to a stage, not the composition.
    *
    * Scale shape: three corpus passes, all map-heavy — the plan is
    * one partial agg to a ~10²-row frame; the cap and the pack are
    * the shared two-pass prefix-sum discipline (sub-bucketed windows,
    * broadcast offset frames, no corpus-wide window); `source` rides
    * [[packShards]]' carry columns so no join-back shuffle recovers
    * it. The manifest aggregate itself is shard-keyed — output rows
    * = corpus tokens / shardBudget. */
  def epochPack(df: DataFrame, id: Column, sizeCol: Column, source: Column,
                tokenBudget: Long, sqrtTimes: Int, shardBudget: Long,
                salt: String = "shuffle"): DataFrame = {
    val plan = mixturePlan(df, source, sizeCol, tokenBudget, sqrtTimes)
    val capped = capPerSourceBudgets(df, id, sizeCol, source,
      plan, col("source"), col("alloc_tokens"), salt)
    val kept = capped.filter(col("kept"))
    val packed = packShards(kept, col("doc_id"), col("n_tokens"), shardBudget,
      salt, carry = Seq("source" -> col("source")))
    packed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        countDistinct(col("source")).as("n_sources"),
        min(col("pos")).as("first_pos"),
        max(col("pos")).as("last_pos"))
  }

  /** The shared (source, 256-way sub-bucket) two-pass prefix sum under
    * C110/C111: `(doc_id, source, n_tokens, src_pos, src_cum)` in
    * salted-FNV order within each source. */
  private def sourcePrefixSums(df: DataFrame, id: Column, sizeCol: Column,
                               groupCol: Column, salt: String): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val h = call_function("fnv1a64", concat(lit(salt + ":"), id.cast("string")))
    val rows = df.select(id.as("doc_id"), sizeCol.cast("long").as("n_tokens"),
        groupCol.cast("string").as("source"))
      .filter(col("n_tokens") > 0 && col("source").isNotNull)
      .withColumn("h", h)
      .withColumn("sub", shiftrightunsigned(col("h"), 56).cast("long"))
    // within a source, (sub asc, h asc) IS unsigned-h order (the
    // packShards argument: sub is h's top byte)
    val inSub = Window.partitionBy(col("source"), col("sub"))
      .orderBy(col("h"), col("doc_id"))
    val local = rows
      .withColumn("local_pos", row_number().over(inSub).cast("long"))
      .withColumn("local_cum", sum(col("n_tokens")).over(inSub))
    val subTotals = rows.groupBy(col("source"), col("sub"))
      .agg(count(lit(1)).as("s_rows"), sum(col("n_tokens")).as("s_tokens"))
    val off = Window.partitionBy(col("source")).orderBy(col("sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = subTotals
      .withColumn("pos_off", coalesce(sum(col("s_rows")).over(off), lit(0L)))
      .withColumn("cum_off", coalesce(sum(col("s_tokens")).over(off), lit(0L)))
      .select(col("source").as("og"), col("sub").as("os"),
        col("pos_off"), col("cum_off"))
    local.join(broadcast(offsets),
        col("source") === col("og") && col("sub") === col("os"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("pos_off") + col("local_pos")).as("src_pos"),
        (col("cum_off") + col("local_cum")).as("src_cum"))
  }

  /** Near-dup cluster resolution: run [[connectedComponents]] over a
    * dup-pair frame and emit `(doc_id, cluster_id, cluster_size)` —
    * `cluster_id` is the minimum member id (the doc a keep-first
    * curation run retains; every other member is the drop set). Docs
    * in no pair are their own singletons and are intentionally not
    * emitted — at scale the caller left-anti-joins the corpus against
    * the drop set instead of materializing per-doc rows.
    */
  def clusters(pairs: DataFrame, a: Column, b: Column): DataFrame =
    connectedComponents(pairs, a, b)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))

  /** Dedup impact report (C137) — the sign-off artifact every
    * production dedup run ships BEFORE the drop is applied: per
    * cluster-size, how many clusters, how many docs they hold, how
    * many docs and bytes the keep-min rule would drop. Size 1 rows are
    * the untouched singletons (dropped = 0 by construction); the
    * heavy-tail rows are where a reviewer looks first (one 10⁶-member
    * "cluster" usually means a degenerate template, not real dups).
    * `members` is a `(doc_id, cluster_id)` frame ([[connectedComponents]]
    * output renamed, or a stored cluster table); the survivor is the
    * minimum doc id — the [[applyClusters]] contract, so the report's
    * bytes_dropped is exactly what the apply step will delete.
    *
    * Scale shape: the corpus joins the (dup-graph-sized) member frame
    * on doc_id, collapses to per-cluster (size, bytes, keep) partials
    * map-side, and the report aggregates ≤distinct-sizes rows — the
    * corpus never shuffles twice, nothing is per-doc in the output. */
  def dedupReport(corpus: DataFrame, id: Column, bytes: Column,
                  members: DataFrame): DataFrame = {
    require(Seq("doc_id", "cluster_id").forall(members.columns.contains),
      s"members must carry (doc_id, cluster_id); got ${members.columns.mkString(", ")}")
    // NULL bytes count as 0 (the doc is real; its size is unknown) —
    // a bare NULL would erase the survivor's b_keep and NULL the
    // cluster's bytes_dropped
    val d = corpus.select(id.as("doc_id"),
      coalesce(bytes.cast("long"), lit(0L)).as("bytes"))
    val assigned = d
      .join(members.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("bytes"),
        // singletons cluster as themselves; no collision with member
        // cluster ids, which are always ids of MEMBER docs
        coalesce(col("cluster_id"), col("doc_id")).as("cid"))
    val per = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("sz"), sum(col("bytes")).as("b_total"),
        // struct min orders on doc_id first (unique) — the keep-min
        // survivor's bytes ride along without a second join
        min(struct(col("doc_id"), col("bytes"))).as("keep"))
      .select(col("sz"), col("b_total"),
        col("keep").getField("bytes").as("b_keep"))
    per.groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
        sum(col("b_total")).as("bytes_total"),
        sum(col("b_total") - col("b_keep")).as("bytes_dropped"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        col("n_docs"), (col("n_docs") - col("n_clusters")).as("n_dropped"),
        col("bytes_total"), col("bytes_dropped"))
  }

  /** [[clusters]] resolved with [[connectedComponentsStar]] instead of
    * min-label propagation — identical output contract (and an
    * identical DuckDB oracle gates both), depth-robust round count for
    * chain-shaped dup graphs. */
  def clustersStar(pairs: DataFrame, a: Column, b: Column,
                   maxIter: Int = 20): DataFrame =
    connectedComponentsStar(pairs, a, b, maxIter)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))

  /** The dedup end-cap: keep every corpus row EXCEPT non-canonical
    * cluster members (a [[clusters]] frame's rows where doc_id ≠
    * cluster_id). One left-anti join against the drop set — the drop
    * set is cluster-members-only (tiny next to the corpus), so this
    * broadcasts; the corpus itself never shuffles. Singletons pass
    * through untouched, canonical members survive. */
  def applyClusters(corpus: DataFrame, id: Column, clusterFrame: DataFrame): DataFrame = {
    val drops = clusterFrame
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    corpus.withColumn("__cid", id)
      .join(broadcast(drops), col("__cid") === drops("doc_id"), "left_anti")
      .drop("__cid")
  }

  /** [[applyClusters]] with QUALITY-AWARE representative selection:
    * instead of keeping each cluster's minimum id, keep its
    * best-scoring member (score desc, doc_id asc tiebreak — make the
    * score integer-exact, e.g. char/token counts or a scaled-long
    * quality, so the boundary can't be decided by float rounding).
    * This is what a real curation run wants: when near-dups differ —
    * one truncated, one boilerplate-wrapped — drop the worse copies,
    * not the higher-numbered ones.
    *
    * Scale shape: `scored` pairs each cluster member with its score —
    * the cluster frame is members-only (tiny next to the corpus), so
    * it broadcasts into the corpus scan and the corpus never shuffles
    * to be scored. The per-cluster argmax is a combiner-friendly
    * max-of-struct partial agg over cluster_id (never a window over
    * the corpus), and the final drop set (members minus winners)
    * broadcasts into the same left-anti shape as [[applyClusters]]. */
  def applyClustersBest(corpus: DataFrame, id: Column, score: Column,
                        clusterFrame: DataFrame): DataFrame = {
    val members = clusterFrame.select(col("doc_id"), col("cluster_id"))
    val scored = corpus.select(id.as("__id"), score.as("__score"))
      .join(broadcast(members), col("__id") === members("doc_id"))
      .select(col("cluster_id"), col("doc_id"), col("__score"))
    // argmax by (score desc, doc_id asc): max of (score, -doc_id) structs
    // is a partial-aggregable reduction; -doc_id turns "smallest id wins
    // ties" into a max
    val winners = scored
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("__score"), (-col("doc_id")).as("neg_id"))).as("w"))
      .select((-col("w.neg_id")).as("doc_id"))
    val drops = members.select(col("doc_id"))
      .join(winners, Seq("doc_id"), "left_anti")
    corpus.withColumn("__cid", id)
      .join(broadcast(drops), col("__cid") === drops("doc_id"), "left_anti")
      .drop("__cid")
  }

  /** Soft dedup (SURVEY.md §2.C80): per-document SAMPLING WEIGHT
    * `1 / cluster_size` from a near-dup cluster resolution, instead of
    * the hard keep/drop of [[applyClusters]] — the SoftDeDup insight
    * (He et al. 2024, arXiv:2407.06654; also the Doremi-style common
    * practice): dropping all-but-one copy deletes the evidence that
    * duplicated content is POPULAR, while keeping every copy
    * over-trains on it; down-weighting so each cluster contributes one
    * document's worth of expected mass preserves both. Unclustered
    * docs weigh 1. Output `(doc_id, cluster_size, weight)` — feed the
    * weight to the loader's sampler or multiply into a mixture plan
    * (C59).
    *
    * Exactness: cluster_size is an exact long off the cluster frame's
    * own count; the weight is the single IEEE division `1.0 / size`
    * rounded once to 6 places — identical in any engine. Scale shape:
    * the cluster frame is members-only (tiny next to the corpus) and
    * broadcasts into the corpus scan as a left join — the corpus never
    * shuffles, the weight is a map-side expression. */
  def softDedupWeights(corpus: DataFrame, id: Column,
                       clusterFrame: DataFrame): DataFrame = {
    val sizes = clusterFrame
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("__csize"))
    val members = clusterFrame.select(col("doc_id"), col("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col("doc_id").as("__mid"), col("__csize"))
    corpus.select(id.as("doc_id"))
      .join(broadcast(members), col("doc_id") === col("__mid"), "left")
      .select(col("doc_id"),
        coalesce(col("__csize"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("__csize"), lit(1L)).cast("double"), 6)
          .as("weight"))
  }

  /** Benchmark decontamination (SURVEY.md §2.C22): count, per corpus
    * document, the distinct word n-grams it shares with an evaluation
    * set — the standard pre-training hygiene check (the GPT-3/PaLM
    * reports decontaminate by 8-13-gram overlap). Returns only
    * contaminated docs `(doc_id, shared_grams)`; the caller anti-joins
    * the corpus against it, exactly like [[applyClusters]]' drop set.
    *
    * Scale shape: the eval side (benchmarks are ~10⁵-10⁶ grams, tiny
    * next to a 100 TB corpus) is distinct-ed, HASHED to xxhash64
    * (8 bytes per gram vs 50+ for a raw word-8-gram string — a ~6×+
    * smaller broadcast; at 10⁷ grams the string form is a 0.5 GB
    * broadcast, the hashed form ~80 MB) and BROADCAST, so corpus grams
    * are probed map-side — as hashes, computed in the same map stage —
    * and never shuffle — only the matching (doc_id, gram_hash) hits
    * move, into a partial-aggregated count. Counting distinct HASHES
    * equals counting distinct grams up to xxhash64 collisions
    * (p ≈ 1e-11 per pair at 10⁷ grams — the same odds every
    * hash-keyed dedup in this engine already accepts); the string
    * ("qcuration_contam") oracle stays valid for exactly that reason.
    * Grams come from [[Dedup.wordShingles]] (ONE definition of the
    * trap-sensitive shingling expression engine-wide); its per-doc
    * `array_distinct` is semantically free here (the count is already
    * DISTINCT) and keeps repeated grams from shipping redundant hit
    * rows through the join. */
  def contamination(corpus: DataFrame, id: Column, text: Column,
                    evalSet: DataFrame, evalText: Column,
                    n: Int = 8): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val evalGrams = evalSet
      .select(explode(Dedup.wordShingles(evalText, n)).as("gram"))
      .select(xxhash64(col("gram")).as("gram_h"))
      .distinct()
    corpus.select(id.as("doc_id"), explode(Dedup.wordShingles(text, n)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gram_h"))
      .join(broadcast(evalGrams), "gram_h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram_h")).as("shared_grams"))
  }

  /** Span-level benchmark contamination audit (SURVEY.md §2.C112):
    * WHERE in each document the eval-set overlap sits, as maximal
    * merged token spans — the evidence view behind [[contamination]]'s
    * per-doc count. A count says "doc 17 shares 40 grams"; the span
    * table says "tokens 120..215 are a verbatim benchmark passage,
    * tokens 3..10 an incidental idiom" — which is what decides
    * between dropping the doc and surgically trimming it (the C34/
    * passage-removal distinction, applied to eval leakage). Emits one
    * row per span: `(doc_id, span_start, span_end, span_tokens,
    * n_grams)` — token offsets 0-based inclusive, `n_grams` = matched
    * n-grams merged into the span.
    *
    * A matched n-gram at token position p covers [p, p+n−1]; two
    * matches merge iff the next starts within or immediately after
    * the previous gram's span (`pos ≤ prev + n` — overlapping or
    * token-contiguous coverage is ONE passage). The merge is the
    * classic gaps-and-islands: a lag-flag marks span starts, a
    * running sum numbers the islands, one grouped aggregate collapses
    * them — all windows PARTITIONED BY doc_id with running
    * (unbounded-preceding..current) frames, never whole-partition
    * buffers.
    *
    * Scale shape: the eval side is distinct-ed, hashed to xxhash64
    * and broadcast exactly as in [[contamination]] (one shared
    * discipline — 8 bytes per gram); corpus grams are probed
    * map-side and only HIT positions (doc_id, pos — 16 bytes) ever
    * shuffle, into doc-partitioned windows bounded by per-doc hit
    * counts. */
  def contaminationSpans(corpus: DataFrame, id: Column, text: Column,
                         evalSet: DataFrame, evalText: Column,
                         n: Int = 8): DataFrame = {
    val hits = contaminationHits(corpus, id, text, evalSet, evalText, n)
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("__new_span",
        when(lag(col("pos"), 1).over(byPos).isNull ||
          col("pos") > lag(col("pos"), 1).over(byPos) + n, 1L).otherwise(0L))
      .withColumn("__span_idx", sum(col("__new_span")).over(run))
      .groupBy(col("doc_id"), col("__span_idx"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_grams"))
  }

  /** The shared eval-overlap probe under C22/C112/C115: `(doc_id, pos)`
    * rows for every corpus token offset whose word-n-gram occurs in the
    * eval set. Eval grams distinct → xxhash64 → 8-byte broadcast (the
    * C22 discipline); corpus positional grams (posexplode of the
    * NON-distinct shingle array — array_distinct would shift offsets)
    * probe map-side, so only HIT positions ever shuffle. */
  private def contaminationHits(corpus: DataFrame, id: Column, text: Column,
                                evalSet: DataFrame, evalText: Column,
                                n: Int): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val evalGrams = evalSet
      .select(explode(Dedup.wordShingles(evalText, n)).as("gram"))
      .select(xxhash64(col("gram")).as("gram_h"))
      .distinct()
    corpus
      .select(id.as("doc_id"),
        posexplode(Dedup.wordShingles(text, n, distinct = false)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("gram_h"))
      .join(broadcast(evalGrams), "gram_h")
      .select(col("doc_id"), col("pos"))
  }

  /** Benchmark-contamination REMOVAL (SURVEY.md §2.C115) — the surgery
    * [[contaminationSpans]]' evidence view exists to drive, when the
    * decision is trim-not-drop: rewrite each corpus document to delete
    * every token covered by an eval-set-matched word-n-gram, keeping
    * the rest (the C41 rewrite discipline applied to eval leakage
    * instead of cross-document duplication). Survivor tokens re-join
    * with single spaces; documents with no eval overlap return
    * BYTE-IDENTICAL through the short-circuit branch — a fully
    * contaminated doc (an eval member leaked verbatim) comes back as
    * the empty string with every token counted removed. Returns
    * `(doc_id, clean, removed_tokens)`.
    *
    * Scale shape: the probe is [[contaminationHits]] (hashed broadcast
    * eval side, map-side probe — only hit positions shuffle); hit
    * offsets collect into per-doc sorted start arrays (ints, bounded
    * by doc length) and equi-join back to the corpus by id; the
    * rewrite is the shared one-map-stage C41 kernel. */
  def contaminationRemove(corpus: DataFrame, id: Column, text: Column,
                          evalSet: DataFrame, evalText: Column,
                          n: Int = 8): DataFrame = {
    val starts = contaminationHits(corpus, id, text, evalSet, evalText, n)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    Dedup.removeCoveredTokens(
      corpus.select(id.as("doc_id"), text.as("doc_text")), starts, n)
  }

  /** Per-source exact quantile calibration (SURVEY.md §2.C117) — the
    * CCNet-style normalization that makes one quality threshold mean
    * the same thing in every source (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3): a raw score of 0.55 may be the 90th
    * percentile of a code crawl and the 30th of curated books, so
    * gating on the RAW score skews the mixture; gating on the
    * within-source percentile doesn't. For each row: `below` = rows in
    * the SAME source with strictly smaller score, `pct_micro` =
    * `(1e6 · below) div n_src` — pure integer arithmetic end to end,
    * so the percentile (and the τ cut) transfers across engines and
    * partitionings exactly; ties share one percentile. `kept` =
    * `pct_micro ≥ tauMicro`. Rows with a NULL score are EXCLUDED (no
    * estimate ≠ a rank — the C103 discipline). Returns
    * `(doc_id, source, score_micro, pct_micro, kept)`.
    *
    * Scale shape: the corpus never enters a window. The ECDF is
    * computed on the (source, score) VALUE-COUNT frame — bounded by
    * score granularity (≤ 1e6+1 rows per source at micro scale), not
    * corpus size — under the shared two-pass prefix-sum discipline
    * RANGE-keyed by the score's top bits: local running sums inside
    * (source, score div 2^coarseBits) partitions of ≤ 2^coarseBits
    * rows, a per-source offset window over the ≤ range/2^coarseBits
    * bucket totals, both bounded by CONSTANTS. Arithmetic
    * `shiftright` keeps the coarse bucket monotone for signed scores.
    * The corpus takes one (source, score)-keyed equi-join against the
    * ranked value frame (broadcast when granularity × sources is
    * small; a plain 16-byte-key shuffle join otherwise).
    * `1e6 · below` stays inside a long up to n_src ≈ 9·10¹². */
  def calibrateBySource(df: DataFrame, id: Column, source: Column,
                        scoreMicro: Column, tauMicro: Long,
                        coarseBits: Int = 12): DataFrame = {
    require(coarseBits >= 1 && coarseBits <= 40,
      s"coarseBits must be 1..40, got $coarseBits")
    val s = df
      .select(id.as("doc_id"), source.as("source"),
        scoreMicro.cast("long").as("score_micro"))
      .filter(col("score_micro").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vc = s.groupBy(col("source"), col("score_micro"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cb", shiftright(col("score_micro"), coarseBits))
    val wLocal = Window.partitionBy(col("source"), col("cb"))
      .orderBy(col("score_micro"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = vc
      .withColumn("local_below", sum(col("c")).over(wLocal) - col("c"))
    val wOff = Window.partitionBy(col("source")).orderBy(col("cb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = vc.groupBy(col("source"), col("cb")).agg(sum(col("c")).as("bt"))
      .withColumn("cum_off", coalesce(sum(col("bt")).over(wOff), lit(0L)))
      .select(col("source").as("__o_src"), col("cb").as("__o_cb"), col("cum_off"))
    val n = s.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val ranked = local
      .join(off, col("source") === col("__o_src") && col("cb") === col("__o_cb"))
      .join(broadcast(n), Seq("source"))
      .select(col("source"), col("score_micro"),
        expr("(1000000 * (cum_off + local_below)) div n_src").as("pct_micro"))
    s.join(ranked, Seq("source", "score_micro"))
      .select(col("doc_id"), col("source"), col("score_micro"),
        col("pct_micro"), (col("pct_micro") >= tauMicro).as("kept"))
  }

  /** Cross-split leakage audit (SURVEY.md §2.C116) — the measurement
    * that justifies (or indicts) a train/val/test split: given a
    * near-duplicate PAIR frame and a split ASSIGNMENT, count every
    * pair by the (unordered) split combination of its endpoints.
    * Off-diagonal rows ARE the leakage — a test doc whose near-twin
    * sits in train inflates eval scores without the model generalizing
    * (the failure C40's cluster-aware split exists to prevent; this
    * audit proves a given assignment's exposure, e.g. before adopting
    * an inherited split). Returns `(split_a, split_b, n_pairs,
    * leaked)` with `split_a ≤ split_b` lexicographically so symmetric
    * combinations collapse to one row; pairs with an endpoint missing
    * from the assignment are excluded (audit the assigned population,
    * not the pair generator's domain).
    *
    * Scale shape: two id-keyed equi-joins of the pair frame (8-byte
    * ids) against the assignment — the corpus-sized side shuffles by
    * id once per endpoint, the pair side is usually the small side
    * (AQE broadcast); the aggregate lands on ≤ |splits|² rows with
    * map-side partials. Nothing corpus-sized crosses twice. */
  def splitLeakage(pairs: DataFrame, a: Column, b: Column,
                   assign: DataFrame, id: Column, split: Column): DataFrame = {
    val asg = assign.select(id.as("__sl_id"), split.cast("string").as("__sl_split"))
    pairs.select(a.as("__pa"), b.as("__pb"))
      .join(asg, col("__pa") === col("__sl_id")).drop("__sl_id")
      .withColumnRenamed("__sl_split", "__sa")
      .join(asg, col("__pb") === col("__sl_id")).drop("__sl_id")
      .withColumnRenamed("__sl_split", "__sb")
      .groupBy(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("split_a") =!= col("split_b"))
  }

  /** Corpus snapshot diff (SURVEY.md §2.C63): per-document status of
    * a new corpus version against an old one — `added` (id only in
    * new), `removed` (id only in old), `changed` (both, different
    * content), `unchanged` — the audit every versioned training-data
    * store needs between crawls/re-processings (what did this
    * pipeline change, and how much re-tokenization does the delta
    * cost?). Content identity is md5 of the UTF-8 text bytes:
    * collision-safe at corpus scale (2⁻⁶⁴ at ~10¹⁰ docs) and
    * byte-exact across engines.
    *
    * Scale shape: each side collapses to `(doc_id, 16-byte digest)`
    * IN ITS MAP STAGE — document text never reaches the join — then
    * one id-keyed full-outer shuffle join (both sides hash-partition
    * on the same key; AQE handles the skewless id key). The status is
    * a codegen when-chain. At 100 TB the shuffle moves ~50 bytes per
    * doc, not the corpus.
    *
    * Presence is tracked by an explicit per-side marker, NOT by
    * digest nullness — a NULL-text doc has a NULL md5, and a digest
    * used as the presence proxy would report it `added` even when
    * the id exists on both sides. Two NULL texts compare as
    * unchanged (null-safe equality): same (absent) content. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, id: Column,
      text: Column): DataFrame = {
    def digest(side: DataFrame, h: String, mark: String): DataFrame =
      side.select(id.as("doc_id"), md5(encode(text, "UTF-8")).as(h),
        lit(true).as(mark))
    digest(oldDf, "__h_old", "__in_old")
      .join(digest(newDf, "__h_new", "__in_new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(col("__h_old") <=> col("__h_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Snapshot patch application (SURVEY.md §2.C118) — the inverse of
    * [[corpusDiff]], completing the versioning pair: given the OLD
    * snapshot and a patch frame `(doc_id, status, text)` with status ∈
    * {added, changed, removed} (the shippable increment — new payloads
    * for added/changed, ids alone for removed), reconstruct the NEW
    * snapshot. Old rows absent from the patch pass through untouched;
    * added/changed rows take the PATCH payload (an `added` id that
    * already exists upserts — idempotent re-application beats a
    * distribution failure); `removed` rows drop. The round-trip
    * contract — patch(old, diff-with-payloads(old, new)) ≡ new,
    * byte-for-byte — is what the registered oracle checks.
    *
    * Scale shape: NOT a full-outer join (wide rows, both payloads
    * resident): one id-keyed LEFT-ANTI of the old corpus against the
    * patch ids (drops removed/changed/shadowed rows; payload moves
    * once) unioned with the patch's own added/changed payloads. The
    * patch is usually ≪ corpus, so the anti-join broadcasts under
    * AQE and the corpus never shuffles. */
  def corpusPatch(oldDf: DataFrame, id: Column, text: Column,
                  patch: DataFrame, patchId: Column, status: Column,
                  patchText: Column): DataFrame = {
    val p = patch.select(patchId.as("doc_id"), status.cast("string").as("__status"),
      patchText.as("text"))
    oldDf.select(id.as("doc_id"), text.as("text"))
      .join(p.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(p.filter(col("__status") =!= "removed").drop("__status"))
  }

  /** Domain-blocklist screen (SURVEY.md §2.C81) — the UT1/RefinedWeb-
    * style web-corpus hygiene gate: flag every document whose text
    * links a blocked domain, where a blocklist entry matches its
    * EXACT host and every subdomain of it (`tracker.bad` blocks
    * `cdn.tracker.bad`). Returns `(doc_id, blocked, matched_domain)`
    * for the whole corpus (`matched_domain` = the lexicographically
    * smallest matching blocklist suffix — deterministic when several
    * match, NULL when clean); callers filter `!blocked` or audit the
    * hit distribution first.
    *
    * The subdomain match is NOT a per-row blocklist scan (a theta-join
    * against 10⁵-10⁶ patterns): each extracted host expands map-side
    * into its SUFFIX CHAIN (`a.b.example.com` → itself, `b.example.com`,
    * `example.com` — bounded by label depth, TLD-alone excluded), and
    * matching becomes one EQUI-join of those suffixes against the
    * broadcast blocklist (10⁶ domains ≈ tens of MB). Ports are
    * stripped for matching. Only hit rows shuffle (doc_id + suffix);
    * the corpus itself never does — extraction and expansion are
    * codegen map stages on the scan. */
  def domainBlocklist(corpus: DataFrame, id: Column, text: Column,
                      blocklist: DataFrame, blockedDomain: Column): DataFrame = {
    val bl = blocklist.select(lower(blockedDomain).as("sfx")).distinct()
    val host = regexp_replace(col("__domain"), ":[0-9]+$", "")
    val sfxChain = graft.functions.Cols.let(split(host, "\\.")) { labels =>
      // sequence(0, n-2) would DESCEND for single-label hosts — guard
      when(size(labels) >= 2,
        transform(sequence(lit(0), size(labels) - 2),
          i => array_join(slice(labels, i + 1, size(labels) - i), ".")))
        .otherwise(typedLit(Array.empty[String]))
    }
    val hits = corpus
      .select(id.as("doc_id"),
        explode(graft.functions.TextFunctions.urlDomains(text)).as("__domain"))
      .select(col("doc_id"), explode(sfxChain).as("sfx"))
      .join(broadcast(bl), "sfx")
      .groupBy(col("doc_id")).agg(min(col("sfx")).as("matched_domain"))
    corpus.select(id.as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("matched_domain").isNotNull.as("blocked"),
        col("matched_domain"))
  }

  /** Semantic benchmark decontamination (SURVEY.md §2.C90) — the
    * embedding-space complement of [[contamination]]'s n-gram
    * overlap: per corpus vector, the maximum cosine against a
    * broadcast EVAL-set embedding table and a `contaminated` flag at
    * `threshold`. N-gram overlap misses paraphrased/translated/
    * reformatted leakage (the reason eval suites ship semantic
    * dedup sweeps — e.g. Yang et al. 2023, arXiv:2311.04850);
    * embedding similarity catches it. Returns EVERY corpus row
    * (`vec_id`, flag, argmax eval id with ties to the lowest id,
    * 4-decimal cosine — the audit view; filter on the flag to
    * quarantine).
    *
    * Exactness: cosine is the engine's one proven formulation
    * (codegen dot over normalized vectors, the qann_brute_topk
    * oracle parity); the flag compares the UNROUNDED cosine. NULL
    * vectors can't match (no similarity without an embedding —
    * flagged false with NULL cosine).
    *
    * Scale shape: the eval set is small BY CONSTRUCTION (a benchmark
    * suite — thousands of rows) and broadcasts with its normalized
    * vectors; the corpus is scanned ONCE map-side against it (the
    * bruteTopK discipline with the roles pinned: corpus scans, eval
    * broadcasts), and the per-vector argmax is a rank-1 window
    * (WindowGroupLimit — map-side, never a corpus buffer). Nothing
    * corpus-sized shuffles. For eval suites too big to broadcast,
    * screen against [[Similarity.ivfTopKAgainstIndex]] over an
    * eval-side index instead. */
  def contaminationSemantic(corpus: DataFrame, id: Column, vec: Column,
                            evalSet: DataFrame, evalId: Column, evalVec: Column,
                            threshold: Double = 0.95): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    graft.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val ev = evalSet.select(evalId.as("eval_id"),
        VectorFunctions.normalized(evalVec).as("env"))
      .filter(col("env").isNotNull)
    val scored = corpus
      .select(id.as("vec_id"), VectorFunctions.normalized(vec).as("cnv"))
      .filter(col("cnv").isNotNull)
      .crossJoin(broadcast(ev))
      .select(col("vec_id"), col("eval_id"),
        VectorFunctions.dot(col("cnv"), col("env")).as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("eval_id"))
    val top = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("eval_id").as("nearest_eval_id"), col("cos"))
    corpus.select(id.as("vec_id"))
      .join(top, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cos") >= lit(threshold), lit(false)).as("contaminated"),
        col("nearest_eval_id"),
        round(col("cos"), 4).as("max_cosine"))
  }

  /** DSIR importance weights (SURVEY.md §2.C89; Xie et al. 2023,
    * arXiv:2302.03169): per-document log importance `log p_target(x)
    * / q_raw(x)` under hashed-n-gram bag-of-words models — the
    * data-selection signal that upweights raw-corpus documents
    * distributed like a small high-quality TARGET corpus (the
    * DSIR recipe: score raw with these weights, then resample —
    * [[sampleByWeight]] on `exp` of the weight, or rank by it
    * directly). Features are word n-grams hashed into `buckets`
    * cells; both distributions are add-1-smoothed multinomials over
    * the cells.
    *
    * Exactness: the per-bucket log ratio
    * `ln(((ct+1)·(Nr+B)) / ((cr+1)·(Nt+B)))` is ONE libm call on
    * exact integer-valued doubles (counts and totals are longs;
    * double products of values ≤ 2^53 at test scale, and the ratio
    * formulation never overflows a double), rounded ONCE to integer
    * micro-nats — a doc's weight is then an exact integer sum in any
    * accumulation order (the C37/C52 discipline). Grams come from
    * [[Dedup.wordShingles]] over lowercased text (bag semantics) —
    * the one engine-wide shingling definition; the hash is the
    * oracle-replicable fnv1a64 over `salt:gram`.
    *
    * Scale shape: the raw corpus is scanned ONCE — per-doc bucket
    * counts persist and both the raw marginal `cr` and the scoring
    * join aggregate from that frame. The target (a curated eval/
    * reference set, small by construction) contributes one scan. The
    * ratio table is ≤ `buckets` rows and BROADCASTS to the scoring
    * join; totals ride on it (computed before the broadcast), so the
    * corpus-side plan is map-side explode → hash → per-doc combine →
    * one broadcast join → per-doc sum. Nothing corpus-sized
    * shuffles except the (doc_id, bucket, count) partials. */
  def dsirWeights(raw: DataFrame, rawId: Column, rawText: Column,
                  target: DataFrame, targetText: Column,
                  n: Int = 2, buckets: Int = 4096,
                  salt: String = "dsir"): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    graft.GraftExtensions.ensureRegistered(raw.sparkSession)
    def bucketOf(gram: Column): Column =
      pmod(call_function("fnv1a64", concat(lit(salt + ":"), gram)),
        lit(buckets.toLong))
    val docFeats = raw
      .select(rawId.as("doc_id"),
        explode(Dedup.wordShingles(lower(rawText), n, distinct = false))
          .as("gram"))
      .select(col("doc_id"), bucketOf(col("gram")).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cr = docFeats.groupBy(col("b")).agg(sum(col("c")).as("cr"))
    val ct = target
      .select(explode(Dedup.wordShingles(lower(targetText), n,
        distinct = false)).as("gram"))
      .select(bucketOf(col("gram")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    // 1-row totals, broadcast onto the <= buckets-row ratio frame
    // (the established scalar-totals BNLJ shape) BEFORE that frame
    // itself broadcasts to the corpus join
    val totals = cr.agg(sum(col("cr")).as("nr"))
      .crossJoin(ct.agg(coalesce(sum(col("ct")), lit(0L)).as("nt")))
    val ratio = cr.join(ct, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        round(log(
          ((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") *
            (col("nr") + lit(buckets.toLong)).cast("double")) /
          ((col("cr") + lit(1L)).cast("double") *
            (col("nt") + lit(buckets.toLong)).cast("double"))) * lit(1e6))
          .cast("long").as("rm"))
    val scored = docFeats.join(broadcast(ratio), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("nf"), sum(col("c") * col("rm")).as("lw"))
    raw.select(rawId.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nf"), lit(0L)).as("n_feats"),
        coalesce(col("lw"), lit(0L)).as("logw_micro"),
        when(col("nf").isNull, lit(null).cast("double"))
          // plain division, NOT round(·, 4): the integer micro value
          // cast to double and divided by 1e6 is one IEEE op per
          // engine — identical everywhere — while a 4-decimal round
          // of a .XXXX5 binary tie is a cross-engine coin flip
          // (Spark rounds the decimal string, DuckDB the binary)
          .otherwise(col("lw").cast("double") / lit(1e6))
          .as("logw"))
  }
}
