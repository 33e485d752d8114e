package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.{Fnv1a64, TextFunctions}

class DedupSpec extends AnyFunSuite {
  import SparkTest._

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup keeps first id per normalized-content group") {
    val df = docs(
      1L -> "Hello  World",
      2L -> "hello world",
      3L -> "something else",
      4L -> "HELLO WORLD ")
    val survivors = Dedup.exactDedup(df, col("doc_id"), col("text"))
      .collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq == Seq(1L, 3L))
  }

  test("ngram jaccard finds planted near-dups and skips distinct docs") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "the quick brown fox jumps over the lazy dog near the river bend" // 1 word off
    val c = "completely different content with no overlap whatsoever at all here"
    val pairs = Dedup.ngramJaccardPairs(
        docs(1L -> a, 2L -> b, 3L -> c), col("doc_id"), col("text"), n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("collapsed ngram pairs on an m-dup corpus equal plain pairs on the base corpus with copies = m") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "the quick brown fox jumps over the lazy dog near the river bend" // ~a
    val c = "completely different content with no overlap whatsoever at all here"
    val base = Seq(1L -> a, 2L -> b, 3L -> c)
    val m = 3
    // m verbatim copies per doc, replica ids strictly above the base id
    // so keep-first collapse lands on the base ids
    val dup = docs(base.flatMap { case (id, t) =>
      (0 until m).map(k => (id + 100L * k, t)) }: _*)
    val plain = Dedup.ngramJaccardPairs(docs(base: _*),
        col("doc_id"), col("text"), n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    val coll = Dedup.ngramJaccardPairsCollapsed(dup,
        col("doc_id"), col("text"), n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .sortBy(p => (p._1, p._2))
    // pair-for-pair the plain answer on the base corpus...
    assert(coll.map(t => (t._1, t._2, t._3)).toSeq == plain.toSeq, s"got ${coll.toSeq}")
    assert(plain.nonEmpty) // fixture sanity: the law isn't vacuous
    // ...with the collapsed multiplicity carried on both sides
    assert(coll.forall(t => t._4 == m && t._5 == m))
    // the quadratic output the collapse exists to avoid: the naive pass
    // on the dup corpus pays C(m,2) J=1 pairs per dup set plus m·m
    // copies of every real near-dup pair
    val naive = Dedup.ngramJaccardPairs(dup, col("doc_id"), col("text"),
      n = 2, threshold = 0.5).count()
    assert(naive == base.size * m * (m - 1) / 2 + plain.length * m * m, s"naive $naive")
    // dup-free corpus: collapsed IS plain with copies 1/1 (the gated
    // query's form on the synthetic documents table)
    val free = Dedup.ngramJaccardPairsCollapsed(docs(base: _*),
        col("doc_id"), col("text"), n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .sortBy(p => (p._1, p._2))
    assert(free.map(t => (t._1, t._2, t._3)).toSeq == plain.toSeq)
    assert(free.forall(t => t._4 == 1L && t._5 == 1L))
  }

  test("collapsed minhash keeps the m-dup law AND protects bucket recall from duplicate inflation") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "the quick brown fox jumps over the lazy dog near the river bend" // ~a
    val c = "completely different content with no overlap whatsoever at all here"
    val base = Seq(1L -> a, 2L -> b, 3L -> c)
    val m = 3
    val dup = docs(base.flatMap { case (id, t) =>
      (0 until m).map(k => (id + 100L * k, t)) }: _*)
    val plain = Dedup.minhashLshPairs(docs(base: _*),
        col("doc_id"), col("text"), n = 2, bands = 32, rows = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(plain.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L))) // fixture sanity
    // the C4b law holds for the LSH family too: collapsed(m-dup) ≡
    // plain(base) pair-for-pair with copies = m
    val coll = Dedup.minhashLshPairsCollapsed(dup,
        col("doc_id"), col("text"), n = 2, bands = 32, rows = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .sortBy(p => (p._1, p._2))
    assert(coll.map(t => (t._1, t._2, t._3)).toSeq == plain.toSeq, s"got ${coll.toSeq}")
    assert(coll.forall(t => t._4 == m && t._5 == m))
    // the MinHash-specific failure mode the collapse prevents: verbatim
    // copies share a signature, so every band bucket the (a, b) pair
    // shares holds all 2m rows — at maxBucket = m the naive pass drops
    // EVERY such bucket (whole-bucket eviction) and loses the real
    // near-dup deterministically, while the collapsed pass's buckets
    // hold ≤ 2 rows and keep it
    val naiveCapped = Dedup.minhashLshPairs(dup, col("doc_id"), col("text"),
        n = 2, bands = 32, rows = 2, threshold = 0.5, maxBucket = m)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (x, y) => (x % 100) != (y % 100) } // cross-content pairs only
    assert(naiveCapped.isEmpty, s"naive kept $naiveCapped despite bucket eviction")
    val collCapped = Dedup.minhashLshPairsCollapsed(dup, col("doc_id"), col("text"),
        n = 2, bands = 32, rows = 2, threshold = 0.5, maxBucket = m)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(collCapped.toSeq == Seq((1L, 2L)), s"got ${collCapped.toSeq}")
  }

  test("collapsed embedding pairs keep the m-dup law with copies = m, " +
      "for both the blocked-exact and LSH paths (C5b)") {
    val spark2 = spark
    import spark2.implicits._
    def vecs(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")
    val v1 = Seq(1f, 0f, 0f, 0f)
    val v2 = Seq(0.95f, 0.3122499f, 0f, 0f) // unit; cos(v1,v2) = 0.95
    val v3 = Seq(0f, 0f, 1f, 0f)            // orthogonal to both
    val base = Seq(1L -> v1, 2L -> v2, 3L -> v3)
    val m = 3
    // m verbatim copies per vector, replica ids above the base id so
    // keep-first collapse lands on base ids
    val dup = vecs(base.flatMap { case (id, v) =>
      (0 until m).map(k => (id + 100L * k, v)) }: _*)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
    def quints(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).sortBy(p => (p._1, p._2)).toSeq
    val plain = triples(Dedup.embeddingCosinePairs(vecs(base: _*),
      col("vec_id"), col("embedding"), threshold = 0.5))
    assert(plain.nonEmpty) // fixture sanity: the law isn't vacuous
    val coll = quints(Dedup.embeddingCosinePairsCollapsed(dup,
      col("vec_id"), col("embedding"), threshold = 0.5))
    assert(coll.map(t => (t._1, t._2, t._3)) == plain, s"got $coll")
    assert(coll.forall(t => t._4 == m && t._5 == m))
    // the quadratic bill the collapse avoids: C(m,2) cos=1 pairs per
    // dup set plus m·m copies of every real near-dup pair
    val naive = Dedup.embeddingCosinePairs(dup, col("vec_id"),
      col("embedding"), threshold = 0.5).count()
    assert(naive == base.size * m * (m - 1) / 2 + plain.size * m * m,
      s"naive $naive")
    // the LSH candidate path keeps the same law (deterministic planes)
    val plainL = triples(Dedup.embeddingCosinePairsLsh(vecs(base: _*),
      col("vec_id"), col("embedding"), threshold = 0.5, dim = 4))
    val collL = quints(Dedup.embeddingCosinePairsLshCollapsed(dup,
      col("vec_id"), col("embedding"), threshold = 0.5, dim = 4))
    assert(collL.map(t => (t._1, t._2, t._3)) == plainL, s"got $collL")
    assert(collL.forall(t => t._4 == m && t._5 == m))
    // NULL embeddings stay singletons (absence of a vector is not
    // equality of vectors): two null rows neither merge, pair, nor
    // perturb the real output
    val withNulls = dup.unionByName(
      Seq(998L, 999L).map(i => (i, Option.empty[Seq[Float]]))
        .toDF("vec_id", "embedding"))
    assert(quints(Dedup.embeddingCosinePairsCollapsed(withNulls,
      col("vec_id"), col("embedding"), threshold = 0.5)) == coll)
  }

  test("incremental minhash emits cross-side pairs only, never within a side") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "the quick brown fox jumps over the lazy dog near the river bend" // ~a
    val c = "completely different content with no overlap whatsoever at all here"
    // two IDENTICAL docs INSIDE the new batch (ids 1,2) must NOT pair
    // with each other; every emitted pair is (new, old) — including
    // the COLLIDING id 3 (independent id spaces: new batch ids restart,
    // so new doc 3 near-dupping OLD doc 3 must still be reported)
    val nw = docs(1L -> a, 2L -> a, 3L -> c)
    val old = docs(101L -> b, 3L -> c.replace("different", "changed"))
    val got = Dedup.minhashLshPairsAgainst(
        nw, col("doc_id"), col("text"), old, col("doc_id"), col("text"),
        n = 2, bands = 32, rows = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 101L), (2L, 101L), (3L, 3L)), s"got $got")
  }

  test("incremental minhash degenerate inputs: empty sides yield empty, not errors") {
    val some = docs(1L -> "the quick brown fox jumps over the lazy dog right now")
    val none = docs()
    assert(Dedup.minhashLshPairsAgainst(none, col("doc_id"), col("text"),
      some, col("doc_id"), col("text")).count() == 0)
    assert(Dedup.minhashLshPairsAgainst(some, col("doc_id"), col("text"),
      none, col("doc_id"), col("text")).count() == 0)
  }

  test("incremental minhash from a parquet index equals the recompute path") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "the quick brown fox jumps over the lazy dog near the river bend" // ~a
    val c = "completely different content with no overlap whatsoever at all here"
    val nw = docs(1L -> a, 2L -> c)
    val old = docs(101L -> b, 102L -> c.replace("different", "changed"))
    val dir = java.nio.file.Files.createTempDirectory("graft-mh-index").toString + "/idx"
    Dedup.minhashIndex(old, col("doc_id"), col("text"), n = 2, k = 64)
      .write.parquet(dir)
    val fromIndex = Dedup.minhashLshPairsAgainstIndex(
        nw, col("doc_id"), col("text"), spark.read.parquet(dir),
        n = 2, bands = 32, rows = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val recomputed = Dedup.minhashLshPairsAgainst(
        nw, col("doc_id"), col("text"), old, col("doc_id"), col("text"),
        n = 2, bands = 32, rows = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // (1,101): one word off -> J~0.64; (2,102): one word off -> J=7/11
    assert(fromIndex == recomputed &&
      fromIndex.map(p => (p._1, p._2)) == Set((1L, 101L), (2L, 102L)),
      s"index $fromIndex vs recompute $recomputed")

    // the fully-precomputed path (index + its banded rows pinned by the
    // caller — the per-micro-batch screening shape) must agree too
    val idx = spark.read.parquet(dir)
    val fromBanded = Dedup.minhashLshPairsAgainstBandedIndex(
        nw, col("doc_id"), col("text"), idx,
        Dedup.minhashIndexBands(idx, bands = 32, rows = 2),
        n = 2, bands = 32, rows = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromBanded == recomputed, s"banded $fromBanded vs recompute $recomputed")
  }

  test("passage coverage counts cross-doc windows only; short docs survive at 0") {
    // docs 1/2 share exactly one 5-gram window ("a b c d e"); doc 3 repeats
    // its own passage twice but shares nothing cross-doc; doc 4 is too
    // short for any window. n=5.
    val df = docs(
      1L -> "a b c d e f g h",          // 4 windows, 1 shared
      2L -> "x y a b c d e z",          // 4 windows, 1 shared
      3L -> "p q r s t u p q r s t u",  // 8 windows, self-repeat only
      4L -> "tiny doc")                 // 0 windows
    val got = Dedup.passageDupStats(df, col("doc_id"), col("text"), n = 5)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 4L, 1L, 0.25), (2L, 4L, 1L, 0.25), (3L, 8L, 0L, 0.0), (4L, 0L, 0L, 0.0)),
      s"got ${got.toSeq}")
  }

  test("passage coverage counts every occurrence of a shared gram (bag semantics)") {
    // doc 1 repeats the shared passage twice -> BOTH its windows count
    val df = docs(
      1L -> "a b c d e a b c d e",      // 6 windows; "a b c d e" at 2 positions
      2L -> "z z a b c d e z z")        // shares "a b c d e"
    val got = Dedup.passageDupStats(df, col("doc_id"), col("text"), n = 5)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L), s"got $got")
  }

  test("exact incremental screen drops exactly the already-indexed contents") {
    // history: two distinct contents (one with case/whitespace variants
    // collapsing under the shared normalization)
    val hist = docs(1L -> "Hello  World", 2L -> "something else")
    val dir = java.nio.file.Files.createTempDirectory("graft-ch-idx").toString + "/idx"
    Dedup.contentHashIndex(hist, col("text")).write.parquet(dir)
    // increment: a normalized replay of doc 1, an exact replay of doc 2,
    // and a genuinely new doc
    val inc = docs(10L -> "hello world", 11L -> "something else", 12L -> "brand new")
    val kept = Dedup.exactDedupAgainstIndex(inc, col("text"),
        spark.read.parquet(dir))
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(12L), s"got ${kept.toSeq}")
    // survivors keep their full original row shape
    assert(Dedup.exactDedupAgainstIndex(inc, col("text"),
      spark.read.parquet(dir)).columns.toSeq == Seq("doc_id", "text"))
  }

  test("index screens against a mismatched-k index fail loudly, not silently") {
    // a wrong (bands, rows) vs the index's k would compute band hashes
    // from PARTIAL signatures and silently miss near-dups — the guards
    // must turn that into a hard error on both index paths
    val old = docs(101L -> "the quick brown fox jumps over the lazy dog")
    val idx = Dedup.minhashIndex(old, col("doc_id"), col("text"), n = 2, k = 64)
    val nw = docs(1L -> "the quick brown fox jumps over the lazy cat")
    // the GUARD's message must appear somewhere in the cause chain — a
    // mere "some exception was thrown" would also pass if the guard
    // were deleted and the mismatch failed later for another reason
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val wrong = intercept[Exception] {
      Dedup.minhashLshPairsAgainstIndex(nw, col("doc_id"), col("text"), idx,
        n = 2, bands = 16, rows = 8).count() // bands*rows = 128 != 64
    }
    assert(msgs(wrong).exists(_.contains("signature length")), s"unexpected: $wrong")
    val wrongBands = intercept[Exception] {
      Dedup.minhashIndexBands(idx, bands = 16, rows = 8).count()
    }
    assert(msgs(wrongBands).exists(_.contains("signature length")),
      s"unexpected: $wrongBands")
    // and the CORRECT shape still sails through both guards, with the
    // documented column order (positional readers rely on it)
    val bands = Dedup.minhashIndexBands(idx, bands = 32, rows = 2)
    assert(bands.columns.toSeq == Seq("doc_id", "band", "band_hash"))
    assert(bands.count() > 0)
  }

  /** Ids of the `batch` rows the probe calls near-dups at `threshold`. */
  private def probeHits(probe: Dedup.MinhashProbe, batch: org.apache.spark.sql.DataFrame,
                        threshold: Double): Set[Long] =
    batch.filter(probe.nearDup(col("text"), threshold))
      .collect().map(_.getLong(0)).toSet

  private def msgChain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  test("minhash probe screens exactly the banded-index new_id set") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"w$i")
    def words(k: Int) = Seq.fill(k)(vocab(rnd.nextInt(vocab.size)))
    def edit(t: String, k: Int) = {
      val ws = t.split(" ").toBuffer
      (0 until k).foreach(_ => ws(rnd.nextInt(ws.size)) = vocab(rnd.nextInt(vocab.size)))
      ws.mkString(" ")
    }
    // index: 200 random docs, 20 clusters of 5 identical docs (every
    // band bucket holds 5 → evicted at maxBucket 3), doc 7 stored twice
    // under one id, and the 4-word doc whose 3-word prefix has J = 2/3
    val random = (0L until 200L).map(i => i -> words(12).mkString(" "))
    val clusters = (0 until 20).map(_ => words(12).mkString(" "))
    val clustered = for ((t, c) <- clusters.zipWithIndex; j <- 0 until 5)
      yield (1000L + c * 5 + j) -> t
    val dupId = 7L -> "dup id second text with its very own words here"
    val twoThirds = 2000L -> "q1 q2 q3 q4"
    val idxDir = java.nio.file.Files.createTempDirectory("graft-probe").toString + "/idx"
    Dedup.minhashIndex(docs(random ++ clustered ++ Seq(dupId, twoThirds): _*),
      col("doc_id"), col("text")).write.parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    // batch: near-dups (1-3 words edited) of random docs and of each
    // cluster (one each, so no batch bucket outgrows maxBucket), fresh
    // docs, the J = 2/3 prefix, a near-dup of doc 7's second text,
    // shingle-less and null text
    val batch = docs(
      (0 until 120).map(i => (10000L + i) -> edit(random(rnd.nextInt(200))._2, 1 + i % 3)) ++
      clusters.zipWithIndex.map { case (t, c) => (20000L + c) -> edit(t, 1) } ++
      (0 until 150).map(i => (30000L + i) -> words(12).mkString(" ")) ++
      Seq(40000L -> "q1 q2 q3", 40001L -> "dup id second text with its very own words there",
        40002L -> "single", 40003L -> "", 40004L -> null): _*)
    def uncapped(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashIndexBands(d, maxBucket = Int.MaxValue).count()
    val batchIdx = Dedup.minhashIndex(batch, col("doc_id"), col("text"))
    // the regime where both paths must agree: the batch side's own
    // bucket cap evicts nothing, the index side's does
    assert(Dedup.minhashIndexBands(batchIdx, maxBucket = 3).count() == uncapped(batchIdx))
    assert(Dedup.minhashIndexBands(idx, maxBucket = 3).count() < uncapped(idx))

    val results = for ((maxBucket, threshold) <- Seq((1000, 0.5), (3, 0.5), (1000, 0.6667))) yield {
      val pairs = Dedup.minhashLshPairsAgainstBandedIndex(batch, col("doc_id"), col("text"),
          idx, Dedup.minhashIndexBands(idx, maxBucket = maxBucket),
          threshold = threshold, maxBucket = maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val probe = Dedup.minhashProbe(idx, maxBucket = maxBucket)
      try {
        val screened = probeHits(probe, batch, threshold)
        assert(screened == pairs.map(_._1).toSet,
          s"maxBucket $maxBucket threshold $threshold: probe-only " +
            s"${screened -- pairs.map(_._1)}, banded-only ${pairs.map(_._1).toSet -- screened}")
        (maxBucket, threshold) -> pairs
      } finally probe.release()
    }
    val hits = results.toMap.map { case (k, ps) => k -> ps.map(_._1).toSet }
    // every planted case was exercised
    assert(hits((1000, 0.5)).size > 50 && hits((1000, 0.5)).size < 150, s"${hits((1000, 0.5)).size}")
    val clusterRows = (20000L until 20020L).toSet
    assert((hits((1000, 0.5)) & clusterRows).size >= 15, "cluster near-dups found uncapped")
    assert((hits((3, 0.5)) & clusterRows).isEmpty, "cluster near-dups evicted at cap 3")
    assert(hits((1000, 0.5)).contains(40001L), "near-dup of the duplicated doc_id's second text")
    assert(!(40002L to 40004L).exists(hits((1000, 0.5))), "shingle-less and null text")
    // J = 2/3 rounds to exactly the threshold 0.6667 (unrounded it is below)
    assert(results.toMap.apply((1000, 0.6667)).contains((40000L, 2000L, 0.6667)))
  }

  test("minhash probe: a wrong-k index fails loudly; release destroys the broadcast") {
    val idx = Dedup.minhashIndex(docs(101L -> "the quick brown fox jumps over the lazy dog"),
      col("doc_id"), col("text"), n = 2, k = 64)
    val before = Dedup.MinhashProbe.live.get
    val wrong = intercept[Exception](Dedup.minhashProbe(idx, bands = 16, rows = 8))
    assert(msgChain(wrong).exists(_.contains("signature length")), s"unexpected: $wrong")
    assert(Dedup.MinhashProbe.live.get == before)
    val probe = Dedup.minhashProbe(idx, bands = 32, rows = 2)
    val nw = docs(1L -> "the quick brown fox jumps over the lazy cat")
    assert(probeHits(probe, nw, 0.5) == Set(1L))
    assert(Dedup.MinhashProbe.live.get == before + 1)
    probe.release()
    probe.release()
    assert(Dedup.MinhashProbe.live.get == before)
    val used = intercept[Exception](probeHits(probe, nw, 0.5))
    assert(msgChain(used).exists(_.contains("destroyed")), s"unexpected: $used")
  }

  test("minhash probe screens a same-batch burst larger than maxBucket; the banded join lets it through") {
    // the probe has no batch-side bucket cap: 5 copies of one near-dup
    // in one batch fill every batch bucket past maxBucket = 3, which
    // the banded join evicts, while each row still probes alone
    val anchor = "the quick brown fox jumps over the lazy dog near the river bank"
    val idx = Dedup.minhashIndex(docs(1L -> anchor), col("doc_id"), col("text"))
    val burst = docs((10L until 15L).map(_ -> anchor.replace("bank", "bend")): _*)
    assert(Dedup.minhashLshPairsAgainstBandedIndex(burst, col("doc_id"), col("text"),
      idx, Dedup.minhashIndexBands(idx, maxBucket = 3), maxBucket = 3).count() == 0)
    val probe = Dedup.minhashProbe(idx, maxBucket = 3)
    try assert(probeHits(probe, burst, 0.5) == (10L until 15L).toSet)
    finally probe.release()
  }

  test("passage removal drops exactly the cross-doc duplicated spans") {
    // same fixture family as the coverage tests: docs 1/2 share the
    // 5-gram "a b c d e" (doc 1 at pos 0, doc 2 at pos 2); doc 3
    // self-repeats only (untouched, returned BYTE-identical including
    // its doubled space); doc 4 is too short for any window.
    val df = docs(
      1L -> "a b c d e f g h",           // tokens 0-4 covered -> "f g h"
      2L -> "x y a b c d e z",           // tokens 2-6 covered -> "x y z"
      3L -> "p q r s t u p q r s t u",   // self-repeat: untouched
      4L -> "tiny doc")                  // no windows: untouched
    val got = Dedup.passageDupRemove(df, col("doc_id"), col("text"), n = 5)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, "f g h", 5L), (2L, "x y z", 5L),
      (3L, "p q r s t u p q r s t u", 0L), (4L, "tiny doc", 0L)),
      s"got ${got.toSeq}")
  }

  test("passage removal covers the union of overlapping duplicated windows") {
    // docs share the 6-token passage "a b c d e f": each side has two
    // overlapping duplicated 5-gram windows whose COVERED-TOKEN union
    // (not sum) must be removed — 6 tokens, not 10
    val df = docs(
      1L -> "a b c d e f tail1 tail2",
      2L -> "lead a b c d e f tail3")
    val got = Dedup.passageDupRemove(df, col("doc_id"), col("text"), n = 5)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, "tail1 tail2", 6L), (2L, "lead tail3", 6L)),
      s"got ${got.toSeq}")
  }

  test("line dedup drops cross-doc repeated lines, keeps structure and unique lines") {
    // "Share" repeats across docs 1/2 (dropped); each doc's unique
    // lines keep their order; the whitespace-only line is structure
    // and never drops even though every doc has one; doc 3 has no
    // duplicated line and returns BYTE-identical (doubled space kept)
    val df = docs(
      1L -> "alpha one\nShare this\n   \nbeta",
      2L -> "gamma\nShare this\n   \ndelta two",
      3L -> "solo  doc\n   \nwith  doubled  spaces")
    val got = Dedup.lineDupRemove(df, col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, "alpha one\n   \nbeta", 1L),
      (2L, "gamma\n   \ndelta two", 1L),
      (3L, "solo  doc\n   \nwith  doubled  spaces", 0L)),
      s"got ${got.toSeq}")
  }

  test("line dedup thresholds: minDocs above the repeat count and minChars keep lines") {
    val df = docs(
      1L -> "Share this\nzz\nuniq1",
      2L -> "Share this\nzz\nuniq2")
    // minDocs=3: the 2-doc repeat survives everywhere
    val loose = Dedup.lineDupRemove(df, col("doc_id"), col("text"), minDocs = 3)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(loose.toSeq == Seq(("Share this\nzz\nuniq1", 0L),
      ("Share this\nzz\nuniq2", 0L)))
    // minChars=3: the duplicated 2-char line is structure, the longer
    // duplicated line still drops
    val short = Dedup.lineDupRemove(df, col("doc_id"), col("text"), minChars = 3)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(short.toSeq == Seq(("zz\nuniq1", 1L), ("zz\nuniq2", 1L)),
      s"got ${short.toSeq}")
  }

  test("within-doc line repeats: first kept, later dropped, structure immune") {
    // doc 1: "nav menu" appears 3× — first survives, 2 drop; blank-ish
    //   lines repeat but never drop; order of survivors preserved
    // doc 2: repeats only ACROSS docs (same text as doc 1's nav) — an
    //   intra-doc op must NOT touch it; byte-identical via short-circuit
    val df = docs(
      1L -> "nav menu\nbody a\n  \nnav menu\nbody b\n  \nnav menu",
      2L -> "nav menu\nbody  c  with  doubled  spaces")
    val got = Dedup.lineRepeatRemove(df, col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, "nav menu\nbody a\n  \nbody b\n  ", 2L),
      (2L, "nav menu\nbody  c  with  doubled  spaces", 0L)),
      s"got ${got.toSeq}")
  }

  test("within-doc line repeats: minChars shields short lines and their repeats") {
    val df = docs(1L -> "zz\nlong enough line\nzz\nlong enough line\nzz")
    // minChars=3: the 2-char "zz" repeats survive intact; the long
    // repeat still collapses to its first occurrence
    val got = Dedup.lineRepeatRemove(df, col("doc_id"), col("text"), minChars = 3)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("zz\nlong enough line\nzz\nzz", 1L)),
      s"got ${got.toSeq}")
  }

  test("minhash-LSH output equals brute-force truth on sf0.001 documents") {
    val t = graft.sources.Tables(spark, sf)
    val brute = Dedup.ngramJaccardPairs(t.documents, col("doc_id"), col("text"), 2, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(t.documents, col("doc_id"), col("text"), 2, 32, 2, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "expected planted near-dups in test data")
    assert(lsh == brute)
  }

  test("identical token multisets get identical simhash; disjoint texts differ") {
    val df = docs(
      1L -> "alpha beta gamma delta",
      2L -> "delta gamma beta alpha", // permutation → same multiset
      3L -> "epsilon zeta eta theta iota kappa")
    val sigs = df.select(col("doc_id"), Dedup.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("simhash pairs finds the permuted near-dup") {
    val df = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "zeta epsilon delta gamma beta alpha",
      3L -> "totally unrelated words here only once")
    val pairs = Dedup.simhashPairs(df, col("doc_id"), col("text"), maxDist = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("embedding cosine pairs: identical vectors hit 1.0, orthogonal excluded") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(df, col("vec_id"), col("embedding"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("vec_a", "vec_b", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("blocked embedding pairs equal the brute all-pairs truth on sf0.001") {
    val e = graft.sources.Tables(spark, sf).embeddings
    val brute = pairSet(Dedup.embeddingCosinePairsBrute(e, col("vec_id"), col("embedding"), 0.4))
    val blocked = pairSet(Dedup.embeddingCosinePairs(e, col("vec_id"), col("embedding"), 0.4))
    assert(brute.nonEmpty)
    assert(blocked == brute)
  }

  test("blocked embedding pairs counts same-block pairs exactly once (blocks > n)") {
    import spark.implicits._
    // 3 vectors, 16 blocks: exercises the diagonal-cell dedup guard
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.01f)), (3L, Array(0.98f, 0.02f)))
      .toDF("vec_id", "embedding")
    val rows = Dedup.embeddingCosinePairs(df, col("vec_id"), col("embedding"), 0.5)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length)
    assert(rows.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("semDedup: survivors are exactly the ids with no smaller same-cell near-dup") {
    val e = graft.sources.Tables(spark, sf).embeddings
    val cells = graft.operators.Similarity
      .ivfTrainCells(e, col("vec_id"), col("embedding"), nlist = 4, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute within-cell truth, computed independently of the operator
    val vecs = e.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      dot / (na * nb)
    }
    val ids = vecs.keys.toSeq.sorted
    val expectedDrops = (for {
      b <- ids; a <- ids
      if a < b && cells(a) == cells(b) &&
        BigDecimal(cos(vecs(a), vecs(b))).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.45
    } yield b).toSet
    val survivors = Dedup.semDedup(e, col("vec_id"), col("embedding"),
        nlist = 4, threshold = 0.45, iters = 1)
      .collect().map(_.getLong(0)).toSet
    assert(expectedDrops.nonEmpty, "threshold too high: the spec exercises nothing")
    assert(survivors == ids.toSet -- expectedDrops)
  }

  test("semDedup at the √n cell count on sf0.1 partitions the corpus correctly") {
    // the registered query trains at a toy nlist=10 on 500 vectors;
    // this exercises the √n regime (sf0.1: 2000 vectors, nlist=45)
    // and re-verifies the survivor rule against an independent
    // within-cell brute recompute at that scale
    val sf01 = "/root/testdata/sf0.1"
    val e = graft.sources.Tables(spark, sf01).embeddings
    val nlist = graft.operators.Similarity.defaultNlist(2000)
    val threshold = 0.45
    val survivors = Dedup.semDedup(e, col("vec_id"), col("embedding"),
        nlist = nlist, threshold = threshold, iters = 1)
      .collect().map(_.getLong(0)).toSet
    val cells = graft.operators.Similarity
      .ivfTrainCells(e, col("vec_id"), col("embedding"), nlist = nlist, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = e.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCell = vecs.keys.toSeq.sorted.groupBy(cells)
    val expectedDrops = byCell.values.flatMap { members =>
      for {
        b <- members; a <- members
        if a < b && BigDecimal(cos(vecs(a), vecs(b)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP) >= threshold
      } yield b
    }.toSet
    assert(expectedDrops.nonEmpty, "threshold exercises nothing at this scale")
    assert(survivors == vecs.keySet -- expectedDrops)
    info(s"sf0.1 semDedup: nlist=$nlist, ${expectedDrops.size} of ${vecs.size} dropped")
  }

  test("registered qdedup_embedding plan has no nested-loop or cartesian join") {
    val plan = graft.operators.DedupQueries.qEmbedding.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("LSH embedding pairs recover planted high-cosine near-dups exactly") {
    import spark.implicits._
    // selective regime: 40 random base vectors + 10 planted near-dups
    // (base + small noise → cosine ≈ 0.99); threshold 0.9 has a real gap
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 40).map(i => (i.toLong, vec()))
    val dups = (0 until 10).map { i =>
      val b = base(i)._2
      (100L + i, b.map(x => x + (rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val brute = pairSet(Dedup.embeddingCosinePairsBrute(df, col("vec_id"), col("embedding"), 0.9))
    val lsh = pairSet(Dedup.embeddingCosinePairsLsh(df, col("vec_id"), col("embedding"), 0.9, dim = 64))
    assert(brute.size == 10)
    assert(lsh == brute) // exact verify ⇒ precision 1; OR-construction recall ≈ 1 at this gap
  }

  test("simhash pairs equal the all-pairs Hamming truth on sf0.001 documents") {
    val t = graft.sources.Tables(spark, sf)
    val sigs = t.documents.select(col("doc_id"), Dedup.simhash64(col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs if ida < idb
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ida, idb)).toSet
    val got = Dedup.simhashPairs(t.documents, col("doc_id"), col("text"), maxDist = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pigeonhole banding is provably complete for ≤ maxDist and the
    // verify filter is exact, so equality (not ⊆) must hold
    assert(got == truth)
    assert(truth.nonEmpty, "expected at least one close signature pair in test data")
  }

  test("fnv1a64 matches published FNV-1a test vectors") {
    // Public vectors: fnv1a64("") = 0xcbf29ce484222325,
    // fnv1a64("a") = 0xaf63dc4c8601ec8c, fnv1a64("foobar") = 0x85944171f73967e8
    assert(Fnv1a64.hash("".getBytes("UTF-8")) == 0xcbf29ce484222325L)
    assert(Fnv1a64.hash("a".getBytes("UTF-8")) == 0xaf63dc4c8601ec8cL)
    assert(Fnv1a64.hash("foobar".getBytes("UTF-8")) == 0x85944171f73967e8L)
  }

  test("fnv1a64 SQL function is registered and codegen path agrees with eval") {
    import spark.implicits._
    val got = Seq("", "a", "foobar").toDF("s")
      .select(call_function("fnv1a64", col("s"))).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(0xcbf29ce484222325L, 0xaf63dc4c8601ec8cL, 0x85944171f73967e8L))
  }

  test("canonicalizeUrl: every rule fires; scheme-less passthrough; urlDedup keeps first") {
    import spark.implicits._
    def canon(s: String): String =
      Seq(s).toDF("u").select(TextFunctions.canonicalizeUrl(col("u"))).head().getString(0)
    // case + www + default port + fragment + tracking + param order + trailing slash
    assert(canon("HTTP://WWW.Example.COM:80/Path/1/page?utm_source=x&id=9&b=2#f")
      == "http://example.com/Path/1/page?b=2&id=9")
    assert(canon("https://Example.com:443/a/b/") == "https://example.com/a/b")
    // non-default port survives; path case preserved; https :80 NOT stripped
    assert(canon("https://example.com:8080/A?x=1") == "https://example.com:8080/A?x=1")
    assert(canon("https://example.com:80/a") == "https://example.com:80/a")
    // all params tracking => query dropped entirely
    assert(canon("http://e.com/p?utm_a=1&gclid=2&fbclid=3&ref=4") == "http://e.com/p")
    // a param whose NAME merely contains a tracking word is kept (anchored match)
    assert(canon("http://e.com/p?aref=1&xutm_b=2") == "http://e.com/p?aref=1&xutm_b=2")
    // scheme-less input is not a URL: unchanged
    assert(canon("not a url at all") == "not a url at all")
    // host-only root: trailing slash strips to bare host
    assert(canon("http://E.com/") == "http://e.com")

    val docs = Seq(
      (1L, "http://www.a.com/x?b=1&a=2"),
      (2L, "http://a.com/x?a=2&b=1#top"),
      (3L, "http://a.com/y")).toDF("doc_id", "url")
    val got = graft.operators.Dedup.urlDedup(docs, col("doc_id"), col("url"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      (1L, "http://a.com/x?a=2&b=1", true),
      (2L, "http://a.com/x?a=2&b=1", false),
      (3L, "http://a.com/y", true)), s"got ${got.toSeq}")

    // absence of a URL is not equality of URLs: NULL-url docs all
    // survive (xxhash64(NULL) = the seed would otherwise collapse
    // every url-less doc into one "duplicate" group)
    val withNulls = Seq((1L, null: String), (2L, null: String),
      (3L, "http://a.com/z"), (4L, "http://a.com/z")).toDF("doc_id", "url")
    val ng = graft.operators.Dedup.urlDedup(withNulls, col("doc_id"), col("url"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getBoolean(2)))
    assert(ng.toSeq == Seq(1L -> true, 2L -> true, 3L -> true, 4L -> false),
      s"got ${ng.toSeq}")
  }

  test("langId picks the profile with most hits") {
    import spark.implicits._
    val df = Seq(
      "the cat and the dog sat on the mat with it",
      "der hund und die katze ist nicht auf der couch",
      "el perro y la casa es una de las cosas").toDF("text")
    val got = df.select(TextFunctions.langId(col("text"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "de", "es"))
  }

  test("winnowing: locality guarantee, window-min selection, rightmost ties") {
    import spark.implicits._
    // identical 40-char prose block planted inside two otherwise
    // different docs: winnowing (k=8, w=4) must select at least one
    // IDENTICAL fingerprint from each (shared substring len 40 ≥ w+k-1)
    val shared = "the quick brown fox jumps over the lazy"
    val docs = Seq(
      (1L, s"AAAA $shared BBBB"),
      (2L, s"XXXXXX $shared YYYYYY"),
      (3L, "completely unrelated content here with nothing in common at all")
    ).toDF("doc_id", "text")
    val fps = graft.operators.Dedup.winnowFingerprints(
        docs, col("doc_id"), col("text"), k = 8, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val h1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val h2 = fps.filter(_._1 == 2L).map(_._2).toSet
    val h3 = fps.filter(_._1 == 3L).map(_._2).toSet
    assert((h1 & h2).nonEmpty, "planted shared block selected no common fingerprint")
    assert((h1 & h3).isEmpty && (h2 & h3).isEmpty,
      "unrelated doc shares fingerprints")
    // rightmost tie rule: a doc of one repeated char has ONE distinct
    // k-gram hash; every window ties and must select the rightmost
    // position of its window — the distinct (pos, hash) set is exactly
    // the tail positions w..cnt (window j picks position j+w-1)
    val rep = Seq((9L, "a" * 15)).toDF("doc_id", "text") // cnt = 8 k-grams
    val reps = graft.operators.Dedup.winnowFingerprints(
        rep, col("doc_id"), col("text"), k = 8, w = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(reps.map(_._2).toSet.size == 1, "repeated char must have one hash")
    assert(reps.map(_._1).toSet == (4L to 8L).toSet,
      s"ties must resolve rightmost: got positions ${reps.map(_._1).toSet}")
  }

  test("containment catches a verbatim quote that Jaccard structurally misses") {
    import spark.implicits._
    val quote = (1 to 8).map(i => s"q$i").mkString(" ") // 8 tokens → 4 5-gram shingles
    val filler = (1 to 80).map(i => s"f$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, s"$filler $quote"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.containmentPairs(
        docs, col("doc_id"), col("text"), n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // doc 1 fully contained in doc 2 → containment 1.0 in that DIRECTION
    assert(pairs.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
      s"quote direction missed: ${pairs.toSeq}")
    // the reverse direction is far below threshold (4 of 84+ shingles)
    assert(!pairs.exists { case (a, b, _) => a == 2L && b == 1L },
      s"reverse direction must not clear 0.5: ${pairs.toSeq}")
    // and Jaccard over the same shingles is tiny — the reason this
    // operator exists: 4 shared / ~88 union ≈ 0.045
    val jac = graft.operators.Dedup.jaccardHashed(
      graft.operators.Dedup.shingleHashSet(lit(quote), 5),
      graft.operators.Dedup.shingleHashSet(lit(s"$filler $quote"), 5))
    val j = docs.sparkSession.range(1).select(round(jac, 4)).head().getDouble(0)
    assert(j < 0.1, s"fixture broken: jaccard $j should be tiny")
  }

  test("edit-distance pairs: lossless deletion blocking at d=1 and d=2") {
    import spark.implicits._
    val docs = Seq((1L, "cat"), (2L, "cut"), (3L, "cats"), (4L, "ca"),
      (5L, "dog"), (6L, "c"), (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "t")
    def pairs(d: Int) = graft.operators.Dedup.editDistancePairs(
        docs, col("doc_id"), col("t"), maxDist = d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // d=1: substitution (cat,cut), insertion (cat,cats), deletions
    // (cat,ca), (ca,c); NULL rows never pair
    assert(pairs(1) == Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1), (4L, 6L, 1)),
      s"got ${pairs(1)}")
    // d=2 adds the two-edit chains: (cut,ca) del+sub, (cats,ca) 2 del,
    // (cat,c), (cut,cats) sub+ins, (cut,c)?=2 del+sub→ed 2, (cats,c)=3 no
    assert(pairs(2) == Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1), (4L, 6L, 1),
      (2L, 3L, 2), (2L, 4L, 2), (2L, 6L, 2), (3L, 4L, 2), (1L, 6L, 2)),
      s"got ${pairs(2)}")
  }

  test("edit-distance pairs: bucket cap evicts degenerate keys; maxLen fails fast") {
    import spark.implicits._
    // 5 identical strings share every signature: bucket size 5 > cap 4
    // evicts the key cluster entirely (degenerate-key policy, the C2
    // discipline — an exact-dup pile is C1's job, not a pair explosion)
    val dup = (1L to 5L).map(i => (i, "same")).toDF("doc_id", "t")
    val capped = graft.operators.Dedup.editDistancePairs(
      dup, col("doc_id"), col("t"), maxDist = 1, maxBucket = 4)
    assert(capped.count() == 0)
    val ok = graft.operators.Dedup.editDistancePairs(
      dup, col("doc_id"), col("t"), maxDist = 1, maxBucket = 50)
    assert(ok.count() == 10) // all C(5,2) pairs at dist 0
    val long = Seq((1L, "x" * 100)).toDF("doc_id", "t")
    val e = intercept[Exception] {
      graft.operators.Dedup.editDistancePairs(
        long, col("doc_id"), col("t"), maxDist = 1, maxLen = 64).count()
    }
    assert(e.getMessage != null)
  }

  test("winnowing: short docs emit nothing; sub-window docs winnow whole-doc") {
    import spark.implicits._
    val docs = Seq((1L, "tiny"), (2L, null: String), (3L, "exactly12ch!"))
      .toDF("doc_id", "text")
    // k=8: doc 1 (4 chars) and NULL emit nothing; doc 3 has 5 k-grams
    // < w=16 → one whole-doc window → exactly one fingerprint
    val fps = graft.operators.Dedup.winnowFingerprints(
        docs, col("doc_id"), col("text"), k = 8, w = 16)
      .collect().map(_.getLong(0))
    assert(fps.toSeq == Seq(3L), s"got ${fps.toSeq}")
  }

  test("bloom screen ≡ exact screen: no false negatives, FPs cleared, nulls kept") {
    import spark.implicits._
    val hist = ((1 to 100).map(i => (i.toLong, s"history doc number $i")) :+
      (999L, null: String)) // NULL-text history must not break the sketch build
      .toDF("doc_id", "text")
    val inc = (
      (101 to 160).map(i => (i.toLong, s"fresh doc number $i")) ++
      Seq((900L, "History DOC number 7"),      // normalization-collapsed dup
          (901L, "history doc number 8"),      // byte-exact dup
          (902L, null: String), (903L, ""))    // null/empty route to KEEP
    ).toDF("doc_id", "text")
    val index = graft.operators.Dedup.contentHashIndex(hist, col("text"))
    val exact = graft.operators.Dedup.exactDedupAgainstIndex(inc, col("text"), index)
      .collect().map(_.getLong(0)).toSet
    // a well-sized filter and a SATURATED one (expectedItems=1 forces
    // ~every probe positive, driving all rows through the FP-clearing
    // exact join) must both equal the plain exact screen
    for (items <- Seq(1L, 1024L)) {
      val got = graft.operators.Dedup.bloomScreenAgainstIndex(
          inc, col("text"), index, expectedItems = items, fpp = 0.03)
        .collect().map(_.getLong(0)).toSet
      assert(got == exact, s"expectedItems=$items: $got vs $exact")
    }
    assert(!exact.contains(900L) && !exact.contains(901L),
      s"planted dups must drop: $exact")
    assert(exact.contains(902L) && exact.contains(903L),
      s"null/empty survive the screen: $exact")
    // reserved-column guard fails fast
    val clash = inc.withColumn("__maybe", lit(true))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.bloomScreenAgainstIndex(
        clash, col("text"), index, expectedItems = 10)
    }
    assert(e.getMessage.contains("__maybe"))
  }
}
