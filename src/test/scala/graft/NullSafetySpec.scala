package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** NULL-input contracts across the operator surface. The rules:
  *
  *  - absence of content is never EQUALITY of content — NULL texts /
  *    urls / embeddings must not dedup against each other;
  *  - audit booleans (any_pii, is_clean, passes) are never NULL — a
  *    NULL boolean vanishes from BOTH sides of a filter;
  *  - counts of work done are 0, not NULL, when there was nothing to
  *    work on;
  *  - rankings never award a slot to a NULL score.
  *
  * The testdata has no NULL text, so the oracles can't see these
  * paths — this spec is their gate.
  */
class NullSafetySpec extends AnyFunSuite {
  import SparkTest._

  private def docs = {
    import spark.implicits._
    Seq((1L, "hello world hello"), (2L, null: String), (3L, null: String),
      (4L, "a b c")).toDF("doc_id", "text")
  }

  test("exactDedup: NULL texts are singletons, never duplicates of each other") {
    val survivors = graft.operators.Dedup.exactDedup(
        docs, col("doc_id"), col("text"))
      .collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq == Seq(1L, 2L, 3L, 4L),
      s"null-text docs collapsed: ${survivors.toSeq}")
  }

  test("gopherGate: NULL text FAILS the gate (passes=false, not NULL)") {
    val passes = graft.functions.TextFunctions.gopherGate(
        docs, col("text"), 1, 100, 1, 100, minStopwords = 0)
      .select(col("doc_id"), col("passes"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(passes(2L) == false && passes(3L) == false)
    // and they appear on exactly one side of the filter pair
    val gated = graft.functions.TextFunctions.gopherGate(
      docs, col("text"), 1, 100, 1, 100, minStopwords = 0)
    val both = gated.filter(col("passes")).count() +
      gated.filter(!col("passes")).count()
    assert(both == 4L, s"rows vanished from both filter sides: $both of 4")
  }

  test("encodingArtifacts: NULL text is clean with zero counts") {
    val r = graft.functions.TextFunctions.encodingArtifacts(
        docs.filter(col("doc_id") === 2L), col("doc_id"), col("text"))
      .head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)) ==
      (0L, 0L, 0L, true), s"got $r")
  }

  test("lineRepeatRemove: NULL text passes through with removed_lines=0") {
    val r = graft.operators.Dedup.lineRepeatRemove(
        docs.filter(col("doc_id") === 2L), col("doc_id"), col("text"))
      .head()
    assert(r.isNullAt(1) && r.getLong(2) == 0L, s"got $r")
  }

  test("bruteTopK and mipsTopK: NULL embeddings are excluded, not ranked") {
    import spark.implicits._
    val embs = Seq((1L, Array(1.0f, 0.0f)), (2L, null: Array[Float]),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = embs.filter(col("vec_id") === 1L)
    val brute = graft.operators.Similarity.bruteTopK(
        embs, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 2)
      .collect().map(r => (r.getLong(1), r.isNullAt(3)))
    assert(brute.toSeq == Seq(3L -> false),
      s"NULL embedding took a top-k slot: ${brute.toSeq}")
    val mips = graft.operators.Similarity.mipsTopK(
        embs, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 2)
      .collect().map(_.getLong(1))
    assert(mips.toSeq == Seq(3L), s"got ${mips.toSeq}")
  }

  test("empty corpora flow through the operator surface without error") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val embs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val zeroRow = Seq(
      graft.operators.Dedup.exactDedup(docs, col("doc_id"), col("text")),
      graft.operators.Dedup.minhashLshPairs(docs, col("doc_id"), col("text")),
      graft.operators.Curation.clusters(
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), col("doc_a"), col("doc_b")),
      graft.functions.Keywords.tfIdfTopK(docs, col("doc_id"), col("text"), 2),
      graft.functions.Keywords.pmiTopK(docs, col("text"), 5, 1),
      graft.functions.Keywords.oovRate(docs, col("doc_id"), col("text"), 5),
      graft.operators.Curation.mixturePlan(
        docs.withColumn("source", lit("s")), col("source"), lit(1L), budget = 100L),
      graft.operators.Curation.packShards(docs, col("doc_id"), lit(1L), 100L),
      graft.operators.Similarity.ivfTrainCells(
        embs, col("vec_id"), col("embedding"), nlist = 4, iters = 1),
      graft.operators.Similarity.Codec.PQ(m = 2, ksub = 4).train(
        embs, col("vec_id"), col("embedding")),
      graft.operators.Similarity.bruteTopK(embs, col("vec_id"), col("embedding"),
        embs, col("vec_id"), col("embedding"), 2),
      graft.operators.Curation.corpusDiff(docs, docs, col("doc_id"), col("text")),
      graft.operators.Curation.contamination(
        docs, col("doc_id"), col("text"), docs, col("text"), 2))
    zeroRow.foreach(d => assert(d.count() == 0L, d.schema.simpleString))
    // the integrity profile's contract on two empty inputs is ONE
    // all-zeros summary row (pinned in CurationSpec) — not zero rows
    // r11 additions flow through empty too
    val zeroRow11 = Seq(
      graft.operators.Profile.sourceMinhashSketches(
        docs.withColumn("source", lit("s")), col("source"), col("text"), 2, 8),
      graft.functions.Keywords.tagByDictionary(docs, col("doc_id"), col("text"),
        Seq(("t", "x")).toDF("tag", "term")),
      graft.operators.VectorFunctions.standardize(embs, col("vec_id"), col("embedding")),
      graft.operators.Curation.dedupReport(docs, col("doc_id"), lit(1L),
        Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")),
      graft.operators.Curation.neymanAllocation(
        docs.withColumn("source", lit("s")), col("source"), lit(1L), budget = 10L),
      graft.streaming.DropStats.cusumShift(docs, col("doc_id"), lit(0L)),
      graft.streaming.DropStats.seasonalResiduals(docs, col("doc_id"), lit(0L), lag = 1L))
    zeroRow11.foreach(d => assert(d.count() == 0L, d.schema.simpleString))
  }

  test("r11 operators honor the NULL contracts") {
    import spark.implicits._
    // NULL text: no shingles -> no sketch row for an all-NULL source,
    // other sources unaffected
    val mixed = Seq(("a", "x y z w"), ("b", null: String))
      .toDF("source", "text")
    val sk = graft.operators.Profile.sourceMinhashSketches(
        mixed, col("source"), col("text"), n = 2, k = 8)
      .collect().map(_.getString(0)).toSeq
    assert(sk == Seq("a"), s"NULL-text source must emit no sketch: $sk")
    // NULL text: no grams -> no tags, no crash
    val tagged = graft.functions.Keywords.tagByDictionary(
      Seq((1L, null: String), (2L, "x y")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), Seq(("t", "x")).toDF("tag", "term"))
    assert(tagged.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // NULL bytes: count as 0, never NULL the cluster's byte totals
    val rep = graft.operators.Curation.dedupReport(
        Seq((1L, java.lang.Long.valueOf(10L)), (2L, null: java.lang.Long))
          .toDF("doc_id", "n_bytes"),
        col("doc_id"), col("n_bytes"),
        Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id"))
      .collect()
    assert(rep.length == 1)
    assert(rep.head.getLong(4) == 10L && rep.head.getLong(5) == 0L,
      "NULL-byte member contributes 0 bytes; keep-min survivor is doc 1")
    // NULL metric: stratum keeps its size, contributes no variance
    val ney = graft.operators.Curation.neymanAllocation(
        Seq(("a", java.lang.Long.valueOf(1L)), ("a", null: java.lang.Long),
          ("a", java.lang.Long.valueOf(5L)), ("b", java.lang.Long.valueOf(3L)))
          .toDF("src", "x"),
        col("src"), col("x"), budget = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ney("a") == 3L, "NULL-metric rows still count toward N_h")
  }

  test("LM scorers and oovRate report zero-token NULL-text docs honestly") {
    val uni = graft.functions.Keywords.unigramLogProb(
        docs, col("doc_id"), col("text"))
      .filter(col("doc_id") === 2L).head()
    assert(uni.getLong(1) == 0L && uni.isNullAt(3), s"got $uni")
    val oov = graft.functions.Keywords.oovRate(
        docs, col("doc_id"), col("text"), vocabK = 2)
      .filter(col("doc_id") === 2L).head()
    assert(oov.getLong(1) == 0L && oov.getLong(2) == 0L && oov.isNullAt(3),
      s"got $oov")
  }
}
