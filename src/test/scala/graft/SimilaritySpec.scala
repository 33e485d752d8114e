package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.operators.Similarity.{Codec, Ivf}
import graft.multimodal.Media
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite {
  import SparkTest._

  test("bruteTopK returns exact neighbors on a constructed corpus") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteTopK(corpus, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 2L)))
  }

  test("knnLabel: majority vote, vote counts, and lexicographic tie-break") {
    import spark.implicits._
    // two well-separated labeled clusters in 2D: x-axis = "a", y-axis = "b"
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.95f, 0.05f), "a"),
      (3L, Array(0.9f, 0.1f), "a"),
      (4L, Array(0.0f, 1.0f), "b"), (5L, Array(0.05f, 0.95f), "b"),
      (6L, Array(0.1f, 0.9f), "b")).toDF("vec_id", "embedding", "lbl")
    val queries = Seq(
      (10L, Array(1.0f, 0.02f)),  // firmly in the "a" cluster
      (11L, Array(0.02f, 1.0f))   // firmly in the "b" cluster
    ).toDF("vec_id", "embedding")
    val got = Similarity.knnLabel(labeled, col("vec_id"), col("embedding"),
        col("lbl"), queries, col("vec_id"), col("embedding"), k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((10L, "a", 3L), (11L, "b", 3L)))

    // k=2 on a mid-diagonal query: nearest two are one from each cluster
    // (1 vote each) — the tie must go to the lexicographically smallest
    // label, deterministically, not to whichever partition answered first
    val mid = Seq((12L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val tie = Similarity.knnLabel(labeled, col("vec_id"), col("embedding"),
        col("lbl"), mid, col("vec_id"), col("embedding"), k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(tie.toSeq == Seq((12L, "a", 1L)))
  }

  test("lshTopK recall@5 vs brute force is high on test embeddings") {
    val e = Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), 5))
    val lsh = pairs(Similarity.lshTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), 5, dim = 64))
    // measured 0.88 at the 16×4 defaults on this corpus (deterministic:
    // fixed hyperplane seed); bound pinned at measured − 0.1 so a
    // bucketing regression can't hide behind a loose threshold
    val recall = (brute & lsh).size.toDouble / brute.size
    info(s"measured recall@5 = $recall")
    assert(recall >= 0.78, s"recall@5 = $recall (LSH candidates too sparse)")
    // every LSH hit must carry the true cosine rank order property:
    assert(lsh.nonEmpty)
  }

  // measured 0.48 at shortlist=50 (m=4, ksub=8, sf0.001's 500 vectors;
  // deterministic: FNV-seeded train), pinned at measured − 0.1
  private val RecallFloorPq = 0.38

  test("pqTopK recall@5 rises with the shortlist and holds the pinned floor") {
    val e = Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), 5))
    val pqCodec = Codec.PQ(m = 4, ksub = 8)
    val (books, codes) = Similarity.annIndex(pqCodec, e, col("vec_id"), col("embedding"))
    def recallAt(shortlist: Int): Double = {
      val pq = pairs(Similarity.annSearch(pqCodec, books, codes,
        e, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"),
        k = 5, shortlist = shortlist))
      (brute & pq).size.toDouble / brute.size
    }
    val (r50, r100) = (recallAt(50), recallAt(100))
    info(s"measured pq recall@5: shortlist=50 -> $r50, shortlist=100 -> $r100")
    assert(r50 >= RecallFloorPq, s"recall@5 = $r50 (ADC shortlist too lossy)")
    // a larger shortlist's candidates are a superset, and the re-rank
    // is exact — recall is monotone in the shortlist BY CONSTRUCTION
    assert(r100 >= r50, s"monotonicity broken: $r100 < $r50")
  }

  /** PQ search bounded by a 10-cell trained IVF index probed 3 cells
    * per query — the qann_ivfpq composition. */
  private def ivfPqSearch(e: org.apache.spark.sql.DataFrame,
                          q: org.apache.spark.sql.DataFrame,
                          shortlist: Int): org.apache.spark.sql.DataFrame = {
    val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"), nlist = 10)
    val pq = Codec.PQ(m = 4, ksub = 8)
    val (books, codes) = Similarity.annIndex(pq, e, col("vec_id"), col("embedding"))
    Similarity.annSearch(pq, books, codes, e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5, shortlist = shortlist,
      ivf = Some(Ivf(cents, cells, nprobe = 3)))
  }

  test("ivfPqTopK with a full shortlist equals ivfTopK over the same trained cells") {
    // the PQ stage only ORDERS the probed candidates; with shortlist >=
    // corpus the exact re-rank sees every candidate, so the composed
    // search must equal plain IVF over the identical trained index —
    // any difference is a composition bug, not quantization loss
    val e = Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val cells = Similarity.ivfTrainCells(e, col("vec_id"), col("embedding"),
      nlist = 10, iters = 1)
    val indexed = e.join(cells, "vec_id")
    val ivf = rows(Similarity.ivfTopK(indexed, col("vec_id"), col("embedding"),
      col("cell"), indexed.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 5, nprobe = 3))
    val ivfpq = rows(ivfPqSearch(e, q, shortlist = 600))
    assert(ivfpq == ivf, s"ivfpq ${ivfpq.take(5)} vs ivf ${ivf.take(5)}")

    // realistic shortlist: the ADC ordering now DECIDES which probed
    // candidates survive — a scrambled composed scoring (e.g. the
    // wrong query's LUT) cannot hide behind the full-shortlist case.
    // Recall is measured against the plain-IVF result over the SAME
    // trained cells (the candidate ceiling), and is monotone in the
    // shortlist by construction (superset candidates, exact re-rank).
    val ivfSet = ivf.map(r => (r._1, r._2)).toSet
    def recallAt(shortlist: Int): Double = {
      val got = rows(ivfPqSearch(e, q, shortlist)).map(r => (r._1, r._2)).toSet
      (ivfSet & got).size.toDouble / ivfSet.size
    }
    val (r20, r60) = (recallAt(20), recallAt(60))
    info(s"measured ivf+pq recall@5 vs plain ivf: shortlist=20 -> $r20, 60 -> $r60")
    assert(r20 >= RecallFloorIvfPq, s"recall@5 = $r20 (composed ADC too lossy)")
    assert(r60 >= r20, s"monotonicity broken: $r60 < $r20")
  }

  test("PQ with m not dividing dim fails loudly instead of truncating") {
    // dim 64, m = 5: the old behavior silently dropped the trailing
    // 4 dimensions from every vector; the per-row guard must make it
    // a hard error at execution
    val e = Tables(spark, sf).embeddings
    intercept[Exception] {
      val pq = Codec.PQ(m = 5, ksub = 8)
      val (books, codes) = Similarity.annIndex(pq, e, col("vec_id"), col("embedding"))
      Similarity.annSearch(pq, books, codes, e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 3), col("vec_id"), col("embedding"),
        k = 3, shortlist = 10).count()
    }
  }

  test("residual IVF+PQ: full shortlist equals plain IVF; recall >= non-residual") {
    // same two-part proof as the non-residual composition test: (1) the
    // residual ADC only ORDERS the probed candidates, so with shortlist
    // >= corpus the exact re-rank must reproduce plain IVF over the
    // same trained cells; (2) at a tight shortlist the residual
    // encoding (IVFADC) must not LOSE recall vs PQ on raw vectors at
    // the identical m/ksub/shortlist budget — the entire point of
    // encoding v − µ is that residuals quantize better
    val e = Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val cells = Similarity.ivfTrainCells(e, col("vec_id"), col("embedding"),
      nlist = 10, iters = 1)
    val indexed = e.join(cells, "vec_id")
    val ivf = rows(Similarity.ivfTopK(indexed, col("vec_id"), col("embedding"),
      col("cell"), indexed.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 5, nprobe = 3))
    def resAt(shortlist: Int) =
      rows(Similarity.ivfPqResTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"),
        nlist = 10, nprobe = 3, m = 4, ksub = 8, k = 5, shortlist = shortlist))
    assert(resAt(600) == ivf, "full-shortlist residual search != plain IVF")
    val ivfSet = ivf.map(r => (r._1, r._2)).toSet
    def recallOf(got: Seq[(Long, Long, Long, Double)]): Double =
      (ivfSet & got.map(r => (r._1, r._2)).toSet).size.toDouble / ivfSet.size
    val res20 = recallOf(resAt(20))
    val plain20 = recallOf(rows(ivfPqSearch(e, q, shortlist = 20)))
    info(s"measured recall@5 at shortlist=20: residual $res20 vs raw-vector $plain20")
    assert(res20 >= plain20,
      s"residual encoding lost recall: $res20 < $plain20 at equal budget")
  }

  test("IVF search from a parquet index equals the inline path") {
    // ivfTopK pays the centroid aggregation + a corpus-wide scoring
    // pass per call; ivfIndex materializes both outputs so the search
    // path skips them. Round-tripped through parquet, the index-backed
    // search must be pair-for-pair the inline result over the same
    // trained seed cells.
    val e = Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val cells = Similarity.ivfTrainCells(e, col("vec_id"), col("embedding"),
      nlist = 10, iters = 1)
    val indexed = e.join(cells, "vec_id")
    val inline = rows(Similarity.ivfTopK(indexed, col("vec_id"), col("embedding"),
      col("cell"), indexed.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 5, nprobe = 3))
    val (cents, assign) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
      nlist = 10, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    assign.write.mode("overwrite").parquet(s"$dir/cells")
    val viaIndex = rows(Similarity.ivfTopKAgainstIndex(
      spark.read.parquet(s"$dir/centroids"), spark.read.parquet(s"$dir/cells"),
      e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5, nprobe = 3))
    assert(viaIndex == inline,
      s"index path ${viaIndex.take(3)} vs inline ${inline.take(3)}")
  }

  test("IVFADC search from a parquet index equals the inline residual path") {
    // the complete billion-scale state: centroids + cells + residual
    // codebook + byte codes, all materialized; searching against the
    // round-tripped tables must be pair-for-pair the inline
    // train-and-search result (deterministic FNV-seeded trains,
    // parquet round-trips doubles exactly)
    val e = Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val inline = rows(Similarity.ivfPqResTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"),
      nlist = 10, nprobe = 3, m = 4, ksub = 8, k = 5, shortlist = 30))
    val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
      e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8)
    assert(codes.schema("codes").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType == org.apache.spark.sql.types.ByteType,
      s"IVFADC codes not byte-typed: ${codes.schema("codes").dataType}")
    // the four artifacts round-trip through the atomic
    // generation-publish path — the IVFADC reader's versioned form
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfadc").toString
    graft.sources.Layout.publishIndexVersion(spark, dir, Map(
      "centroids" -> cents, "cells" -> cells,
      "books" -> books, "codes" -> codes))
    val (_, art) = graft.sources.Layout.readIndexVersion(spark, dir,
      Seq("centroids", "cells", "books", "codes"))
    val viaIndex = rows(Similarity.ivfPqResTopKAgainstIndex(
      art("centroids"), art("cells"), art("books"), art("codes"),
      e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"),
      m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30))
    assert(viaIndex == inline,
      s"index path ${viaIndex.take(3)} vs inline ${inline.take(3)}")
  }

  test("IVFADC append of the index's own rows reproduces its tables exactly") {
    // frozen-artifact assignment + residual encode is the build path's
    // own per-row function, so re-encoding the corpus the index was
    // built on must be byte-for-byte the stored tables — the equality
    // that makes a grown index indistinguishable from a rebuilt encode
    val e = Tables(spark, sf).embeddings
    val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
      e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8)
    val (appCells, appCodes) = Similarity.ivfPqResAppend(
      cents, books, e, col("vec_id"), col("embedding"), m = 4, ksub = 8)
    def cellRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Byte](1).toList)).toSeq.sortBy(_._1)
    assert(cellRows(appCells) == cellRows(cells))
    assert(codeRows(appCodes) == codeRows(codes))
  }

  test("IVFADC grown index: append + full-probe search equals brute force over the union") {
    // index built on the OLD corpus only, the increment appended with
    // frozen artifacts; probing every cell with a corpus-sized
    // shortlist makes the exact re-rank cover all candidates, so the
    // union search must EQUAL bruteTopK over old ∪ increment — the
    // appended rows are first-class index citizens, not a side table
    val e = Tables(spark, sf).embeddings
    val inc = e.filter(col("vec_id") % 4 === 1)
    val old = e.filter(col("vec_id") % 4 =!= 1)
    val q = e.filter(col("vec_id") < 10)
    val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
      old, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8)
    val (appCells, appCodes) = Similarity.ivfPqResAppend(
      cents, books, inc, col("vec_id"), col("embedding"), m = 4, ksub = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val grown = rows(Similarity.ivfPqResTopKAgainstIndex(
      cents, cells.unionByName(appCells), books, codes.unionByName(appCodes),
      e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"),
      m = 4, ksub = 8, k = 5, nprobe = 10, shortlist = 1000000))
    val brute = rows(Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), 5))
    assert(grown == brute,
      s"grown-index full-probe ${grown.take(3)} vs brute ${brute.take(3)}")
  }

  test("ivfPqResRemove equals the frozen-artifact rebuild-without, frame and search") {
    // the append parity law inverted: encoding corpus-minus-X against
    // the SAME frozen centroids/books is what a rebuild-without would
    // store, and the keyed anti-join must reproduce it exactly — then
    // the searches over both index forms must agree row-for-row
    val e = Tables(spark, sf).embeddings
    val dropped = col("vec_id") % 4 === 1
    val q = e.filter(col("vec_id") < 10)
    val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
      e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8)
    val (prunedCells, prunedCodes) = Similarity.ivfPqResRemove(
      cells, codes, e.filter(dropped).select(col("vec_id")))
    // rebuild-without under the frozen artifacts = append path over
    // the surviving rows (spec above pins append ≡ build encode)
    val (rbCells, rbCodes) = Similarity.ivfPqResAppend(
      cents, books, e.filter(not(dropped)), col("vec_id"), col("embedding"),
      m = 4, ksub = 8)
    def cellRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Byte](1).toList)).toSeq.sortBy(_._1)
    assert(cellRows(prunedCells) == cellRows(rbCells))
    assert(codeRows(prunedCodes) == codeRows(rbCodes))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val viaRemove = rows(Similarity.ivfPqResTopKAgainstIndex(
      cents, prunedCells, books, prunedCodes,
      e, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"),
      m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30))
    val viaRebuild = rows(Similarity.ivfPqResTopKAgainstIndex(
      cents, rbCells, books, rbCodes,
      e, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"),
      m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30))
    assert(viaRemove == viaRebuild && viaRebuild.nonEmpty)
    // replayed and never-indexed ids are no-ops (idempotent delete list)
    import spark.implicits._
    val again = Similarity.indexRemove(prunedCells,
      e.filter(dropped).select(col("vec_id"))
        .unionByName(Seq(-999L).toDF("vec_id")))
    assert(cellRows(again) == cellRows(prunedCells))
    // a table without the key fails fast, not silently
    val ex = intercept[IllegalArgumentException] {
      Similarity.indexRemove(cents, e.select(col("vec_id")))
    }
    assert(ex.getMessage.contains("must carry 'vec_id'"))
  }

  test("tombstone-guarded AgainstIndex searches equal searching the removed index") {
    // the StreamIndex reader contract as one ARGUMENT: a still-growing
    // streamed artifact dir is searched with `tombstones = Some(ts)`
    // instead of the caller hand-folding indexRemove over every
    // artifact — and the guard must be EXACTLY the takedown: for every
    // family, search(full artifacts, tombstones) ≡ search(removed
    // artifacts) row-for-row, which the remove specs pin ≡ searching
    // the rebuilt-without index. The tombstone frame is deliberately
    // int-typed, duplicated and arbitrarily named — the indexRemove
    // cast/distinct contract must hold here too.
    import spark.implicits._
    val e = Tables(spark, sf).embeddings
    val dead = col("vec_id") % 4 === 1
    val q = e.filter(col("vec_id") < 10)
    val ts = e.filter(dead).select(col("vec_id").cast("int").as("doc"))
    val tsDup = ts.unionByName(ts) // replayed takedowns are no-ops
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    def assertLaw(guarded: Seq[(Long, Long, Long, Double)],
                  removed: Seq[(Long, Long, Long, Double)], fam: String): Unit = {
      assert(guarded == removed && removed.nonEmpty,
        s"$fam: guarded ${guarded.take(3)} vs removed ${removed.take(3)}")
      assert(!guarded.exists(_._2 % 4 == 1), // (query_id, NEIGHBOR, rank, cos)
        s"$fam: a tombstoned id surfaced as a neighbor")
    }
    // IVFADC: both keyed artifacts guarded in lockstep
    val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
      e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8)
    val (rmCells, rmCodes) = Similarity.ivfPqResRemove(cells, codes, ts)
    assertLaw(
      rows(Similarity.ivfPqResTopKAgainstIndex(cents, cells, books, codes,
        e, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"),
        m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30,
        tombstones = Some(tsDup))),
      rows(Similarity.ivfPqResTopKAgainstIndex(cents, rmCells, books, rmCodes,
        e, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"),
        m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30)),
      "ivfPqRes")
    // plain IVF: the cells table is the streamed artifact
    val (icents, icells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
      nlist = 10)
    assertLaw(
      rows(Similarity.ivfTopKAgainstIndex(icents, icells,
        e, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"),
        k = 5, nprobe = 3, tombstones = Some(tsDup))),
      rows(Similarity.ivfTopKAgainstIndex(icents,
        Similarity.indexRemove(icells, ts),
        e, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"),
        k = 5, nprobe = 3)),
      "ivf")
    // the four codecs, flat and IVF-bounded: the codec table below
  }

  test("ivfPqResUpsert with modified vectors equals the frozen-artifact rebuild-with") {
    // the re-crawl law: remove the slice's rows, re-encode its NEW
    // vectors against the SAME frozen centroids/books — the result
    // must equal encoding the whole UPDATED corpus under those
    // artifacts (which the append-parity spec pins as the build's own
    // per-row function)
    val e = Tables(spark, sf).embeddings
    val touched = col("vec_id") % 4 === 2
    val modified = e.filter(touched)
      .select(col("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).cast("array<float>")
          .as("embedding"))
    val updatedCorpus = e.filter(not(touched))
      .select(col("vec_id"), col("embedding")).unionByName(modified)
    val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
      e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8)
    val (upCells, upCodes) = Similarity.ivfPqResUpsert(
      cents, books, cells, codes, modified, col("vec_id"), col("embedding"),
      m = 4, ksub = 8)
    val (rbCells, rbCodes) = Similarity.ivfPqResAppend(
      cents, books, updatedCorpus, col("vec_id"), col("embedding"),
      m = 4, ksub = 8)
    def cellRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Byte](1).toList)).toSeq.sortBy(_._1)
    assert(cellRows(upCells) == cellRows(rbCells))
    assert(codeRows(upCodes) == codeRows(rbCodes))
    // search-for-search over the upserted vs rebuilt-with tables
    val q = updatedCorpus.filter(col("vec_id") < 10)
    def rows(cl: org.apache.spark.sql.DataFrame, cd: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqResTopKAgainstIndex(
          cents, cl, books, cd,
          updatedCorpus, col("vec_id"), col("embedding"),
          q, col("vec_id"), col("embedding"),
          m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val viaUpsert = rows(upCells, upCodes)
    assert(viaUpsert == rows(rbCells, rbCodes) && viaUpsert.nonEmpty)
  }

  test("ivfPqResSync advances v1's tables to v2 under the frozen artifacts") {
    // the CDC law: removed ∪ changed rows drop in lockstep, added ∪
    // changed vectors encode against the SAME frozen centroids/books —
    // the result must equal encoding corpus v2 under those artifacts
    val e = Tables(spark, sf).embeddings.select(col("vec_id"), col("embedding"))
    val v2 = e.filter(col("vec_id") % 7 =!= 5)
      .select(col("vec_id"),
        when(col("vec_id") % 7 === 1,
          transform(col("embedding"), x => x * lit(3.0f)).cast("array<float>"))
          .otherwise(col("embedding")).as("embedding"))
      .unionByName(e.filter(col("vec_id") % 7 === 2)
        .select((col("vec_id") + lit(2000000L)).as("vec_id"), col("embedding")))
    // corpusDiff keys on an md5 of the payload bytes — reuse it over a
    // stable string rendering of the vector
    val diff = graft.operators.Curation.corpusDiff(
      e.select(col("vec_id"), col("embedding").cast("string").as("p")),
      v2.select(col("vec_id"), col("embedding").cast("string").as("p")),
      col("vec_id"), col("p"))
      .select(col("doc_id"), col("status"))
    val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
      e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8)
    val (syncCells, syncCodes) = Similarity.ivfPqResSync(
      cents, books, cells, codes, diff, v2, col("vec_id"), col("embedding"),
      m = 4, ksub = 8)
    val (rbCells, rbCodes) = Similarity.ivfPqResAppend(
      cents, books, v2, col("vec_id"), col("embedding"), m = 4, ksub = 8)
    def cellRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Byte](1).toList)).toSeq.sortBy(_._1)
    assert(cellRows(syncCells) == cellRows(rbCells))
    assert(codeRows(syncCodes) == codeRows(rbCodes))
  }

  // measured 0.32 at shortlist=20 (nprobe=3 of 10 cells, m=4, ksub=8;
  // deterministic FNV-seeded trains), pinned at measured − 0.1
  private val RecallFloorIvfPq = 0.22

  // measured 0.4 at nprobe=2 (sf0.001, 10 cells), pinned at measured − 0.1
  private val RecallFloorIvf = 0.3

  test("ivfTopK recall@5 vs brute force is high with nprobe=2 of 10 cells") {
    val e = Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), 5))
    def recallAt(nprobe: Int): Double = {
      val ivf = pairs(Similarity.ivfTopK(e, col("vec_id"), col("embedding"),
        col("label"), q, col("vec_id"), col("embedding"), 5, nprobe = nprobe))
      (brute & ivf).size.toDouble / brute.size
    }
    val r2 = recallAt(2)
    val r5 = recallAt(5)
    info(s"measured ivf recall@5: nprobe=2 -> $r2, nprobe=5 -> $r5")
    // bounds pinned at measured − 0.1 (deterministic quantizer) so a
    // cell-assignment regression can't hide behind a loose threshold.
    // Absolute recall is corpus-limited: this corpus has weak cluster
    // structure (no cosine gap — see Dedup's embedding analysis), so
    // the quantizer can only capture so much; the recall/nprobe
    // tradeoff curve is the property IVF must deliver.
    assert(r2 >= RecallFloorIvf, s"ivf recall@5 nprobe=2 = $r2")
    assert(r5 > r2, s"raising nprobe must raise recall ($r2 -> $r5)")
  }

  test("prototypicality: one row per vector, own-centroid cosine matches recompute") {
    val e = Tables(spark, sf).embeddings
    val n = e.count()
    val got = Similarity.prototypicality(e, col("vec_id"), col("embedding"),
        nlist = 4, iters = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.size == n)
    assert(got.values.forall { case (_, p) => p >= -1.0001 && p <= 1.0001 })
    // independent recompute: same cells, fixed-point centroids in Scala
    val cells = Similarity.ivfTrainCells(e, col("vec_id"), col("embedding"),
        nlist = 4, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.forall { case (id, (cell, _)) => cells(id) == cell },
      "operator cell assignment diverges from ivfTrainCells")
    val vecs = e.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val byCell = vecs.toSeq.groupBy { case (id, _) => cells(id) }
    val cents = byCell.map { case (cell, members) =>
      val dim = members.head._2.length
      cell -> Array.tabulate(dim) { i =>
        members.map { case (_, v) => (v(i) * 1e9).toLong }.sum.toDouble / 1e9 / members.size
      }
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    got.foreach { case (id, (cell, p)) =>
      assert(math.abs(p - cos(vecs(id), cents(cell))) < 1e-3,
        s"vec $id proto $p diverges from recomputed centroid cosine")
    }
  }

  test("trained IVF at nlist=32 on the sf0.1 corpus holds a pinned recall floor") {
    // the registered queries train at a toy nlist=10 on 500 vectors;
    // this exercises the Lloyd train path in the √n regime (sf0.1:
    // 2000 vectors, √n = 45) with a non-toy cell count
    val sf01 = "/root/testdata/sf0.1"
    val e = Tables(spark, sf01).embeddings
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), 5))
    val cells = Similarity.ivfTrainCells(e, col("vec_id"), col("embedding"),
      nlist = 32, iters = 1)
    // the quantizer must actually use the cell budget, not collapse
    val nCells = cells.select("cell").distinct().count()
    info(s"populated cells = $nCells / 32")
    assert(nCells > 16, s"Lloyd step collapsed to $nCells cells")
    val indexed = e.join(cells, "vec_id")
    def recallAt(nprobe: Int): Double = {
      val ivf = pairs(Similarity.ivfTopK(indexed, col("vec_id"), col("embedding"),
        col("cell"), indexed.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        5, nprobe = nprobe))
      (brute & ivf).size.toDouble / brute.size
    }
    val r4 = recallAt(4)
    val r8 = recallAt(8)
    info(s"measured recall@5: nprobe=4 -> $r4, nprobe=8 -> $r8")
    // measured 0.4 (nprobe=4) / 0.58 (nprobe=8), deterministic
    // quantizer — floor pinned at measured − 0.1
    assert(r4 >= 0.3, s"ivf nlist=32 recall@5 nprobe=4 = $r4")
    assert(r8 > r4, s"raising nprobe must raise recall ($r4 -> $r8)")
    // the √n heuristic sizes this corpus at 45 cells, same regime as
    // the 32 exercised above; spot-check the rule at scale
    assert(Similarity.defaultNlist(2000) == 45)
    assert(Similarity.defaultNlist(1000000000L) == 31623)
    val autoCells = Similarity.ivfTrainCellsAuto(e, col("vec_id"), col("embedding"))
    assert(autoCells.agg(max(col("cell"))).head().getLong(0) < 45)
  }

  test("stub codec decodes deterministic metadata through mapPartitions") {
    import spark.implicits._
    val df = Media.withFakeBlob(Seq((7L, "hello world")).toDF("doc_id", "text"), col("text"))
    val r = Media.decodeMeta(df, col("doc_id"), col("media")).head()
    assert(r.getLong(0) == 7L)
    assert(r.getLong(1) == 16L + 11 % 113) // width from 11 bytes
    assert(r.getLong(2) == 16L + (11 * 7) % 97)
    assert(r.getLong(3) == 3L)
    assert(r.getLong(4) == 11L)
  }

  test("real PNG bytes decode to true dimensions through the same Spark path") {
    import spark.implicits._
    // author a genuine PNG in-memory (javax.imageio, JDK-only): 23×17
    // solid RGB(200,100,50)
    val img = new java.awt.image.BufferedImage(23, 17,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (200 << 16) | (100 << 8) | 50
    for (y <- 0 until 17; x <- 0 until 23) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer in this JDK?")
    val png = bos.toByteArray

    val df = Seq((1L, png), (2L, "not an image".getBytes("UTF-8"))).toDF("media_id", "media")
    val rows = Media.decodeMeta(df, col("media_id"), col("media"))
      .orderBy("media_id").collect()
    // row 1: REAL decode — true width/height/channels, not stub formulas
    assert(rows(0).getLong(1) == 23L && rows(0).getLong(2) == 17L)
    assert(rows(0).getLong(3) == 3L && rows(0).getLong(4) == png.length.toLong)
    // row 2: no image magic → deterministic stub fallback (n = 12 bytes)
    assert(rows(1).getLong(1) == 16L + 12 % 113 && rows(1).getLong(2) == 16L + (12 * 7) % 97)

    // real resize: nearest-neighbor over decoded pixels — every output
    // pixel of a solid image is the source color
    val rz = Media.resize(df.filter(col("media_id") === 1L),
      col("media_id"), col("media"), w = 4, h = 2).head().getAs[Array[Byte]]("resized")
    assert(rz.length == 4 * 2 * 3)
    assert(rz.grouped(3).forall(p =>
      (p(0) & 0xff) == 200 && (p(1) & 0xff) == 100 && (p(2) & 0xff) == 50))
  }

  test("authorPng → decode → resize: the real ImageIO round-trip recovers " +
      "the pinned pixel formula (the qmm_png_decode law)") {
    import spark.implicits._
    def px(seed: Long, x: Int, y: Int): (Int, Int, Int) = (
      java.lang.Math.floorMod(seed * 31L + x * 7L + y * 13L, 256L).toInt,
      java.lang.Math.floorMod(seed * 17L + x * 11L + y * 3L, 256L).toInt,
      java.lang.Math.floorMod(seed * 23L + x * 5L + y * 19L, 256L).toInt)
    // lossless truecolor: the decoded raster must be bit-identical to
    // the authored formula, for several seeds and ragged dims
    for ((seed, w, h) <- Seq((0L, 1, 1), (7L, 4, 5), (123L, 16, 9))) {
      val png = Media.MediaCodec.authorPng(seed, w, h)
      val m = Media.MediaCodec.decode(png)
      assert((m.width, m.height, m.channels) == ((w.toLong, h.toLong, 3L)))
      // nearest resize back to the SOURCE dims is the identity raster
      val rz = Media.MediaCodec.resize(png, w, h)
      for (y <- 0 until h; x <- 0 until w) {
        val o = (y * w + x) * 3
        val (r, g, b) = px(seed, x, y)
        assert(((rz(o) & 0xff, rz(o + 1) & 0xff, rz(o + 2) & 0xff)) == ((r, g, b)),
          s"seed=$seed ($x,$y)")
      }
    }
    // the gate's own 4×4 mapping: dest (x,y) reads src (x·w div 4, y·h div 4)
    val (seed, w, h) = (41L, 9, 7)
    val df = Seq((seed, Media.MediaCodec.authorPng(seed, w, h))).toDF("media_id", "media")
    val rz = Media.resize(df, col("media_id"), col("media"), 4, 4)
      .head().getAs[Array[Byte]]("resized")
    for (y <- 0 until 4; x <- 0 until 4) {
      val o = (y * 4 + x) * 3
      val (r, g, b) = px(seed, x * w / 4, y * h / 4)
      assert(((rz(o) & 0xff, rz(o + 1) & 0xff, rz(o + 2) & 0xff)) == ((r, g, b)))
    }
  }

  test("bilinear resize: golden pixels from the Q16 fixed-point blend") {
    import spark.implicits._
    // 2×2 gray PNG [10 30; 50 70]: with half-pixel centers a 4×4
    // upsample puts the output centers at source fractions
    // {clamp 0, 0.25, 0.75, clamp 1}, so every blend weight is an
    // exact Q16 quarter and the expected bytes are exact integers —
    // golden pixels derivable by hand, no float tolerance anywhere
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    img.setRGB(0, 0, gray(10)); img.setRGB(1, 0, gray(30))
    img.setRGB(0, 1, gray(50)); img.setRGB(1, 1, gray(70))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer in this JDK?")
    val png = bos.toByteArray

    val expected = Seq(
      10, 15, 25, 30,
      20, 25, 35, 40,
      40, 45, 55, 60,
      50, 55, 65, 70)
    val bl = Media.MediaCodec.resize(png, 4, 4, method = "bilinear")
    val grays = bl.grouped(3).map { p =>
      // gray source ⇒ all three channels carry the same blend
      assert(p(0) == p(1) && p(1) == p(2))
      p(0) & 0xff
    }.toSeq
    assert(grays == expected, s"golden pixels: $grays vs $expected")

    // nearest on the same fixture block-replicates instead of blending
    val nn = Media.MediaCodec.resize(png, 4, 4)
      .grouped(3).map(_(0) & 0xff).toSeq
    assert(nn == Seq(10, 10, 30, 30, 10, 10, 30, 30,
      50, 50, 70, 70, 50, 50, 70, 70))

    // identity: resizing to the source dims reproduces the raster
    // exactly under either method (all fracs are 0 after clamping)
    assert(Media.MediaCodec.resize(png, 2, 2, "bilinear").toSeq ==
      Media.MediaCodec.resize(png, 2, 2, "nearest").toSeq)

    // the stub path (non-image blob) ignores the method — a fake
    // raster has no geometry to interpolate
    val blob = "definitely not an image".getBytes("UTF-8")
    assert(Media.MediaCodec.resize(blob, 4, 4, "bilinear").toSeq ==
      Media.MediaCodec.resize(blob, 4, 4, "nearest").toSeq)

    // and through the Spark seam
    val df = Seq((1L, png)).toDF("media_id", "media")
    val viaSpark = Media.resize(df, col("media_id"), col("media"),
        w = 4, h = 4, method = "bilinear")
      .head().getAs[Array[Byte]]("resized")
    assert(viaSpark.toSeq == bl.toSeq)
  }

  test("area resize: golden pixels from exact rational coverage averaging") {
    import spark.implicits._
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    // 4×4 gray ramp halved to 2×2: each output is the EXACT mean of
    // its 2×2 block — bilinear at this factor reads only the inner
    // 2×2 neighborhood of each cell; area reads every source pixel
    val img4 = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4)
      img4.setRGB(x, y, gray(y * 4 + x match {
        case i => (i * 16) % 256
      }))
    val got22 = Media.MediaCodec.resize(png(img4), 2, 2, method = "area")
      .grouped(3).map { p =>
        assert(p(0) == p(1) && p(1) == p(2)); p(0) & 0xff
      }.toSeq
    // block means: values v = 16·(4y+x); mean of {(0,1,4,5),(2,3,6,7),
    // (8,9,12,13),(10,11,14,15)}·16 = {40, 72, 168, 200}
    assert(got22 == Seq(40, 72, 168, 200), s"got $got22")
    // full collapse: the 1×1 area resize is the exact global mean
    // (Σ 16·i / 16 = 120); every source pixel contributed
    val got11 = Media.MediaCodec.resize(png(img4), 1, 1, "area").toSeq
    assert((got11.head & 0xff) == 120, s"got $got11")
    // fractional footprints: 3×1 grays [10, 20, 40] to 2×1 — dest 0
    // covers pixel0 fully + half of pixel1: (2·10 + 20)/3 = 13.33 → 13;
    // dest 1 covers half of pixel1 + pixel2: (20 + 2·40)/3 = 33.33 → 33
    val img3 = new java.awt.image.BufferedImage(3, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img3.setRGB(0, 0, gray(10)); img3.setRGB(1, 0, gray(20))
    img3.setRGB(2, 0, gray(40))
    val got21 = Media.MediaCodec.resize(png(img3), 2, 1, "area")
      .grouped(3).map(_(0) & 0xff).toSeq
    assert(got21 == Seq(13, 33), s"got $got21")
    // identity: resizing to the source dims is the exact raster under
    // every method (each footprint is exactly one pixel)
    assert(Media.MediaCodec.resize(png(img3), 3, 1, "area").toSeq ==
      Media.MediaCodec.resize(png(img3), 3, 1, "nearest").toSeq)
    // the stub path ignores the method, as for bilinear
    val blob = "definitely not an image".getBytes("UTF-8")
    assert(Media.MediaCodec.resize(blob, 4, 4, "area").toSeq ==
      Media.MediaCodec.resize(blob, 4, 4, "nearest").toSeq)
    // and through the Spark seam
    val df = Seq((1L, png(img4))).toDF("media_id", "media")
    val viaSpark = Media.resize(df, col("media_id"), col("media"),
        w = 2, h = 2, method = "area")
      .head().getAs[Array[Byte]]("resized")
    assert(viaSpark.grouped(3).map(_(0) & 0xff).toSeq == Seq(40, 72, 168, 200))
    // an unknown method fails fast at the codec boundary
    val ex = intercept[org.apache.spark.SparkException] {
      Media.resize(df, col("media_id"), col("media"), 2, 2, "cubic").collect()
    }
    assert(ex.getMessage.contains("resize method") ||
      ex.getCause != null)
  }

  test("truncated image bytes fall back to the stub instead of failing the batch") {
    import spark.implicits._
    // PNG magic but garbage body: ImageIO either returns null or throws
    // IOException — both must land in the stub path, not kill the task
    val junk = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3)
    val df = Seq((1L, junk)).toDF("media_id", "media")
    val r = Media.decodeMeta(df, col("media_id"), col("media")).head()
    assert(r.getLong(1) == 16L + junk.length % 113)
    assert(r.getLong(4) == junk.length.toLong)
  }

  // --- the codec table: SQ8, PQ, BQ and asymmetric BQ share one index
  // build and one search, so the same four laws hold for each ----------

  /** (name, codec, stored code element type). */
  private val codecTable: Seq[(String, Codec, org.apache.spark.sql.types.DataType)] = Seq(
    ("SQ8", Codec.SQ8, org.apache.spark.sql.types.ByteType),
    ("PQ", Codec.PQ(m = 4, ksub = 8), org.apache.spark.sql.types.ByteType),
    ("BQ", Codec.BQ, org.apache.spark.sql.types.LongType),
    ("AsymBQ", Codec.AsymBQ, org.apache.spark.sql.types.LongType))

  /** Shared fixtures: corpus, 10 queries, the brute truth, an 8-cell
    * IVF index, and its parquet reload. */
  private lazy val codecFixture = {
    val e = Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 10)
    val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"), nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-codecs").toString
    cents.write.parquet(s"$dir/cents"); cells.write.parquet(s"$dir/cells")
    val reloaded = (spark.read.parquet(s"$dir/cents"), spark.read.parquet(s"$dir/cells"))
    (e, q, codecRows(Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5)), (cents, cells), reloaded, dir)
  }

  private def codecRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
    df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  codecTable.foreach { case (name, codec, codeType) =>
    test(s"codec table, $name: flat = brute, full probe = flat, round-trip, tombstones") {
      val (e, q, brute, (cents, cells), (rCents, rCells), dir) = codecFixture
      val n = e.count().toInt
      val (stats, codes) = Similarity.annIndex(codec, e, col("vec_id"), col("embedding"))
      assert(codes.schema("codes").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType == codeType, s"$name codes stored as ${codes.schema("codes").dataType}")
      def search(st: org.apache.spark.sql.DataFrame, co: org.apache.spark.sql.DataFrame,
                 shortlist: Int, ivf: Option[Ivf] = None,
                 tombstones: Option[org.apache.spark.sql.DataFrame] = None) =
        codecRows(Similarity.annSearch(codec, st, co, e, col("vec_id"), col("embedding"),
          q, col("vec_id"), col("embedding"), k = 5, shortlist = shortlist,
          ivf = ivf, tombstones = tombstones))

      // (1) the re-rank is exact: shortlist ≥ n − 1 sees every candidate
      assert(search(stats, codes, n) == brute, s"$name: full-shortlist search != bruteTopK")

      // (2) nprobe = nlist makes every non-self pair a candidate: the
      // IVF bound changes WHICH codes are scored, never how
      val flat = search(stats, codes, 25)
      assert(search(stats, codes, 25, Some(Ivf(cents, cells, nprobe = 8))) == flat,
        s"$name: full-probe IVF search != flat search at the same shortlist")

      // (3) pay-once index: reloaded stats + codes (and cells) search
      // identically, the decimal(38,0) BQ sums included
      stats.write.parquet(s"$dir/$name/stats"); codes.write.parquet(s"$dir/$name/codes")
      val (rStats, rCodes) = (spark.read.parquet(s"$dir/$name/stats"),
        spark.read.parquet(s"$dir/$name/codes"))
      assert(search(rStats, rCodes, 20) == search(stats, codes, 20),
        s"$name: reloaded index searches differently")
      assert(search(rStats, rCodes, 20, Some(Ivf(rCents, rCells, nprobe = 3))) ==
        search(stats, codes, 20, Some(Ivf(cents, cells, nprobe = 3))),
        s"$name: reloaded IVF-bounded index searches differently")

      // (4) the tombstone guard is exactly the takedown: flat and
      // IVF-bounded (codes AND cells guarded). The tombstone frame is
      // int-typed, duplicated and arbitrarily named — the indexRemove
      // cast/distinct contract must hold here too.
      val ts = e.filter(col("vec_id") % 4 === 1).select(col("vec_id").cast("int").as("doc"))
      val tsDup = ts.unionByName(ts)
      val rmCodes = Similarity.indexRemove(codes, ts)
      for (ivf <- Seq(None, Some(Ivf(cents, cells, nprobe = 3)))) {
        val guarded = search(stats, codes, 30, ivf, Some(tsDup))
        val removed = search(stats, rmCodes, 30,
          ivf.map(i => i.copy(cells = Similarity.indexRemove(i.cells, ts))))
        assert(guarded == removed && removed.nonEmpty,
          s"$name ivf=${ivf.isDefined}: guarded ${guarded.take(3)} vs removed ${removed.take(3)}")
        assert(!guarded.exists(_._2 % 4 == 1),
          s"$name ivf=${ivf.isDefined}: a tombstoned id surfaced as a neighbor")
      }
    }
  }

  test("pqTopK with a full-corpus shortlist equals bruteTopK exactly") {
    // the ADC stage only selects CANDIDATES; the re-rank is exact — so
    // with shortlist >= |corpus| - 1 the approximation cannot change
    // the answer, whatever the corpus size beyond n
    val (e, q, brute, _, _, _) = codecFixture
    val (books, codes) = Similarity.annIndex(Codec.PQ(m = 4, ksub = 8), e,
      col("vec_id"), col("embedding"))
    val pq = codecRows(Similarity.annSearch(Codec.PQ(m = 4, ksub = 8), books, codes,
      e, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"),
      k = 5, shortlist = 600))
    assert(pq == brute, s"pq ${pq.take(5)} vs brute ${brute.take(5)}")
  }

  test("PQ search from a parquet index equals the inline path; codes are bytes") {
    // materialize (codebook, codes), read back, search WITHOUT
    // retraining — pair-for-pair equal to searching the freshly built
    // frames at a cut where quantization decides; and the codes column
    // is actually narrow (array<tinyint> at ksub=8)
    val (e, q, _, _, _, _) = codecFixture
    val pq = Codec.PQ(m = 4, ksub = 8)
    val (books, codes) = Similarity.annIndex(pq, e, col("vec_id"), col("embedding"))
    assert(codes.schema("codes").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType == org.apache.spark.sql.types.ByteType,
      s"codes not byte-typed: ${codes.schema("codes").dataType}")
    val dir = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
    books.write.mode("overwrite").parquet(s"$dir/books")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    def search(b: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      codecRows(Similarity.annSearch(pq, b, c, e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5, shortlist = 50))
    val direct = search(books, codes)
    val viaIndex = search(spark.read.parquet(s"$dir/books"), spark.read.parquet(s"$dir/codes"))
    assert(viaIndex == direct,
      s"index path ${viaIndex.take(3)} vs inline ${direct.take(3)}")
  }

  test("IVF+BQ: full probe equals plain BQ; contract guards fail fast") {
    // nprobe = nlist => the candidate set is every non-self pair, so
    // the IVF bound changes WHICH codes are scored, never how — the
    // composed search must equal the linear BQ scan exactly
    val e = graft.sources.Tables(spark, sf).embeddings
    val qset = e.filter(col("vec_id") < 5)
    val (stats, codes) = Similarity.annIndex(Codec.BQ, e, col("vec_id"), col("embedding"))
    val (cents8, cells8) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"), nlist = 8)
    def search(ivf: Option[Ivf]) =
      Similarity.annSearch(Codec.BQ, stats, codes, e, col("vec_id"), col("embedding"),
        qset, col("vec_id"), col("embedding"), k = 5, shortlist = 25, ivf = ivf)
        .collect().map(_.toString).sorted.toSeq
    assert(search(Some(Ivf(cents8, cells8, nprobe = 8))) == search(None),
      "full-probe IVF+BQ must equal the linear BQ scan")

    // contract guards: each index frame checked by name
    val (_, cells4) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"), nlist = 4)
    val ex = intercept[IllegalArgumentException] {
      search(Some(Ivf(cells4, cells4, nprobe = 2)))
    }
    assert(ex.getMessage.contains("centroid frame must carry"))
  }

  test("IVF+BQ index persistence: all four artifacts round-trip through parquet") {
    // centroids + cells (coarse quantizer) and stats + codes (binary
    // quantizer) all materialize as parquet and searching against the
    // reloaded artifacts is result-identical (incl. the decimal(38,0)
    // stats sums surviving the format hop)
    val e = graft.sources.Tables(spark, sf).embeddings
    val qset = e.filter(col("vec_id") < 5)
    val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"), nlist = 8)
    val (stats, codes) = Similarity.annIndex(Codec.BQ, e, col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfbqidx").toString
    cents.write.parquet(s"$dir/cents"); cells.write.parquet(s"$dir/cells")
    stats.write.parquet(s"$dir/stats"); codes.write.parquet(s"$dir/codes")
    def search(ce: org.apache.spark.sql.DataFrame, cl: org.apache.spark.sql.DataFrame,
               st: org.apache.spark.sql.DataFrame, co: org.apache.spark.sql.DataFrame) =
      Similarity.annSearch(Codec.BQ, st, co, e, col("vec_id"), col("embedding"),
        qset, col("vec_id"), col("embedding"), k = 5, shortlist = 20,
        ivf = Some(Ivf(ce, cl, nprobe = 3))).collect().map(_.toString).sorted.toSeq
    val inline = search(cents, cells, stats, codes)
    val rt = search(
      spark.read.parquet(s"$dir/cents"), spark.read.parquet(s"$dir/cells"),
      spark.read.parquet(s"$dir/stats"), spark.read.parquet(s"$dir/codes"))
    assert(rt == inline, "reloaded composed index must search identically")
  }

  test("SQ8: byte codes; a collapsed dimension encodes 0 and decodes to lo") {
    import spark.implicits._
    val e = graft.sources.Tables(spark, sf).embeddings
    val (_, codes) = Similarity.annIndex(Codec.SQ8, e, col("vec_id"), col("embedding"))
    assert(codes.schema("codes").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType,
      s"codes must store as array<tinyint>, got ${codes.schema("codes").dataType}")

    // collapsed dimension (hi == lo) encodes 0-centered and decodes to lo
    val const = Seq((1L, Seq(1.0f, 5.0f)), (2L, Seq(1.0f, -3.0f)), (3L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val (cs, cc) = Similarity.annIndex(Codec.SQ8, const, col("vec_id"), col("embedding"))
    val c1 = cc.filter(col("vec_id") === 1L).select(element_at(col("codes"), 1))
      .head().getByte(0)
    assert(c1 == -128.toByte, s"constant dim must encode as -128 (code 0), got $c1")
    val top = Similarity.annSearch(Codec.SQ8, cs, cc,
      const, col("vec_id"), col("embedding"),
      const.filter(col("vec_id") === 1L), col("vec_id"), col("embedding"),
      k = 1, shortlist = 3).head()
    assert(top.getLong(1) == 3L, s"nearest to (1,5) among (1,-3),(1,0) is (1,0); got $top")
  }

  test("BQ: bit/pack hand fixture; word count; contract guards; empty input excluded") {
    import spark.implicits._
    val e = graft.sources.Tables(spark, sf).embeddings
    val qset = e.filter(col("vec_id") < 5)

    // hand fixture: 3 vectors, 2 dims. Dim sums: s1 = (1+3+5)e6 = 9e6,
    // s2 = (4+2+0)e6 = 6e6, n = 3. Bits (x*3e6 > s): v1 = (3e6>9e6 → 0,
    // 12e6>6e6 → 1) = [0,1]; v2 = (9e6, 6e6 → 0,0); v3 = (15e6>9e6 → 1,
    // 0 → 0). One 32-bit word per vector via acc*2+bit: 01b=1, 00b=0,
    // 10b=2.
    val tiny = Seq((1L, Seq(1.0f, 4.0f)), (2L, Seq(3.0f, 2.0f)),
      (3L, Seq(5.0f, 0.0f))).toDF("vec_id", "embedding")
    val (ts, tc) = Similarity.annIndex(Codec.BQ, tiny, col("vec_id"), col("embedding"))
    val codes = tc.orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes == Map(1L -> Seq(1L), 2L -> Seq(0L), 3L -> Seq(2L)),
      s"got $codes")

    val (stats, bcodes) = Similarity.annIndex(Codec.BQ, e, col("vec_id"), col("embedding"))
    assert(Codec.BQ.encode(e, col("vec_id"), col("embedding"), stats)
      .select(size(col("codes"))).head().getInt(0) == 2,
      "64 dims must pack into 2 32-bit words")
    // a frame missing its contract columns fails fast, by name, not silently
    val ex = intercept[IllegalArgumentException] {
      Similarity.annSearch(Codec.BQ, bcodes, bcodes, e, col("vec_id"),
        col("embedding"), qset, col("vec_id"), col("embedding"), 5, 32)
    }
    assert(ex.getMessage.contains("stats frame must carry"))
    val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"),
      col("embedding"), nlist = 4)
    val exIvf = intercept[IllegalArgumentException] {
      Similarity.annSearch(Codec.BQ, stats, bcodes,
        e, col("vec_id"), col("embedding"), qset, col("vec_id"),
        col("embedding"), k = 5, shortlist = 10, ivf = Some(Ivf(cells, cells, nprobe = 2)))
    }
    assert(exIvf.getMessage.contains("centroid frame must carry"))

    // empty/NULL vectors never enter the code table (an empty
    // embedding has no bits — without the guard sequence(0,-1) would
    // step DOWN and emit two spurious zero words)
    val withEmpty = Seq((1L, Seq(1.0f, 4.0f)), (2L, Seq.empty[Float]))
      .toDF("vec_id", "embedding")
      .unionByName(Seq(3L).toDF("vec_id")
        .withColumn("embedding", lit(null).cast("array<float>")))
    val encoded = Codec.BQ.encode(withEmpty, col("vec_id"),
      col("embedding"), ts).orderBy("vec_id").collect()
    assert(encoded.map(_.getLong(0)).toSeq == Seq(1L),
      "empty and NULL embeddings must be excluded from the code table")
    assert(encoded.head.getSeq[Long](1).nonEmpty)
  }

  test("graft_hamming kernel == the HOF fold on edge shapes") {
    import spark.implicits._
    graft.GraftExtensions.ensureRegistered(spark)
    // equal-length rows (the only well-formed BQ input): empty,
    // single word, high bits (bit 62-63 set via negative longs),
    // identical arrays — kernel must equal the HOF fold exactly
    val rows = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(0L), Seq(0L)),
      (Seq(0L), Seq(-1L)),
      (Seq(Long.MinValue, 7L), Seq(Long.MaxValue, 0L)),
      (Seq(0xDEADBEEFL, 0x12345678L), Seq(0xDEADBEEFL, 0x12345678L)))
      .toDF("a", "b")
    val got = rows.select(
      call_function("graft_hamming", col("a"), col("b")).as("k"),
      aggregate(zip_with(col("a"), col("b"),
          (x, y) => call_function("bit_count", x.bitwiseXOR(y)).cast("long")),
        lit(0L), (acc, t) => acc + t).as("h")).collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == r.getLong(1),
        s"row $i: kernel ${r.getLong(0)} != HOF ${r.getLong(1)}")
    }
    // malformed (mismatched word counts): the function is registered
    // session-wide, so arbitrary SQL reaches it — a silent
    // shorter-prefix sum would be a plausible-looking wrong number;
    // the kernel raises a clear error instead
    val mmEx = intercept[Exception] {
      Seq((Seq(123L, 456L, -1L), Seq(123L, 456L))).toDF("a", "b")
        .select(call_function("graft_hamming", col("a"), col("b"))).head()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(rootMessages(mmEx).exists(_.contains("graft_hamming: code arrays must be the same length")),
      s"mismatched word counts must raise the clear kernel error: $mmEx")
    // malformed (null element): raw getLong over a null slot would NPE
    // in interpreted mode or read garbage from UnsafeArrayData — the
    // kernel raises the clear error in both modes
    val nullElemEx = intercept[Exception] {
      spark.sql("SELECT graft_hamming(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L))").head()
    }
    assert(rootMessages(nullElemEx).exists(_.contains("graft_hamming: code arrays must carry no null elements")),
      s"null code elements must raise the clear kernel error: $nullElemEx")
    // NULL input propagates NULL (BinaryExpression null-safety)
    val n = rows.limit(1)
      .select(call_function("graft_hamming",
        lit(null).cast("array<bigint>"), col("b")))
      .head()
    assert(n.isNullAt(0), "NULL codes must yield NULL distance")
  }

  /** Hits@5 of a BQ-family search of the first ten vectors against the
    * brute truth, flat or IVF-bounded (10 cells, 2 probed — the
    * registered qann_ivf_bq* settings), at the tight 20-of-500 cut. */
  private def bqHits(codec: Codec, ivf: Boolean): Long = {
    val e = graft.sources.Tables(spark, sf).embeddings
    val q10 = e.filter(col("vec_id") < 10)
    val truth = Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      q10, col("vec_id"), col("embedding"), k = 5)
    val coarse = if (!ivf) None else {
      val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"), nlist = 10)
      Some(Ivf(cents, cells, nprobe = 2))
    }
    val (stats, codes) = Similarity.annIndex(codec, e, col("vec_id"), col("embedding"))
    val res = Similarity.annSearch(codec, stats, codes, e, col("vec_id"), col("embedding"),
      q10, col("vec_id"), col("embedding"), k = 5, shortlist = 20, ivf = coarse)
    Similarity.annRecall(truth, res)
      .agg(org.apache.spark.sql.functions.sum(col("hits"))).head().getLong(0)
  }

  test("asymmetric BQ: recall beats symmetric at an equal tight cut") {
    // identical index bytes, equal tight cut: keeping the query's
    // magnitudes must not LOSE recall vs quantizing it to bits too.
    // NOTE: asym >= sym is an empirical property of THIS benchmark
    // corpus (deterministic today), not a mathematical invariant of
    // the two scorers — a per-query flip under a benign fixture change
    // is possible. If a regeneration of the embedding generator or
    // the shortlist constant flips it, re-audit the fixture before
    // suspecting a scorer bug.
    val (symHits, asymHits) = (bqHits(Codec.BQ, ivf = false), bqHits(Codec.AsymBQ, ivf = false))
    assert(asymHits >= symHits,
      s"asymmetric recall must not trail symmetric at equal shortlist: $asymHits vs $symHits")
  }

  test("IVF+asym-BQ: recall reads beside symmetric at the registered settings") {
    // at the SAME cell bound and shortlist, keeping the query's
    // magnitudes must not lose recall vs the symmetric Hamming
    // composition (fixture-pinned like the linear-scan gate above — an
    // empirical property of the benchmark corpus, not an invariant;
    // re-audit the fixture if it flips)
    val (symHits, asymHits) = (bqHits(Codec.BQ, ivf = true), bqHits(Codec.AsymBQ, ivf = true))
    assert(asymHits >= symHits,
      s"IVF+asym recall must not trail IVF+sym at equal settings: $asymHits vs $symHits")
  }

  test("asym scorer: dynamic fold == unrolled tree; malformed query vectors fail fast") {
    import spark.implicits._
    // equality of the two scorer formulations at d=64 (exact word
    // boundary) and d=96 (three full words) — same longs, same
    // left-to-right accumulation, so bit-identical scores; this is
    // what makes the AsymUnrollLimit dispatch invisible to callers
    for (dim <- Seq(64, 96)) {
      def v(seed: Int): Seq[Float] =
        (0 until dim).map(d => ((seed * 31 + d * 7) % 11 - 5) + 0.5f)
      val corpus = (1 to 6).map(s => (100L + s, v(s))).toDF("vec_id", "embedding")
      val (stats, codes) = Similarity.annIndex(Codec.BQ, corpus, col("vec_id"), col("embedding"))
      val qfx = (1 to 2).map(s => (900L + s, v(s + 7))).toDF("vec_id", "embedding")
        .select(col("vec_id").as("query_id"),
          transform(col("embedding").cast("array<double>"),
            x => round(x * lit(1e6)).cast("long")).as("qfx"))
      val frame = codes.crossJoin(qfx)
      val got = frame.select(col("vec_id"), col("query_id"),
          Similarity.bqAsymScoreUnrolled(dim).as("u"),
          Similarity.bqAsymScoreFolded(dim).as("f"))
        .collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        assert(r.getLong(2) == r.getLong(3),
          s"dim=$dim (${r.getLong(0)}, ${r.getLong(1)}): unrolled ${r.getLong(2)} != folded ${r.getLong(3)}")
      }
    }

    // a query vector SHORTER than the index dim has no defined unpack
    // alignment — it must error loudly per-row, never NULL-score into
    // the shortlist tail (element_at past the end is NULL in default
    // mode, which would sink the row silently)
    val corpus = (1 to 6).map(s => (100L + s,
        (0 until 8).map(d => ((s * 31 + d * 7) % 11 - 5) + 0.5f)))
      .toDF("vec_id", "embedding")
    val shortQ = Seq((900L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      val (stats, codes) = Similarity.annIndex(Codec.AsymBQ, corpus, col("vec_id"), col("embedding"))
      Similarity.annSearch(Codec.AsymBQ, stats, codes, corpus, col("vec_id"), col("embedding"),
        shortQ, col("vec_id"), col("embedding"), k = 3, shortlist = 5)
        .collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("asymmetric query vector dim mismatch")),
      s"short query vector must fail fast with the dim-mismatch error: $ex")
  }

  test("asymmetric unpack layout: one-hot probes recover every bit at word-boundary dims") {
    import spark.implicits._
    // the sign-sum scorer reads bits back OUT of the packed words via
    // shift/mask constants derived from the 32-bit fold's layout; the
    // risky case is the SHORT LAST WORD (fold length < 32). Probe
    // with one-hot queries: qfx is 1e6 at dim d and 0 elsewhere, so
    // approx-score = ±1e6 reveals exactly bit d. Cover dims spanning
    // 1 word, exact word boundaries, and boundary±1.
    for (dim <- Seq(1, 31, 32, 33, 64, 65)) {
      // three deterministic corpus vectors over `dim` dims; the +0.5
      // offset keeps every component (and so every vector) nonzero —
      // the re-rank's normalize contract
      def v(seed: Int): Seq[Float] =
        (0 until dim).map(d => ((seed * 31 + d * 7) % 11 - 5) + 0.5f)
      val corpus = Seq((101L, v(1)), (102L, v(2)), (103L, v(3)))
        .toDF("vec_id", "embedding")
      val (stats, codes) = Similarity.annIndex(Codec.BQ, corpus, col("vec_id"), col("embedding"))
      // ground-truth bits straight from the threshold rule
      val st = stats.orderBy("d").collect()
        .map(r => (r.get(0).toString.toLong,
          r.getDecimal(1).longValueExact(), r.getLong(2)))
      val truthBits: Map[Long, Seq[Int]] = Seq(1, 2, 3).map { s =>
        (100L + s) -> (0 until dim).map { d =>
          val vfx = math.round(v(s)(d).toDouble * 1e6)
          val (_, sSum, n) = st(d)
          if (vfx * n > sSum) 1 else 0
        }
      // (v never emits 0f, so no corpus vector is all-zero)
      }.toMap
      for (d <- Seq(0, dim / 2, dim - 1).distinct) {
        val probe = Seq((900L + d.toLong,
          (0 until dim).map(i => if (i == d) 1.0f else 0.0f)))
          .toDF("vec_id", "embedding")
        // k=3, full shortlist: the probe's exact re-rank output is not
        // what we need — read the bit back through the SCORES instead
        // by ranking: with a one-hot query, approx = 1e6 iff bit d is
        // set, else -1e6; neighbors with bit set must outrank unset
        val got = Similarity.annSearch(Codec.AsymBQ, stats, codes,
          corpus, col("vec_id"), col("embedding"),
          probe, col("vec_id"), col("embedding"), k = 3, shortlist = 1)
          .collect()
        // shortlist=1 keeps ONLY the top-approx neighbor: it must be
        // one whose bit d is maximal among the corpus (ties on id)
        val bitsAtD = truthBits.view.mapValues(_(d)).toMap
        val maxBit = bitsAtD.values.max
        val expected = bitsAtD.filter(_._2 == maxBit).keys.min
        assert(got.length == 1 && got.head.getLong(1) == expected,
          s"dim=$dim probe d=$d: expected neighbor $expected " +
            s"(bits $bitsAtD), got ${got.toSeq}")
      }
    }
  }

  test("BQ append parity: frozen-stats encode is the append path") {
    // the ivfPqResAppend-style law, stated for BQ: (1) re-encoding the
    // index's own rows against its FROZEN stats reproduces its codes
    // exactly — so appending is just BQ.encode(newRows, stats), no
    // retrain, no re-encode of the existing corpus; (2) a grown index
    // under a full shortlist equals bruteTopK over the union, proving
    // appended codes are first-class citizens of the Hamming scan
    val e = graft.sources.Tables(spark, sf).embeddings
    val old = e.filter(col("vec_id") % 7 =!= 0)
    val add = e.filter(col("vec_id") % 7 === 0)
    val (stats, oldCodes) = Similarity.annIndex(Codec.BQ, old, col("vec_id"), col("embedding"))

    val reEnc = Codec.BQ.encode(old, col("vec_id"), col("embedding"), stats)
    assert(reEnc.collect().map(_.toString).sorted.toSeq ==
      oldCodes.collect().map(_.toString).sorted.toSeq,
      "re-encoding the index's own rows must reproduce its codes byte-for-byte")

    val grown = oldCodes.unionByName(
      Codec.BQ.encode(add, col("vec_id"), col("embedding"), stats))
    val qset = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    val viaIndex = Similarity.annSearch(Codec.BQ, stats, grown,
      e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"),
      k = 5, shortlist = n).collect().map(_.toString).sorted
    val brute = Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      qset, col("vec_id"), col("embedding"), k = 5)
      .collect().map(_.toString).sorted
    assert(viaIndex.toSeq == brute.toSeq,
      "grown index under full shortlist must equal bruteTopK over the union")
  }

  test("annRecall: self is 1.0, disjoint is 0.0, partial counts exactly") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val self = Similarity.annRecall(truth, truth)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(self.toSeq == Seq((1L, 3L, 3L, 1.0), (2L, 2L, 2L, 1.0)))
    val partial = Seq((1L, 11L), (1L, 99L), (2L, 98L)).toDF("query_id", "neighbor_id")
    val got = Similarity.annRecall(truth, partial)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 3L, 1L, 0.3333), (2L, 2L, 0L, 0.0)),
      s"got ${got.toSeq}")

    // recall is about SETS: duplicate pairs in either input (a caller
    // unioning result frames, a non-distinct pair list) must not
    // inflate truth_n or hits
    val dupResult = partial.union(partial)
    val dupTruth = truth.union(truth)
    val dd = Similarity.annRecall(dupTruth, dupResult)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(dd.toSeq == Seq((1L, 3L, 1L, 0.3333), (2L, 2L, 0L, 0.0)),
      s"duplicates inflated recall: ${dd.toSeq}")
  }

  test("dHash is invariant to lossless upscale of a real image and flags the planted pair") {
    import spark.implicits._
    // a 18×16 gradient PNG and its exact 2× nearest-neighbor upscale:
    // the 9×8 dHash raster samples the SAME source pixels (18/9 and
    // 36/9 land on even positions), so the perceptual hash must match
    // bit-for-bit across the resolution change
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer in this JDK?")
      bos.toByteArray
    }
    val a = new java.awt.image.BufferedImage(18, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 18)
      a.setRGB(x, y, ((x * 14) << 16) | ((y * 15) << 8) | ((x + y) * 7))
    val b = new java.awt.image.BufferedImage(36, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 36) b.setRGB(x, y, a.getRGB(x / 2, y / 2))
    // a third, unrelated image must stay far away in Hamming space
    val c = new java.awt.image.BufferedImage(18, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 18)
      c.setRGB(x, y, (((17 - x) * 14) << 16) | (((15 - y) * 15) << 8) | (255 - (x + y) * 7))

    val df = Seq((1L, png(a)), (2L, png(b)), (3L, png(c)), (4L, null))
      .toDF("media_id", "media")
    val hashes = Media.dHash(df, col("media_id"), col("media"))
      .orderBy("media_id").collect()
    assert(hashes(0).getLong(1) == hashes(1).getLong(1), "upscale changed the dHash")
    assert(hashes(3).isNullAt(1), "NULL blob must yield NULL dhash")

    val pairs = Media.dHashPairs(df, col("media_id"), col("media"), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)), s"got ${pairs.toSeq}")
  }

  test("dHash stub path: first-byte perturbation stays within Hamming 3") {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog " * 8
    val df = Seq(
      (1L, t.getBytes("UTF-8")),
      (2L, ("X" + t.substring(1)).getBytes("UTF-8")),
      (3L, t.reverse.toUpperCase.getBytes("UTF-8")))
      .toDF("media_id", "media")
    val pairs = Media.dHashPairs(df, col("media_id"), col("media"), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)), s"got ${pairs.toSeq}")
  }

  test("pHash: upscale-invariant on real images, spectral separation on stubs") {
    import spark.implicits._
    // same PNG fixture discipline as the dHash spec: the 32×32 pHash
    // raster maps x·18/32 and x·36/64 to the SAME source pixel, so an
    // exact 2× nearest-neighbor upscale must hash bit-identically
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer in this JDK?")
      bos.toByteArray
    }
    val a = new java.awt.image.BufferedImage(18, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 18)
      a.setRGB(x, y, ((x * 14) << 16) | ((y * 15) << 8) | ((x + y) * 7))
    val b = new java.awt.image.BufferedImage(36, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 36) b.setRGB(x, y, a.getRGB(x / 2, y / 2))
    val c = new java.awt.image.BufferedImage(18, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 18)
      c.setRGB(x, y, (((17 - x) * 14) << 16) | (((15 - y) * 15) << 8) | (255 - (x + y) * 7))
    val imgs = Seq((1L, png(a)), (2L, png(b)), (3L, png(c)), (4L, null))
      .toDF("media_id", "media")
    val hashes = Media.pHash(imgs, col("media_id"), col("media"))
      .orderBy("media_id").collect()
    assert(hashes(0).getLong(1) == hashes(1).getLong(1), "upscale changed the pHash")
    assert(hashes(3).isNullAt(1), "NULL blob must yield NULL phash")
    val imgPairs = Media.pHashPairs(imgs, col("media_id"), col("media"), maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(imgPairs.toSeq == Seq((1L, 2L, 0L)), s"got ${imgPairs.toSeq}")

    // stub path: a first-byte flip moves a handful of raster samples —
    // the spectrum barely shifts; a reversed/uppercased stream is a
    // different signal entirely
    val t = "the quick brown fox jumps over the lazy dog " * 8
    val stubs = Seq(
      (1L, t.getBytes("UTF-8")),
      (2L, ("X" + t.substring(1)).getBytes("UTF-8")),
      (3L, t.reverse.toUpperCase.getBytes("UTF-8")))
      .toDF("media_id", "media")
    val stubPairs = Media.pHashPairs(stubs, col("media_id"), col("media"), maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(stubPairs.toSeq == Seq((1L, 2L)), s"got ${stubPairs.toSeq}")
  }

  test("frame split + stride sampling shapes") {
    import spark.implicits._
    val text = "x" * 1000 // 1000 bytes → 4 frames of 256 (last 232)
    val df = Media.withFakeBlob(Seq((1L, text)).toDF("doc_id", "text"), col("text"))
    val fr = Media.frames(col("media"), 256)
    val r = df.select(size(fr), size(Media.sampleFrames(fr, 4)),
      length(element_at(fr, -1))).head()
    assert(r.getInt(0) == 4)
    assert(r.getInt(1) == 1)
    assert(r.getInt(2) == 232)
  }

  test("empty blob yields zero frames, not a descending-sequence artifact") {
    import spark.implicits._
    val df = Media.withFakeBlob(Seq((1L, "")).toDF("doc_id", "text"), col("text"))
    val r = df.select(size(Media.frames(col("media"), 256))).head()
    assert(r.getInt(0) == 0)
  }

  test("resize emits fixed-size buffers via the codec boundary; empty blob zero-fills") {
    import spark.implicits._
    val df = Media.withFakeBlob(Seq((1L, "abcd"), (2L, "")).toDF("doc_id", "text"), col("text"))
    val rows = Media.resize(df, col("doc_id"), col("media"), w = 2, h = 2)
      .orderBy("media_id").collect()
    val r1 = rows(0).getAs[Array[Byte]]("resized")
    assert(r1.length == 2 * 2 * 3)
    // nearest-neighbor stride over "abcd": byte i = src((i*4)/12) = src(i/3)
    assert(r1.toSeq == Seq(0, 0, 0, 1, 1, 1, 2, 2, 2, 3, 3, 3).map(i => "abcd".getBytes("UTF-8")(i)))
    assert(rows(1).getAs[Array[Byte]]("resized").toSeq == Seq.fill(12)(0.toByte))
  }

  test("NULL media propagates as NULL through resize and byteHistogram") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Array[Byte]]), (2L, Some("x".getBytes("UTF-8"))))
      .toDF("media_id", "media")
    val rz = Media.resize(df, col("media_id"), col("media"), 2, 2).orderBy("media_id").collect()
    assert(rz(0).isNullAt(1) && !rz(1).isNullAt(1))
    val ft = Media.byteHistogram(df, col("media_id"), col("media")).orderBy("media_id").collect()
    assert(ft(0).isNullAt(1) && !ft(1).isNullAt(1))
  }

  test("byte histogram is an exact L1-normalized feature vector that feeds ANN") {
    import spark.implicits._
    val df = Media.withFakeBlob(
      Seq((1L, "ab"), (2L, "ab"), (3L, "zzzz")).toDF("doc_id", "text"), col("text"))
    val feats = Media.byteHistogram(df, col("doc_id"), col("media"))
    val h1 = feats.filter(col("media_id") === 1).head().getSeq[Float](1)
    assert(h1('a'.toInt) == 0.5f && h1('b'.toInt) == 0.5f)
    assert(math.abs(h1.sum - 1.0f) < 1e-6)
    // composes with the similarity operators: identical-content blobs
    // are each other's top-1 neighbor at cosine 1.0
    val top = Similarity.bruteTopK(
        feats, col("media_id"), col("features"),
        feats.filter(col("media_id") === 1), col("media_id"), col("features"), k = 1)
      .head()
    assert(top.getLong(1) == 2L)
    assert(top.getDouble(3) == 1.0)
  }

  test("NULL blob passes through frames as NULL, distinct from zero-byte media") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Array[Byte]]), (2L, Some(Array.empty[Byte])))
      .toDF("media_id", "media")
    val rows = df.select(col("media_id"), Media.frames(col("media"), 256).as("f"))
      .orderBy("media_id").collect()
    assert(rows(0).isNullAt(1), "no media must stay NULL")
    assert(rows(1).getSeq[Array[Byte]](1).isEmpty, "zero-byte media is an empty frame array")
  }

  test("clusterStats: hand-computed SSE on one cell; sizes partition the corpus") {
    import spark.implicits._
    // nlist=1, iters=0: one cell, centroid is the exact mean (2,2) —
    // fixed-point safe (all x·1e9 integral) — so SSE = 4·((±1)²+(±1)²) = 8
    val corpus = Seq(
      (1L, Array(1.0f, 1.0f)), (2L, Array(3.0f, 1.0f)),
      (3L, Array(1.0f, 3.0f)), (4L, Array(3.0f, 3.0f))).toDF("vec_id", "embedding")
    val one = Similarity.clusterStats(corpus, col("vec_id"), col("embedding"),
      nlist = 1, iters = 0).collect()
    assert(one.length == 1)
    assert(one(0).getLong(1) == 4L, "all four vectors in the single cell")
    assert(one(0).getLong(2) == 8000000000L, s"sse_micro = ${one(0).getLong(2)}")
    assert(one(0).getDouble(3) == 8.0)
    // identical members ⇒ zero inertia, exactly
    val same = Seq((1L, Array(2.0f, 5.0f)), (2L, Array(2.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.clusterStats(same, col("vec_id"), col("embedding"),
      nlist = 1, iters = 0).head().getLong(2) == 0L)
    // trained stats on the real corpus: cell sizes partition the corpus
    val e = Tables(spark, sf).embeddings
    val stats = Similarity.clusterStats(e, col("vec_id"), col("embedding"),
      nlist = 10, iters = 1).collect()
    assert(stats.map(_.getLong(1)).sum == e.count())
    assert(stats.forall(_.getLong(2) >= 0L))
  }

  test("mipsTopK ranks by inner product where cosine order differs; augmentation reduces MIPS to cosine") {
    import spark.implicits._
    // query (1,0): cosine ties a and b at 1.0 and puts c last; inner
    // product separates them as a(2.0) > c(1.5) > b(0.5)
    val corpus = Seq(
      (1L, Array(2.0f, 0.0f)), (2L, Array(0.5f, 0.0f)),
      (3L, Array(1.5f, 1.5f))).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.mipsTopK(corpus, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2.0), (3L, 1.5), (2L, 0.5)), s"got ${got.toSeq}")

    // Bachrach reduction: cosine top-k over the augmented vectors
    // returns the SAME pairs as exact MIPS on the real corpus
    val e = Tables(spark, sf).embeddings
    val m2 = e.select(max(graft.operators.VectorFunctions.dot(
        col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")))).head().getDouble(0)
    val aug = e.select(col("vec_id"),
      Similarity.mipsAugment(col("embedding"), m2).as("embedding"))
    val augQ = e.filter(col("vec_id") < 10).select(col("vec_id"),
      Similarity.mipsAugment(col("embedding"), m2, side = "query").as("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaCosine = pairs(Similarity.bruteTopK(aug, col("vec_id"), col("embedding"),
      augQ, col("vec_id"), col("embedding"), k = 5))
    val exact = pairs(Similarity.mipsTopK(e, col("vec_id"), col("embedding"),
      e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"), k = 5))
    assert(viaCosine == exact,
      s"augmented-cosine and exact MIPS disagree: ${(viaCosine -- exact) ++ (exact -- viaCosine)}")
  }

  test("topComponent finds a planted dominant variance axis") {
    import SparkTest.spark
    import spark.implicits._
    // dim 0 varies with amplitude 10, dims 1-3 with amplitude ~0.1:
    // the top component must point (almost) entirely along dim 0
    val rows = (0 until 40).map { i =>
      val t = (i % 2) * 2 - 1 // ±1
      i.toLong -> Array(10.0f * t, 0.1f * ((i % 3) - 1), 0.05f * t, 0.0f)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = graft.operators.VectorFunctions.topComponent(
        df, org.apache.spark.sql.functions.col("embedding"), dim = 4, iters = 40)
      .orderBy(org.apache.spark.sql.functions.col("pos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val loadings = got.map(_._2)
    val norm = math.sqrt(loadings.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9, s"loadings not unit-norm: $norm")
    assert(math.abs(loadings(0)).toDouble > 0.99,
      s"dominant axis missed: ${loadings.toSeq}")
    val lam = got.head._3
    assert(lam > 90.0 && lam < 110.0, s"eigenvalue off planted variance: $lam") // Var ≈ 100
  }

  test("topComponent: empty input yields an empty frame, bad params reject") {
    import SparkTest.spark
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.operators.VectorFunctions.topComponent(
      empty, org.apache.spark.sql.functions.col("embedding"), dim = 4).count() == 0L)
    intercept[IllegalArgumentException] {
      graft.operators.VectorFunctions.topComponent(
        empty, org.apache.spark.sql.functions.col("embedding"), dim = 1)
    }
  }

  test("filtered ANN: pre-filter beats post-filter, ivf path converges to brute") {
    import SparkTest.spark
    val e = Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 10)
    val pred = pmod(col("label"), lit(2)) === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

    // every returned neighbor satisfies the predicate
    val brute = Similarity.filteredTopK(e, col("vec_id"), col("embedding"),
      pred, q, col("vec_id"), col("embedding"), k = 5)
    val allowed = e.filter(pred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val bruteRows = rows(brute)
    assert(bruteRows.nonEmpty && bruteRows.forall(r => allowed(r._2)))

    // PRE-filter semantics: post-filtering the unfiltered top-k keeps
    // only its eligible survivors — strictly fewer results than the
    // true filtered top-k for at least one query here (the composition
    // this operator exists to prevent)
    val post = Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5)
      .filter(col("neighbor_id").isin(allowed.toSeq.map(Long.box): _*))
    assert(post.count() < bruteRows.size)

    // the index-backed path: predicate-clean at any nprobe, and
    // pair-for-pair EQUAL to filtered brute when probing every cell
    val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
      nlist = 10, iters = 1)
    val narrow = rows(Similarity.ivfTopKFilteredAgainstIndex(cents, cells,
      e, col("vec_id"), col("embedding"), pred,
      q, col("vec_id"), col("embedding"), k = 5, nprobe = 2))
    assert(narrow.forall(r => allowed(r._2)))
    val full = rows(Similarity.ivfTopKFilteredAgainstIndex(cents, cells,
      e, col("vec_id"), col("embedding"), pred,
      q, col("vec_id"), col("embedding"), k = 5, nprobe = 10))
    assert(full == bruteRows,
      s"nprobe=nlist ${full.take(3)} vs brute ${bruteRows.take(3)}")
  }

  test("hard negatives stay inside the semi-hard band and exclude the pair") {
    import SparkTest.spark
    import spark.implicits._
    // anchor (1,0); positive at cos ≈ 0.92; candidates straddle it:
    // 20 is HARDER than the positive (cos ≈ 0.98 — excluded: closer
    // than p means probable dup/mislabel), 21/22 are semi-hard, 23 is
    // nearly orthogonal (kept, ranked last)
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),          // anchor
      (2L, Array(0.92f, 0.392f)),       // positive
      (20L, Array(0.98f, 0.199f)),      // harder than positive → excluded
      (21L, Array(0.8f, 0.6f)),         // semi-hard
      (22L, Array(0.6f, 0.8f)),         // semi-hard, farther
      (23L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Seq((1L, 2L)).toDF("a", "p")
    val got = Similarity.hardNegatives(corpus, col("vec_id"), col("embedding"),
        pairs, col("a"), col("p"), k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((21L, 1L), (22L, 2L), (23L, 3L)), s"got $got")

    // a margin tightens the band: 0.3 drops 21 (cos 0.8 > pcos−0.3)
    val tight = Similarity.hardNegatives(corpus, col("vec_id"), col("embedding"),
        pairs, col("a"), col("p"), k = 5, margin = 0.3)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(tight == Seq(22L, 23L), s"got $tight")

    // a pair whose positive id is absent from the corpus yields no rows
    val orphan = Similarity.hardNegatives(corpus, col("vec_id"), col("embedding"),
      Seq((1L, 99L)).toDF("a", "p"), col("a"), col("p"), k = 5)
    assert(orphan.isEmpty)
  }

  test("MMR diversifies where plain top-k returns near-dups; λ=1 is pure relevance") {
    import SparkTest.spark
    import spark.implicits._
    // doc 2 is a near-copy of doc 1; doc 3 is distinct but relevant
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.995f, 0.0999f)),
      (3L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val q = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    def picks(lam: Double) =
      Similarity.mmrTopK(corpus, col("vec_id"), col("embedding"),
          q, col("vec_id"), col("embedding"), k = 2, shortlist = 3, lambda = lam)
        .orderBy("step").collect().map(_.getLong(2)).toSeq

    // plain top-2 keeps both copies
    val brute = Similarity.bruteTopK(corpus, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 2)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(brute == Seq(1L, 2L))

    // diversity-weighted MMR swaps the copy for the distinct doc
    assert(picks(0.3) == Seq(1L, 3L), s"got ${picks(0.3)}")
    // λ=1: redundancy term vanishes — selection order IS brute order
    assert(picks(1.0) == brute)
  }

  test("MMR at k=20 completes (the 3^k plan-growth regression) and exhausts a short pool") {
    import SparkTest.spark
    import spark.implicits._
    // the declarative per-step formulation this replaced built a
    // Θ(3^k)-node logical plan — k=20 hung analysis before any task
    // ran; the per-query local loop must handle it instantly
    val corpus = (1L to 30L)
      .map(i => (i, Array(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat)))
      .toDF("vec_id", "embedding")
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(corpus, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 20, shortlist = 25, lambda = 0.5)
      .orderBy("step").collect()
    assert(got.length == 20, s"got ${got.length} rows")
    assert(got.map(_.getLong(1)).toSeq == (1L to 20L), "steps must be 1..k")
    assert(got.map(_.getLong(2)).distinct.length == 20, "picks must be distinct")

    // a query with fewer candidates than k stops when the pool is dry
    val short = Similarity.mmrTopK(corpus.filter(col("vec_id") <= 3),
        col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 20, shortlist = 25, lambda = 0.5)
      .collect()
    assert(short.length == 3, s"got ${short.length} rows")
  }

  test("randomProjectFixed is sign-symmetric and linear in the input") {
    import SparkTest.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, Array(1.0f, 2.0f, -3.0f)),
      (2L, Array(-1.0f, -2.0f, 3.0f))).toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        graft.operators.VectorFunctions.randomProjectFixed(
          col("embedding"), k = 4, seed = "t").as("y"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // projection of −x is exactly −projection of x (integer negation)
    assert(got(1L).zip(got(2L)).forall { case (a, b) => a == -b },
      s"got ${got(1L)} vs ${got(2L)}")
  }

  test("cluster-label agreement: ARI is 1 on identity, 0 on one cluster, NULL when trivial") {
    import SparkTest.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def run(asg: Seq[(Long, Long)], lbl: Seq[(Long, Long)]) =
      Similarity.clusterLabelAgreement(
          asg.toDF("id", "c"), col("id"), col("c"),
          lbl.toDF("id", "l"), col("id"), col("l"))
        .collect()(0)
    val lbl = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 2L), (6L, 2L))
    // identical partition: purity 1, ARI exactly 1.0 (same e cancels)
    val perfect = run(lbl, lbl)
    assert(perfect.getDouble(4) == 1.0 && perfect.getDouble(5) == 1.0,
      s"perfect: $perfect")
    // everything in ONE cluster vs 3 labels: chance-level — ARI exactly 0
    val one = run(lbl.map { case (id, _) => (id, 9L) }, lbl)
    assert(one.getDouble(5) == 0.0, s"one-cluster ARI: $one")
    assert(one.getLong(1) == 1L && one.getLong(2) == 3L, s"counts: $one")
    // both partitions trivial: chance correction divides by zero -> NULL
    val trivial = run(lbl.map { case (id, _) => (id, 9L) },
      lbl.map { case (id, _) => (id, 7L) })
    assert(trivial.isNullAt(5), s"trivial ARI must be NULL: $trivial")
    // unlabeled rows are excluded: n counts the intersection only
    val partial = run(lbl, lbl.take(4))
    assert(partial.getLong(0) == 4L, s"intersection: $partial")
  }

  test("daviesBouldin: separation worsens when two planted clusters approach") {
    import spark.implicits._
    // unit-circle clouds: the trainer assigns by COSINE, so clusters
    // must separate in ANGLE; jitter is angular too, keeping Euclidean
    // scatter (what S_i measures) ≈ chord length, consistent. Each
    // cloud's ids are drawn from one fnv1a64("ivf:"+id) % 2 residue
    // class (the lists below are the first 30 of each, verified
    // against the expression), so the hash-seeded init IS the true
    // clustering: a uniform hash init would hand both cells the same
    // cloud MIX, identical centroids, and a degenerate one-cell
    // collapse — the spec pins the metric, not k-means symmetry
    // breaking.
    val idsCell0 = Seq(0L, 2, 4, 6, 8, 11, 13, 15, 17, 19, 20, 22, 24, 26, 28,
      31, 33, 35, 37, 39, 40, 42, 44, 46, 48, 51, 53, 55, 57, 59)
    val idsCell1 = Seq(1L, 3, 5, 7, 9, 10, 12, 14, 16, 18, 21, 23, 25, 27, 29,
      30, 32, 34, 36, 38, 41, 43, 45, 47, 49, 50, 52, 54, 56, 58)
    def cloud(deg: Double, ids: Seq[Long]) =
      ids.zipWithIndex.map { case (id, i) =>
        val a = math.toRadians(deg + (i % 5) * 0.5 - 1.0)
        (id, Array(math.cos(a).toFloat, math.sin(a).toFloat))
      }
    def worstR(degB: Double) = {
      val df = (cloud(0.0, idsCell0) ++ cloud(degB, idsCell1))
        .toDF("vec_id", "embedding")
      val rows = Similarity.daviesBouldin(df, col("vec_id"), col("embedding"),
          nlist = 2, iters = 1)
        .collect()
      assert(rows.length == 2, s"training collapsed to ${rows.length} cell(s)")
      rows.map(_.getDouble(3)).max
    }
    val far = worstR(degB = 90.0)
    val near = worstR(degB = 20.0)
    assert(far > 0 && near > far,
      s"DB ratio should rise as centroids approach: far=$far near=$near")

    // silhouette reads the same geometry the opposite way: mean_s is
    // high for well-separated clouds and FALLS as they approach (same
    // hash-residue fixture, so the trained cells are the true clouds)
    def meanSil(degB: Double) = {
      val df = (cloud(0.0, idsCell0) ++ cloud(degB, idsCell1))
        .toDF("vec_id", "embedding")
      val rows = Similarity.silhouette(df, col("vec_id"), col("embedding"),
          nlist = 2, iters = 1)
        .collect()
      assert(rows.length == 2, s"training collapsed to ${rows.length} cell(s)")
      assert(rows.map(_.getLong(1)).sum == 60L, "every vector scored once")
      rows.map(_.getDouble(2)).min
    }
    val sFar = meanSil(degB = 90.0)
    val sNear = meanSil(degB = 20.0)
    assert(sFar > 0.5 && sFar > sNear,
      s"silhouette should fall as clusters approach: far=$sFar near=$sNear")
  }

  test("graph expansion: recall ≥ the starved probe, empty graph is a no-op") {
    val e = Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5))
    val (cents, cells) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
      nlist = 10, iters = 1)
    val graph = Similarity.ivfTopKAgainstIndex(cents, cells,
        e, col("vec_id"), col("embedding"),
        e, col("vec_id"), col("embedding"), k = 5, nprobe = 2)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    def search(g: org.apache.spark.sql.DataFrame) =
      pairs(Similarity.graphExpandedTopK(cents, cells, g,
        e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5, nprobe = 1))
    val starved = pairs(Similarity.ivfTopKAgainstIndex(cents, cells,
      e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5, nprobe = 1))
    val expanded = search(graph)
    // candidate growth is recall-monotone under exact re-rank: a true
    // neighbor in the starved top-k stays in the expanded top-k
    assert((truth intersect starved).subsetOf(truth intersect expanded),
      s"expansion lost truth pairs: ${(truth intersect starved) diff expanded}")
    // on this corpus the hop rescues at least one truth pair the
    // starved probe missed (nprobe=1 starves ~half the queries)
    assert((truth intersect expanded).size > (truth intersect starved).size,
      s"expansion rescued nothing: starved=${(truth intersect starved).size}")
    // an edgeless graph degenerates to the plain indexed search
    assert(search(graph.filter(lit(false))) == starved)
  }
}
