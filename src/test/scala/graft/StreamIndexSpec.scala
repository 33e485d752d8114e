package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.operators.Similarity.{Codec, Ivf}
import graft.streaming.StreamIndex
import graft.streaming.StreamIndex.AppendLeg
import graft.streaming.StreamIndex.AppendLeg.{BqCodes, IvfCells, IvfPqRes, TextPartials}

/** C154 streaming: the BQ index-append stream is pinned by the same
  * twin law as the monitors — codes table after N files ≡ BQ.encode
  * over those N files' rows under the frozen stats, row for row,
  * including across a checkpoint resume AND a replayed micro-batch —
  * and the streamed table is a first-class citizen of the search path
  * (annSearch parity with the batch-built index).
  */
class StreamIndexSpec extends AnyFunSuite {
  import SparkTest._

  private def tmp(): String = Files.createTempDirectory("graft-sidx").toString

  /** Write `df` as ONE parquet file named `name` directly in `dir`
    * (the file-stream source lists plain files, not writer subdirs). */
  private def dropFile(df: org.apache.spark.sql.DataFrame, dir: String,
                       name: String): Unit = {
    val scratch = Files.createTempDirectory("graft-sidx-w").toString
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = Files.list(Paths.get(scratch)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail(s"no part file written under $scratch"))
    Files.move(part, Paths.get(dir, name)): Unit
  }

  private def canonText(ix: graft.functions.Keywords.TextIndex): Seq[Seq[String]] = Seq(
    ix.postings.select("doc_id", "term", "tf")
      .collect().map(_.toString).sorted.toSeq,
    ix.terms.select("term", "df", "ctf")
      .collect().map(_.toString).sorted.toSeq,
    ix.docs.select("doc_id", "dl").collect().map(_.toString).sorted.toSeq,
    ix.stats.select("n_docs", "total_tokens")
      .collect().map(_.toString).toSeq)

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Drop the newest commit record so a restart replays that batch. */
  private def deleteLastCommit(ck: String): Unit = {
    val last = Files.list(Paths.get(ck, "commits")).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.matches("\\d+"))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(last)
    Files.deleteIfExists(Paths.get(ck, "commits", "." + last.getFileName + ".crc")): Unit
  }

  private def canonCodes(path: String) = {
    spark.catalog.refreshByPath(path)
    spark.read.parquet(path).select("vec_id", "codes")
      .collect().map(_.toString).sorted.toSeq
  }

  /** One row of the append leg table: the legs under an output root,
    * the input table they read, and the batch twin of their frames
    * (aligned with the legs' `dirs`). */
  private case class LegRow(name: String, input: () => DataFrame, id: String,
                            legs: String => Seq[AppendLeg],
                            twin: DataFrame => Seq[DataFrame])

  private def embeddings = graft.sources.Tables(spark, sf).embeddings
    .select(col("vec_id"), col("embedding"))

  /** Frozen stats, centroids and codebooks, trained once on the whole
    * embeddings table and shared by the table's ANN rows. */
  private lazy val frozenDirs: (String, String, String) = {
    val e = embeddings
    val statsDir = tmp() + "/stats"; val centsDir = tmp() + "/cents"
    val booksDir = tmp() + "/books"
    Codec.BQ.train(e, col("vec_id"), col("embedding")).write.parquet(statsDir)
    val (cents, _, books, _) = Similarity.ivfPqResIndex(
      e, col("vec_id"), col("embedding"), nlist = 8, m = 4, ksub = 16)
    cents.write.parquet(centsDir); books.write.parquet(booksDir)
    (statsDir, centsDir, booksDir)
  }

  private val legRows: Seq[LegRow] = {
    def stats = spark.read.parquet(frozenDirs._1)
    def cents = spark.read.parquet(frozenDirs._2)
    def books = spark.read.parquet(frozenDirs._3)
    def bq(out: String) = BqCodes(frozenDirs._1, s"$out/codes", "embedding")
    def cells(out: String) = IvfCells(frozenDirs._2, s"$out/cells", "embedding")
    def bqTwin(f: DataFrame) = Codec.BQ.encode(f, col("vec_id"), col("embedding"), stats)
    def cellsTwin(f: DataFrame) =
      Similarity.ivfAssignAgainstIndex(f, col("vec_id"), col("embedding"), cents)
    Seq(
      LegRow("BqCodes", () => embeddings, "vec_id", out => Seq(bq(out)),
        f => Seq(bqTwin(f))),
      LegRow("IvfCells", () => embeddings, "vec_id", out => Seq(cells(out)),
        f => Seq(cellsTwin(f))),
      LegRow("BqCodes+IvfCells", () => embeddings, "vec_id",
        out => Seq(bq(out), cells(out)), f => Seq(bqTwin(f), cellsTwin(f))),
      LegRow("IvfPqRes", () => embeddings, "vec_id",
        out => Seq(IvfPqRes(frozenDirs._2, frozenDirs._3, s"$out/cells",
          s"$out/codes", "embedding", m = 4, ksub = 16)),
        f => {
          val (c, k) = Similarity.ivfPqResAppend(cents, books, f,
            col("vec_id"), col("embedding"), m = 4, ksub = 16)
          Seq(c, k)
        }),
      LegRow("TextPartials", () => graft.sources.Tables(spark, sf).documents
          .select(col("doc_id"), col("text")), "doc_id",
        out => Seq(TextPartials(s"$out/tix", "text")),
        f => {
          val ix = graft.functions.Keywords.textIndex(f, col("doc_id"), col("text"))
          Seq(ix.postings, ix.terms, ix.docs, ix.stats)
        }))
  }

  // The properties every leg list shares, one row per leg (and the
  // composed pair): a resumed query appends only the new file as its
  // own batch; a replayed batch (commit record deleted) replaces its
  // own batch=<id> partitions and never duplicates them; tombstoned
  // ids never land in any output of a guarded batch; and the query's
  // pinned frames are released on termination. Each batch=<id>
  // partition must equal the leg's batch twin over that file's rows.
  for (row <- legRows)
    test(s"append leg ${row.name}: resume, replay, tombstones, release") {
      val d = row.input(); val id = row.id
      val value = d.columns.filter(_ != id).head
      val file1 = d.filter(col(id) < 120 && col(id) % 2 === 0)
      val file2 = d.filter(col(id) < 120 && col(id) % 2 === 1)
      val tombstoned = file1.filter(col(id) % 4 === 0)
      val fresh = d.filter(col(id) >= 120 && col(id) < 150)
        .select((col(id) + 1000000L).as(id), col(value))
      val in = tmp(); val ck = tmp(); val out = tmp(); val tsDir = tmp() + "/ts"
      // mis-typed on purpose: the guard casts like the batch remove
      tombstoned.select(col(id).cast("int")).write.parquet(tsDir)
      val legs = row.legs(out)
      val dirs = legs.flatMap(_.dirs)
      // twins are computed before the baseline: the text twin pins
      def expect(f: DataFrame) = row.twin(f).map(t => (t.columns.toSeq, canon(t)))
      val (x1, x2, x3) = (expect(file1), expect(file2), expect(fresh))
      val gone = tombstoned.select(col(id)).collect().map(_.getLong(0)).toSet
      val baseline = spark.sparkContext.getPersistentRDDs.size

      def run(ts: Option[String] = None): Unit = StreamIndex.startIndexAppend(
        spark, in, d.schema, id, ck, legs, tombstonesDir = ts).awaitTermination()
      def names(dir: String) = Files.list(Paths.get(dir)).toArray
        .map(_.asInstanceOf[Path].getFileName.toString).toSeq
      def batches(dir: String) = names(dir).filter(_.startsWith("batch=")).sorted
      def batch1Files() = dirs.map(d => names(s"$d/batch=1").filter(_.endsWith(".parquet")).toSet)
      def part(dir: String, b: Int, cols: Seq[String]) =
        canon(spark.read.parquet(s"$dir/batch=$b").select(cols.map(col): _*))
      def check(what: String, want: Seq[Seq[(Seq[String], Seq[String])]]): Unit =
        dirs.zipWithIndex.foreach { case (dir, i) =>
          assert(batches(dir) == want.indices.map(b => s"batch=$b"),
            s"$what: $dir holds ${batches(dir)}")
          want.zipWithIndex.foreach { case (x, b) =>
            assert(part(dir, b, x(i)._1) == x(i)._2,
              s"$what: $dir/batch=$b differs from the batch twin")
          }
        }

      dropFile(file1, in, "p1.parquet"); run()
      check("first run", Seq(x1))
      dropFile(file2, in, "p2.parquet"); run()
      check("resume", Seq(x1, x2))
      // replay batch 1 while a late file of tombstoned and fresh rows
      // arrives: batch 1 is rewritten in place (new part files, same
      // rows), batch 2 holds the fresh rows only
      val before = batch1Files()
      deleteLastCommit(ck)
      dropFile(tombstoned.unionByName(fresh), in, "p3.parquet")
      run(Some(tsDir))
      check("replay + guarded late file", Seq(x1, x2, x3))
      batch1Files().lazyZip(before).lazyZip(dirs).foreach { (now, was, dir) =>
        assert(now.nonEmpty && now.intersect(was).isEmpty,
          s"the replay did not rewrite $dir/batch=1")
      }
      dirs.foreach { dir =>
        val df = spark.read.parquet(s"$dir/batch=2")
        if (df.columns.contains(id)) {
          val leaked = df.select(col(id)).collect().map(_.getLong(0)).toSet & gone
          assert(leaked.isEmpty, s"tombstoned ids landed in $dir: $leaked")
        }
      }

      // the terminated-event delivery is async on the listener bus
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var now = spark.sparkContext.getPersistentRDDs.size
      while (now > baseline && System.nanoTime() < deadline) {
        Thread.sleep(200)
        now = spark.sparkContext.getPersistentRDDs.size
      }
      assert(now <= baseline,
        s"restarted appends strand pinned frames: $baseline cached before, $now after")
    }

  test("startIndexAppend refuses an empty leg list and legs sharing a dir") {
    val schema = embeddings.schema
    def start(legs: Seq[AppendLeg]) =
      StreamIndex.startIndexAppend(spark, tmp(), schema, "vec_id", tmp(), legs)
    val empty = intercept[IllegalArgumentException](start(Nil))
    assert(empty.getMessage.contains("needs >= 1 append leg"), empty.getMessage)
    val same = intercept[IllegalArgumentException](start(Seq(
      BqCodes("/s", "/ix/out", "embedding"), IvfCells("/c", "/ix/out/", "embedding"))))
    assert(same.getMessage.contains("same directory"), same.getMessage)
    val nested = intercept[IllegalArgumentException](start(Seq(
      TextPartials("/ix/out", "text"), BqCodes("/s", "/ix/out/terms", "embedding"))))
    assert(nested.getMessage.contains("same directory"), nested.getMessage)
  }

  test("streamed codes == frozen-stats batch encode, across resume and a replayed batch") {
    val e = graft.sources.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val in = tmp(); val ck = tmp(); val statsDir = tmp() + "/stats"
    val codesDir = tmp() + "/codes"

    // train ONCE on the full corpus, freeze the thresholds
    Codec.BQ.train(e, col("vec_id"), col("embedding"))
      .write.parquet(statsDir)
    val stats = spark.read.parquet(statsDir)

    val half1 = e.filter(col("vec_id") % 2 === 0)
    val half2 = e.filter(col("vec_id") % 2 === 1)
    dropFile(half1, in, "p1.parquet")
    StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ck,
      Seq(BqCodes(statsDir, codesDir, "embedding"))).awaitTermination()
    assert(canonCodes(codesDir) ==
      Codec.BQ.encode(half1, col("vec_id"), col("embedding"), stats)
        .collect().map(_.toString).sorted.toSeq,
      "first batch's codes must equal the frozen-stats batch encode")

    // resume from the checkpoint: only the new file is encoded, and
    // the summed table equals the batch encode over BOTH files
    dropFile(half2, in, "p2.parquet")
    StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ck,
      Seq(BqCodes(statsDir, codesDir, "embedding"))).awaitTermination()
    val unionCodes = Codec.BQ.encode(e, col("vec_id"), col("embedding"), stats)
      .collect().map(_.toString).sorted.toSeq
    assert(canonCodes(codesDir) == unionCodes,
      "after resume the codes table must equal the batch encode of the union")

    // replay: drop the last commit record so the restarted stream
    // re-runs the final batch — its partition must be REPLACED, never
    // duplicated (the monitor plumbing's idempotence pattern)
    deleteLastCommit(ck)
    StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ck,
      Seq(BqCodes(statsDir, codesDir, "embedding"))).awaitTermination()
    assert(canonCodes(codesDir) == unionCodes,
      "a replayed batch must not duplicate or lose codes")

    // the streamed table is a first-class search input: searching
    // against it equals searching against the batch-built index
    spark.catalog.refreshByPath(codesDir)
    val streamed = spark.read.parquet(codesDir).select("vec_id", "codes")
    val qset = e.filter(col("vec_id") < 5)
    val viaStream = Similarity.annSearch(Codec.BQ, stats, streamed,
      e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"),
      k = 5, shortlist = 32).collect().map(_.toString).sorted.toSeq
    val (bs, bc) = Similarity.annIndex(Codec.BQ, e, col("vec_id"), col("embedding"))
    val viaBatch = Similarity.annSearch(Codec.BQ, bs, bc,
      e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"),
      k = 5, shortlist = 32).collect().map(_.toString).sorted.toSeq
    assert(viaStream == viaBatch,
      "search over the streamed codes must equal the batch-built index")
  }

  test("streamed text index == batch build across resume and replay; guarded read == rebuild-without") {
    import graft.functions.Keywords
    val d = graft.sources.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
    val in = tmp(); val ck = tmp(); val ixDir = tmp() + "/tix"
    val half1 = d.filter(col("doc_id") % 2 === 0)
    val half2 = d.filter(col("doc_id") % 2 === 1)

    def canon(ix: Keywords.TextIndex) = canonText(ix)
    def readIx(ts: Option[org.apache.spark.sql.DataFrame] = None) = {
      Seq("postings", "terms", "docs", "stats")
        .foreach(f => spark.catalog.refreshByPath(s"$ixDir/$f"))
      StreamIndex.readStreamedTextIndex(spark, ixDir, ts)
    }

    // first file: streamed partials assemble to exactly the batch build
    dropFile(half1, in, "p1.parquet")
    StreamIndex.startIndexAppend(spark, in, d.schema, "doc_id", ck,
      Seq(TextPartials(ixDir, "text"))).awaitTermination()
    assert(canon(readIx()) ==
      canon(Keywords.textIndex(half1, col("doc_id"), col("text"))),
      "streamed partials must assemble to the batch build of file 1")

    // checkpoint resume: only the new file is tokenized; the assembled
    // index equals the batch build over the union
    dropFile(half2, in, "p2.parquet")
    StreamIndex.startIndexAppend(spark, in, d.schema, "doc_id", ck,
      Seq(TextPartials(ixDir, "text"))).awaitTermination()
    val full = canon(Keywords.textIndex(d, col("doc_id"), col("text")))
    assert(canon(readIx()) == full,
      "after resume the assembled index must equal the batch build of the union")

    // replay: re-running the final batch must REPLACE its partials
    // (overwrite idempotence), never double-count df/ctf/stats mass
    deleteLastCommit(ck)
    StreamIndex.startIndexAppend(spark, in, d.schema, "doc_id", ck,
      Seq(TextPartials(ixDir, "text"))).awaitTermination()
    assert(canon(readIx()) == full,
      "a replayed batch must not duplicate or lose index mass")

    // the streamed read is a first-class search input: BM25 over the
    // assembled index equals BM25 over the batch-built index
    val qterms = d.select(explode(split(lower(col("text")), " ")).as("t"))
      .filter(length(col("t")) > 2).distinct().orderBy(col("t")).limit(4)
      .collect().map(_.getString(0))
    val queries = spark.createDataFrame(
      qterms.zipWithIndex.map { case (t, i) => (i.toLong % 2, t) }.toSeq)
      .toDF("query_id", "term")
    val viaStream = Keywords.bm25AgainstIndex(readIx(), queries, k = 5)
      .collect().map(_.toString).sorted.toSeq
    val viaBatch = Keywords.bm25AgainstIndex(
        Keywords.textIndex(d, col("doc_id"), col("text")), queries, k = 5)
      .collect().map(_.toString).sorted.toSeq
    assert(viaStream.nonEmpty, "fixture broken: query terms must match")
    assert(viaStream == viaBatch,
      "search over the streamed read must equal the batch-built index")

    // takedown AFTER ingest: the guarded reader routes through
    // textIndexRemove, so df/ctf/stats mass is SUBTRACTED, not merely
    // filtered — the guarded read equals the rebuild-without corpus
    val gone = d.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
    val tsDir = tmp() + "/tombstones"
    // mis-typed on purpose: the guard must cast like textIndexRemove
    gone.select(col("doc_id").cast("int")).write.parquet(tsDir)
    val ts = spark.read.parquet(tsDir)
    val survivors = d.join(gone, Seq("doc_id"), "left_anti")
    assert(canon(readIx(Some(ts))) ==
      canon(Keywords.textIndex(survivors, col("doc_id"), col("text"))),
      "guarded streamed read must equal the rebuild-without index")

    // ingest guard: a LATE file resurrecting taken-down ids (plus one
    // fresh doc) must land only the fresh doc's partials
    val late = d.filter(col("doc_id") % 7 === 3)
      .unionByName(d.filter(col("doc_id") === 4)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    dropFile(late, in, "p3.parquet")
    StreamIndex.startIndexAppend(spark, in, d.schema, "doc_id", ck,
      Seq(TextPartials(ixDir, "text")), tombstonesDir = Some(tsDir)).awaitTermination()
    val fresh = d.filter(col("doc_id") === 4)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    assert(canon(readIx()) ==
      canon(Keywords.textIndex(d.unionByName(fresh),
        col("doc_id"), col("text"))),
      "the late file must contribute only its untombstoned rows")
  }

  test("compacting the streamed text index publishes the rebuild-without generation") {
    import graft.functions.Keywords
    val d = graft.sources.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
    val in = tmp(); val ck = tmp(); val ixDir = tmp() + "/tix"
    // two streamed files, takedowns landing AFTER ingest
    dropFile(d.filter(col("doc_id") % 2 === 0), in, "p1.parquet")
    StreamIndex.startIndexAppend(spark, in, d.schema, "doc_id", ck,
      Seq(TextPartials(ixDir, "text"))).awaitTermination()
    dropFile(d.filter(col("doc_id") % 2 === 1), in, "p2.parquet")
    StreamIndex.startIndexAppend(spark, in, d.schema, "doc_id", ck,
      Seq(TextPartials(ixDir, "text"))).awaitTermination()
    val gone = d.filter(col("doc_id") % 5 === 1).select(col("doc_id"))
    val tsDir = tmp() + "/tombstones"
    gone.select(col("doc_id").cast("int")).write.parquet(tsDir)

    // one call: assemble − tombstones → target-size files → committed gen
    val pub = tmp() + "/pub"
    val gen = StreamIndex.compactStreamedTextIndex(spark, ixDir, Some(tsDir), pub)
    val (readGen, ix) = StreamIndex.readPublishedTextIndex(spark, pub)
    assert(readGen == gen)
    val survivors = d.join(gone, Seq("doc_id"), "left_anti")
    assert(canonText(ix) ==
      canonText(Keywords.textIndex(survivors, col("doc_id"), col("text"))),
      "the published generation must equal the rebuild-without index")

    // search over the published gen == the tombstone-guarded streamed read
    val qterms = d.select(explode(split(lower(col("text")), " ")).as("t"))
      .filter(length(col("t")) > 2).distinct().orderBy(col("t")).limit(4)
      .collect().map(_.getString(0))
    val queries = spark.createDataFrame(
      qterms.zipWithIndex.map { case (t, i) => (i.toLong % 2, t) }.toSeq)
      .toDF("query_id", "term")
    val viaPub = Keywords.bm25AgainstIndex(ix, queries, k = 5)
      .collect().map(_.toString).sorted.toSeq
    val viaGuarded = Keywords.bm25AgainstIndex(
        StreamIndex.readStreamedTextIndex(spark, ixDir,
          Some(spark.read.parquet(tsDir))), queries, k = 5)
      .collect().map(_.toString).sorted.toSeq
    assert(viaPub.nonEmpty, "fixture broken: query terms must match")
    assert(viaPub == viaGuarded,
      "search over the published gen must equal the guarded streamed read")

    // the batch= small files are gone: each published artifact holds
    // fewer part files than its streamed tree (2 batches -> 1 merged)
    def parts(dir: String): Int = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    Seq("postings", "terms", "docs", "stats").foreach { f =>
      assert(parts(s"$pub/gen=$gen/$f") < parts(s"$ixDir/$f"),
        s"$f: compaction must shrink the file count")
    }
  }

  test("compacting the streamed codes table preserves search results exactly") {
    // the small-files remedy composed with the streaming appends: an
    // AvailableNow leg writes one file set per batch partition, and at
    // production cadence the codes table becomes a million-file
    // listing — Layout.compact rewrites it to target-size files, and
    // the BQ search over the compacted table must equal the original
    // row-for-row (compaction is layout, never content)
    val e = graft.sources.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val in = tmp(); val ck = tmp(); val statsDir = tmp() + "/stats"
    val codesDir = tmp() + "/codes"; val compactDir = tmp() + "/compact"
    Codec.BQ.train(e, col("vec_id"), col("embedding"))
      .write.parquet(statsDir)
    // three micro-batches = three batch=<id> partitions, many files
    (0 to 2).foreach { i =>
      dropFile(e.filter(col("vec_id") % 3 === i), in, s"p$i.parquet")
      StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ck,
        Seq(BqCodes(statsDir, codesDir, "embedding"))).awaitTermination()
    }
    graft.sources.Layout.compact(spark, codesDir, compactDir,
      targetBytes = 64L * 1024 * 1024)
    val stats = spark.read.parquet(statsDir)
    val q = e.filter(col("vec_id") < 5)
    def rows(codesPath: String) =
      Similarity.annSearch(Codec.BQ, stats,
          spark.read.parquet(codesPath).select("vec_id", "codes"),
          e, col("vec_id"), col("embedding"),
          q, col("vec_id"), col("embedding"), k = 5, shortlist = 20)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val original = rows(codesDir)
    assert(rows(compactDir) == original && original.nonEmpty)
    // fewer data files after compaction (the point of the exercise)
    def nFiles(p: String) =
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    assert(nFiles(compactDir) < nFiles(codesDir),
      s"compaction must shrink the file count: ${nFiles(compactDir)} vs ${nFiles(codesDir)}")
  }

  test("compactStreamedIndex: remove→compact→publish in one call equals rebuild-without") {
    // the tombstone guard's endgame as a named primitive: takedowns
    // land AFTER ingest (the streamed tables still carry the dead
    // rows), and one call must materialize the pruned table into a
    // committed generation that readers search with tombstones = None
    val e = graft.sources.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val in = tmp(); val ck = tmp(); val statsDir = tmp() + "/stats"
    val centsDir = tmp() + "/cents"; val codesDir = tmp() + "/codes"
    val cellsDir = tmp() + "/cells"; val tombsDir = tmp() + "/tombstones"
    val ixDir = tmp() + "/index"
    Codec.BQ.train(e, col("vec_id"), col("embedding"))
      .write.parquet(statsDir)
    val (cents, _, _, _) = Similarity.ivfPqResIndex(
      e, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8)
    cents.write.parquet(centsDir)
    // three UNGUARDED micro-batches — the takedown hasn't happened yet
    (0 to 2).foreach { i =>
      dropFile(e.filter(col("vec_id") % 3 === i), in, s"p$i.parquet")
      StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ck,
        Seq(BqCodes(statsDir, codesDir, "embedding"),
          IvfCells(centsDir, cellsDir, "embedding")))
        .awaitTermination()
    }
    // now the takedown lands
    e.filter(col("vec_id") % 5 === 0).select("vec_id").write.parquet(tombsDir)
    val stats = spark.read.parquet(statsDir)
    val centroids = spark.read.parquet(centsDir)
    val gen = StreamIndex.compactStreamedIndex(spark,
      Map("codes" -> codesDir, "cells" -> cellsDir), Some(tombsDir), ixDir,
      frozen = Map("stats" -> stats, "centroids" -> centroids),
      targetBytes = 64L * 1024 * 1024)
    assert(gen == 0L)
    val (g, art) = graft.sources.Layout.readIndexVersion(spark, ixDir,
      Seq("codes", "cells", "stats", "centroids"))
    assert(g == 0L)
    // frame law: the published artifacts ≡ rebuild-without-tombstoned
    // (frozen-stats encode / frozen-centroid assign of the survivors);
    // the batch ingest-bookkeeping column is gone
    val survivors = e.filter(col("vec_id") % 5 =!= 0)
    assert(art("codes").columns.toSeq == Seq("vec_id", "codes"))
    assert(art("cells").columns.toSeq.sorted == Seq("cell", "vec_id"))
    assert(canon(art("codes")) == canon(Codec.BQ.encode(
      survivors, col("vec_id"), col("embedding"), stats)))
    assert(canon(art("cells").select("vec_id", "cell")) ==
      canon(Similarity.ivfAssignAgainstIndex(
        survivors, col("vec_id"), col("embedding"), centroids)))
    assert(canon(art("stats")) == canon(stats) &&
      canon(art("centroids")) == canon(centroids))
    // search law: the published generation with NO tombstones matches
    // the guarded streamed read row-for-row
    val q = e.filter(col("vec_id") < 5)
    def rows(cells: org.apache.spark.sql.DataFrame,
             codes: org.apache.spark.sql.DataFrame,
             ts: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.annSearch(Codec.BQ, stats, codes,
          e, col("vec_id"), col("embedding"),
          q, col("vec_id"), col("embedding"),
          k = 5, shortlist = 20, ivf = Some(Ivf(centroids, cells, nprobe = 3)),
          tombstones = ts)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val viaPublished = rows(art("cells"), art("codes"), None)
    val viaGuardedStream = rows(
      spark.read.parquet(cellsDir), spark.read.parquet(codesDir),
      Some(spark.read.parquet(tombsDir)))
    assert(viaPublished == viaGuardedStream && viaPublished.nonEmpty)
    // and it IS a compaction: fewer data files than the batch= tree
    def nFiles(p: String) =
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    assert(nFiles(s"$ixDir/gen=0/codes") < nFiles(codesDir),
      s"publish must shrink the file count: ${nFiles(s"$ixDir/gen=0/codes")} " +
        s"vs ${nFiles(codesDir)}")
    // contract guards
    intercept[IllegalArgumentException] {
      StreamIndex.compactStreamedIndex(spark, Map.empty, None, ixDir)
    }
    intercept[IllegalArgumentException] {
      StreamIndex.compactStreamedIndex(spark, Map("stats" -> codesDir),
        None, ixDir, frozen = Map("stats" -> stats))
    }
  }

  test("streamed IVF cells == frozen-centroid assign; composed search sees appended vectors") {
    val e = graft.sources.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val in = tmp(); val ckCells = tmp(); val ckCodes = tmp()
    val centsDir = tmp() + "/cents"; val cellsDir = tmp() + "/cells"
    val statsDir = tmp() + "/stats"; val codesDir = tmp() + "/codes"

    // train BOTH quantizers on the INITIAL corpus only, freeze all four
    // artifacts; the initial cells/codes land as their own partitions
    val half1 = e.filter(col("vec_id") % 2 === 0)
    val half2 = e.filter(col("vec_id") % 2 === 1)
    val (cents, cells1) = Similarity.ivfIndex(half1, col("vec_id"),
      col("embedding"), nlist = 8)
    cents.write.parquet(centsDir)
    cells1.write.parquet(s"$cellsDir/batch=initial")
    Codec.BQ.train(half1, col("vec_id"), col("embedding"))
      .write.parquet(statsDir)
    val stats = spark.read.parquet(statsDir)
    Codec.BQ.encode(half1, col("vec_id"), col("embedding"), stats)
      .write.parquet(s"$codesDir/batch=initial")

    // stream the NEW vectors through BOTH append legs (separate
    // checkpoints over the same input)
    dropFile(half2, in, "p2.parquet")
    StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ckCells,
      Seq(IvfCells(centsDir, cellsDir, "embedding"))).awaitTermination()
    StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ckCodes,
      Seq(BqCodes(statsDir, codesDir, "embedding"))).awaitTermination()
    spark.catalog.refreshByPath(cellsDir); spark.catalog.refreshByPath(codesDir)

    // law 1: the grown cells table == the frozen-centroid batch assign
    // of the UNION (assignCells is the build's own definition, so the
    // initial rows reproduce too — the append-parity shape)
    val grownCells = spark.read.parquet(cellsDir).select("vec_id", "cell")
    assert(grownCells.collect().map(_.toString).sorted.toSeq ==
      Similarity.ivfAssignAgainstIndex(e, col("vec_id"), col("embedding"),
          spark.read.parquet(centsDir))
        .collect().map(_.toString).sorted.toSeq,
      "streamed cells must equal the frozen-centroid batch assign of the union")

    // law 2: the four-artifact composed search SEES the appended
    // vectors — at full probe + full shortlist it equals bruteTopK
    // over the union (without the cells leg, every odd vec_id would
    // silently vanish from the candidate join)
    val qset = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    val viaStream = Similarity.annSearch(Codec.BQ,
      stats, spark.read.parquet(codesDir).select("vec_id", "codes"),
      e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"),
      k = 5, shortlist = n,
      ivf = Some(Ivf(spark.read.parquet(centsDir), grownCells, nprobe = 8)))
      .collect().map(_.toString).sorted.toSeq
    val brute = Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      qset, col("vec_id"), col("embedding"), k = 5)
      .collect().map(_.toString).sorted.toSeq
    assert(viaStream == brute,
      "full-probe/full-shortlist composed search over the grown tables must equal bruteTopK over the union")
  }

  test("composed append: one checkpoint grows codes AND cells in lockstep, replay heals both") {
    val e = graft.sources.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val in = tmp(); val ck = tmp()
    val centsDir = tmp() + "/cents"; val cellsDir = tmp() + "/cells"
    val statsDir = tmp() + "/stats"; val codesDir = tmp() + "/codes"

    val half1 = e.filter(col("vec_id") % 2 === 0)
    val half2 = e.filter(col("vec_id") % 2 === 1)
    val (cents, cells1) = Similarity.ivfIndex(half1, col("vec_id"),
      col("embedding"), nlist = 8)
    cents.write.parquet(centsDir)
    cells1.write.parquet(s"$cellsDir/batch=initial")
    Codec.BQ.train(half1, col("vec_id"), col("embedding"))
      .write.parquet(statsDir)
    val stats = spark.read.parquet(statsDir)
    Codec.BQ.encode(half1, col("vec_id"), col("embedding"), stats)
      .write.parquet(s"$codesDir/batch=initial")

    dropFile(half2, in, "p2.parquet")
    StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ck,
      Seq(BqCodes(statsDir, codesDir, "embedding"),
        IvfCells(centsDir, cellsDir, "embedding")))
      .awaitTermination()
    spark.catalog.refreshByPath(cellsDir); spark.catalog.refreshByPath(codesDir)

    // lockstep law: at the committed offset, codes and cells cover
    // exactly the same vectors — the lag window two independent
    // checkpoints would open cannot exist here
    def ids(dir: String) = spark.read.parquet(dir)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(codesDir) == ids(cellsDir),
      "codes and cells must cover exactly the same vectors")

    // both twins hold: frozen-stats encode and frozen-centroid assign
    assert(spark.read.parquet(codesDir).select("vec_id", "codes")
        .collect().map(_.toString).sorted.toSeq ==
      Codec.BQ.encode(e, col("vec_id"), col("embedding"), stats)
        .collect().map(_.toString).sorted.toSeq)
    assert(spark.read.parquet(cellsDir).select("vec_id", "cell")
        .collect().map(_.toString).sorted.toSeq ==
      Similarity.ivfAssignAgainstIndex(e, col("vec_id"), col("embedding"),
          spark.read.parquet(centsDir))
        .collect().map(_.toString).sorted.toSeq)

    // replay: drop the last commit so the batch re-runs — BOTH
    // partitions overwrite, neither table duplicates (the heal path
    // for a crash between the two writes)
    deleteLastCommit(ck)
    StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ck,
      Seq(BqCodes(statsDir, codesDir, "embedding"),
        IvfCells(centsDir, cellsDir, "embedding")))
      .awaitTermination()
    spark.catalog.refreshByPath(cellsDir); spark.catalog.refreshByPath(codesDir)
    assert(ids(codesDir) == ids(cellsDir))
    assert(ids(codesDir).size == ids(codesDir).distinct.size,
      "a replayed batch must not duplicate rows in either table")

    // and the grown four-artifact index searches correctly
    val qset = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    val viaStream = Similarity.annSearch(Codec.BQ,
      stats, spark.read.parquet(codesDir).select("vec_id", "codes"),
      e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"),
      k = 5, shortlist = n,
      ivf = Some(Ivf(spark.read.parquet(centsDir),
        spark.read.parquet(cellsDir).select("vec_id", "cell"), nprobe = 8)))
      .collect().map(_.toString).sorted.toSeq
    val brute = Similarity.bruteTopK(e, col("vec_id"), col("embedding"),
      qset, col("vec_id"), col("embedding"), k = 5)
      .collect().map(_.toString).sorted.toSeq
    assert(viaStream == brute)
  }

  test("IVFADC streamed append: lockstep frozen-artifact encode, replay heal, publish-leg search parity") {
    val e = graft.sources.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val in = tmp(); val ck = tmp()
    val centsDir = tmp() + "/cents"; val booksDir = tmp() + "/books"
    val cellsDir = tmp() + "/cells"; val codesDir = tmp() + "/codes"
    val half1 = e.filter(col("vec_id") % 2 === 0)
    val half2 = e.filter(col("vec_id") % 2 === 1)

    // build (train) on the first half; its cells/codes seed the tables
    val (cents, cells1, books, codes1) = Similarity.ivfPqResIndex(
      half1, col("vec_id"), col("embedding"), nlist = 8, m = 4, ksub = 16)
    cents.write.parquet(centsDir); books.write.parquet(booksDir)
    cells1.write.parquet(s"$cellsDir/batch=initial")
    codes1.write.parquet(s"$codesDir/batch=initial")

    dropFile(half2, in, "p2.parquet")
    StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ck,
      Seq(IvfPqRes(centsDir, booksDir, cellsDir, codesDir, "embedding",
        m = 4, ksub = 16))).awaitTermination()
    spark.catalog.refreshByPath(cellsDir); spark.catalog.refreshByPath(codesDir)

    // lockstep law: one checkpoint grows both keyed artifacts together
    def ids(dir: String) = spark.read.parquet(dir)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(codesDir) == ids(cellsDir),
      "cells and codes must cover exactly the same vectors")

    // frozen-artifact twin: the grown tables equal the batch
    // frozen-artifact encode of the union (the C156 append-parity law
    // makes re-encoding half1 reproduce its build rows exactly)
    val centsT = spark.read.parquet(centsDir)
    val booksT = spark.read.parquet(booksDir)
    val (bCells, bCodes) = Similarity.ivfPqResAppend(centsT, booksT,
      e, col("vec_id"), col("embedding"), m = 4, ksub = 16)
    assert(spark.read.parquet(cellsDir).select("vec_id", "cell")
        .collect().map(_.toString).sorted.toSeq ==
      bCells.collect().map(_.toString).sorted.toSeq,
      "streamed cells must equal the frozen-centroid batch assign")
    assert(spark.read.parquet(codesDir).select("vec_id", "codes")
        .collect().map(_.toString).sorted.toSeq ==
      bCodes.collect().map(_.toString).sorted.toSeq,
      "streamed codes must equal the frozen-codebook batch encode")

    // replay: both partitions overwrite, neither table duplicates
    deleteLastCommit(ck)
    StreamIndex.startIndexAppend(spark, in, e.schema, "vec_id", ck,
      Seq(IvfPqRes(centsDir, booksDir, cellsDir, codesDir, "embedding",
        m = 4, ksub = 16))).awaitTermination()
    spark.catalog.refreshByPath(cellsDir); spark.catalog.refreshByPath(codesDir)
    assert(ids(codesDir) == ids(cellsDir))
    assert(ids(codesDir).size == ids(codesDir).distinct.size,
      "a replayed batch must not duplicate rows in either table")

    // the retrain-loop lifecycle closes over the streamed tree:
    // compact + publish the four artifacts as one generation, search
    // from the published frames — storage model changes, no scored bit
    val pub = tmp() + "/pub"
    val gen = StreamIndex.compactStreamedIndex(spark,
      Map("cells" -> cellsDir, "codes" -> codesDir),
      tombstonesDir = None, indexDir = pub,
      frozen = Map("centroids" -> centsT, "books" -> booksT))
    val (readGen, arts) = graft.sources.Layout.readIndexVersion(spark, pub,
      Seq("centroids", "books", "cells", "codes"))
    assert(readGen == gen)
    val qset = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    def search(cells: org.apache.spark.sql.DataFrame,
               codes: org.apache.spark.sql.DataFrame,
               cen: org.apache.spark.sql.DataFrame,
               bk: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqResTopKAgainstIndex(cen, cells, bk, codes,
        e, col("vec_id"), col("embedding"), qset, col("vec_id"), col("embedding"),
        m = 4, ksub = 16, k = 5, nprobe = 8, shortlist = n)
        .collect().map(_.toString).sorted.toSeq
    val viaPub = search(arts("cells").select("vec_id", "cell"),
      arts("codes").select("vec_id", "codes"), arts("centroids"), arts("books"))
    val viaStream = search(
      spark.read.parquet(cellsDir).select("vec_id", "cell"),
      spark.read.parquet(codesDir).select("vec_id", "codes"), centsT, booksT)
    assert(viaPub.nonEmpty)
    assert(viaPub == viaStream,
      "search from the published generation must equal the streamed read")
  }

  test("IVF drift monitor == psiOverCounts batch twin; collapsed occupancy alarms") {
    val e = graft.sources.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val in = tmp(); val ck = tmp(); val centsDir = tmp() + "/cents"
    val countsDir = tmp() + "/counts"; val alarmsDir = tmp() + "/alarms"
    val refCountsDir = tmp() + "/ref"

    val (cents, _) = Similarity.ivfIndex(e, col("vec_id"), col("embedding"),
      nlist = 8)
    cents.write.parquet(centsDir)
    val frozen = spark.read.parquet(centsDir)
    Similarity.ivfCellCounts(e, col("vec_id"), col("embedding"), frozen)
      .write.parquet(refCountsDir)

    // phase 1: a same-distribution half — occupancy shape holds
    val half1 = e.filter(col("vec_id") % 2 === 0)
    dropFile(half1, in, "p1.parquet")
    StreamIndex.startIvfDriftMonitor(spark, in, e.schema, "vec_id", "embedding",
      ck, centsDir, countsDir, alarmsDir, refCountsDir).awaitTermination()
    val calm = spark.read.parquet(alarmsDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(calm.keySet == Set("ivf") && calm("ivf") < 0.1,
      s"a same-distribution window must read stable: $calm")

    // phase 2 (resume): every vector snaps to one corner of the space
    // (all-constant embeddings) — the whole stream lands in one cell,
    // the occupancy collapse that kills probes and balloons candidate
    // lists; PSI must cross the 'moved' threshold
    val collapsed = e.select((col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), _ => lit(1.0f)).cast("array<float>")
        .as("embedding"))
    dropFile(collapsed, in, "p2.parquet")
    StreamIndex.startIvfDriftMonitor(spark, in, e.schema, "vec_id", "embedding",
      ck, centsDir, countsDir, alarmsDir, refCountsDir).awaitTermination()
    val moved = spark.read.parquet(alarmsDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(moved("ivf") > 0.25,
      s"collapsed occupancy must alarm: $moved")

    // twin law: alarms == psiOverCounts(ref, ivfCellCounts(all files))
    val live = half1.unionByName(collapsed)
    val twin = graft.operators.Profile.psiOverCounts(
        spark.read.parquet(refCountsDir)
          .select(col("grp").as("source"), col("bucket"), col("n")),
        Similarity.ivfCellCounts(live, col("vec_id"), col("embedding"), frozen)
          .select(col("grp").as("source"), col("bucket"), col("n")))
      .select(col("source").as("grp"), col("n_buckets"), col("psi"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("grp").collect().toSeq
    assert(canon(spark.read.parquet(alarmsDir)) == canon(twin))
  }

  test("BQ drift monitor == psiOverCounts batch twin; a shifted stream alarms") {
    val e = graft.sources.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val in = tmp(); val ck = tmp(); val statsDir = tmp() + "/stats"
    val countsDir = tmp() + "/counts"; val alarmsDir = tmp() + "/alarms"
    val refCountsDir = tmp() + "/ref"

    // train once, freeze; the reference window is the TRAINING corpus's
    // own bit populations under those frozen thresholds
    Codec.BQ.train(e, col("vec_id"), col("embedding"))
      .write.parquet(statsDir)
    val stats = spark.read.parquet(statsDir)
    Similarity.bqBitCounts(e, col("embedding"), stats)
      .write.parquet(refCountsDir)

    // phase 1: a same-distribution half arrives — PSI reads stable
    val half1 = e.filter(col("vec_id") % 2 === 0)
    dropFile(half1, in, "p1.parquet")
    StreamIndex.startBqDriftMonitor(spark, in, e.schema, "embedding",
      ck, statsDir, countsDir, alarmsDir, refCountsDir).awaitTermination()
    val calm = spark.read.parquet(alarmsDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(calm.keySet == Set("bq") && calm("bq") < 0.1,
      s"a same-distribution window must read stable: $calm")

    // phase 2 (checkpoint resume): the embedding distribution moves —
    // a constant +10 shift pushes every component past its trained
    // mean, so per-dim bit populations collapse toward all-ones and
    // PSI crosses the 'moved' threshold (the retrain trigger)
    val shifted = e.select((col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), x => x + lit(10.0f)).cast("array<float>")
        .as("embedding"))
    dropFile(shifted, in, "p2.parquet")
    StreamIndex.startBqDriftMonitor(spark, in, e.schema, "embedding",
      ck, statsDir, countsDir, alarmsDir, refCountsDir).awaitTermination()
    val moved = spark.read.parquet(alarmsDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(moved("bq") > 0.25,
      s"the shifted window's bit populations must alarm: $moved")

    // the twin law: monitor output after N files == psiOverCounts over
    // the pinned reference and those N files' bit counts — the
    // monitored math IS the batch operator's single definition
    val live = half1.unionByName(shifted)
    val twin = graft.operators.Profile.psiOverCounts(
        spark.read.parquet(refCountsDir)
          .select(col("grp").as("source"), col("bucket"), col("n")),
        Similarity.bqBitCounts(live, col("embedding"), stats)
          .select(col("grp").as("source"), col("bucket"), col("n")))
      .select(col("source").as("grp"), col("n_buckets"), col("psi"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("grp").collect().toSeq
    assert(canon(spark.read.parquet(alarmsDir)) == canon(twin))
  }

  test("fertility drift monitor == psiOverCounts batch twin; a word-doubled stream alarms") {
    import graft.functions.Keywords
    val d = graft.sources.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"), col("source"))
    val in = tmp(); val ck = tmp(); val mergesDir = tmp() + "/merges"
    val countsDir = tmp() + "/counts"; val alarmsDir = tmp() + "/alarms"
    val refCountsDir = tmp() + "/ref"

    // train once, freeze; the reference window is the training
    // corpus's own fertility distribution under those frozen merges
    Keywords.bpeTrain(d, col("text"), merges = 16).write.parquet(mergesDir)
    val merges = spark.read.parquet(mergesDir)
    Keywords.fertilityCounts(d, col("doc_id"), col("text"), col("source"),
      merges).write.parquet(refCountsDir)

    // phase 1: a same-distribution window arrives (the corpus itself —
    // per-source samples at this sf are tens of docs, so a half-split
    // would read sampling noise, not drift) — every source stable
    val half1 = d
    dropFile(half1, in, "p1.parquet")
    StreamIndex.startFertilityDriftMonitor(spark, in, d.schema, "doc_id",
      "text", "source", ck, mergesDir, countsDir, alarmsDir, refCountsDir)
      .awaitTermination()
    val calm = spark.read.parquet(alarmsDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(calm.nonEmpty && calm.values.forall(_ < 0.1),
      s"a same-distribution window must read stable per source: $calm")

    // phase 2 (checkpoint resume): every word doubles in length, so
    // per-word tokens under the FROZEN merges roughly double while the
    // word count holds — fertility mass shifts wholesale into higher
    // quarter-buckets, the vocabulary-no-longer-fits signature
    val doubled = d
      .select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1$1").as("text"),
        col("source"))
    dropFile(doubled, in, "p2.parquet")
    StreamIndex.startFertilityDriftMonitor(spark, in, d.schema, "doc_id",
      "text", "source", ck, mergesDir, countsDir, alarmsDir, refCountsDir)
      .awaitTermination()
    val moved = spark.read.parquet(alarmsDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(moved.values.forall(_ > 0.25),
      s"the word-doubled window must alarm every source: $moved")

    // the twin law: monitor output after N files == psiOverCounts over
    // the pinned reference and those N files' fertility counts
    val live = half1.unionByName(doubled)
    val twin = graft.operators.Profile.psiOverCounts(
        spark.read.parquet(refCountsDir)
          .select(col("grp").as("source"), col("bucket"), col("n")),
        Keywords.fertilityCounts(live, col("doc_id"), col("text"),
            col("source"), merges)
          .select(col("grp").as("source"), col("bucket"), col("n")))
      .select(col("source").as("grp"), col("n_buckets"), col("psi"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("grp").collect().toSeq
    assert(canon(spark.read.parquet(alarmsDir)) == canon(twin))
  }

  test("drift alarms compose into the forwarder metric leg as gauge points") {
    // the reference's own alert loop (stats goroutine logs a rollup
    // LINE; the forwarder's kvconfig output: block turns it into a
    // metric point) applied to the ENGINE'S OWN health: a BQ drift
    // alarm row, logged kayvee-style, lands on the alert sink as a
    // gauge point on series bq-drift.psi with the alarm's psi as value
    val e = graft.sources.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val in = tmp(); val ck = tmp(); val statsDir = tmp() + "/stats"
    val countsDir = tmp() + "/counts"; val alarmsDir = tmp() + "/alarms"
    val refCountsDir = tmp() + "/ref"
    Codec.BQ.train(e, col("vec_id"), col("embedding"))
      .write.parquet(statsDir)
    Similarity.bqBitCounts(e, col("embedding"),
        spark.read.parquet(statsDir))
      .write.parquet(refCountsDir)
    // a +10-shifted window alarms past the 'moved' threshold
    val shifted = e.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(10.0f)).cast("array<float>")
        .as("embedding"))
    dropFile(shifted, in, "p1.parquet")
    StreamIndex.startBqDriftMonitor(spark, in, e.schema, "embedding",
      ck, statsDir, countsDir, alarmsDir, refCountsDir).awaitTermination()
    val alarm = spark.read.parquet(alarmsDir).collect().head
    val psi = alarm.getDouble(alarm.fieldIndex("psi"))
    assert(psi > 0.25)

    // the monitor's alert job logs each alarm row as a kayvee line
    // (the stats.go:31-38 shape) into the forwarder's input
    val logLine =
      "2024-01-01T00:05:00+00:00 host-m production--graft-index-monitor/" +
        "arn%3Aaws%3Aecs%3Aus-west-1%3A1%3Atask%2Ft-m[1]: " +
        s"""{"title":"bq-drift","grp":"${alarm.getString(0)}","psi":$psi}"""
    val routes = graft.streaming.Routing.parseKvConfig(
      """routes:
        |  bq-drift-alerts:
        |    matchers:
        |      title: ["bq-drift"]
        |    output:
        |      type: "alerts"
        |      series: "bq-drift.psi"
        |      dimensions: ["grp"]
        |      stat_type: "gauge"
        |      value_field: "psi"
        |""".stripMargin)
    val fwdIn = tmp(); val fwdOut = tmp(); val fwdCk = tmp()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(fwdIn, "alarms.log"),
      java.util.Arrays.asList(logLine))
    graft.streaming.Forwarder.start(spark,
      graft.streaming.Forwarder.Config(fwdIn, fwdCk),
      new graft.sinks.FileDelivery(fwdOut),
      routeTable = routes).awaitTermination()
    val delivered = java.nio.file.Files
      .walk(java.nio.file.Paths.get(fwdOut, "bq-drift-alerts"))
      .iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(f => java.nio.file.Files.readAllLines(f).asScala.iterator).toSeq
    assert(delivered.size == 1, s"exactly the alarm line routes: $delivered")
    val p = spark.read.json(
        spark.createDataset(delivered)(org.apache.spark.sql.Encoders.STRING))
      .head()
    assert(p.getAs[String]("series") == "bq-drift.psi")
    assert(p.getAs[String]("stat_type") == "gauge")
    assert(math.abs(p.getAs[Double]("value") - psi) < 1e-9)
    assert(p.getAs[org.apache.spark.sql.Row]("dimensions")
      .getAs[String]("grp") == alarm.getString(0))
  }
}
