package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{Layout, Tables}

class LayoutSpec extends AnyFunSuite {
  import SparkTest._

  test("co-bucketed tables join with zero exchanges in the plan") {
    val t = Tables(spark, sf)
    Layout.writeBucketed(
      t.orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      "g_orders_bucketed", buckets = 4, key = "o_orderkey")
    Layout.writeBucketed(
      t.lineitem.select("l_orderkey", "l_quantity", "l_extendedprice"),
      "g_lineitem_bucketed", buckets = 4, key = "l_orderkey")

    // disable broadcast so the join planner must pick shuffle-or-bucket
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("g_orders_bucketed")
        .join(spark.table("g_lineitem_bucketed"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // every lineitem matches exactly one order → row count is preserved
      assert(joined.count() == t.lineitem.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("aggregation on the bucket key reuses the layout partitioning") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val agg = spark.table("g_lineitem_bucketed")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"group-by on the bucket key must not shuffle:\n$plan")
      assert(agg.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compact merges a many-small-files directory to ~target-sized files") {
    val base = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"
    val t = Tables(spark, sf)
    t.lineitem.repartition(40).write.parquet(inDir) // the small-files mess
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(inDir) == 40)

    val totalBytes = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(inDir)).getLength
    val target = totalBytes / 3 // expect ceil(total/target) = 4 or 3 files
    val parts = Layout.compact(spark, inDir, outDir, target)
    assert(parts == math.ceil(totalBytes.toDouble / target).toInt)
    assert(parquetFiles(outDir) == parts)
    // content survives byte-for-row: same rows, nothing lost or duplicated
    assert(spark.read.parquet(outDir).count() == t.lineitem.count())
    assert(spark.read.parquet(outDir).agg(sum(col("l_quantity"))).collect()(0).get(0)
      == t.lineitem.agg(sum(col("l_quantity"))).collect()(0).get(0))

    // SPLIT direction: one big file, target a quarter of it — coalesce
    // can only merge, so compact must take the repartition path and
    // still deliver the promised file count
    val oneIn = s"$base/one"; val splitOut = s"$base/split"
    t.lineitem.coalesce(1).write.parquet(oneIn)
    val oneBytes = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(oneIn)).getLength
    val splitParts = Layout.compact(spark, oneIn, splitOut, oneBytes / 4 + 1)
    assert(splitParts == 4)
    assert(parquetFiles(splitOut) == 4)
    assert(spark.read.parquet(splitOut).count() == t.lineitem.count())
  }

  test("z-ordered layout localizes point filters on EITHER column to few files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString + "/li"
    val t = Tables(spark, sf)
    val cols = Seq("l_partkey", "l_suppkey")
    Layout.writeZOrdered(
      t.lineitem.select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
      dir, cols, files = 16)
    val zdf = spark.read.parquet(dir)
    assert(zdf.count() == t.lineitem.count(), "z-order write must not lose rows")
    val totalFiles = zdf.select(input_file_name()).distinct().count()
    assert(totalFiles >= 8, s"expected ~16 files, got $totalFiles")
    // for a point filter on either z-order column, the matching rows
    // must concentrate in a minority of files (with 16 files the file
    // index is ~the top 4 z bits = 2 high bits per column, so a fixed
    // value can reach at most ~1/4 of the files plus range-boundary
    // slop). A value occurring across the whole key range (every value
    // does — lineitem keys are uniform) would touch EVERY file in an
    // unclustered layout.
    for (c <- cols) {
      val v = zdf.select(col(c)).filter(col(c).isNotNull).head().getLong(0)
      val matching = zdf.filter(col(c) === v)
        .select(input_file_name()).distinct().count()
      assert(matching <= totalFiles / 2,
        s"point filter on $c=$v touched $matching of $totalFiles files — not clustered")
    }
  }

  test("z-ordered write degrades cleanly on empty input and all-NULL columns") {
    import spark.implicits._
    // empty input: min/max stats are NULL — must write an empty valid
    // layout, not NPE mid-write
    val dir1 = java.nio.file.Files.createTempDirectory("graft-z0").toString + "/e"
    Layout.writeZOrdered(
      Seq.empty[(Long, Long)].toDF("a", "b"), dir1, Seq("a", "b"), files = 4)
    assert(spark.read.parquet(dir1).count() == 0)

    // an entirely-NULL z column: no clustering to compute, rows survive
    val dir2 = java.nio.file.Files.createTempDirectory("graft-z0").toString + "/n"
    val df = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("a", "b")
    Layout.writeZOrdered(df, dir2, Seq("a", "b"), files = 4)
    assert(spark.read.parquet(dir2).count() == 2)
  }

  test("partitioned writes prune non-matching directories from the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/docs"
    val t = Tables(spark, sf)
    Layout.writePartitioned(t.documents, dir, Seq("lang"))
    // hive-style one-dir-per-value layout on disk
    val langDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).sorted
    assert(langDirs.nonEmpty && langDirs.forall(_.matches("lang=[a-z]+")))
    val filtered = spark.read.parquet(dir).filter(col("lang") === "en")
    // the filter must land in PartitionFilters (directory pruning),
    // NOT PushedFilters (row-group skipping inside files already read)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("(lang"),
      s"lang filter did not become a partition filter:\n$scan")
    // only the en directory's files are selected for the scan: run THIS
    // plan instance (metrics bind per executed plan) and compare its
    // numFiles against the en partition's actual file count
    val plan = filtered.queryExecution.executedPlan
    assert(plan.execute().count() > 0)
    val enFiles = new java.io.File(s"$dir/lang=en").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val numFiles = plan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value }
    assert(numFiles.nonEmpty && numFiles.head == enFiles,
      s"scan selected ${numFiles.headOption} files; lang=en holds $enFiles")
    // the partition column round-trips from the directory name
    val counts = spark.read.parquet(dir).groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val orig = t.documents.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == orig)
  }

  test("JSONL round-trips newlines, quotes, tabs and non-ASCII byte-exactly") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "line one\nline two\r\nwindows"),
      (2L, "a \"quoted\" string with \\ backslash"),
      (3L, "tabs\there\tand café ünïcode 中文"),
      (4L, null: String))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_spec").toString
    nasty.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "gzip").json(dir)
    val back = spark.read.schema("doc_id BIGINT, text STRING").json(dir)
      .orderBy(col("doc_id"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(back(1L).get == "line one\nline two\r\nwindows")
    assert(back(2L).get == "a \"quoted\" string with \\ backslash")
    assert(back(3L).get == "tabs\there\tand café ünïcode 中文")
    assert(back(4L).isEmpty, "NULL text must round-trip as NULL")
  }

  test("mergeSnapshot: updates win, inserts append, survivors pass, NULL keys never collide") {
    import spark.implicits._
    val base = Seq((Some(1L), "old1", "s"), (Some(2L), "old2", "s"),
      (None: Option[Long], "null-base", "s")).toDF("doc_id", "text", "source")
    val inc = Seq((Some(2L), "NEW2", "t"), (Some(9L), "NEW9", "t"),
      (None: Option[Long], "null-inc", "t")).toDF("doc_id", "text", "source")
    val got = graft.sources.Layout.mergeSnapshot(base, inc, "doc_id")
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getString(1), r.getString(2))).sortBy(_.toString)
    assert(got.toSeq == Seq(
      (None, "null-base", "s"), // a NULL-keyed base row is never displaced
      (None, "null-inc", "t"),  // ... and a NULL-keyed increment appends
      (Some(1L), "old1", "s"),
      (Some(2L), "NEW2", "t"),
      (Some(9L), "NEW9", "t")).sortBy(_.toString), s"got ${got.toSeq}")
  }

  test("mergeSnapshot with a broadcast increment never shuffles the base") {
    val t = graft.sources.Tables(spark, sf)
    val base = t.documents.select(col("doc_id"), col("text"))
    val inc = t.documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 7 === 0)
    val plan = graft.sources.Layout.mergeSnapshot(base, inc, "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join, got:\n$plan")
    assert(!plan.contains("ShuffleExchange"),
      s"base side shuffled in a broadcast merge:\n$plan")
    // schema-mismatch fail-fast: an increment missing a base column
    intercept[IllegalArgumentException] {
      graft.sources.Layout.mergeSnapshot(base, inc.drop("text"), "doc_id")
    }
  }

  // one synthetic "index version": every artifact row carries the gen
  // number, so a read that mixed generations is detectable in-data
  private def genArtifacts(g: Long) = {
    import spark.implicits._
    Map(
      "centroids" -> Seq((g, "c")).toDF("gen", "kind"),
      "cells" -> Seq((g, "a"), (g, "b")).toDF("gen", "kind"),
      "books" -> Seq((g, "bk")).toDF("gen", "kind"),
      "codes" -> Seq((g, "cd"), (g, "cd2")).toDF("gen", "kind"))
  }

  private val ArtNames = Seq("centroids", "cells", "books", "codes")

  test("publishIndexVersion: reads see one generation in full, never a mix") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ixver").toString
    // no committed generation yet = unpublished index, loud failure
    intercept[java.util.NoSuchElementException] {
      Layout.readIndexVersion(spark, dir, ArtNames)
    }
    assert(Layout.currentIndexGen(spark, dir).isEmpty)
    // interleave publishes with reads — each read's four artifacts
    // must agree on ONE generation stamp (the mixed-read detector)
    (0L to 2L).foreach { g =>
      val published = Layout.publishIndexVersion(spark, dir, genArtifacts(g))
      assert(published == g)
      val (gen, art) = Layout.readIndexVersion(spark, dir, ArtNames)
      assert(gen == g)
      val stamps = ArtNames.flatMap(n =>
        art(n).select("gen").collect().map(_.getLong(0))).toSet
      assert(stamps == Set(g),
        s"read after publish($g) mixed generations: $stamps")
    }
    // a reader that resolved gen N before a publish keeps its full
    // consistent snapshot: old generations are retained, paths frozen
    val (genBefore, artBefore) = Layout.readIndexVersion(spark, dir, ArtNames)
    Layout.publishIndexVersion(spark, dir, genArtifacts(3L))
    val stale = ArtNames.flatMap(n =>
      artBefore(n).select("gen").collect().map(_.getLong(0))).toSet
    assert(stale == Set(genBefore),
      "an in-flight reader must keep its resolved generation after a publish")
    assert(Layout.currentIndexGen(spark, dir).contains(3L))
  }

  test("the retrain loop: publish gen N+1 after retrain, readers never mix real artifacts") {
    import org.apache.spark.sql.functions.{col, transform, lit, not}
    import graft.operators.Similarity
    // the drift monitors prescribe "retrain+re-encode as a batch job";
    // this is that job's publish step with REAL IVFADC artifacts: the
    // corpus drifts, a retrain rewrites all four artifacts, the flip
    // is atomic, and both the pre-flip reader and the post-flip reader
    // hold a searchable CONSISTENT four-artifact set
    val e = Tables(spark, sf).embeddings
    val old = e.filter(col("vec_id") % 4 =!= 1)
    val drifted = e.filter(col("vec_id") % 4 === 1)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(5.0f)).cast("array<float>")
          .as("embedding"))
    val full = old.select(col("vec_id"), col("embedding")).unionByName(drifted)
    val dir = java.nio.file.Files.createTempDirectory("graft-retrain").toString
    def publishBuild(corpus: org.apache.spark.sql.DataFrame): Long = {
      val (cents, cells, books, codes) = Similarity.ivfPqResIndex(
        corpus, col("vec_id"), col("embedding"), nlist = 10, m = 4, ksub = 8)
      Layout.publishIndexVersion(spark, dir, Map(
        "centroids" -> cents, "cells" -> cells,
        "books" -> books, "codes" -> codes))
    }
    assert(publishBuild(old) == 0L)
    // a reader resolves gen 0 BEFORE the retrain lands
    val (g0, art0) = Layout.readIndexVersion(spark, dir,
      Seq("centroids", "cells", "books", "codes"))
    assert(g0 == 0L)
    // retrain on the drifted corpus, publish gen 1
    assert(publishBuild(full) == 1L)
    val (g1, art1) = Layout.readIndexVersion(spark, dir,
      Seq("centroids", "cells", "books", "codes"))
    assert(g1 == 1L)
    def search(art: Map[String, org.apache.spark.sql.DataFrame],
               corpus: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqResTopKAgainstIndex(
          art("centroids"), art("cells"), art("books"), art("codes"),
          corpus, col("vec_id"), col("embedding"),
          corpus.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          m = 4, ksub = 8, k = 5, nprobe = 3, shortlist = 30)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    // the post-flip reader's generation IS the retrained build: its
    // search equals the inline path over the retrained corpus
    val inline = Similarity.ivfPqResTopK(
        full, col("vec_id"), col("embedding"),
        full.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        nlist = 10, nprobe = 3, m = 4, ksub = 8, k = 5, shortlist = 30)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(search(art1, full) == inline && inline.nonEmpty)
    // the pre-flip reader still searches its CONSISTENT gen-0 set —
    // old artifacts, old corpus, no mixed-generation scoring
    val oldInline = Similarity.ivfPqResTopK(
        old, col("vec_id"), col("embedding"),
        old.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        nlist = 10, nprobe = 3, m = 4, ksub = 8, k = 5, shortlist = 30)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(search(art0, old) == oldInline && oldInline.nonEmpty)
  }

  test("publishIndexVersion: a crashed publish is invisible and never resurrected") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ixcrash").toString
    Layout.publishIndexVersion(spark, dir, genArtifacts(0L))
    // simulate a publisher that died after writing artifacts but
    // BEFORE the commit marker: raw writes into gen=1, no _COMMITTED
    genArtifacts(99L).foreach { case (n, df) =>
      df.write.parquet(s"$dir/gen=1/$n")
    }
    val (gen, art) = Layout.readIndexVersion(spark, dir, ArtNames)
    assert(gen == 0L, "an uncommitted generation must stay invisible")
    assert(art("cells").select("gen").collect().map(_.getLong(0)).toSet == Set(0L))
    // the next publish numbers PAST the debris — gen=1's partial
    // artifacts can never blend into a committed generation
    assert(Layout.publishIndexVersion(spark, dir, genArtifacts(2L)) == 2L)
    assert(Layout.readIndexVersion(spark, dir, ArtNames)._1 == 2L)
    // prune: keep the newest committed gen; older committed AND the
    // crashed debris go, the current generation survives
    Layout.publishIndexVersion(spark, dir, genArtifacts(3L))
    // keep=2 retains committed gens {2, 3}; committed gen=0 and the
    // crashed debris gen=1 go
    val pruned = Layout.pruneIndexVersions(spark, dir, keep = 2)
    assert(pruned == 2, s"expected gen=0 and debris gen=1 pruned, got $pruned")
    assert(Layout.readIndexVersion(spark, dir, ArtNames)._1 == 3L)
    assert(!new java.io.File(s"$dir/gen=1").exists())
    assert(new java.io.File(s"$dir/gen=2").exists())
    // an IN-FLIGHT publish (uncommitted generation ABOVE the current
    // committed one) survives pruning — only debris BELOW current is
    // reaped; deleting a publisher's half-written dir under it would
    // turn its commit into a corrupt generation
    genArtifacts(98L).foreach { case (n, df) =>
      df.write.parquet(s"$dir/gen=9/$n")
    }
    assert(Layout.pruneIndexVersions(spark, dir, keep = 1) == 1,
      "only committed gen=2 should prune; the in-flight gen=9 must survive")
    assert(new java.io.File(s"$dir/gen=9").exists(),
      "pruning deleted an in-flight publish above the current generation")
    assert(Layout.readIndexVersion(spark, dir, ArtNames)._1 == 3L)
    // contract guards fail fast
    intercept[IllegalArgumentException] {
      Layout.publishIndexVersion(spark, dir, Map.empty)
    }
    intercept[IllegalArgumentException] {
      Layout.publishIndexVersion(spark, dir,
        Map("_bad" -> Seq((1L, "x")).toDF("gen", "kind")))
    }
  }

  // recursive (relative-path -> md5) snapshot: "byte-intact" below
  // means the winner's committed directory is file-for-file identical
  private def snapshot(d: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(d)
    java.nio.file.Files.walk(base).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map { p =>
        val md = java.security.MessageDigest.getInstance("MD5")
        base.relativize(p).toString ->
          md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
      }.toMap
  }

  test("publishIndexVersion: a racing publisher fails at claim time; winner byte-intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ixrace").toString
    Layout.publishIndexVersion(spark, dir, genArtifacts(0L))
    // stage ordering 1 — both publishers resolved next=1; the winner
    // claims, writes and commits first, then the loser arrives at the
    // SAME staged number: it must fail at the claim, before it can
    // interleave a single byte into the committed directory
    assert(Layout.publishIndexVersionAt(spark, dir, 1L, genArtifacts(1L)) == 1L)
    val winnerBytes = snapshot(s"$dir/gen=1")
    val ex = intercept[java.io.IOException] {
      Layout.publishIndexVersionAt(spark, dir, 1L, genArtifacts(77L))
    }
    assert(ex.getMessage.contains("claim"), s"unexpected failure: ${ex.getMessage}")
    assert(snapshot(s"$dir/gen=1") == winnerBytes,
      "the losing publisher modified the winner's committed directory")
    val (g, art) = Layout.readIndexVersion(spark, dir, ArtNames)
    assert(g == 1L &&
      art("cells").select("gen").collect().map(_.getLong(0)).toSet == Set(1L))
    // stage ordering 2 — the first claimer is SLOW (claim landed, no
    // artifacts yet): the second publisher at the same number must
    // still fail at claim and leave the claim-only directory untouched
    assert(new java.io.File(s"$dir/gen=2").mkdirs())
    assert(new java.io.File(s"$dir/gen=2/_CLAIM").createNewFile())
    intercept[java.io.IOException] {
      Layout.publishIndexVersionAt(spark, dir, 2L, genArtifacts(88L))
    }
    assert(new java.io.File(s"$dir/gen=2").list().toSeq == Seq("_CLAIM"),
      "the loser wrote into a directory another publisher had claimed")
    // the claimed-but-uncommitted dir stays invisible to readers, and
    // the PUBLIC numbering path numbers past it rather than colliding
    assert(Layout.readIndexVersion(spark, dir, ArtNames)._1 == 1L)
    assert(Layout.publishIndexVersion(spark, dir, genArtifacts(3L)) == 3L)
    // once the reader horizon moved on, the crashed claim is debris
    // below the current generation and prunes like any other husk
    assert(Layout.pruneIndexVersions(spark, dir, keep = 1) == 3,
      "expected committed gens 0,1 and the crashed claim gen=2 pruned")
    assert(!new java.io.File(s"$dir/gen=2").exists())
    assert(Layout.readIndexVersion(spark, dir, ArtNames)._1 == 3L)
  }

  test("publish markers: of 8 racing claimers exactly one wins each generation") {
    // the claim is the write barrier only if the create is exclusive:
    // Hadoop's local createNewFile (exists, then a truncating open)
    // lets several racers win the same generation
    val root = java.nio.file.Files.createTempDirectory("graft-claimrace").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val racers = 8; val gens = 60
    val start = new java.util.concurrent.CyclicBarrier(racers)
    val wins = new java.util.concurrent.atomic.AtomicIntegerArray(gens)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(racers)
    try {
      val runs = (1 to racers).map(_ => pool.submit(new Runnable {
        def run(): Unit = (0 until gens).foreach { g =>
          start.await()
          if (Layout.createMarker(fs,
              new org.apache.hadoop.fs.Path(s"$root/gen=$g/_CLAIM")))
            wins.incrementAndGet(g)
        }
      }))
      runs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow(): Unit
    val multi = (0 until gens).filter(wins.get(_) != 1)
    assert(multi.isEmpty, s"${multi.size} of $gens generations had " +
      s"winner counts ${multi.map(wins.get).distinct.sorted.mkString("/")}, not exactly 1")
  }
}
