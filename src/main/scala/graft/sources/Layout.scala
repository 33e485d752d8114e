package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed/sorted table layout (SURVEY.md §5/§7): pre-shuffle a table
  * ONCE into hash buckets on its join key so every later equi-join or
  * aggregation on that key is exchange-free.
  *
  * At 100 TB this is the difference between re-shuffling a fact table
  * per query and amortizing one shuffle into the storage layout: a scan
  * of a bucketed table reports `HashPartitioning(key, n)` as its output
  * partitioning, so EnsureRequirements inserts NO Exchange when two
  * tables bucketed with the same bucket count join on their bucket
  * keys (LayoutSpec asserts the exchange-free plan). Per-bucket
  * `sortBy` additionally lets sort-merge joins skip the sort when files
  * per bucket stay at one.
  */
object Layout {

  /** Drop `table` and delete its default managed location. With the
    * in-memory catalog a previous process can leave the location behind
    * with no catalog entry, and table creation then refuses with
    * LOCATION_ALREADY_EXISTS — call this before (re)creating a managed
    * table whose name may have been used before. */
  def reclaimManagedTable(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Compact a parquet directory of many small files into files of
    * ~`targetBytes` (SURVEY.md §2.D9) — the small-files remedy for an
    * ingest layer that lands a file per micro-batch per partition: at
    * 100 TB, million-file listings dominate planning time and 1 MB
    * scans waste a seek per file. Sizing reads the ACTUAL input bytes
    * from the filesystem (not a row-count guess, which breaks on wide
    * or compressed data). `coalesce` (no shuffle — merges co-located
    * splits) when the input has at least `parts` read partitions;
    * falls back to `repartition` when it doesn't (coalesce can only
    * MERGE — asking it for more partitions than the input has would
    * silently write fewer, larger-than-target files). `shuffle = true`
    * forces the repartition path for skew-prone inputs. Returns the
    * partition count written.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
              outDir: String, targetBytes: Long,
              shuffle: Boolean = false): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(in).getLength
    val parts = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inDir)
    val sized =
      if (shuffle || df.rdd.getNumPartitions < parts) df.repartition(parts)
      else df.coalesce(parts)
    sized.write.mode("overwrite").parquet(outDir)
    parts
  }

  /** Write `df` parquet Z-ORDERED on `cols` (SURVEY.md §2.D12): rows
    * are clustered along a Morton curve over the columns — each
    * column is linearly binned into 2^bitsPerCol rank buckets between
    * its observed min and max (ONE stats action at write time), the
    * bucket bits are interleaved into a single z-value, and the frame
    * is range-partitioned + sorted on it. Each output file then covers
    * a small hyper-rectangle of the multi-column space, so a filter on
    * ANY of the columns matches few files and parquet row-group
    * min/max statistics prune the rest of the scan — the multi-column
    * complement of [[writePartitioned]] (one coarse always-filtered
    * dimension per directory level) and [[writeBucketed]] (one join
    * key), for the "filter sometimes on X, sometimes on Y" access
    * pattern where hive-partitioning on either column alone leaves the
    * other's filters scanning everything. Columns must be numeric
    * (cast to long); linear binning assumes a roughly uniform key
    * range — for heavily skewed columns, map through a rank/quantile
    * first. REFUSES an existing target by default, like
    * [[writePartitioned]]. */
  def writeZOrdered(df: DataFrame, dir: String, cols: Seq[String],
                    files: Int, bitsPerCol: Int = 8,
                    saveMode: org.apache.spark.sql.SaveMode =
                      org.apache.spark.sql.SaveMode.ErrorIfExists): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2, s"z-order needs >= 2 columns, got $cols")
    require(bitsPerCol >= 1 && cols.size * bitsPerCol <= 62,
      s"${cols.size} cols x $bitsPerCol bits must fit a long")
    require(files >= 1, s"files must be positive, got $files")
    // one stats pass: per-column (min, max) for the linear binning
    val statExprs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val stats = df.agg(statExprs.head, statExprs.tail: _*).collect()(0)
    // min/max over zero rows (empty input) or an all-NULL column are
    // NULL; there is no z-order to compute, and getLong would NPE
    // mid-write. Degrade to a plain write with a clear path: an empty
    // layout is a valid layout, and a clustering over no values is a
    // no-op by definition.
    if (cols.indices.exists(i => stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1))) {
      df.coalesce(files).write.mode(saveMode).parquet(dir)
      return
    }
    val maxBucket = (1L << bitsPerCol) - 1L
    // binning runs in DOUBLE space: long arithmetic would wrap on
    // full-range keys (a hash-valued column spans ~2^64 — `mx - mn + 1`
    // goes negative and under ANSI mode the scaled multiply throws
    // mid-write). Doubles can't overflow here and the precision loss
    // past 2^53 only blurs bucket BOUNDARIES, which for a layout
    // clustering is harmless: nearby keys still land in nearby buckets.
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      val (mn, mx) = (stats.getLong(2 * i), stats.getLong(2 * i + 1))
      val span = math.max(1.0, mx.toDouble - mn.toDouble + 1.0)
      least(lit(maxBucket),
        floor((col(c).cast("double") - mn.toDouble)
          / span * (maxBucket + 1L).toDouble).cast("long"))
    }
    // Morton interleave: bit k of bucket i lands at position
    // k * nCols + i — pure integer codegen, no UDF
    val z = (0 until bitsPerCol).flatMap { k =>
      buckets.zipWithIndex.map { case (b, i) =>
        shiftleft(shiftright(b, k).bitwiseAND(lit(1L)), k * cols.size + i)
      }
    }.reduce(_ + _)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(saveMode).parquet(dir)
  }

  /** Write `df` hive-partitioned by `cols` (one directory level per
    * column). REFUSES an existing target by default (SaveMode
    * .ErrorIfExists) — pass `SaveMode.Overwrite` explicitly to rebuild
    * a layout; destructive replacement is opt-in, not the default.
    * The complement of bucketing: bucketing pre-shuffles for
    * JOIN keys, directory partitioning prunes SCANS — a filter on a
    * partition column becomes a `PartitionFilters` entry and the
    * non-matching directories are never listed, let alone read
    * (LayoutSpec asserts the pruned scan). At 100 TB partition on the
    * coarse always-filtered dimensions (ingest date, source); keep
    * cardinality bounded — a million tiny partitions reintroduces the
    * small-files problem [[compact]] exists to fix. */
  def writePartitioned(df: DataFrame, dir: String, cols: Seq[String],
                       mode: org.apache.spark.sql.SaveMode =
                         org.apache.spark.sql.SaveMode.ErrorIfExists): Unit = {
    require(cols.nonEmpty, "writePartitioned: need at least one partition column")
    // destructive layouts are opt-in: the default refuses to replace an
    // existing target — pass SaveMode.Overwrite explicitly to rebuild
    df.write.mode(mode).partitionBy(cols: _*).parquet(dir)
  }

  /** Snapshot UPSERT (SURVEY.md §2.D13) — merge an increment into a
    * corpus version by key: increment rows WIN on key collision, base
    * rows survive otherwise — the MERGE-INTO/upsert step between the
    * C63 diff (which measures a delta) and the C33/C42 incremental
    * indexes (which assume someone applied it). Both frames must share
    * a schema (the base's columns are selected on the increment so
    * column ORDER can't silently misalign a union).
    *
    * Scale shape: the base is anti-joined against the increment's
    * KEYS ONLY and the union is plan-level (no data movement). With
    * `broadcastIncrement` (the common case — a day's crawl against a
    * 100 TB corpus) the anti-join is a broadcast hash join: the BASE
    * NEVER SHUFFLES, the increment's key column is the only thing on
    * the wire (LayoutSpec asserts the zero-Exchange base side). For
    * increment-comparable-to-base merges, pass false and co-bucket
    * both sides on `key` ([[writeBucketed]]) to keep the join
    * exchange-free anyway. NULL keys: a NULL-keyed base row is never
    * displaced (absence of a key is not a key — anti join's null
    * semantics keep it), and NULL-keyed increment rows append.
    */
  def mergeSnapshot(base: DataFrame, increment: DataFrame, key: String,
                    broadcastIncrement: Boolean = true): DataFrame = {
    require(base.columns.contains(key), s"base lacks key column $key")
    require(increment.columns.contains(key), s"increment lacks key column $key")
    val missing = base.columns.filterNot(increment.columns.contains)
    require(missing.isEmpty,
      s"increment lacks base columns: ${missing.mkString(", ")}")
    import org.apache.spark.sql.functions.{broadcast, col}
    val keys = increment.select(col(key))
    val survivors = base.join(
      if (broadcastIncrement) broadcast(keys) else keys, Seq(key), "left_anti")
    survivors.unionByName(increment.select(base.columns.toIndexedSeq.map(col): _*))
  }

  /** Write `df` as a hash-bucketed (and per-bucket sorted) parquet
    * table in the session catalog. `buckets` is a layout-time choice:
    * size it so one bucket of the LARGEST co-bucketed table fits an
    * executor core's working set (at cluster scale: hundreds to
    * thousands), and keep it identical across tables meant to join. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    key: String, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    reclaimManagedTable(spark, table)
    val sorts = if (sortCols.isEmpty) Seq(key) else sortCols
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
      .sortBy(sorts.head, sorts.tail: _*)
      .saveAsTable(table)
  }

  private val CommitMarker = "_COMMITTED"
  private val ClaimMarker = "_CLAIM"
  private val GenPrefix = "gen="

  private def genOf(name: String): Option[Long] =
    if (name.startsWith(GenPrefix)) name.stripPrefix(GenPrefix).toLongOption
    else None

  private def listGens(fs: org.apache.hadoop.fs.FileSystem,
                       root: org.apache.hadoop.fs.Path,
                       committedOnly: Boolean): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap { st =>
      genOf(st.getPath.getName).filter { _ =>
        !committedOnly ||
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath, CommitMarker))
      }
    }

  /** Atomic multi-artifact index publish — a retrain rewrites
    * stats/centroids/codes/cells TOGETHER, and a reader that catches
    * new centroids with old codes scores garbage with full confidence.
    * Each publish writes every artifact into a fresh `gen=<n>/`
    * directory and then creates one zero-length `_COMMITTED` marker —
    * a single atomic file create (the streaming commit-log idiom) is
    * the entire commit point. [[readIndexVersion]] resolves the
    * highest COMMITTED generation once and serves all artifacts from
    * that one directory, so a read sees gen N or gen N+1 in full,
    * never a mix; a publish that crashes mid-write leaves an
    * uncommitted (hence invisible) directory and gen N intact, and the
    * next publish numbers PAST the debris rather than resurrecting it.
    * Old generations are retained (in-flight readers keep a consistent
    * snapshot); reclaim with [[pruneIndexVersions]] once the reader
    * horizon has moved on.
    *
    * Racing publishers are SELF-ARBITRATING at claim time: before any
    * artifact write, the publisher claims its generation directory
    * with one atomic `_CLAIM` file create — of two publishers racing
    * to the same number, the loser fails at the claim, before it can
    * interleave a single byte into a directory the winner will commit.
    * (`_COMMITTED` stays the READ barrier; `_CLAIM` is the WRITE
    * barrier.) A failed claimer simply retries: its next listing
    * numbers past the claimed directory. Both markers go through
    * [[createMarker]], an exclusive create on `file:` and HDFS; on
    * eventual-consistency object stores front with a consistent
    * metadata layer. Returns the published generation. */
  def publishIndexVersion(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String,
                          artifacts: Map[String, DataFrame]): Long = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // number past EVERY existing dir, committed, claimed or crashed —
    // reusing a crashed publish's number would blend its partial
    // artifacts in
    val next = listGens(fs, root, committedOnly = false)
      .foldLeft(-1L)(math.max) + 1
    publishIndexVersionAt(spark, indexDir, next, artifacts)
  }

  /** Claim → write → commit at a FIXED generation number — the core of
    * [[publishIndexVersion]], split out so the two-publisher race is
    * spec-testable at a staged number. The claim is the FIRST write:
    * one atomic file create (the same idiom as the commit marker)
    * lands before any artifact byte, so whichever publisher claims
    * second fails here with the target directory untouched by it. */
  private[graft] def publishIndexVersionAt(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      gen: Long, artifacts: Map[String, DataFrame]): Long = {
    require(gen >= 0, s"generation must be >= 0, got $gen")
    require(artifacts.nonEmpty, "publishIndexVersion needs >= 1 artifact")
    require(artifacts.keys.forall(n => n.nonEmpty && !n.contains("/") &&
        !n.startsWith("_")),
      s"artifact names must be plain dir names; got ${artifacts.keys.mkString(", ")}")
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genDir = new org.apache.hadoop.fs.Path(root, s"$GenPrefix$gen")
    if (!createMarker(fs, new org.apache.hadoop.fs.Path(genDir, ClaimMarker)))
      throw new java.io.IOException(
        s"publishIndexVersion: gen=$gen already claimed under $indexDir — " +
          "racing publisher lost at claim time (nothing was written); " +
          "retry to number past it")
    artifacts.foreach { case (name, df) =>
      df.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(genDir, name).toString)
    }
    if (!createMarker(fs, new org.apache.hadoop.fs.Path(genDir, CommitMarker)))
      throw new java.io.IOException(
        s"publishIndexVersion: commit marker already exists under $genDir — " +
          "claimed directory was committed by someone else (corrupted claim?)")
    gen
  }

  /** Create the empty marker file `p` (and its parent dirs) only if no
    * file is there yet; true iff this call created it, so of racing
    * callers exactly one wins. On `file:` that takes an O_EXCL create
    * (`Files.createFile`): Hadoop's local `createNewFile` checks
    * `exists` and then opens with truncation, so racing callers can
    * all see "absent" and all report a win. Other schemes keep
    * `createNewFile`, which is atomic on HDFS. */
  private[graft] def createMarker(fs: org.apache.hadoop.fs.FileSystem,
                                  p: org.apache.hadoop.fs.Path): Boolean = {
    val q = fs.makeQualified(p)
    if (q.toUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(q.toUri)
      java.nio.file.Files.createDirectories(local.getParent)
      try { java.nio.file.Files.createFile(local); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else
      try fs.createNewFile(p)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  /** Highest committed generation under `indexDir`, if any. */
  def currentIndexGen(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listGens(fs, root, committedOnly = true) match {
      case Nil => None
      case gens => Some(gens.max)
    }
  }

  /** One consistent multi-artifact read: resolve the current committed
    * generation ONCE, then serve every named artifact from that single
    * `gen=<n>/` directory — a publish landing mid-read cannot mix in,
    * because the resolved paths never move. Fails loudly on a missing
    * generation or artifact (an index dir with no committed generation
    * is an unpublished index, not an empty one). */
  def readIndexVersion(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, names: Seq[String])
      : (Long, Map[String, DataFrame]) = {
    require(names.nonEmpty, "readIndexVersion needs >= 1 artifact name")
    val gen = currentIndexGen(spark, indexDir).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed index generation under $indexDir"))
    val base = s"${indexDir.stripSuffix("/")}/$GenPrefix$gen"
    (gen, names.map(n => n -> spark.read.parquet(s"$base/$n")).toMap)
  }

  /** Reclaim old generations: keep the newest `keep` COMMITTED
    * generations, delete older committed ones AND all uncommitted
    * debris below the current generation (crashed publishes). Run it
    * only once the reader horizon has passed the pruned generations —
    * a reader pinned on a pruned gen fails its next scan. */
  def pruneIndexVersions(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, keep: Int = 2): Int = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = listGens(fs, root, committedOnly = true).sorted
    if (committed.isEmpty) return 0
    val keepSet = committed.takeRight(keep).toSet
    val current = committed.max
    val doomed = listGens(fs, root, committedOnly = false)
      .filter(g => g < current && !keepSet.contains(g))
    doomed.foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"$GenPrefix$g"), true)
    }
    doomed.size
  }
}
