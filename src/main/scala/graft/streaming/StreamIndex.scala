package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.operators.Similarity.Codec

/** Streaming index maintenance — the INGEST path of the pay-once
  * indexes (SURVEY.md §2.C154/C160/C161, streaming side): embeddings
  * and documents arrive continuously (a crawler's encoder output, an
  * ingestion pipeline's embedding stage), and the index tables must
  * grow with them WITHOUT retraining or re-encoding the existing
  * corpus. One appender, [[startIndexAppend]], grows any set of
  * [[AppendLeg]]s (BQ codes, IVF cells, IVFADC cells+codes, BM25 text
  * partials) under one checkpoint; beside it sit the drift monitors
  * that say when the frozen artifacts need a retrain, and the
  * compactors that fold a streamed tree into one published generation.
  */
object StreamIndex {

  /** Run a query's `release` hook once when it terminates — unpersist
    * its pinned frozen-artifact frames ([[unpersisting]]), destroy a
    * broadcast probe. Every append/monitor start pins its
    * stats/centroid frame once per query (not per micro-batch) — but
    * AvailableNow queries are typically restarted on a schedule, and
    * without this each restart would strand one more small cached
    * relation (or broadcast) in the driver for the app lifetime. A
    * listener keyed on the RUN id (unique per run — the query id is
    * checkpoint-stable, so a delayed termination event from the
    * PREVIOUS run on the async listener bus would match the next
    * restart's listener and release its state mid-run) releases on
    * termination and deregisters itself; the isActive re-check closes
    * the race where a tiny AvailableNow run terminates before the
    * listener lands. Both paths may fire, so the hook must be
    * idempotent (unpersist is; so are `MinhashProbe.release` and
    * `RowPipeline.release`). */
  private[streaming] def releaseOnTermination(spark: SparkSession,
                                              query: StreamingQuery,
                                              release: () => Unit): StreamingQuery = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    def fire(l: StreamingQueryListener): Unit = {
      release()
      spark.streams.removeListener(l)
    }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == query.runId) fire(this)
    }
    spark.streams.addListener(listener)
    if (!query.isActive) fire(listener)
    query
  }

  /** The release hook of a query's pinned frames. */
  private[streaming] def unpersisting(pinned: Seq[DataFrame]): () => Unit =
    () => pinned.foreach(_.unpersist(blocking = false))

  /** Tombstone guard for the append legs: a takedown
    * ([[graft.operators.Similarity.indexRemove]]) cleans the BATCH
    * tables, but a late-arriving or replayed stream file can
    * re-encode the removed id — deleted content resurrected by the
    * ingest path. Each micro-batch anti-joins the tombstone id table
    * before any leg sees it (the same keyed-anti-join primitive as the
    * remove itself); readers of the still-growing streamed dirs apply
    * the SAME guard by passing `tombstones = Some(read(tombstonesDir))`
    * to the `AgainstIndex` search they run (one argument, not caller
    * folklore — search-with-tombstones ≡ search-over-removed-index is
    * spec-pinned per family) until the next compaction materializes
    * the pruned table. The frame is
    * read once per query start and pinned like the frozen artifacts —
    * AvailableNow restarts (the scheduled-ingest shape) pick up new
    * tombstones at each start. */
  private def tombstoneGuard(spark: SparkSession, id: String,
                             tombstonesDir: Option[String])
      : (DataFrame => DataFrame, Seq[DataFrame]) =
    tombstonesDir match {
      case Some(dir) =>
        val ts = spark.read.parquet(dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // mirror Similarity.indexRemove exactly: cast the tombstone ids
        // to the batch id column's type and distinct them — a tombstone
        // table written with a different id type (int vs long, string
        // ids) must behave like the batch-side remove it guards for
        val f: DataFrame => DataFrame = batch =>
          batch.join(
            ts.select(col(ts.columns.head)
              .cast(batch.schema(id).dataType).as(id)).distinct(),
            Seq(id), "left_anti")
        (f, Seq(ts))
      case None => (identity[DataFrame] _, Nil)
    }

  /** One artifact family that [[startIndexAppend]] grows; the leg list
    * passed there IS the streamed artifact set. A leg owns three
    * things: the frozen artifact dirs it reads and pins once per query
    * start (`frozenDirs`), its value column (`vec` or `text`), and the
    * frames it derives from each guarded micro-batch against those
    * pins (`frames`). Frame i is written with `mode("overwrite")` to
    * `<dirs(i)>/batch=<id>`, in `dirs` order, and the leg's per-batch
    * pin (if it makes one) is released in a `finally` — not stranded
    * per batch for the app lifetime. */
  sealed abstract class AppendLeg(val dirs: Seq[String],
                                  private[streaming] val frozenDirs: Seq[String]) {
    /** This micro-batch's frames (aligned with `dirs`) and the
      * per-batch pin to release once they are written. */
    protected[streaming] def frames(rows: DataFrame, id: String, pins: Pins)
        : (Seq[DataFrame], Option[DataFrame])

    private[streaming] final def append(rows: DataFrame, id: String, pins: Pins,
                                        batchId: Long): Unit = {
      val (out, pin) = frames(rows, id, pins)
      try dirs.zip(out).foreach { case (dir, df) =>
        df.write.mode("overwrite").parquet(dir.stripSuffix("/") + s"/batch=$batchId")
      } finally pin.foreach(_.unpersist(blocking = false))
    }
  }

  /** A query's pinned frozen frames, by artifact dir. */
  private[streaming] type Pins = String => DataFrame

  object AppendLeg {
    /** Streamed BQ codes (C154f): each micro-batch's 1-bit codes,
      * encoded against the FROZEN stats table at `statsDir` —
      * `Codec.BQ.encode` under frozen stats IS the append path (the BQ
      * append-parity law: re-encoding existing rows reproduces their
      * codes byte-for-byte, and a grown table under a full shortlist
      * equals bruteTopK over the union). Readers take
      * `spark.read.parquet(codesDir)` as the `(vec_id, codes)` table of
      * `annSearch(Codec.BQ, …)`; the discovered `batch` partition
      * column is dropped by selection.
      *
      * Scale shape: per batch, one codegen map pass over the new rows
      * against a bounded 1-row stats broadcast; only ⌈d/32⌉ packed
      * longs per vector land on disk — the stream writes 32× fewer
      * bytes than the raw float32 vectors it consumes, and nothing
      * corpus-sized is ever read back. Drift discipline: frozen
      * thresholds slowly stale as the embedding distribution moves —
      * run [[startBqDriftMonitor]] beside this append and
      * retrain+re-encode as a batch job when it alarms (the
      * standard production split: cheap streaming appends, rare
      * deliberate rebuilds). The retrain's four rewritten artifacts
      * publish atomically via
      * [[graft.sources.Layout.publishIndexVersion]] — readers flip
      * generations whole, never mixed — and appends restart against
      * the new generation's tables. */
    final case class BqCodes(statsDir: String, codesDir: String, vec: String)
        extends AppendLeg(Seq(codesDir), Seq(statsDir)) {
      protected[streaming] def frames(rows: DataFrame, id: String, pins: Pins) =
        (Seq(Codec.BQ.encode(rows, col(id), col(vec), pins(statsDir))), None)
    }

    /** Streamed IVF cells (C154i — the cells half of the composed
      * index's append story): [[BqCodes]] grows the codes table, but
      * the cell-bounded compositions (IVF+BQ, IVF+PQ) candidate-join on
      * the CELLS table too — a streamed vector with codes but no cell
      * is silently invisible to every composed search. This leg assigns
      * each micro-batch's vectors to their nearest FROZEN centroid
      * ([[graft.operators.Similarity.ivfAssignAgainstIndex]] — the
      * build's own argmax definition, so a streamed vector lands in
      * exactly the cell the batch build would have chosen) and writes
      * `(vec_id, cell)` rows. Paired with [[BqCodes]] in ONE
      * [[startIndexAppend]] (the composed append) the full
      * four-artifact composed search keeps seeing every appended vector
      * (spec-pinned: full probe + full shortlist over the grown tables
      * ≡ bruteTopK over the union). Per batch: one codegen scoring pass
      * against the bounded nlist-row centroid broadcast; only (long,
      * long) rows land on disk. Centroid drift is the same retrain
      * discipline as the stats table — [[startIvfDriftMonitor]] alarms
      * on it (both frozen artifacts are corpus-distribution summaries
      * and stale together). */
    final case class IvfCells(centroidsDir: String, cellsDir: String, vec: String)
        extends AppendLeg(Seq(cellsDir), Seq(centroidsDir)) {
      protected[streaming] def frames(rows: DataFrame, id: String, pins: Pins) =
        (Seq(graft.operators.Similarity.ivfAssignAgainstIndex(
          rows, col(id), col(vec), pins(centroidsDir))), None)
    }

    /** Streamed IVFADC (C161 — the RESIDUAL-PQ family, the index the
      * retrain loop actually publishes): each micro-batch is assigned
      * and residual-encoded against the FROZEN centroids + codebook via
      * [[graft.operators.Similarity.ivfPqResAppend]]'s own per-row
      * functions (the C156 append-parity law: appending the index's
      * rows reproduces its tables exactly), writing `(vec_id, cell)`
      * then `(vec_id, codes)` — both in the same micro-batch, so at
      * every committed offset the two tables cover exactly the same
      * vectors. The internal assignment pin
      * ([[graft.operators.Similarity.ivfPqResAppendPinned]]) is this
      * leg's per-batch pin. Readers of the still-growing dirs pass
      * `tombstones` to `ivfPqResTopKAgainstIndex` (the shared
      * reader-guard argument); compaction + atomic re-publish is
      * [[compactStreamedIndex]] with the frozen centroids/books riding
      * along. Per batch: |batch|·nlist map-side centroid scores against
      * the bounded nlist-row broadcast plus one m·ksub-bounded encode;
      * only (long, long) and (long, array<int>) rows land on disk. */
    final case class IvfPqRes(centroidsDir: String, booksDir: String,
                              cellsDir: String, codesDir: String,
                              vec: String, m: Int, ksub: Int)
        extends AppendLeg(Seq(cellsDir, codesDir), Seq(centroidsDir, booksDir)) {
      protected[streaming] def frames(rows: DataFrame, id: String, pins: Pins) = {
        val (cells, codes, pin) = graft.operators.Similarity.ivfPqResAppendPinned(
          pins(centroidsDir), pins(booksDir), rows, col(id), col(vec), m, ksub)
        (Seq(cells, codes), Some(pin))
      }
    }

    /** Streamed BM25 TEXT-index partials (C160 — the retrieval twin of
      * the ANN legs): each micro-batch's index contribution lands as
      * PER-BATCH PARTIAL frames under `indexDir` — `postings/`,
      * `terms/` (the batch's own per-term df/ctf), `docs/` and `stats/`
      * (the batch's 1-row count/token mass).
      *
      * Why partials instead of merged frames: df/ctf/avgdl are not
      * frozen artifacts — every append changes them, and a streamed
      * read-merge-rewrite of a vocabulary table per micro-batch is the
      * read-modify-write cycle streaming ingest exists to avoid. But
      * df/ctf/stats merge by PURE ADDITION ([[graft.functions.Keywords
      * .textIndexAppend]]'s outer-merge is associative+commutative), so
      * the partials ARE the index: [[readStreamedTextIndex]] folds them
      * with one vocab-bounded `groupBy(term).sum` and a #batches-row
      * stats sum — work proportional to the vocabulary, never the
      * corpus — and postings/docs union by partition discovery, exactly
      * the shape the batch append produces under term-bucketed storage.
      *
      * Contract stack (each leg proven elsewhere, composed here):
      *  - Per batch, ONE tokenize pass ([[graft.functions.Keywords
      *    .docTermCounts]], cached for the four derived writes and
      *    released as this leg's per-batch pin); the frame definitions
      *    are [[graft.functions.Keywords.textIndexFromPostings]]'s own,
      *    so the streamed partials cannot drift from the batch build's.
      *  - Replay idempotence means a replayed batch replaces its own
      *    partials instead of double-counting df/ctf mass.
      *  - Readers of the still-growing dir pass `tombstones` to
      *    [[readStreamedTextIndex]], which routes the guard through
      *    [[graft.functions.Keywords.textIndexRemove]] — for text a
      *    takedown must also subtract df/ctf/stats mass, so the guard
      *    IS the remove primitive, not a bare filter (the same reason
      *    the text `AgainstIndex` searches take no tombstone argument).
      *  - New-ids-only caller contract, inherited from
      *    [[graft.functions.Keywords.textIndexAppend]]: a re-crawled
      *    id must be tombstoned (or compacted out) first — streamed
      *    partials are additive, so a re-sent id would double-count.
      *
      * Scale shape: per batch, one explode+aggregate over the new docs
      * only; nothing corpus-sized is read back, the vocabulary merge is
      * deferred to read time where it costs one bounded aggregation.
      * Compaction endgame: [[compactStreamedTextIndex]]. */
    final case class TextPartials(indexDir: String, text: String)
        extends AppendLeg(Seq("postings", "terms", "docs", "stats")
          .map(indexDir.stripSuffix("/") + "/" + _), Nil) {
      protected[streaming] def frames(rows: DataFrame, id: String, pins: Pins) = {
        val tf = graft.functions.Keywords.docTermCounts(rows, col(id), col(text))
        val ix = graft.functions.Keywords.textIndexFromPostings(tf)
        (Seq(ix.postings, ix.terms, ix.docs, ix.stats), Some(tf))
      }
    }
  }

  /** Tail a directory of parquet files (embeddings or documents keyed by
    * `id`) and grow every artifact of `legs` from each micro-batch,
    * under ONE checkpoint. Contract stack, shared by every leg:
    *  - Frozen artifacts (stats, centroids, codebooks) are small and
    *    read ONCE per query start and pinned (the neardup_screen
    *    pattern) — not re-read per micro-batch; the pins and the
    *    tombstone frame are released on termination.
    *  - The [[tombstoneGuard]] runs first, so every leg sees the same
    *    tombstone-filtered rows.
    *  - Each micro-batch OVERWRITES its own `batch=<id>` partition of
    *    every output dir (the monitor plumbing's replay-idempotence
    *    pattern): a replayed batch — rename-failure retry, or a crash
    *    between a write and the commit log — replaces its own output
    *    instead of duplicating rows. With a replayable source, that
    *    idempotent sink is exactly-once output.
    *  - Lockstep: all legs write inside the SAME micro-batch before its
    *    commit, so at every committed offset the artifacts cover
    *    exactly the same input rows. Legs under separate checkpoints
    *    advance independently — one can commit batches the other hasn't
    *    processed, and during that lag a vector sits in codes without a
    *    cell (or vice versa), invisible to the composed search's
    *    candidate⋈codes join. A crash between two legs' writes leaves
    *    an uncommitted batch whose replay overwrites every `batch=<id>`
    *    partition (the idempotence pattern heals the half-written
    *    window). With more than one leg the guarded batch is pinned
    *    across them — without the persist each leg would re-read the
    *    input file separately. */
  def startIndexAppend(spark: SparkSession, inputDir: String,
                       schema: StructType, id: String, checkpointDir: String,
                       legs: Seq[AppendLeg],
                       tombstonesDir: Option[String] = None): StreamingQuery = {
    require(legs.nonEmpty, "startIndexAppend needs >= 1 append leg")
    // a dir nested in another counts too: reading the outer one would
    // discover the inner leg's files
    val clash = legs.flatMap(_.dirs).map(_.stripSuffix("/") + "/").combinations(2)
      .filter(p => p(0).startsWith(p(1)) || p(1).startsWith(p(0))).toSeq
    require(clash.isEmpty, "two append legs write the same directory: " +
      clash.map(_.mkString(" and ")).mkString("; "))
    graft.GraftExtensions.ensureRegistered(spark)
    val pins = legs.flatMap(_.frozenDirs).distinct.map(d => d -> spark.read
      .parquet(d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)).toMap
    val (guard, guardPinned) = tombstoneGuard(spark, id, tombstonesDir)
    releaseOnTermination(spark,
      spark.readStream.schema(schema).parquet(inputDir)
        .writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val guarded = guard(batch)
          val rows = if (legs.size > 1) guarded.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else guarded
          try legs.foreach(_.append(rows, id, pins, batchId))
          finally if (legs.size > 1) rows.unpersist(blocking = false): Unit
        }
        .start(),
      unpersisting(pins.values.toSeq ++ guardPinned))
  }

  /** Assemble a [[graft.functions.Keywords.TextIndex]] from a
    * [[AppendLeg.TextPartials]] output tree: postings/docs by partition
    * discovery (the `batch` bookkeeping column dropped by selection),
    * per-term df/ctf partials folded with one vocab-bounded sum,
    * per-batch stats rows folded to the 1-row corpus stats (coalesced
    * so an all-empty stream still yields (0, 0), matching the batch
    * build's empty-corpus contract). With `tombstones`, the assembled
    * index routes through [[graft.functions.Keywords
    * .textIndexRemove]] — df/ctf/stats mass subtracted, not merely
    * filtered — so search over a guarded streamed read ≡ search over
    * the rebuilt-without corpus (spec-pinned). */
  def readStreamedTextIndex(spark: SparkSession, indexDir: String,
                            tombstones: Option[DataFrame] = None)
      : graft.functions.Keywords.TextIndex = {
    val base = indexDir.stripSuffix("/")
    val ix = graft.functions.Keywords.TextIndex(
      postings = spark.read.parquet(s"$base/postings")
        .select(col("doc_id"), col("term"), col("tf")),
      terms = spark.read.parquet(s"$base/terms")
        .groupBy(col("term"))
        .agg(sum(col("df")).as("df"), sum(col("ctf")).as("ctf")),
      docs = spark.read.parquet(s"$base/docs")
        .select(col("doc_id"), col("dl")),
      stats = spark.read.parquet(s"$base/stats")
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
          coalesce(sum(col("total_tokens")), lit(0L)).as("total_tokens")))
    tombstones.map(ts => graft.functions.Keywords.textIndexRemove(ix, ts))
      .getOrElse(ix)
  }

  /** Streaming IVF drift monitor (C154j — [[AppendLeg.IvfCells]]'s
    * retrain trigger, the coarse-quantizer twin of
    * [[startBqDriftMonitor]]): accumulate per-CELL occupancy partial
    * counts of the incoming vectors under the frozen centroids
    * (`Similarity.ivfCellBuckets` — the build's own argmax, so the
    * monitored occupancy is exactly what lands in the cells table) and
    * PSI them per micro-batch against the training corpus's pinned
    * occupancy at `refCountsDir`
    * (`Similarity.ivfCellCounts(trainingCorpus, id, vec, centroids)`
    * written to parquet). Mass collapsing into few cells is the
    * composed search's recall-and-skew killer — probes miss moved
    * vectors and the hot cells' candidate lists balloon — so alarm on
    * the same C152 folklore and retrain+re-encode as a batch job
    * (publish the rewritten artifacts atomically via
    * [[graft.sources.Layout.publishIndexVersion]]).
    * Same shared plumbing, so replay idempotence, staged renames, and
    * the batch-twin law all carry over. */
  def startIvfDriftMonitor(spark: SparkSession, inputDir: String,
                           schema: StructType, id: String, vec: String,
                           checkpointDir: String, centroidsDir: String,
                           countsDir: String, alarmsDir: String,
                           refCountsDir: String): StreamingQuery =
    startDriftMonitor(spark, inputDir, schema, checkpointDir, centroidsDir,
        countsDir, alarmsDir, refCountsDir) { (batch, cents) =>
      graft.operators.Similarity.ivfCellBuckets(batch, col(id), col(vec), cents)
    }

  /** The tombstone guard's documented endgame as ONE named primitive
    * (remove → compact → publish): read each streamed `batch=<id>`
    * artifact dir, anti-join the tombstone list out of it (the same
    * keyed [[graft.operators.Similarity.indexRemove]] the takedown
    * uses), rewrite to target-size files, and land everything through
    * [[graft.sources.Layout.publishIndexVersion]] as one committed
    * generation. Until now this was a hand-rolled composition —
    * `Layout.compact` is content-preserving by contract, so nothing
    * owned the "materialize the pruned table" step.
    *
    * `streamed` maps artifact name → its streamed dir; the discovered
    * `batch` ingest-bookkeeping column is dropped (publish layout,
    * not ingest history). `frozen` artifacts (stats / centroids /
    * codebooks — removal is not drift, they stay exactly right) ride
    * into the SAME generation unchanged, so a reader of the published
    * gen holds a complete consistent artifact set and searches it
    * with `tombstones = None`. Per-artifact file sizing follows
    * `Layout.compact`: partition count from the ACTUAL input bytes
    * over `targetBytes` (coalesce when merging suffices, repartition
    * when the input has too few splits). Scale shape: one column-
    * pruned scan + one broadcast-able anti-join per artifact, work
    * linear in the streamed table — nothing corpus-sized on the
    * driver. After the new generation's readers take over, point the
    * append legs' dirs at a fresh location (or the published gen's)
    * and reap the old `batch=` tree + applied tombstones; a takedown
    * landing AFTER this read is the next compaction's work, exactly
    * like one landing mid-run of an AvailableNow append.
    *
    * Returns the published generation. Parity law (spec-pinned):
    * the compacted generation ≡ rebuild-without-tombstoned
    * frame-for-frame, and a search over the published gen matches the
    * tombstone-guarded streamed read row-for-row. */
  def compactStreamedIndex(spark: SparkSession,
                           streamed: Map[String, String],
                           tombstonesDir: Option[String],
                           indexDir: String,
                           frozen: Map[String, DataFrame] = Map.empty,
                           targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(streamed.nonEmpty,
      "compactStreamedIndex needs >= 1 streamed artifact dir")
    require(streamed.keySet.intersect(frozen.keySet).isEmpty,
      s"artifact named both streamed and frozen: " +
        streamed.keySet.intersect(frozen.keySet).mkString(", "))
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val ts = tombstonesDir.map(d => spark.read.parquet(d))
    val pruned = streamed.map { case (name, dir) =>
      val raw = spark.read.parquet(dir).drop("batch")
      val guarded = ts.map(graft.operators.Similarity.indexRemove(raw, _))
        .getOrElse(raw)
      name -> sizedToSource(spark, guarded, dir, targetBytes)
    }
    graft.sources.Layout.publishIndexVersion(spark, indexDir, pruned ++ frozen)
  }

  /** The compactors' shared file-sizing rule: partition `df` so each
    * output file lands near `targetBytes`, sized from the SOURCE
    * tree's actual bytes (an upper bound after pruning/merging — a
    * compaction may only shrink). One definition so the ANN and text
    * compactors cannot diverge on the D9 sizing discipline. */
  private def sizedToSource(spark: SparkSession, df: DataFrame,
                            srcDir: String, targetBytes: Long): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(srcDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = math.max(1, math.ceil(
      fs.getContentSummary(p).getLength.toDouble / targetBytes).toInt)
    if (df.rdd.getNumPartitions < parts) df.repartition(parts)
    else df.coalesce(parts)
  }

  /** [[compactStreamedIndex]]'s TEXT twin — the [[AppendLeg.TextPartials]]
    * tree's endgame in one call: assemble the streamed partials
    * ([[readStreamedTextIndex]], whose tombstone path routes through
    * [[graft.functions.Keywords.textIndexRemove]] so df/ctf/stats mass
    * is SUBTRACTED), materialize the four MERGED frames at target-size
    * files, and land them through [[graft.sources.Layout
    * .publishIndexVersion]] as one committed generation. After this,
    * readers take [[readPublishedTextIndex]] — no per-query vocabulary
    * fold, no tombstone bookkeeping, no batch= small files — and the
    * ingest leg restarts against a fresh streamed tree whose partials
    * layer over the published base via [[graft.functions.Keywords
    * .textIndexAppend]]'s additive law. Work linear in the streamed
    * tree: one scan per artifact + the vocab-bounded term fold. */
  def compactStreamedTextIndex(spark: SparkSession, streamedDir: String,
                               tombstonesDir: Option[String],
                               indexDir: String,
                               targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val base = streamedDir.stripSuffix("/")
    val ix = readStreamedTextIndex(spark, streamedDir,
      tombstonesDir.map(d => spark.read.parquet(d)))
    val frames = Map("postings" -> ix.postings, "terms" -> ix.terms,
      "docs" -> ix.docs, "stats" -> ix.stats)
    graft.sources.Layout.publishIndexVersion(spark, indexDir,
      frames.map { case (n, df) =>
        n -> sizedToSource(spark, df, s"$base/$n", targetBytes) })
  }

  /** Resolve the current committed generation of a
    * [[compactStreamedTextIndex]] (or any four-artifact text-index)
    * publish tree as a ready-to-search [[graft.functions.Keywords
    * .TextIndex]] — the one-generation-never-a-mix read contract of
    * [[graft.sources.Layout.readIndexVersion]], shaped for
    * [[graft.functions.Keywords.bm25AgainstIndex]]. */
  def readPublishedTextIndex(spark: SparkSession, indexDir: String)
      : (Long, graft.functions.Keywords.TextIndex) = {
    val (gen, m) = graft.sources.Layout.readIndexVersion(spark, indexDir,
      Seq("postings", "terms", "docs", "stats"))
    (gen, graft.functions.Keywords.TextIndex(
      m("postings"), m("terms"), m("docs"), m("stats")))
  }

  /** Streaming TOKENIZER-fertility drift monitor (C162 —
    * [[startBqDriftMonitor]] for the one frozen TEXT artifact, the
    * trained BPE merge table): per micro-batch, each incoming doc's
    * quarter-unit fertility bucket under the FROZEN merges
    * ([[graft.functions.Keywords.fertilityBuckets]] — the same joined
    * apply the production tokenizer runs, so the monitored
    * distribution IS what downstream sequences pay), per-SOURCE PSI
    * against the training corpus's pinned fertility distribution at
    * `refCountsDir` ([[graft.functions.Keywords.fertilityCounts]]
    * builds the reference AND is the batch twin). Fertility mass
    * creeping upward means the vocabulary no longer fits the incoming
    * corpus — domain drift, mojibake, a new language — and the remedy
    * is the same deliberate batch job as the quantizer's: retrain the
    * merges (C153), re-apply, publish. Rides DropStats' shared
    * partial-count plumbing (replay-idempotent `batch=<id>` counts,
    * staged alarm renames, raw text never persisted — only bounded
    * (source, bucket) rows land), so the twin law, resume and replay
    * guarantees carry over unchanged. */
  def startFertilityDriftMonitor(spark: SparkSession, inputDir: String,
                                 schema: StructType, id: String, text: String,
                                 source: String, checkpointDir: String,
                                 mergesDir: String, countsDir: String,
                                 alarmsDir: String,
                                 refCountsDir: String): StreamingQuery =
    startDriftMonitor(spark, inputDir, schema, checkpointDir, mergesDir,
        countsDir, alarmsDir, refCountsDir) { (batch, merges) =>
      graft.functions.Keywords.fertilityBuckets(
        batch, col(id), col(text), col(source), merges)
    }

  /** Streaming BQ drift monitor (C154h — the retrain trigger
    * [[AppendLeg.BqCodes]]' scaladoc prescribes): tail the SAME
    * embedding stream, maintain per-dimension bit-population partial
    * counts under the frozen stats (bucket = 2·d + bit, the
    * [[graft.operators.Similarity.bqBitBuckets]] shape — exactly the
    * bit rule the stored words pack), and after every micro-batch
    * recompute PSI against the TRAINING corpus's pinned bit
    * populations at `refCountsDir`
    * (`Similarity.bqBitCounts(trainingCorpus, vec, stats)` written to
    * parquet). Read the alarms with the C152 folklore (< 0.1 stable,
    * 0.1–0.25 investigate, > 0.25 moved → retrain+re-encode). Rides
    * [[DropStats]]'s partial-count plumbing verbatim, so replay
    * idempotence, staged alarm renames, and the batch-twin law
    * (output after N files ≡ `Profile.psiOverCounts(ref,
    * bqBitCounts(those N files))`) all carry over; the
    * smoothing/micro-nat tree is psiOverCounts' single definition, so
    * the monitor inherits the oracle-gated exactness. */
  def startBqDriftMonitor(spark: SparkSession, inputDir: String,
                          schema: StructType, vec: String,
                          checkpointDir: String, statsDir: String,
                          countsDir: String, alarmsDir: String,
                          refCountsDir: String): StreamingQuery =
    startDriftMonitor(spark, inputDir, schema, checkpointDir, statsDir,
        countsDir, alarmsDir, refCountsDir) { (batch, stats) =>
      graft.operators.Similarity.bqBitBuckets(batch, col(vec), stats)
    }

  /** The one drift-monitor shape behind the three above: pin the frozen
    * artifact at `artifactDir` once per query start, bucket every
    * micro-batch against it with `buckets` (the `(grp, bucket)` rows
    * [[DropStats]]' partial-count plumbing accumulates), and after
    * every micro-batch write `(grp, n_buckets, psi)` per grp — PSI of
    * the accumulated counts against the reference counts at
    * `refCountsDir` ([[graft.operators.Profile.psiOverCounts]]'
    * single definition). The pin is released on termination. */
  private def startDriftMonitor(spark: SparkSession, inputDir: String,
                                schema: StructType, checkpointDir: String,
                                artifactDir: String, countsDir: String,
                                alarmsDir: String, refCountsDir: String)(
      buckets: (DataFrame, DataFrame) => DataFrame): StreamingQuery = {
    graft.GraftExtensions.ensureRegistered(spark)
    val artifact = spark.read.parquet(artifactDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releaseOnTermination(spark,
      DropStats.startBucketMonitorOver(spark,
        spark.readStream.schema(schema).parquet(inputDir),
        checkpointDir, countsDir, alarmsDir)(buckets(_, artifact)) {
        counts =>
          val ref = counts.sparkSession.read.parquet(refCountsDir)
            .select(col("grp").as("source"), col("bucket"), col("n"))
          graft.operators.Profile.psiOverCounts(ref,
              counts.select(col("grp").as("source"), col("bucket"), col("n")))
            .select(col("source").as("grp"), col("n_buckets"), col("psi"))
      },
      unpersisting(Seq(artifact)))
  }
}
