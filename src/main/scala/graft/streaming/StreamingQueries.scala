package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.Q
import graft.operators.{Dedup, Fold, FoldStore, Shared}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructType}

/** The continuous rows: real Structured Streaming queries over the test
  * tables replayed as streams, each run to its end and returned as a
  * batch result so the driver's oracle harness can hash-check it.
  *
  * Every row starts its stream through one helper, [[runToEnd]]: it
  * narrows the state partitions around `start()` ([[StatePartitions]]),
  * triggers `AvailableNow`, then awaits and stops the query, restoring the
  * session's partition count also when the query fails.
  *  - [[drain]] runs a stream into a memory sink and returns the sink
  *    table: q27–q29, q46, q47, q62, q79, q80, q89, q108, q116, q42
  *    ([[StatefulSession]]) over a staged table dir, and the
  *    replay-and-drain rows q30 and q143.
  *  - [[Replay]] is the replay-fold runner: it splits a row's input into
  *    ordered micro-batch files under the row's temp dir and reads them
  *    back one file per trigger; [[Replay.foldEach]] folds every
  *    micro-batch into the row's state with `foreachBatch` (q124, q128,
  *    q136, q150, q156, q159, q161d), kept in
  *    [[graft.operators.FoldStore]]s except q150's layout segments. A
  *    row supplies only its fold body and its readout ([[Replay.run]]
  *    of a [[graft.operators.Fold]]).
  *
  * q27/q28/q29 run in COMPLETE output mode (no watermark): every window
  * is in the final state, so the result equals the batch semantics the
  * DuckDB oracle computes. q30 exercises the append-mode + watermark path
  * a production deployment runs, where dropping late rows *is* the object
  * under test.
  *
  * Scale posture: the aggregations lower to streaming HashAggregate over
  * the state store keyed by (window, group) — partitioned by group key,
  * spillable, RocksDB-backed in production. Complete-mode memory sinks
  * are test harness only.
  */
object StreamingQueries {
  import Q._

  /** Stage the events table for the file streaming source, which requires
    * a *directory* of data files: symlinks in a fresh [[tempDir]] per
    * call. Testdata ships events.parquet as a single FILE (one link
    * suffices); StressGen-style dirs hold part files, which must be
    * linked individually — the file source does not recurse into a
    * nested non-partition directory, so a dir link would silently stream
    * ZERO rows (caught by the sf~1 oracle tier). A dir per call means a
    * regenerated source (StressGen overwrite, new part-file names) never
    * meets links staged by an earlier run, and concurrent callers over
    * one sf dir never share one. Shared with
    * [[graft.streaming.StatefulSession]]'s q42.
    */
  private[streaming] def stageEventsDir(s: SparkSession, d: String): String =
    stageTableDir(s, d, "events")

  private[graft] def stageTableDir(s: SparkSession, d: String,
      table: String): String = {
    val stage = tempDir(s, s"graft_${table}_stream_")
    val src = Paths.get(d, s"$table.parquet")
    if (Files.isDirectory(src)) {
      // Files.list streams hold a directory handle — always closed, or
      // long sessions leak one per staged query
      val ls = Files.list(src)
      try ls.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(f =>
          Files.createSymbolicLink(stage.resolve(f.getFileName), f))
      finally ls.close()
    } else {
      Files.createSymbolicLink(stage.resolve(s"$table.parquet"), src)
    }
    stage.toString
  }

  /** Stage a replay's fold files `<dir>/foldNNNN.parquet`, one per fold,
    * each with an mtime that orders it n-th for the file streaming source.
    * partitionBy on the fold index writes every fold from a single scan
    * of `df` (the staging runs inside the timed region of every replay
    * row, so this is query-path cost). coalesce(1) keeps one task writing
    * all fold directories, so each fold lands as exactly one part file.
    * Directory streams are closed (see [[stageTableDir]]).
    */
  private def writeReplayFolds(dir: Path, df: DataFrame, foldIdx: Column,
      folds: Int): Unit = {
    val stage = dir.resolve("stage")
    df.withColumn("_fold", foldIdx.cast("int")).coalesce(1)
      .write.mode("overwrite").partitionBy("_fold").parquet(stage.toString)
    for (n <- 0 until folds) {
      val sub = stage.resolve(s"_fold=$n")
      // an EMPTY fold produces no partition directory; the replay
      // contract still needs a (schema-carrying, zero-row) file so the
      // stream fires the same number of micro-batches
      if (!Files.isDirectory(sub))
        df.filter(foldIdx.cast("int") === n).coalesce(1)
          .write.parquet(sub.toString)
      val ls = Files.list(sub)
      val part =
        try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally ls.close()
      val dst = dir.resolve(f"fold$n%04d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(1700000000000L + n * 60000L)
    }
  }

  /** A fresh temp dir named `<prefix>…`, deleted with its contents at JVM
    * exit: the local Hadoop FileSystem's delete-on-exit list runs when the
    * FileSystem cache closes at shutdown. Not earlier — a row's readout is
    * lazy and reads the dir's stores only when the caller collects.
    */
  private[graft] def tempDir(s: SparkSession, prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      .deleteOnExit(new org.apache.hadoop.fs.Path(dir.toUri))
    dir
  }

  /** Streaming view of events, `ts` normalized to TimestampType whatever
    * raw layout the parquet ships ([[graft.Tables.tsTimestamp]]).
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val stage = stageEventsDir(s, d)
    val schema = s.read.parquet(s"$d/events.parquet").schema
    s.readStream.schema(schema).parquet(stage)
      .withColumn("ts", graft.Tables.tsTimestamp(schema))
  }

  /** State-store partition count for the streaming queries. The count
    * binds at query birth from `spark.sql.shuffle.partitions`; each
    * partition loads its own RocksDB instance (observed 2-3.7 s per load
    * on the shared box — at 32 partitions x 5 queries this alone blew the
    * round-2 driver bench timeout). 8 instances keep the end-to-end state
    * machinery exercised; a production deployment sizes this to its
    * cluster.
    */
  private[graft] val StatePartitions: String = "8"

  /** Start `w` and run it to its end: state partitions narrowed to
    * [[StatePartitions]] around `start()`, `Trigger.AvailableNow`, then
    * await and stop. The session's partition count is restored for the
    * batch queries whether the query ends or fails.
    */
  private def runToEnd(s: SparkSession, w: DataStreamWriter[_]): Unit = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions)
    try {
      val q = w.trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Run a stream into memory sink `name` to its end, return the table. */
  private[streaming] def drain(s: SparkSession, agg: DataFrame,
      name: String, mode: String): DataFrame = {
    s.catalog.dropTempView(name) // allow re-runs in one session (bench)
    runToEnd(s, agg.writeStream.format("memory").queryName(name)
      .outputMode(mode))
    s.table(name)
  }

  /** The replay-fold runner for one run of row `row`: `input` split by
    * `foldIdx` into `folds` ordered micro-batch files under `in/` of the
    * row's temp dir ([[tempDir]]), which also holds the row's state
    * stores ([[store]]) and the stream checkpoint.
    */
  private[graft] final class Replay(s: SparkSession, row: String,
      input: DataFrame, foldIdx: Column, folds: Int) {
    val dir: Path = tempDir(s, s"graft_$row")

    def store(name: String, schema: StructType): FoldStore =
      new FoldStore(s, dir.resolve(name), schema)

    /** Stage the fold files, overlapped with the row's one-time `seeds`
      * (independent writes over disjoint dirs, §2.6), and read them back
      * one file per trigger.
      */
    def stream(seeds: (() => Unit)*): DataFrame = {
      val in = dir.resolve("in")
      Shared.inParallel(
        (() => writeReplayFolds(in, input, foldIdx, folds)) +: seeds)
      s.readStream.schema(input.schema).option("maxFilesPerTrigger", "1")
        .parquet(in.toString)
    }

    /** Run `fold(batch, batchId)` on every micro-batch of [[stream]].
      * Fold bodies keep AQE on: its runtime broadcast picks on the
      * stat-less store-dir reads are load-bearing (with AQE off, the tiny
      * joins fell back to shuffle plans and q124 ran ~1.7x slower).
      */
    def foldEach(seeds: (() => Unit)*)(fold: (DataFrame, Long) => Unit)
        : Unit =
      runToEnd(s, stream(seeds: _*).writeStream
        .foreachBatch((b: DataFrame, id: java.lang.Long) =>
          fold(b, id.longValue()))
        .option("checkpointLocation", dir.resolve("ckpt").toString))

    /** Run `f` over every micro-batch, each step's writes overlapped
      * (§2.6), and return its readout.
      */
    def run(f: Fold): DataFrame = {
      foldEach(f.seeds: _*)((b, ver) => Shared.inParallel(f.step(b, ver)))
      f.readout
    }
  }

  /** [[Replay]] of the doc_id % 10 == 0 batch tenth of `docs` (the
    * q89/q120 split), fold = (doc_id div 10) % folds.
    */
  private def tenthReplay(s: SparkSession, row: String, docs: DataFrame,
      folds: Int): Replay =
    new Replay(s, row, docs.filter(col("doc_id") % 10 === 0),
      expr(s"(doc_id div 10) % $folds"), folds)

  /** Shingle → MinHash signature → exploded LSH bands for q89's two sides. */
  private def q89SigOf(df: DataFrame, idAs: String,
      sigAs: String): DataFrame = {
    import graft.operators.{Dedup, Shared}
    df.select(col("doc_id").as(idAs),
        Shared.shingles3(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("h31s", Dedup.h31Array(col("sh")))
      .withColumn(sigAs, Dedup.minhashSigOfH31(col("h31s")))
      .withColumn("bb", explode(Dedup.minhashBandCols(col(sigAs))))
      .select(col(idAs), col(sigAs),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
  }

  /** The materialized corpus band table, write-once per (session, tier,
    * source state) via [[graft.operators.Bucketed.writeOnceBucketed]] —
    * the ingest-side cost that Bench times as its own `artifact:` row so
    * the stream-side row measures only per-batch work.
    */
  private[graft] def q89CorpusBands(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Bucketed
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "q89_corpus_bands",
      s"$d/documents.parquet",
      q89SigOf(graft.Tables.documents(s, d)
          .filter(col("doc_id") % 10 =!= 0)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        "corpus_doc", "sig_b"),
      buckets = 16, keys = Seq("band", "bv"))
  }

  /** ScaleProbe hook: q89's band-collision candidate join replayed
    * batch-side (new-docs tenth × corpus nine-tenths on (band, bv),
    * multiplicity included — the rows the stream join actually processes
    * before the signature verify and dropDuplicates). Growth across
    * tiers pins the "per-batch cost is bands-of-the-new-docs" claim.
    */
  private[graft] def q89BatchCandidates(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val newDocs = q89SigOf(docs.filter(col("doc_id") % 10 === 0),
        "new_doc", "sig_a")
      .select(col("new_doc"), col("band"), col("bv"))
    val corpus = q89SigOf(docs.filter(col("doc_id") % 10 =!= 0)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        "corpus_doc", "sig_b")
      .select(col("corpus_doc"), col("band"), col("bv"))
    newDocs.join(corpus, Seq("band", "bv"))
  }

  /** Builds q89's UNSTARTED streaming DataFrame (split out so PlanSpec
    * can assert the static-side shape without running the stream).
    *
    * New documents arrive as a stream (the doc_id % 10 == 0 tenth plays
    * the crawl batch); the other nine tenths are the static corpus. The
    * stream side computes its 32-min MinHash signature PER ROW
    * ([[graft.operators.Dedup.minhashSigOfH31]] — one md5 pass + 32
    * universal-hash mins, bit-identical to q34's aggregate form but
    * stateless, which is what makes it streamable), explodes its 8 LSH
    * bands, and equi-joins the corpus band table: a stream-static join
    * on (band, bv), so a new doc meets only corpus docs sharing a band —
    * never new × corpus. Band collisions pay the exact >= 26/32
    * signature compare (q34's threshold, whose pigeonhole bound makes
    * band-collision recall 100% AT the threshold — so the band join
    * provably loses nothing the verify would keep, and the batch oracle
    * can skip band simulation). dropDuplicates collapses multi-band hits
    * (keyed state; bounded replay here — a production stream bounds it
    * with dropDuplicatesWithinWatermark like q46).
    *
    * The corpus band table is MATERIALIZED once per (session, tier) —
    * written bucketed by (band, bv) via [[graft.operators.Bucketed
    * .writeOnceBucketed]] — and the join's static side is a bare scan of
    * that table. Structured Streaming re-evaluates the static side of a
    * stream-static join on EVERY micro-batch: inlining sigOf(corpus)
    * here would recompute the full-corpus shingle → md5 → 32-min MinHash
    * pipeline per trigger, while the materialized form pays a columnar
    * scan of (id, sig, band, bv). At 100 TB that is the difference
    * between an ingest batch reading ids + 4-min band values and one
    * re-hashing the corpus from scratch each trigger. PlanSpec asserts
    * the static subtree is the table scan and carries none of the
    * signature expressions.
    */
  private[graft] def q89Stream(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Dedup, Shared}
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val newDocs = q89SigOf(
      s.readStream.schema(schema).parquet(stageTableDir(s, d, "documents"))
        .filter(col("doc_id") % 10 === 0), "new_doc", "sig_a")
    val corpus = q89CorpusBands(s, d)
    newDocs.join(corpus, Seq("band", "bv"))
      .withColumn("n_eq", Shared.foldSum(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1.0d).otherwise(0.0d))).cast("long"))
      .filter(col("n_eq") >= Dedup.MinhashEq)
      .select(col("new_doc"), col("corpus_doc"),
        round(col("n_eq") / lit(Dedup.MinhashK.toDouble), 4)
          .as("est_jaccard"))
      .dropDuplicates("new_doc", "corpus_doc")
  }

  /** q108's static side, materialized once per (session, tier): corpus
    * vectors (vec_id % 10 != 0) with their TRAINED cell and embedding,
    * bucketed by cell — the semantic index an ingest pipeline builds
    * once and every arriving batch joins. Builds on the sem_cells
    * artifact (triggering the one memoized Lloyd training if needed), so
    * corpus cells and the online assignment below share one codebook.
    */
  private[graft] def q108CorpusCells(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Bucketed, Similarity}
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "q108_corpus_cells",
      s"$d/embeddings.parquet",
      Similarity.cellsArtifact(s, d)
        .filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("corpus_vec"), col("cid").as("cell"))
        .join(graft.Tables.embeddings(s, d)
          .select(col("vec_id").as("corpus_vec"),
            col("embedding").cast("array<double>").as("emb_b")),
          "corpus_vec"),
      buckets = 16, keys = Seq("cell"))
  }

  /** Streaming semantic dedup (q108).
    *
    * Online assignment is the two-level codebook's online path
    * ([[graft.operators.Similarity.onlineAssign]]): the coarse cell is a
    * pure codegen'd sign-bit expression, the fine argmin a STREAM-STATIC
    * equi-join against the write-once packed codebook table (one row per
    * coarse cell, ≤64 sub-centroids) plus one compiled `sub_argmin`
    * kernel per arriving vector. The stream side stays narrow — no
    * aggregation state, no driver-collected codebook, no K-proportional
    * expression literals (the round-8 design inlined K ∝ n/250 distance
    * folds and capped at codegen limits); the codebook table scales as
    * one row per coarse cell and is joined, never materialized on the
    * driver. The argmin reproduces the artifact's min(struct(d2, sid))
    * tie rule exactly, so a streamed corpus vector lands in exactly its
    * stored cell.
    *
    * The second stream-static join is an equi-join on the trained cell
    * against the bucketed [[q108CorpusCells]] scan (never new × corpus),
    * then the exact cosine ≥ τ verify. Because training covered the full
    * table, the batch oracle replays the identical pair set from the a3
    * assignment — an equality that ALSO proves the online argmin matches
    * the stored assignment on every streamed vector.
    */
  private[graft] def q108Stream(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Shared, Similarity}
    val schema = s.read.parquet(s"$d/embeddings.parquet").schema
    val stream = s.readStream.schema(schema)
      .parquet(stageTableDir(s, d, "embeddings"))
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("new_vec"),
        col("embedding").cast("array<double>").as("emb_a"))
    val assigned = Similarity.onlineAssign(s, d, stream, "emb_a")
      .select(col("new_vec"), col("cell"), col("emb_a"))
    assigned.join(q108CorpusCells(s, d), "cell")
      .withColumn("cos", round(Shared.cosine(col("emb_a"), col("emb_b")), 4))
      .filter(col("cos") >= Similarity.CosT)
      .select(col("new_vec"), col("cell"), col("corpus_vec"), col("cos"))
  }

  /** q156's fold over a [[FoldStore]] of label override rows. Per fold
    * k over the CURRENT view (latest-wins of base + overrides before k):
    *   1. touched reps = clusters holding a batch tombstone;
    *   2. survivors of those clusters re-paired FROM TEXT (labelsOf on
    *      the broadcast-semi-joined doc set — the q154 body: label-edge
    *      contraction is unsound under deletion, clusters can split);
    *   3. override shard ver = k: new labels for re-paired survivors,
    *      and DROP rows (cluster_size = 0) for deleted + evaporated
    *      members — a latest-wins store needs an explicit "no longer
    *      labeled" verb, which size-0 provides and the readout filters.
    * The CASCADE hard case — fold 2 deleting the rep fold 1 just
    * elected, forcing a second re-election of the same original
    * cluster — is exercised by the rule split and spec'd on a planted
    * corpus. Per-fold cost: touched clusters only (the q154 law:
    * 1.2–1.8% of corpus at the measured tiers), never a relabel.
    */
  private[graft] final class TombstoneFold(s: SparkSession, d: String,
      docs: DataFrame, dir: Path) extends Fold {
    private val base = Dedup.labelsArtifact(s, d)
    private val delta =
      new FoldStore(s, dir.resolve("labels_delta"), base.schema)
    private def labelsOver(overrides: DataFrame): DataFrame =
      Dedup.latestWins(base, overrides, "doc_id")
        .filter(col("cluster_size") > 0)

    def step(t: DataFrame, ver: Long): Seq[() => Unit] = {
      val current = labelsOver(delta.before(ver))
      val touchedReps = current.join(t, Seq("doc_id"), "left_semi")
        .select(col("rep")).distinct()
      // touched members materialized once: they feed the survivor
      // re-pairing AND the dropped-row anti-join, and every lazy
      // reference re-paid the latest-wins window + the rep semi-join.
      // Deletion-batch bounded, so checkpoint-sized.
      val members = Shared.ckptBounded(
        current.join(touchedReps, Seq("rep"), "left_semi"),
        "tombstone-fold touched-cluster members")
      val survivorIds = members.join(t, Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
      // re-derived labels materialized once (read by the shard union
      // and the dropped-row anti-join)
      val relabeled = Shared.ckpt(Dedup.labelsOf(
        docs.join(broadcast(survivorIds), Seq("doc_id"), "left_semi"))
        .select(col("doc_id"), col("rep"), col("cluster_size")))
      val dropped = members.select(col("doc_id"))
        .join(relabeled.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("rep"),
          lit(0L).as("cluster_size"))
      Seq(() => delta.put(relabeled.unionByName(dropped), ver))
    }

    def readout: DataFrame = labelsOver(delta.all)
      .select(col("doc_id"), col("rep"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** q136's fold: [[Dedup.spanFoldAgainstWins]] against the corpus
    * stores ∪ earlier folds' window rows, over two [[FoldStore]]s:
    * recomputed rows (override shard ver = fold) and the fold's
    * (doc_id, pos, wh) windows. The posting view later folds probe is a
    * PROJECTION of the window store — sound because the fold's only
    * posting consumers are the per-hash min/COUNT(DISTINCT) aggregates
    * in [[Dedup.spanFoldAgainstWins]] (aff/cState), which are
    * insensitive to the per-position duplicates the unprojected rows
    * carry; the frozen corpus store stays distinct + wh-bucketed.
    */
  private[graft] final class SpanStripFold(s: SparkSession, d: String,
      docs: DataFrame, dir: Path) extends Fold {
    private val basePostings = Dedup.q135PostingsArtifact(s, d)
    private val baseBydoc = Dedup.q135ByDocArtifact(s, d)
    private val base = Dedup.q135BaseArtifact(s, d)
    private val bydoc =
      new FoldStore(s, dir.resolve("bydoc_delta"), baseBydoc.schema)
    private val overrides =
      new FoldStore(s, dir.resolve("overrides"), base.schema)

    def step(b: DataFrame, ver: Long): Seq[() => Unit] = {
      val bydDelta = bydoc.before(ver).drop("ver")
      val posts = basePostings.unionByName(
        bydDelta.select(col("wh"), col("doc_id")))
      val byd = baseBydoc.unionByName(bydDelta)
      // tokenize-once: the batch window list is materialized a single
      // time per micro-batch and shared by the fold probe AND the
      // window shard
      val bw = Shared.ckpt(Dedup.spanWindows(Dedup.spanDocs(s, b)))
      val (rec, _) = Dedup.spanFoldAgainstWins(s, docs, b, bw, posts, byd)
      Seq(() => overrides.put(rec, ver), () => bydoc.put(bw, ver))
    }

    def readout: DataFrame =
      Dedup.latestWins(base, overrides.all, "doc_id").orderBy(col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q27 — tumbling 1h window, count per event_type
    "q27_stream_tumbling" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"))
      drain(s, agg, "q27_mem", "complete")
        .select(tstr(col("window.start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // Q28 — sliding 1h window every 30 min, avg value. The average is
    // computed in exact integer arithmetic (1e-6 units, half-up at 4dp):
    // double division creates half-way cases (e.g. 73.91375) that the two
    // engines' round() can resolve differently; integer math cannot.
    // (Positive-domain formula; at petabyte row counts the unit sum needs
    // a decimal accumulator instead of int64 — documented trade.)
    "q28_stream_sliding" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        // round() before the long cast: Spark's decimal->long cast
        // truncates, DuckDB's rounds; integral here only because the
        // testdata's value is 2-decimal — rounding first removes the
        // data dependence
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(38, 10)) * 1000000), 0)
            .cast("long").as("su"))
      drain(s, agg, "q28_mem", "complete")
        .withColumn("avg_value",
          expr("(2 * su + n * 100) div (2 * n * 100)") / 10000.0d)
        .select(tstr(col("window.start")).as("w_start"), col("n"),
          col("avg_value"))
        .orderBy(col("w_start"))
    }),

    // Q29 — session window, 30-min gap, per user
    "q29_stream_session" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
      drain(s, agg, "q29_mem", "complete")
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("start_us"))
    }),

    // q89 — streaming NEAR-dup backfill: the "new crawl batch vs
    // existing corpus" shape a pretraining pipeline runs on every
    // ingest. See [[q89Stream]] for the full construction (corpus band
    // table materialized once at setup, bucketed by (band, bv); the
    // stream-static join scans the table).
    "q89_stream_neardup" -> ((s, d) =>
      drain(s, q89Stream(s, d), "q89_mem", "append")
        .orderBy(col("new_doc"), col("corpus_doc"))),

    // q108 — streaming SEMANTIC dedup against the trained index: the
    // embedding-space twin of q89's MinHash backfill. New vectors
    // (vec_id % 10 == 0, replayed as a stream) are assigned ONLINE to
    // the trained codebook's cells — a narrow, stateless argmin over
    // the broadcast centroid table, no shuffle on the stream side —
    // then stream-static-joined to the once-materialized corpus cell
    // table (bucketed by cell) and cosine-verified. Emits every
    // (new_vec, corpus_vec) semantic hit, like q89 emits band hits.
    // See [[q108Stream]] for the construction and scale notes.
    "q108_stream_semantic_dedup" -> ((s, d) =>
      drain(s, q108Stream(s, d), "q108_mem", "append")
        .orderBy(col("new_vec"), col("corpus_vec"))),

    // q116 — STREAMING release manifest: q115 maintained continuously on
    // the ingest stream. Per-source doc/token/char totals and the
    // order-insensitive bit_xor fingerprint as a streaming aggregate in
    // complete mode: every xor/sum/count is commutative-associative, so
    // the state is ONE row per source (merged incrementally per
    // micro-batch, any arrival order) and the emitted table equals the
    // batch manifest over the same data — the oracle IS q115's SQL, so
    // the three-tier hash match proves batch/stream parity exactly. At
    // 100 TB/day the state stays |sources| rows — the manifest a landing
    // pipeline keeps current for free, instead of re-scanning the corpus
    // to re-publish (the q115 batch form audits cold data; this keeps
    // the released fingerprint live as files land).
    "q116_stream_manifest" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .parquet(stageTableDir(s, d, "documents"))
      // ONE aggregate definition shared with batch q115 (TextOps) — the
      // parity proof depends on the expressions being identical, so
      // there is deliberately no second copy here
      val agg = graft.operators.TextOps.manifestAgg(stream)
      drain(s, agg, "q116_mem", "complete").orderBy(col("source"))
    }),

    // q143 — CONTINUOUS distinct-count maintenance: q139's HLL register
    // fold as a real Structured Streaming aggregation over three ordered
    // micro-batch files (corpus tenth-split then two batch halves,
    // maxFilesPerTrigger=1 — the q124 replay shape). The register table
    // is a (max per (source, idx)) monoid, so the state store holds AT
    // MOST sources x 4096 rows FOREVER — the streaming state for exact
    // distinct counting would grow with the key universe, which is
    // precisely what a 100-TB/day stream cannot afford. ONE aggregate
    // definition shared with batch q138/q139 ([[graft.operators.Sketches
    // .docRegisters]]), so streaming == batch == from-scratch is the
    // same-expression parity proof q116 established for the manifest
    // monoids; the oracle is the from-scratch register table over all
    // documents.
    "q143_stream_registers" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val stream = new Replay(s, "q143", docs, expr(
        "CASE WHEN doc_id % 10 != 0 THEN 0" +
          " ELSE 1 + (doc_id div 10) % 2 END"), 3).stream()
      drain(s, graft.operators.Sketches.docRegisters(stream), "q143_mem",
          "complete")
        .orderBy(col("source"), col("idx"))
    }),

    // Q46 — streaming deduplication: dropDuplicatesWithinWatermark keyed
    // on (user_id, event_type). The dedup state lives in the state store
    // keyed by the dedup columns — partitioned, RocksDB-backed, and
    // bounded by the watermark (a key's state is dropped once the
    // watermark passes its event time + delay), which is what makes
    // streaming dedup viable on an unbounded stream at 100 TB/day where
    // an ever-growing seen-set would not be. Under a single AvailableNow
    // replay the watermark never advances mid-run, so the kept set is
    // exactly the distinct key set; only the key columns are projected
    // because WHICH physical row survives per key depends on shuffle
    // arrival order (nondeterministic), while the key set itself is
    // deterministic — same reason q24's batch dedup keeps min(doc_id).
    "q46_stream_dedup" -> ((s, d) => {
      val dedup = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      drain(s, dedup, "q46_mem", "append")
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Q47 — stream-stream interval join: purchases within one hour after
    // a click by the same user. Both sides carry watermarks and the join
    // condition bounds event time, so each side's buffered state is
    // evictable (clicks older than watermark - 1h can never match a
    // future purchase and are dropped) — the property that makes a
    // stream-stream join runnable forever rather than accumulating an
    // unbounded build side. The join itself is a state-store symmetric
    // hash join partitioned by user_id. Under one AvailableNow batch no
    // row is ever dropped, so the output equals the batch interval join
    // the oracle computes. Event ids make the ORDER BY a total order.
    "q47_stream_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("click_eid"))
        .withWatermark("c_ts", "1 hour")
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_eid"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(buys,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("click_eid"), col("purchase_eid"),
          unix_micros(col("c_ts")).as("click_us"),
          unix_micros(col("p_ts")).as("purchase_us"))
      drain(s, joined, "q47_mem", "append")
        .orderBy(col("user_id"), col("click_eid"), col("purchase_eid"))
    }),

    // Q62 — stream-static join: the streaming event feed enriched against
    // a static dimension (customer) before a keyed aggregation. The static
    // side is a bounded batch relation re-planned per micro-batch; Spark
    // broadcasts it under the join, so the stream side never shuffles for
    // the join — only the aggregation state is keyed. This is the standard
    // "enrich a firehose against a dim table" shape at 100 TB/day: the dim
    // broadcast is per-executor-constant, stream stays narrow.
    "q62_stream_static_join" -> ((s, d) => {
      val dim = graft.Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = eventsStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("event_type"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      drain(s, agg, "q62_mem", "complete")
        .orderBy(col("event_type"), col("c_mktsegment"))
    }),

    // Q79 — stream-stream LEFT OUTER interval join: the semantics inner
    // joins (q47) don't exercise is the NULL side — an unmatched click
    // is held in state and its null-joined row is emitted only when the
    // watermark proves no future purchase can match (eviction), which
    // happens in a LATER batch than the click itself. Under one
    // AvailableNow run: the data batch joins with watermark 0 (all
    // matches emit), then the trailing no-data batch advances the
    // watermark to min(max click ts, max purchase ts) − 1h (Spark's
    // default min-of-inputs multi-watermark policy) and flushes the
    // evicted-unmatched rows. The oracle replays exactly that: matched
    // pairs ∪ unmatched clicks whose match window closed strictly below
    // the final watermark; clicks in the final ~2h tail stay in state
    // and are correctly ABSENT from both engines. Sub-second event
    // times make boundary ties measure-zero (same argument as q30).
    "q79_stream_left_outer_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("click_eid"))
        .withWatermark("c_ts", "1 hour")
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_eid"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(buys,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
          "left_outer")
        .select(col("user_id"), col("click_eid"), col("purchase_eid"),
          unix_micros(col("c_ts")).as("click_us"),
          unix_micros(col("p_ts")).as("purchase_us"))
      drain(s, joined, "q79_mem", "append")
        .orderBy(col("user_id"), col("click_eid"), col("purchase_eid"))
    }),

    // q80 — stream-stream FULL OUTER interval join: q79 plus the
    // right-null path. A purchase's matchable clicks lie in
    // [p_ts − 1h, p_ts] (both bounds from the join condition), so its
    // state is evictable once the combined watermark passes p_ts; a
    // never-matched purchase is emitted null-padded at that eviction —
    // in the AvailableNow trailing flush batch, exactly like q79's
    // left-null rows. The oracle replays both eviction rules against
    // the min-of-inputs watermark.
    "q80_stream_full_outer_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("click_eid"))
        .withWatermark("c_ts", "1 hour")
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_eid"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(buys,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
          "full_outer")
        .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
          col("click_eid"), col("purchase_eid"),
          unix_micros(col("c_ts")).as("click_us"),
          unix_micros(col("p_ts")).as("purchase_us"))
      drain(s, joined, "q80_mem", "append")
        .orderBy(col("user_id"), col("click_eid"), col("purchase_eid"))
    }),

    // q124 — CONTINUOUS dedup-label maintenance: q120's incremental fold
    // run as a real Structured Streaming pipeline. The batch tenth is
    // replayed as THREE ordered micro-batch files and each micro-batch is
    // one [[Dedup.LabelsFold]] step: pairs against the corpus ∪ earlier
    // folds' batch postings, subgraph labels over the latest-wins view,
    // written as override shard ver = fold.
    //
    // Per-fold shuffle is bounded by the micro-batch + its touched
    // clusters + the accumulated delta (latestWins windows the DELTA
    // only and probes the bucketed base with broadcast override ids);
    // the corpus pays one column-pruned scan per fold (verify-side
    // shingles of candidate endpoints), never a shuffle. What a fold
    // costs is its count of SQL executions, each a fixed planning and
    // scheduling round trip at these sizes: the batch prefix checkpoint,
    // the bounded candidate-pair checkpoint (two), the pair-set collect
    // and the touched-cluster collect (the subgraph is labeled on the
    // driver, no distributed CC rounds), then the three overlapped shard
    // writes. The readout materializes latestWins once and must equal
    // the from-scratch closure over ALL documents — q120's oracle, which
    // is how the cross-fold transitive case (fold-2 doc bridging a
    // fold-1 cluster with a corpus cluster) is proven, not assumed.
    "q124_stream_incremental_labels" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d)
      val r = tenthReplay(s, "q124", docs, 3)
      r.run(new Dedup.LabelsFold(s, d, docs, r.dir))
    }),

    // q156 — CONTINUOUS tombstone maintenance: q154's deletion fold run
    // as a real Structured Streaming pipeline — the takedown FEED shape
    // (a deletion queue drained continuously, each batch folded into the
    // label store without a corpus pass). Two ordered micro-batch files
    // split the q154 tombstone set, so the final view must equal q154's
    // one-shot fold — and the from-scratch closure over the survivors
    // (the shared oracle): incremental deletion COMMUTES with batching
    // because edge removal does. One [[TombstoneFold]] step per fold.
    "q156_stream_tombstones" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d)
      val r = new Replay(s, "q156", Dedup.tombstonesOf(docs),
        expr(s"(doc_id div ${Dedup.TombMod}) % 2"), 2)
      r.run(new TombstoneFold(s, d, docs, r.dir))
    }),

    // q150 — CONTINUOUS layout maintenance: q142's delta fold as a real
    // Structured Streaming pipeline (two ordered micro-batch files,
    // maxFilesPerTrigger=1, foreachBatch). Each micro-batch lands as its
    // own z-assigned delta segment under the FROZEN corpus cuts
    // ([[graft.operators.Layout.writeStreamDelta]]); mode=overwrite keyed
    // by batch id makes redelivery structurally idempotent (byte-identical
    // rewrite of the same dir), so at-least-once delivery serves
    // exactly-once results.
    // Serving FS-lists the accumulated segments (no fold registry), and
    // the oracle is q142's from-scratch box replay over ALL events, so
    // continuous fold == batch fold == from-scratch is hash-proven.
    // Compaction of the accumulated segments rides q145 on q144's
    // trigger cadence.
    "q150_stream_zorder" -> ((s, d) => {
      import graft.operators.Layout
      Layout.zBase(s, d) // frozen cuts must exist before any fold
      val ev = graft.Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("tsc"),
          col("user_id"), col("event_type"), col("value"))
      new Replay(s, "q150", ev.filter(col("event_id") % 10 === 0),
          expr("(event_id div 10) % 2"), 2)
        .foldEach()((b, id) => Layout.writeStreamDelta(s, d, b, id))
      Layout.serveStreamed(s, d)
    }),

    // q159 — CONTINUOUS inverted-index maintenance: q157's normalized-df
    // fold as a Structured Streaming pipeline. Each micro-batch writes
    // its OWN index shard — postings, vocabulary df, one-row stats — into
    // three [[FoldStore]]s, with no transactional sink. Readout merges:
    // postings = base ∪ every shard (disjoint by the corpus split);
    // df = base df + Σ shard dfs (count monoid — the groupBy runs over
    // plain parquet dirs, which carry NO bucketing claim, so the pinned
    // bucketed-union aggregate hazard does not apply — noted because it
    // is exactly the shape that bit q157's first cut); stats likewise.
    // Serving df is EXACT after every fold — a streaming index with no
    // stale-idf window. Oracle = the full-corpus bm25Sql replay, so
    // fold-equals-rebuild is hash-proven per tier.
    "q159_stream_postings" -> ((s, d) => {
      import graft.operators.Retrieval
      val docs = graft.Tables.documents(s, d)
      val r = tenthReplay(s, "q159", docs, 2)
      // frozen base = the q157 staged corpus index (nine tenths)
      val (bPost, bDf, bStats) = Retrieval.idx157(s, d, "base",
        docs.filter(col("doc_id") % 10 =!= 0))
      val post = r.store("post", bPost.schema)
      val dfs = r.store("df", bDf.schema)
      val stats = r.store("stats", bStats.schema)
      r.foldEach() { (b, id) =>
        val (p, f, st) = Retrieval.bm25IndexOf(b)
        post.put(p, id)
        dfs.put(f, id)
        stats.put(st, id)
      }
      // shards aggregate ALONE (plain parquet dirs), then join-merge
      // with the bucketed base — never a keyed agg over a union that
      // includes a bucketed scan (the pinned hazard's shape)
      val shardDf = dfs.all.groupBy(col("term")).agg(sum(col("df")).as("df"))
      val shardStats = stats.all.groupBy(col("k"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("sum_len")).as("sum_len"))
      Retrieval.serveNormalized(s, bPost.unionByName(post.all.drop("ver")),
        Retrieval.mergeDf(bDf, shardDf, 1),
        Retrieval.mergeStats(bStats, shardStats, 1))
    }),

    // q161d — CONTINUOUS positional-index maintenance: q161c's append
    // fold as a Structured Streaming pipeline, completing the positional
    // store's verb set (insert q161c / delete q165d / continuous here).
    // Each micro-batch tokenizes ONLY its own documents and writes the
    // postings as its [[FoldStore]] shard. Positional postings are
    // per-doc facts — no df, no stats — so readout is a plain union of
    // base ∪ shards and fold-equals-rebuild is exact by construction:
    // the oracle is the full-corpus q161 replay, hash-proven per tier.
    "q161d_stream_pos_postings" -> ((s, d) => {
      import graft.operators.Retrieval
      val docs = graft.Tables.documents(s, d)
      val r = tenthReplay(s, "q161d", docs, 2)
      // frozen base = the same physical store q161c/q165d maintain
      val base = Retrieval.posIdx(s, d, "base",
        docs.filter(col("doc_id") % 10 =!= 0))
      val post = r.store("pos", base.schema)
      r.foldEach()((b, id) => post.put(Retrieval.posPostingsOf(b), id))
      Retrieval.phraseMatchOver(s, base.unionByName(post.all.drop("ver")))
    }),

    // q136 — CONTINUOUS span-strip maintenance: q135's fold as a real
    // Structured Streaming pipeline (three ordered micro-batch files,
    // maxFilesPerTrigger=1, foreachBatch — the q124 replay pattern), one
    // [[SpanStripFold]] step per micro-batch. A fold-3 doc pairs with
    // fold-1 docs through the stored window rows, and a later fold's
    // smaller-id doc demotes an EARLIER fold's keeper (the recomputed
    // override row with a newer `ver` wins at readout). The oracle is
    // the from-scratch q133 over ALL documents: cross-fold pairing,
    // keeper migration, and the override chain are hash-proven per tier.
    "q136_stream_incremental_span_strip" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d)
      val r = tenthReplay(s, "q136", docs, 3)
      r.run(new SpanStripFold(s, d, docs, r.dir))
    }),

    // q128 — CONTINUOUS scorecard maintenance: q127's monoid+corrections
    // fold riding q124's micro-batch replay — the per-source curation
    // dashboard kept live as the corpus ingests. Each micro-batch is one
    // [[graft.operators.Pipeline.ScorecardFold]] step: q124's labels
    // step, then the batch aggregate and the label corrections merged
    // into the previous fold's scorecard, so a later fold can demote a
    // doc that arrived in an EARLIER fold (the cross-fold demotion spec
    // pins exactly this). The readout takes each source's newest row;
    // the oracle is from-scratch q119 over ALL documents, so the whole
    // fold chain — cross-fold merges, corrections, monoid adds — is
    // hash-proven per tier.
    "q128_stream_incremental_scorecard" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d)
      val r = tenthReplay(s, "q128", docs, 3)
      r.run(new graft.operators.Pipeline.ScorecardFold(s, d, docs, r.dir))
    }),

    // Q30 — watermark / late data: 2-batch ordered replay, append mode.
    // Batch 1 is the events before [[QThirty.splitNanos]], batch 2 the
    // rest including now-late rows, under a 1-hour watermark. Late rows
    // whose window closed before watermark₁ are dropped, and windows past
    // the final watermark never emit — both deterministic functions of
    // the data, which the DuckDB oracle reproduces in SQL.
    "q30_stream_late" -> ((s, d) => {
      // Normalize ts FIRST (layout-adaptive), split on the micros instant,
      // and re-write the two batches with Spark — so the staged files are
      // always in Spark's own timestamp layout regardless of how the
      // driver generated the source table.
      val ev = graft.Tables.events(s, d)
      val split = timestamp_micros(lit(QThirty.splitNanos / 1000L))
      val stream = new Replay(s, "q30", ev,
        when(col("ts") < split, lit(0)).otherwise(lit(1)), 2).stream()
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      drain(s, agg, "q30_mem", "append")
        .select(tstr(col("window.start")).as("w_start"), col("event_type"),
          col("n"))
        .orderBy(col("w_start"), col("event_type"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    // q116: batch/stream parity — the oracle is exactly q115's batch
    // manifest SQL; a hash match proves the incremental state equals the
    // cold scan.
    "q116_stream_manifest" ->
      graft.operators.TextOps.oracleSql("q115_manifest"),
    // q143: the three-micro-batch register fold must land on exactly the
    // from-scratch register table over ALL documents — q139's oracle —
    // so the state-store max-monoid fold is hash-proven per tier.
    "q143_stream_registers" ->
      graft.operators.Sketches.oracleSql("q139_incremental_distinct"),
    // q150: the continuous layout fold must serve exactly q142's
    // from-scratch box replay over ALL raw events
    "q150_stream_zorder" ->
      graft.operators.Layout.oracleSql("q142_zorder_incremental"),
    // q124: the three-fold streaming maintenance must land on exactly
    // the from-scratch closure over ALL documents — q120's oracle — so
    // cross-fold pairing and override chains are hash-proven per tier.
    "q124_stream_incremental_labels" ->
      graft.operators.Dedup.oracleSql("q120_incremental_labels"),
    // q156: the continuously-drained takedown feed must land on exactly
    // the from-scratch closure over the SURVIVORS — q154's oracle — so
    // the cascade (fold 2 deleting fold 1's re-elected rep) and the
    // drop-row chain are hash-proven per tier.
    "q156_stream_tombstones" ->
      graft.operators.Dedup.oracleSql("q154_tombstone_labels"),
    // q159: the continuously-folded index must serve exactly the
    // full-corpus BM25 replay — per-shard df/stats monoid adds and the
    // batch-keyed overwrite redelivery are hash-proven per tier.
    "q159_stream_postings" ->
      graft.operators.Retrieval.oracleSql("q157_bm25_incremental"),
    // q161d: base ∪ streamed shards serves exactly the full-corpus
    // positional index — per-doc facts, so the only thing the fold can
    // get wrong is coverage, which the hash proves per tier.
    "q161d_stream_pos_postings" ->
      graft.operators.Retrieval.oracleSql("q161_phrase_match"),
    // q128: the continuously-maintained dashboard must land on exactly
    // the from-scratch q119 scorecard over ALL documents — cross-fold
    // corrections and monoid adds hash-proven per tier.
    "q128_stream_incremental_scorecard" ->
      graft.operators.Pipeline.oracleSql("q119_source_scorecard"),
    // q136: the continuously-folded span store must serve exactly the
    // from-scratch q133 strip over ALL documents — cross-fold pairing,
    // keeper migration, and the override chain hash-proven per tier.
    "q136_stream_incremental_span_strip" ->
      graft.operators.Dedup.sqlSpanStripOracle,
    // q108: the q103 trained-assignment CTEs, then the new-tenth ×
    // corpus-nine-tenths cell join + cosine verify. The oracle keys BOTH
    // sides on the a3 assignment; a hash match therefore also proves the
    // stream's ONLINE centroid argmin equals the stored assignment for
    // every streamed vector.
    "q108_stream_semantic_dedup" ->
      s"""WITH ${graft.operators.Similarity.trainedAssignCtes},
         | e AS (SELECT em.vec_id, em.embedding, a3.cid AS cell
         |       FROM embeddings em JOIN a3 ON a3.vec_id = em.vec_id),
         | n AS (SELECT * FROM e WHERE vec_id % 10 = 0),
         | c AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
         | p AS (SELECT n.vec_id AS new_vec, n.cell, c.vec_id AS corpus_vec,
         |    ROUND(list_sum(list_transform(list_zip(n.embedding, c.embedding),
         |            q -> q[1]::DOUBLE * q[2]::DOUBLE))
         |      / (sqrt(list_sum(list_transform(n.embedding, v -> v::DOUBLE * v::DOUBLE)))
         |         * sqrt(list_sum(list_transform(c.embedding, v -> v::DOUBLE * v::DOUBLE)))),
         |      4) AS cos
         |   FROM n JOIN c ON n.cell = c.cell)
         |SELECT new_vec, cell, corpus_vec, cos FROM p
         |WHERE cos >= ${graft.operators.Similarity.CosT}
         |ORDER BY new_vec, corpus_vec""".stripMargin,

    "q27_stream_tumbling" ->
      s"""SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
         |    AS w_start, event_type, COUNT(*) AS n,
         |  ${sqlDsum("value")} AS sum_value
         |FROM (SELECT make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type,
         |        value FROM events)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q28_stream_sliding" ->
      """WITH e AS (SELECT make_timestamp(epoch_ns(ts) // 1000) AS ts, value
        |           FROM events),
        |  w AS (SELECT unnest([time_bucket(INTERVAL 30 MINUTES, ts),
        |                       time_bucket(INTERVAL 30 MINUTES, ts)
        |                         - INTERVAL 30 MINUTES]) AS w_start, value
        |        FROM e),
        |  a AS (SELECT w_start, COUNT(*) AS n,
        |          CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10)) * 1000000), 0)
        |               AS BIGINT) AS su
        |        FROM w GROUP BY 1)
        |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start, n,
        |  ((2 * su + n * 100) // (2 * n * 100)) / 10000.0 AS avg_value
        |FROM a ORDER BY w_start""".stripMargin,

    // Session merge rule mirrors Spark's exclusive gap boundary: a new
    // session starts when the gap is >= 30 min (q23 batch uses >).
    "q29_stream_session" ->
      s"""WITH e AS (SELECT user_id, event_id, value,
         |             epoch_ns(ts) // 1000 AS us FROM events),
         |  g AS (SELECT *, CASE WHEN us - LAG(us) OVER w >= 1800000000
         |                       THEN 1 ELSE 0 END AS gap
         |        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |  ss AS (SELECT *, SUM(gap) OVER (PARTITION BY user_id
         |           ORDER BY us, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |         FROM g)
         |SELECT user_id, MIN(us) AS start_us,
         |  MAX(us) + 1800000000 AS end_us,
         |  COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
         |FROM ss GROUP BY user_id, sid
         |ORDER BY user_id, start_us""".stripMargin,

    "q46_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q47_stream_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events)
        |SELECT c.user_id, c.event_id AS click_eid,
        |  p.event_id AS purchase_eid,
        |  epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        |FROM e c JOIN e p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |ORDER BY c.user_id, click_eid, purchase_eid""".stripMargin,

    "q79_stream_left_outer_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events),
        |  c AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'click'),
        |  p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'),
        |  wm AS (SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
        |                  - INTERVAL 1 HOUR AS w),
        |  m AS (SELECT c.user_id, c.event_id AS click_eid,
        |          p.event_id AS purchase_eid,
        |          epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        |        FROM c JOIN p ON c.user_id = p.user_id
        |          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
        |  u AS (SELECT c.user_id, c.event_id AS click_eid,
        |          NULL::BIGINT AS purchase_eid,
        |          epoch_us(c.ts) AS click_us, NULL::BIGINT AS purchase_us
        |        FROM c, wm
        |        WHERE c.ts + INTERVAL 1 HOUR < wm.w
        |          AND NOT EXISTS (SELECT 1 FROM p
        |                WHERE p.user_id = c.user_id
        |                  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR))
        |SELECT * FROM m UNION ALL SELECT * FROM u
        |ORDER BY user_id, click_eid, purchase_eid""".stripMargin,

    "q80_stream_full_outer_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events),
        |  c AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'click'),
        |  p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'),
        |  wm AS (SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
        |                  - INTERVAL 1 HOUR AS w),
        |  m AS (SELECT c.user_id, c.event_id AS click_eid,
        |          p.event_id AS purchase_eid,
        |          epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        |        FROM c JOIN p ON c.user_id = p.user_id
        |          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
        |  u AS (SELECT c.user_id, c.event_id AS click_eid,
        |          NULL::BIGINT AS purchase_eid,
        |          epoch_us(c.ts) AS click_us, NULL::BIGINT AS purchase_us
        |        FROM c, wm
        |        WHERE c.ts + INTERVAL 1 HOUR < wm.w
        |          AND NOT EXISTS (SELECT 1 FROM p
        |                WHERE p.user_id = c.user_id
        |                  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)),
        |  u2 AS (SELECT p.user_id, NULL::BIGINT AS click_eid,
        |          p.event_id AS purchase_eid,
        |          NULL::BIGINT AS click_us, epoch_us(p.ts) AS purchase_us
        |        FROM p, wm
        |        WHERE p.ts < wm.w
        |          AND NOT EXISTS (SELECT 1 FROM c
        |                WHERE c.user_id = p.user_id
        |                  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR))
        |SELECT * FROM m UNION ALL SELECT * FROM u UNION ALL SELECT * FROM u2
        |ORDER BY user_id, click_eid, purchase_eid""".stripMargin,

    "q62_stream_static_join" ->
      s"""SELECT event_type, c_mktsegment, COUNT(*) AS n,
         |  ${sqlDsum("value")} AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY event_type, c_mktsegment
         |ORDER BY event_type, c_mktsegment""".stripMargin,

    "q30_stream_late" -> QThirty.oracle
  )
}

/** Q30 constants + oracle, shared between the query and its SQL twin. */
object QThirty {
  /** Batch split point: 2024-01-20 00:00:00 UTC in epoch NANOS. The Spark
    * side compares at micros (`splitNanos / 1000` — exact, the instant is
    * a whole second); the DuckDB oracle compares `epoch_ns(ts)` directly,
    * which works for any timestamp layout the driver ships.
    */
  val splitNanos: Long = 1705708800000000000L

  /** DuckDB replay of the two-batch watermark semantics:
    * wm1 = max(ts | batch1) - 1h; batch-2 rows with window_end <= wm1 are
    * dropped; wm2 = max(ts) - 1h; emitted windows are those with
    * window_end <= wm2. Hour windows never tie with wm (data has
    * sub-second components), so boundary strictness cannot bite.
    */
  val oracle: String =
    s"""WITH e AS (SELECT make_timestamp(epoch_ns(ts) // 1000) AS ts,
       |             event_type, epoch_ns(ts) AS ns FROM events),
       |  wm AS (SELECT
       |    (SELECT max(ts) - INTERVAL 1 HOUR FROM e WHERE ns < ${splitNanos}) AS w1,
       |    (SELECT max(ts) - INTERVAL 1 HOUR FROM e) AS w2),
       |  kept AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
       |             event_type FROM e, wm
       |           WHERE ns < ${splitNanos}
       |              OR time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR > wm.w1)
       |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
       |  event_type, COUNT(*) AS n
       |FROM kept, wm
       |WHERE w_start + INTERVAL 1 HOUR <= wm.w2
       |GROUP BY w_start, event_type
       |ORDER BY w_start, event_type""".stripMargin
}
