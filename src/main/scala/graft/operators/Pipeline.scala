package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Log-analytics / LLM-data-pipeline inventory Q22–Q26 (SURVEY.md §2.3).
  *
  * Design notes for the 100-TB posture:
  *  - Q23 sessionization is a single window pass (one shuffle on user_id) —
  *    the batch analog of `session_window`; no self-joins.
  *  - Q24 dedup is a hash aggregation on the normalized key — map-side
  *    partial aggregation combines duplicates before the shuffle, so the
  *    shuffle volume is one row per *distinct* key per mapper, never an
  *    all-pairs comparison.
  *  - Q25 is a single narrow pass: per-row sequential fold over the
  *    embedding array (deterministic summation order) + global top-k via
  *    TakeOrderedAndProject. No shuffle except the final k rows.
  */
object Pipeline {
  import Q._

  /** Deterministic 64-dim query vector for Q25. Interpolated as exact
    * decimal literals into BOTH the Spark plan and the DuckDB oracle, so
    * the two engines consume bit-identical constants.
    */
  val queryVec: Seq[Double] = (1 to 64).map(i => math.sin(i.toDouble))
  val queryVecNorm: Double = math.sqrt(queryVec.map(x => x * x).sum)

  private val GapUs = 1800000000L // 30 min session gap, microseconds

  /** q113 chunking geometry: training-sequence length and stride (overlap
    * = ChunkLen - ChunkStride tokens). Chunk i of an n-token doc covers
    * tokens [i·stride, min(i·stride + len, n)); a chunk past the first
    * exists iff it contributes tokens the previous chunk did not
    * (i·stride + len - stride < n), so the chunk count is
    * 1 + max(0, floor((n - (len - stride + 1)) / stride)) — integer
    * arithmetic both engines evaluate identically (floor division).
    */
  private[graft] val ChunkLen = 64
  private[graft] val ChunkStride = 48

  /** Q70/q70b shared body — per-column row/null/distinct counts and
    * min/max over `orders`, the observability primitive every pipeline
    * runs before training. ONE pass computes all 5 columns' stats as a
    * single wide aggregate row (25 agg expressions — partial+final,
    * map-side combined), then a stack() unpivot reshapes it to one row
    * per column; no per-column rescan. Values are rendered through
    * exactly-portable types (longs, strings, dates; price in cents).
    * `nd` is the distinct-count aggregate: exact countDistinct for q70,
    * approx_count_distinct for q70b.
    */
  private def profile(s: SparkSession, d: String,
      nd: Column => Column): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("string").as("c_o_orderkey"),
        col("o_custkey").cast("string").as("c_o_custkey"),
        col("o_orderstatus").as("c_o_orderstatus"),
        // round() before the long cast: Spark's double->long cast
        // truncates while DuckDB's rounds — rounding first makes the
        // cents value identical in both engines
        round(col("o_totalprice") * 100, 0).cast("long").cast("string")
          .as("c_o_totalprice_cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("c_o_orderdate"))
    val cols = o.columns.toSeq
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"${c}__n"),
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        nd(col(c)).as(s"${c}__nd"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"))
    }
    val stackArgs = cols.map { c =>
      s"'${c.stripPrefix("c_")}', ${c}__n, ${c}__nulls, ${c}__nd, ${c}__min, ${c}__max"
    }.mkString(", ")
    o.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n, n_nulls, n_distinct, min_s, max_s)")
      .orderBy(col("col_name"))
  }

  /** (source, doc_id, tokens) of every document — the q78/q93 packing
    * input. NULL text = 0 tokens, guarded in BOTH engines: Spark's
    * size(split(NULL)) is -1 (legacy sizeOfNull), which would silently
    * shift every later cumsum in the source, while DuckDB's
    * len(string_split(NULL)) is NULL.
    */
  /** The q93 gate chain as per-doc FLAGS over one corpus pass — the
    * single source of truth shared by the build (q93, which filters all
    * three flags) and its funnel dashboard (q118, which aggregates
    * conditionally per stage), so the two cannot drift: (source, doc_id,
    * tokens, is_quality, is_canonical [cumulative: quality AND cluster
    * rep-or-unclustered], is_train [cumulative: + split hash < 80 on the
    * cluster-keyed q87 split key]).
    */
  private[graft] def curationFlags(s: SparkSession, d: String): DataFrame =
    flagsOf(docTokens(s, d),
      TextOps.q84Verdicts(s, d),
      Dedup.labelsArtifact(s, d).select(col("doc_id"), col("rep")))

  /** The gate-flag frame from its three ingredients — (source, doc_id,
    * tokens) rows, q84-shaped verdicts (doc_id, …, keep), and a labels
    * frame (doc_id, rep). Factored out of [[curationFlags]] so q127's
    * incremental path scores an arriving BATCH through the byte-identical
    * gate chain (with the batch's incremental labels) — the two cannot
    * drift.
    */
  private def flagsOf(toks: DataFrame, verdicts: DataFrame,
      labels: DataFrame): DataFrame = {
    import graft.operators.Shared.hash60
    val vq = verdicts.filter(col("keep") === 1)
      .select(col("doc_id"), lit(1L).as("vq"))
    toks
      .join(vq, Seq("doc_id"), "left")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("is_quality", col("vq").isNotNull)
      .withColumn("is_canonical",
        col("is_quality") && (col("rep").isNull || col("rep") === col("doc_id")))
      .withColumn("is_train",
        col("is_canonical") &&
          pmod(hash60(coalesce(col("rep"), col("doc_id")).cast("string")),
            lit(100)) < 80)
      .select(col("source"), col("doc_id"), col("tokens"),
        col("is_quality"), col("is_canonical"), col("is_train"))
  }

  private def docTokens(s: SparkSession, d: String): DataFrame =
    docTokensOf(Tables.documents(s, d))

  private def docTokensOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("doc_id"),
        when(col("text").isNull, lit(0L))
          .otherwise(size(split(col("text"), " ")).cast("long"))
          .as("tokens"))

  /** q119's measure block over a gate-flag frame — shared by the
    * from-scratch scorecard and q127's base/batch partial aggregates, so
    * the maintained dashboard aggregates the same measures by construction.
    */
  private def scorecardAgg(flags: DataFrame): DataFrame =
    flags.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("n_tokens"),
        count(when(col("is_quality"), 1)).as("n_quality"),
        count(when(col("is_canonical"), 1)).as("n_canonical"),
        count(when(col("is_train"), 1)).as("n_train"),
        coalesce(sum(when(col("is_train"), col("tokens"))), lit(0L))
          .as("train_tokens"))

  // ---- q127: INCREMENTAL scorecard maintenance ---------------------------
  //
  // q119 recomputes the per-source dashboard with a full corpus pass; a
  // corpus that ingests daily wants the dashboard kept CURRENT for the
  // cost of the batch. The decomposition rides on which gate inputs can
  // change when a batch arrives:
  //
  //  - tokens and the q84 quality verdict are pure per-doc functions —
  //    frozen corpus docs never change them, so n_docs / n_tokens /
  //    n_quality are plain monoids: base + batch;
  //  - is_canonical / is_train depend on the dedup labels, which q120's
  //    fold changes ONLY inside the touched clusters (the incremental-CC
  //    subgraph). Every corpus doc whose rep can have changed appears in
  //    that subgraph's output, so the label-dependent measures are
  //    base + batch + Σ(new − old) over exactly those docs — a bounded
  //    CORRECTION, not a rescan (the demoted-former-rep case the planted
  //    spec exercises).
  //
  // Frozen state: the corpus scorecard (|sources| rows) and a per-doc
  // (tokens, quality) flag table bucketed by doc_id — corrections probe it
  // with the delta-bounded subgraph id set, never shuffling the corpus.
  // keep_rate is NOT a monoid and is recomputed from the merged counts
  // (exact — it is a pure function of n_train/n_docs). The oracle is
  // from-scratch q119 over corpus+batch: maintenance must be invisible.

  /** Spec counters: corpus-pass artifact builds (each must happen once). */
  private[graft] val q127BaseWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val q127FlagWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Per-doc PURE gate inputs of the frozen corpus — (doc_id, source,
    * tokens, isq) — bucketed by doc_id so the correction join co-locates
    * with the (equally doc_id-bucketed) labels artifacts.
    */
  private[graft] def q127DocflagsArtifact(s: SparkSession,
      d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "q127_corpus_docflags",
      s"$d/documents.parquet",
      {
        q127FlagWrites.incrementAndGet()
        docflagsOf(Dedup.q120Corpus(s, d))
      }, 8, Seq("doc_id"))

  /** Per-doc PURE gate inputs of an arbitrary doc frame — q128's
    * continuous fold appends these rows per micro-batch so LATER folds
    * can correct earlier folds' docs when a merge demotes them.
    */
  private[graft] def docflagsOf(docs: DataFrame): DataFrame =
    docTokensOf(docs)
      .join(TextOps.q84VerdictsOf(docs)
        .select(col("doc_id"), col("keep").as("isq")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("tokens"),
        coalesce(col("isq"), lit(0L)).as("isq"))

  /** The frozen corpus scorecard — q119's aggregate over the corpus nine
    * tenths under the corpus-only labels (q120's frozen base).
    */
  private[graft] def q127BaseArtifact(s: SparkSession, d: String): DataFrame = {
    val docflags = q127DocflagsArtifact(s, d)
    val labels = Dedup.q120LabelsArtifact(s, d)
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "q127_base_scorecard",
      s"$d/documents.parquet",
      {
        q127BaseWrites.incrementAndGet()
        scorecardAgg(flagsOf(
          docflags.select(col("source"), col("doc_id"), col("tokens")),
          docflags.select(col("doc_id"), col("isq").as("keep")),
          labels.select(col("doc_id"), col("rep"))))
      }, 1, Seq("source"))
  }

  /** The label-dependent corrections: for every CORPUS doc in the
    * incremental-CC subgraph, Σ(new − old) of the canonical/train
    * measures under (new labels = the subgraph output, old labels = the
    * frozen base). Docs outside the subgraph cannot have changed rep —
    * their contribution is identically zero and is never touched.
    */
  private[graft] def q127Corrections(sub: DataFrame,
      docflags: DataFrame, oldLabels: DataFrame): DataFrame = {
    import graft.operators.Shared.hash60
    def trainBit(c: Column, key: Column): Column =
      c && pmod(hash60(key.cast("string")), lit(100)) < 80
    val b = (c: Column) => c.cast("long")
    docflags
      .join(sub.select(col("doc_id"), col("rep").as("new_rep")),
        Seq("doc_id"))
      .join(oldLabels.select(col("doc_id"), col("rep").as("old_rep")),
        Seq("doc_id"), "left")
      .withColumn("q", col("isq") === 1)
      .withColumn("old_c", col("q") &&
        (col("old_rep").isNull || col("old_rep") === col("doc_id")))
      .withColumn("new_c", col("q") && col("new_rep") === col("doc_id"))
      .withColumn("old_t",
        trainBit(col("old_c"), coalesce(col("old_rep"), col("doc_id"))))
      .withColumn("new_t", trainBit(col("new_c"), col("new_rep")))
      .groupBy(col("source"))
      .agg(sum(b(col("new_c")) - b(col("old_c"))).as("d_canonical"),
        sum(b(col("new_t")) - b(col("old_t"))).as("d_train"),
        sum(col("tokens") * (b(col("new_t")) - b(col("old_t"))))
          .as("d_train_tokens"))
  }

  /** The maintained scorecard: base ⊞ batch ⊞ corrections, per source.
    * Full-outer merges with identity fill — a brand-new source enters via
    * the batch side, a base-only source carries verbatim.
    */
  private[graft] def q127Merged(s: SparkSession, d: String): DataFrame = {
    val batch = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
    val pairs = Dedup.batchPairs(Dedup.q120Corpus(s, d), batch,
      Dedup.q120DfArtifact(s, d), Dedup.q120PrefixArtifact(s, d))
    val oldLabels = Dedup.q120LabelsArtifact(s, d)
    val (sub, _) = Dedup.incrementalSubLabels(oldLabels, pairs)
    q127MergeOf(q127BaseArtifact(s, d),
      q127BatchAgg(batch, sub),
      q127Corrections(sub, q127DocflagsArtifact(s, d), oldLabels))
  }

  /** The batch's own scorecard contribution — its docs through the shared
    * gate chain under the fold's labels (in-subgraph docs get their merged
    * rep, the rest enter unclustered).
    */
  private[graft] def q127BatchAgg(batch: DataFrame, sub: DataFrame): DataFrame =
    scorecardAgg(flagsOf(
      docTokensOf(batch),
      TextOps.q84VerdictsOf(batch),
      sub.select(col("doc_id"), col("rep"))))

  /** base ⊞ batch ⊞ corrections — full-outer merges with identity fill.
    * `base` must carry [[scorecardAgg]]'s (source + 6 measures) schema;
    * the result carries it too, so folds CHAIN (q128 feeds fold k's merged
    * scorecard back in as fold k+1's base).
    */
  private[graft] def q127MergeOf(base: DataFrame, batchAgg: DataFrame,
      corr: DataFrame): DataFrame = {
    val z = (n: String) => coalesce(col(n), lit(0L))
    val measures = Seq("n_docs", "n_tokens", "n_quality", "n_canonical",
      "n_train", "train_tokens")
    val bb = measures.foldLeft(batchAgg) { (df, m) =>
      df.withColumnRenamed(m, s"b_$m")
    }
    Shared.fullOuterOnNullable(
        Shared.fullOuterOnNullable(base, bb, "source"), corr, "source")
      .select(col("source") +: measures.map {
        case "n_canonical" =>
          (z("n_canonical") + z("b_n_canonical") + z("d_canonical"))
            .as("n_canonical")
        case "n_train" =>
          (z("n_train") + z("b_n_train") + z("d_train")).as("n_train")
        case "train_tokens" =>
          (z("train_tokens") + z("b_train_tokens") + z("d_train_tokens"))
            .as("train_tokens")
        case m => (z(m) + z(s"b_$m")).as(m)
      }: _*)
  }

  /** q128's scorecard fold over [[FoldStore]]s under `dir` — the one fold
    * arc behind the q128 stream and [[scVerChain]]'s batch loop. Each step
    * runs the [[Dedup.LabelsFold]] step, merges its batch aggregate and
    * label corrections (against corpus flags ∪ earlier folds' batch flag
    * rows and the pre-fold labels view) into the previous fold's
    * scorecard, written as shard ver = fold + 1 (ver 0 is the frozen
    * corpus scorecard) — so a later fold can demote a doc that arrived in
    * an EARLIER fold — and writes the batch's flag rows as shard ver =
    * fold.
    */
  private[graft] final class ScorecardFold(s: SparkSession, d: String,
      docs: DataFrame, dir: java.nio.file.Path) extends Fold {
    private val labels = new Dedup.LabelsFold(s, d, docs, dir)
    private val corpusFlags = q127DocflagsArtifact(s, d)
    private val scBase = q127BaseArtifact(s, d)
    private val flags =
      new FoldStore(s, dir.resolve("flags_delta"), corpusFlags.schema)
    private val sc = new FoldStore(s, dir.resolve("scorecard"), scBase.schema)

    override def seeds: Seq[() => Unit] = Seq(() => sc.put(scBase, 0))

    /** The scorecard ver chain, ver 0 included. */
    def chain: DataFrame = sc.all

    /** The batch flag rows of every fold. */
    def flagRows: DataFrame = flags.all

    /** Each source's newest row of `chain`. */
    private def newest(chain: DataFrame): DataFrame =
      chain.withColumn("_rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("ver").desc)))
        .filter(col("_rn") === 1).drop("_rn", "ver")

    def step(b: DataFrame, ver: Long): Seq[() => Unit] = {
      val l = labels.labelsStep(b, ver)
      val allFlags = corpusFlags.unionByName(
        flags.before(ver).drop("ver").dropDuplicates("doc_id"))
      (() => sc.put(q127MergeOf(newest(sc.before(ver + 1)),
          q127BatchAgg(b, l.sub),
          q127Corrections(l.sub, allFlags, l.current)), ver + 1)) +:
        l.writes :+ (() => flags.put(docflagsOf(b), ver))
    }

    def readout: DataFrame = newest(chain)
      .withColumn("keep_rate", round(col("n_train") / col("n_docs"), 4))
      .orderBy(col("source"))
  }

  /** q128's fold arc replayed in batch form: the tenth splits into
    * `folds` ordered sub-batches, each folded by [[ScorecardFold]].
    * Returns (scorecard ver chain incl. ver 0 = frozen base, flag rows
    * of every fold). ONE derivation shared by q128b's compaction and
    * q171's retention vacuum, so the fold arc cannot drift between the
    * two closers (the verChainFolds rule).
    */
  private[graft] def scVerChain(s: SparkSession, d: String, folds: Int)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val sc = new ScorecardFold(s, d, docs,
      graft.streaming.StreamingQueries.tempDir(s, "graft_scchain"))
    Shared.inParallel(sc.seeds)
    for (k <- 0 until folds)
      Shared.inParallel(sc.step(docs.filter(col("doc_id") % 10 === 0)
        .filter(expr(s"(doc_id div 10) % $folds") === k), k.toLong))
    (sc.chain, sc.flagRows)
  }

  /** Spec counter: the shared batch scorecard chain DERIVES once. */
  private[graft] val scChainWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The [[scVerChain]] outputs STAGED write-once (round-14): the
    * 3-fold derivation is ~25 s of fold machinery at bench sf, and both
    * closers (q128b's compaction, q171's vacuum) consumed it per-call —
    * which made their timed cost depend on which row ran first in a
    * session (the round-13 verdict's "state-coupled cost" finding:
    * q171 recorded 0.2 s warm, measured 36.8 s cold). Staging the
    * chain as two write-once tables makes every consumer read the SAME
    * landed fold arc (the no-drift rule, now physical) and prices the
    * derivation as ingest — Bench pre-builds it as an `artifact:` row.
    * The `lazy val` shares ONE derivation across both tables when
    * neither exists; when both exist the thunks never run.
    */
  private[graft] def scChainStaged(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val db = Bucketed.dbFor(d)
    val src = s"$d/documents.parquet"
    lazy val chain = {
      scChainWrites.incrementAndGet()
      scVerChain(s, d, folds = 3)
    }
    val sc = Bucketed.writeOnceBucketed(s, db, "q128_sc_chain", src,
      chain._1.filter(col("ver") > 0), 1, Seq("source"))
    val flags = Bucketed.writeOnceBucketed(s, db, "q128_flags_chain", src,
      chain._2, 8, Seq("doc_id"))
    (sc, flags)
  }

  // ---- q171: RETENTION VACUUM over the scorecard ver chain -----------------
  //
  // The third versioned store (labels q167, spans q170): the
  // versioned scorecard chain q128 grows gets the retention verb — fold
  // vers ≤ horizon into the base (latest-wins per source as-of-horizon),
  // retain the suffix, record the as-of floor durably, fail loudly on
  // snapshot reads below it. q128b's compaction remains the
  // truncate-everything closer; q171 is the bounded-history variant a
  // dashboard with a lookback window actually runs.

  /** The q171 retention horizon: scorecard vers ≤ 2 fold away (the
    * three-fold chain keeps ver 3 as its retention suffix).
    */
  private[graft] val Q171Horizon = 2L

  /** Spec counter: how many times the q171 delta chain was STAGED. */
  private[graft] val q171DeltaWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** q171's own copy of the frozen scorecard base (the vacuum rewrites
    * it; q127's stays pristine — the q126 namespacing rule).
    */
  private[graft] def q171BaseArtifact(s: SparkSession, d: String): DataFrame =
    q171.store.stageBase(s, Bucketed.dbFor(d), s"$d/documents.parquet")(
      q127BaseArtifact(s, d))

  /** The staged scorecard override chain (vers 1..3), write-once. */
  private[graft] def q171DeltaArtifact(s: SparkSession, d: String): DataFrame =
    q171.store.stageDelta(s, Bucketed.dbFor(d), s"$d/documents.parquet") {
      q171DeltaWrites.incrementAndGet()
      scChainStaged(s, d)._1
    }

  /** The versioned scorecard store, merged latest-wins per source — a
    * join-shaped merge (never a window above a union that includes a
    * bucketed scan: the pinned Spark 4.1 hazard q128b's compact body
    * documents).
    */
  private[graft] val q171 = Bucketed.Family(
    Bucketed.Store("q171_sc_base", "q171_sc_delta", "q171_vacuum_pending",
      1, Seq("source"), meta = Some("q171_meta")),
    q171BaseArtifact, q171DeltaArtifact, Dedup.latestWins(_, _, "source"))

  /** Greedy sequence packing of (source, doc_id, tokens) rows into
    * 2048-token context windows by doc_id order — the q78 body, shared
    * with the composed corpus build (q93). The per-source running sum is
    * a DISTRIBUTED prefix sum (per-bucket local cumsum + bucket-offset
    * broadcast join), so no source ever funnels through one sort task:
    * the bare-`source` window only ever sees the tiny per-bucket totals.
    * Unordered; callers sort.
    */
  private def packBySource(docs0: DataFrame): DataFrame = {
    val cap = lit(2048L)
    val docs = docs0
      .withColumn("bucket", call_function("div", col("doc_id"), lit(4096L)))
    val wLocal = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = docs.withColumn("lcum", sum(col("tokens")).over(wLocal))
    val wBuckets = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("source"), col("bucket"))
      .agg(sum(col("tokens")).as("btotal"))
      .withColumn("offset",
        coalesce(sum(col("btotal")).over(wBuckets), lit(0L)))
      .select(col("source"), col("bucket"), col("offset"))
    local.join(offsets, Seq("source", "bucket"))
      .withColumn("cum", col("lcum") + col("offset"))
      .withColumn("pack_id",
        call_function("div", col("cum") - col("tokens"), cap))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  /** Filter `big` (key column `k`) to the rows that MIGHT be in `small`'s
    * key set: one counting pass + one `stat.bloomFilter` pass over the
    * small side (public sketch API, `putLong` insertion), then a compiled
    * `bloom_might_contain` probe in `big`'s scan stage. Shared by q75b
    * and its pruning-effectiveness spec.
    */
  private[graft] def bloomPruned(big: DataFrame, small: DataFrame): DataFrame = {
    val bf = small.stat.bloomFilter("k",
      math.max(small.count(), 64L), 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    big.filter(
      call_function("bloom_might_contain", lit(bos.toByteArray), col("k")))
  }

  /** q128b's two compaction closers: the per-doc flag store and the
    * versioned scorecard chain.
    */
  private val q128bFlags = Bucketed.Store.of("q128b_flags", 8, Seq("doc_id"))
  private val q128bSc = Bucketed.Store.of("q128b_sc", 1, Seq("source"))

  // ---- bench artifact staging (round-13 verdict #1; see Dedup's section) --

  /** Stage the q127 frozen scorecard stores (docflags + base). */
  private[graft] def q127Staged(s: SparkSession, d: String): Unit = {
    q127DocflagsArtifact(s, d); q127BaseArtifact(s, d); ()
  }

  /** Stage the q171 scorecard chain and run the vacuum to steady state. */
  private[graft] def q171Staged(s: SparkSession, d: String): Unit =
    q171.settle(s, d, Some(Q171Horizon))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q22 — semi-structured access: JSON path, map element, array element.
    // Repartition first: the single-file local scan would otherwise run
    // every Jackson parse on one core (at cluster scale the scan has
    // thousands of splits and the exchange is noise next to the parse).
    "q22_json" -> ((s, d) => {
      Tables.events(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("event_id"))
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          element_at(map(lit("t"), col("event_type")), "t").as("mval"),
          element_at(split(col("props"), ":"), 1).as("first_frag"),
          size(split(col("props"), ":")).cast("long").as("n_frags"))
        .orderBy(col("event_id"))
    }),

    // Q23 — sessionization: lag → gap flag → running sum = session id, then
    // per-session aggregation. One shuffle (partition by user_id).
    "q23_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap",
          when(col("us") - lag(col("us"), 1).over(w) > GapUs, 1L)
            .otherwise(lit(0L)))
        .withColumn("session_id", sum(col("gap")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Q24 — exact dedup on normalized text. Hash-aggregate, not all-pairs:
    // partial aggregation collapses duplicates map-side before the shuffle.
    "q24_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(lower(trim(col("text"))).as("norm"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"), length(col("norm")).cast("long").as("norm_len"))
        .orderBy(col("doc_id"))
    }),

    // Q25 — cosine similarity top-k against a literal query vector.
    // aggregate() is a sequential left fold → deterministic summation
    // order; top-k lowers to TakeOrderedAndProject (no global sort).
    "q25_similarity_topk" -> ((s, d) => {
      val qv = typedLit(queryVec)
      val e = col("embedding").cast("array<double>")
      // native sequential-fold dot kernel — bit-identical to the HOF
      // aggregate/zip_with form (see graft.functions.VectorKernels)
      val dot = Shared.dot(e, qv)
      val na = sqrt(Shared.dot(e, e))
      val cos = round(dot / (na * lit(queryVecNorm)), 4)
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), cos.as("cos"),
          size(col("embedding")).cast("long").as("dim"),
          round(element_at(e, 1), 4).as("e0"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // Q12b — approx_count_distinct (HLL++): the scale path for distinct
    // counts (mergeable sketch, no expand). No SQL oracle — HLL estimates
    // are engine-specific; the driver records a rows-only check and
    // OperatorSpec asserts the estimate lands within 5% of exact.
    "q12b_approx_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_nd_part"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Q44 — grouped exact percentiles (type-7 linear interpolation, the
    // convention both Spark's percentile() and DuckDB's quantile_cont
    // implement). Exact percentile sorts per group — the scale path is
    // approx_percentile (t-digest sketch), same shape as q12 vs q12b.
    "q44_percentiles" -> ((s, d) => {
      // ONE percentile aggregate with an array of fractions: three
      // scalar percentile() calls each buffered the whole column per
      // group (3x the aggregation state and three sorts of the same
      // values); the array form buffers and sorts once and interpolates
      // all three ranks from it — identical values by construction.
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D))")
            .as("ps"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p50"),
          round(element_at(col("ps"), 2), 4).as("p95"),
          round(element_at(col("ps"), 3), 4).as("p99"),
          col("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Q44b — approx_percentile (Greenwald-Khanna sketch): the scale path
    // for q44's exact per-group sort, mirroring q12 vs q12b. The sketch is
    // mergeable (map-side combinable), so percentiles over 100 TB cost one
    // bounded-memory pass instead of a per-group global sort. No SQL
    // oracle — sketch estimates are engine-specific; the driver records a
    // rows-only check and OperatorSpec asserts each estimate falls within
    // the sketch's rank-error bound of the exact q44 values.
    "q44b_approx_percentiles" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D), 10000)")
            .as("ap"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          element_at(col("ap"), 1).as("p50"),
          element_at(col("ap"), 2).as("p95"),
          element_at(col("ap"), 3).as("p99"),
          col("n"))
        .orderBy(col("l_returnflag"))
    }),

    // q147 — EXACT percentiles WITHOUT a per-group sort: the scale path
    // for bounded-integer domains, completing the percentile triangle
    // (q44 exact-by-sort; q44b sketch-approximate; q147 exact-by-
    // counting). l_quantity has <= 50 distinct values, so its per-group
    // distribution is an exact HISTOGRAM: one corpus-pass hash agg to
    // (group, value, count) — map-side combined, shuffle bounded by
    // groups x |domain| — then the k-th order statistics come from a
    // running sum over that tiny table and type-7 interpolation is exact
    // decimal arithmetic (h = (n-1)p/100 splits into k = h div 1 and an
    // INTEGER frac, so both engines compute the identical double). q44's
    // percentile() sorts every group's full row set; at 100 TB this
    // pays one aggregate. Same trick as q98's calibration cutoffs.
    "q147_histogram_percentiles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val h = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("v"))
        .agg(count(lit(1)).as("c"))
      val w = h
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("flag")).orderBy(col("v"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("flag"))))
      val ks = w.select(col("flag"), col("n")).distinct()
        .withColumn("p", explode(lit(Array(50L, 95L, 99L))))
        .withColumn("k_lo", expr("((n - 1) * p) div 100") + 1)
        .withColumn("frac", expr("((n - 1) * p) % 100"))
      val xlo = ks.join(w, Seq("flag")).filter(col("cum") >= col("k_lo"))
        .groupBy(col("flag"), col("p"), col("frac"))
        .agg(min(col("v")).as("x1"))
      val xhi = ks.join(w, Seq("flag")).filter(col("cum") >= col("k_lo") + 1)
        .groupBy(col("flag"), col("p")).agg(min(col("v")).as("x2"))
      xlo.join(xhi, Seq("flag", "p"), "left")
        .select(col("flag"), col("p"),
          round(col("x1") + col("frac") *
            (coalesce(col("x2"), col("x1")) - col("x1")) / lit(100.0), 4)
            .as("pv"))
        .orderBy(col("flag"), col("p"))
    }),

    // Q45 — histogram: fixed-width bucketing is pure float arithmetic
    // (identical IEEE division in both engines), then a hash aggregate.
    "q45_histogram" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(floor(col("l_extendedprice") / 5000.0d).cast("long")
          .as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("bucket"))
    }),

    // Q54 — pivot: long→wide on the five known event types. Supplying
    // the pivot values explicitly matters at scale: without them Spark
    // runs an extra distinct-collect job over the whole input just to
    // discover the column set. With values given, this lowers to one
    // hash aggregate with `count(CASE WHEN ...)` partials per column —
    // single shuffle on user_id, map-side combinable.
    "q54_pivot" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    }),

    // Q55 — unpivot (melt): wide→long without a shuffle (a narrow
    // per-row expansion; the only exchange is the verification ORDER BY).
    "q55_unpivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "measure", "value")
        .withColumn("value", round(col("value"), 4))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
    }),

    // Q75 — incremental dedup: dedup a NEW batch against the existing
    // corpus — the daily-increment shape a production pipeline actually
    // runs (q24 is the full-corpus backfill). Two phases, both
    // hash-partitioned on the normalized-text hash: (1) intra-batch
    // dedup keeps the min doc_id per key (map-side combine), (2) an
    // anti-join drops keys already in the corpus. At 100 TB the corpus
    // side is a pre-computed key table (here derived inline); the
    // anti-join shuffles 8-byte hashes, never text.
    "q75_incremental_dedup" -> ((s, d) => {
      import graft.operators.Shared.hash60
      val docs = Tables.documents(s, d)
        .withColumn("k", hash60(lower(trim(col("text")))))
      val corpusKeys = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("k")).distinct()
      val batch = docs.filter(col("doc_id") % 5 === 0)
      batch
        .groupBy(col("k"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_batch_dups"))
        .join(corpusKeys, Seq("k"), "left_anti")
        .select(col("doc_id"), col("n_batch_dups"))
        .orderBy(col("doc_id"))
    }),

    // q75b — q75 with a BLOOM prefilter on the corpus side: the
    // incremental-dedup shape tuned for real scale. q75's anti-join
    // shuffles every distinct corpus key each increment; but a daily
    // batch is orders of magnitude smaller than the corpus, so the right
    // move is the one Spark's own runtime-filter injection makes for
    // selective joins — build a bloom filter over the SMALL side (the
    // batch keys, one pass, a fixed-fpp bitset shipped as a literal) and
    // probe it INSIDE the corpus-side scan, so only corpus keys that
    // might match the batch survive to the exchange. Bloom false
    // positives cost one extra anti-join row each (fpp-bounded); false
    // negatives don't exist, so the result is EXACTLY q75's — the oracle
    // is byte-identical. At 100 TB the corpus-side shuffle drops from
    // |corpus keys| to ~|batch ∩ corpus| + fpp·|corpus| rows, and the
    // probe is a compiled one-bit test ([[graft.functions.
    // BloomMightContain]] pins the deserialized sketch in the codegen
    // references array) running at scan speed before any exchange.
    "q75b_incremental_dedup_bloom" -> ((s, d) => {
      import graft.operators.Shared.hash60
      val docs = Tables.documents(s, d)
        .withColumn("k", hash60(lower(trim(col("text")))))
      val corpusKeys = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("k")).distinct()
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .groupBy(col("k"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_batch_dups"))
      batch
        .join(bloomPruned(corpusKeys, batch.select(col("k"))),
          Seq("k"), "left_anti")
        .select(col("doc_id"), col("n_batch_dups"))
        .orderBy(col("doc_id"))
    }),

    // Q78 — sequence packing: concatenate each source's docs (doc_id
    // order) into fixed-capacity context windows of C=2048 tokens — the
    // batch-assembly step of LLM training-data prep. pack_id is the
    // window containing the doc's FIRST token: (cumsum − tokens) div C.
    // Straddling docs belong to their starting pack (deterministic
    // greedy-with-straddle; a non-straddling first-fit would be
    // order-sequential and not distributable).
    //
    // The cumsum is a DISTRIBUTED PREFIX SUM, not a naive
    // `Window.partitionBy(source)`: with a handful of sources that
    // window runs one task per source — parallelism ~5 no matter the
    // cluster. Instead: (1) bucket each source's docs into 4096-doc
    // chunks (bucket = doc_id div 4096 — deterministic, order-
    // preserving), local cumsum per (source, bucket); (2) aggregate
    // per-bucket totals — rows = sources × buckets, tiny — and prefix-
    // sum THOSE with a window (cheap at any scale); (3) equi-join the
    // bucket offsets back. Work per task is bounded by the chunk size;
    // integer arithmetic only (div / //), so the oracle stays exact.
    "q78_sequence_pack" -> ((s, d) =>
      packBySource(docTokens(s, d)).orderBy(col("source"), col("pack_id"))),

    // q78b — q78's greedy packing made TOKENIZER-EXACT: identical
    // distributed-prefix-sum machinery, but window occupancy counted in
    // BPE subword tokens ([[TextOps.bpeDocTokens]], the compiled
    // `bpe_count` kernel over distinct words) instead of whitespace
    // tokens — what a training loader actually packs against. Documents
    // whose text is NULL pack as 0 tokens, like q78.
    "q78b_bpe_sequence_pack" -> ((s, d) => {
      val toks = Tables.documents(s, d).select(col("source"), col("doc_id"))
        .join(TextOps.bpeDocTokens(s, d)
          .select(col("doc_id"), col("bpe_tokens").as("tokens")),
          Seq("doc_id"), "left")
        .withColumn("tokens", coalesce(col("tokens"), lit(0L)))
      packBySource(toks).orderBy(col("source"), col("pack_id"))
    }),

    // q113 — STRIDE CHUNKING: cut each document into fixed
    // [[ChunkLen]]-token training sequences with [[ChunkStride]] stride
    // (overlapping context windows — the other standard sequence-prep
    // shape beside q78's greedy packing: packing concatenates SHORT docs
    // up to the context length, chunking splits LONG docs down to it; a
    // real pipeline runs both). Emits one row per chunk with its token
    // count and content hash — the frame a tokenizer/writer stage
    // consumes. Pure narrow map work: tokenize once, explode
    // ~n/stride rows per doc, no shuffle anywhere except the output
    // sort (dropped at scale); the chunk-count arithmetic is closed-form
    // per row, so the operator is embarrassingly parallel at any corpus
    // size.
    "q113_stride_chunks" -> ((s, d) => {
      val S = ChunkStride.toLong
      val L = ChunkLen.toLong
      val toks =
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") >= 1)
        .select(col("doc_id"), col("n"),
          posexplode(transform(
            sequence(lit(0L), greatest(lit(0L),
              floor((col("n") - lit(L - S + 1)) / lit(S)).cast("long"))),
            i => concat_ws(" ",
              slice(col("toks"), (i * S + 1).cast("int"), lit(ChunkLen))))))
        .toDF("doc_id", "n", "chunk_idx", "chunk_txt")
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          least(lit(L), col("n") - col("chunk_idx") * S).as("n_tokens"),
          md5(col("chunk_txt")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // q93 — the COMPOSED corpus build: the end-to-end pass a pretraining
    // pipeline actually ships, as ONE Spark job over the staged
    // artifacts. quality filter (q84 verdict, keep only) → canonical
    // dedup (drop non-representative cluster members, labels from the
    // write-once dup_labels artifact — q93 is its third consumer, still
    // one CC job per pipeline) → leakage-safe train split (q87 key:
    // cluster rep or self; survivors are reps, so the cluster never
    // spans splits) → greedy 2048-token sequence packing of the
    // surviving train docs (q78 machinery). Every stage joins narrow
    // id/token frames on doc_id — the text column is read exactly once
    // (token counting); at 100 TB the composition adds three doc_id
    // equi-joins to the stages' own costs, nothing quadratic and no new
    // wide shuffles. Stage order is immaterial by construction: the
    // three gates are set intersections computed from corpus-level
    // artifacts (canonicality is a property of the FULL corpus — a
    // cluster whose rep fails quality contributes nothing, rather than
    // re-electing a lower-quality survivor).
    "q93_corpus_build" -> ((s, d) =>
      packBySource(curationFlags(s, d)
          .filter(col("is_quality") && col("is_canonical") && col("is_train"))
          .select(col("source"), col("doc_id"), col("tokens")))
        .orderBy(col("source"), col("pack_id"))),

    // q118 — CURATION FUNNEL: the per-stage observability readout every
    // pipeline publishes next to its corpus — how many documents and
    // tokens survive each gate of the q93 build (raw → quality keep →
    // canonical dedup → train split), as ONE job emitting one row per
    // stage. Built on [[curationFlags]] — the SAME gate-flag frame q93
    // filters — so the funnel is the dashboard OF the shipped build and
    // cannot drift from it. One corpus pass: the flags frame feeds a
    // single 8-value conditional aggregate (count/sum per cumulative
    // stage, map-side combined), reshaped to 4 rows by stack(); no per-
    // stage rescans, no joins beyond the gate chain's own.
    "q118_curation_funnel" -> ((s, d) =>
      curationFlags(s, d)
        .agg(
          count(lit(1)).as("d0"), sum(col("tokens")).as("t0"),
          count(when(col("is_quality"), 1)).as("d1"),
          sum(when(col("is_quality"), col("tokens"))).as("t1"),
          count(when(col("is_canonical"), 1)).as("d2"),
          sum(when(col("is_canonical"), col("tokens"))).as("t2"),
          count(when(col("is_train"), 1)).as("d3"),
          sum(when(col("is_train"), col("tokens"))).as("t3"))
        .selectExpr(
          """stack(4,
             '0_raw', d0, t0,
             '1_quality', d1, t1,
             '2_canonical', d2, t2,
             '3_train', d3, t3) AS (stage, n_docs, n_tokens)""")
        .orderBy(col("stage"))),

    // q119 — per-SOURCE curation scorecard: q118's funnel pivoted onto
    // the source axis — docs/tokens entering, surviving each gate, and
    // the final keep rate, per source. This is the table mixture
    // planning (q50/q100) actually consumes: a source whose keep rate
    // collapses (duplicate farm, quality failures) needs its sampling
    // weight rebalanced BEFORE training, and this readout is where that
    // shows. Third consumer of the shared [[curationFlags]] frame — one
    // corpus pass, one source-keyed conditional aggregate.
    "q119_source_scorecard" -> ((s, d) =>
      scorecardAgg(curationFlags(s, d))
        .withColumn("keep_rate", round(col("n_train") / col("n_docs"), 4))
        .orderBy(col("source"))),

    // q127 — INCREMENTAL scorecard maintenance: q119's per-source dashboard
    // kept current as a batch arrives, touching ONLY the batch and the
    // clusters the batch touched. See [[q127Merged]] for the algebra.
    "q127_incremental_scorecard" -> ((s, d) =>
      q127Merged(s, d)
        .withColumn("keep_rate", round(col("n_train") / col("n_docs"), 4))
        .orderBy(col("source"))),

    // q171 — scorecard-chain RETENTION VACUUM (see the q171 section
    // comment): stage the three-fold ver chain (q128's exact fold arc,
    // shared derivation with q128b), vacuum vers ≤ [[Q171Horizon]] into
    // the base, retain the suffix, serve at latest. Oracle = from-scratch
    // q119 over ALL documents — the newest ver per source IS the fully
    // folded scorecard, so fold chain + swap + crash replay are
    // hash-proven invisible at latest.
    "q171_scorecard_vacuum" -> ((s, d) => {
      q171.settle(s, d, Some(Q171Horizon))
      q171.asOf(s, d)
        .withColumn("keep_rate", round(col("n_train") / col("n_docs"), 4))
        .orderBy(col("source"))
    }),

    // q128b — the COMPACTION CLOSERS for q128's two still-growing stores
    // (round-10 verdict #5): the accumulated per-doc flag rows and the
    // versioned scorecard chain. The fold chain is q128's exact per-fold
    // body replayed in batch form (3 ordered folds, same pairs/labels/
    // corrections/merge math — the streaming run adds only micro-batch
    // machinery, not different algebra); then both stores land-then-
    // compact through the shared [[Bucketed.Store]] swap:
    //  - flag store: append-union merge, delta deduplicated by doc_id
    //    first (redelivered flag rows are byte-identical per-doc facts,
    //    so dedup-then-union is exact — the q130 posting argument);
    //  - scorecard: latest-wins per source (newest ver survives — the
    //    q126 override argument), so the compacted base is one row per
    //    source and serving needs ZERO version machinery.
    // Serving reads the COMPACTED bases alone; the oracle is from-scratch
    // q119 over all documents, so fold chain + both swaps are hash-proven
    // invisible at every tier.
    "q128b_scorecard_compact" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val corpusFlags = q127DocflagsArtifact(s, d)
      val scBase0 = q127BaseArtifact(s, d)
      // the STAGED chain (ver > 0; ver 0 is scBase0) — one landed fold
      // arc shared with q171, derivation priced as ingest
      val (scChain, flagsChain) = scChainStaged(s, d)
      val db = Bucketed.dbFor(d)
      q128bFlags.restage(s, db, corpusFlags.withColumn("ver", lit(0L)),
        flagsChain)
      q128bFlags.compact(s, db,
        s.table(s"$db.q128b_flags_base").unionByName(
          s.table(s"$db.q128b_flags_delta").dropDuplicates("doc_id")))
      q128bSc.restage(s, db, scBase0.withColumn("ver", lit(0L)), scChain)
      q128bSc.compact(s, db,
        // explicit repartition before the window: the union of two
        // 1-bucket tables otherwise runs the per-source window on each
        // side's scan partition separately (no exchange — each side
        // satisfies the clustering alone, the union doesn't), which
        // kept a base row AND a delta row per source instead of the
        // newest. Measured, not theoretical: the first cut of this
        // query served 38 rows for 20 sources.
        s.table(s"$db.q128b_sc_base")
          .unionByName(s.table(s"$db.q128b_sc_delta"))
          .repartition(col("source"))
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col("source")).orderBy(col("ver").desc)))
          .filter(col("_rn") === 1).drop("_rn"))
      // serve from the compacted bases alone — no version filtering, no
      // delta union, one bucketed scan
      s.table(s"$db.q128b_sc_base").drop("ver")
        .withColumn("keep_rate", round(col("n_train") / col("n_docs"), 4))
        .orderBy(col("source"))
    }),

    // q94 — q93 WITH DECONTAMINATION: before packing, drop every train
    // doc that shares a 13-token run with ANY eval-side (val/test) doc —
    // the long-n-gram eval-decontamination practice of the GPT-3/PaLM
    // reports. This closes the leak q87's cluster-keyed split cannot:
    // two documents sharing a paragraph but with Jaccard < 0.6 land in
    // different clusters and may straddle the split, yet 13 consecutive
    // shared tokens still leak the eval text. Mechanics: the surviving
    // corpus (quality-pass, canonical) explodes to distinct hashed
    // 13-shingles (narrow, 1 row/token like q61); eval-side hashes make
    // one distinct set; train docs semi-join against it and matches are
    // anti-joined out before the q78 pack. All equi-joins on 60-bit
    // uniform hashes; at 100 TB the eval side is the small fraction by
    // construction (~20%), and ids/hashes — never text — cross shuffles.
    "q94_decontaminated_build" -> ((s, d) => {
      import graft.operators.Shared.hash60
      val verdicts = TextOps.q84Verdicts(s, d)
        .filter(col("keep") === 1).select(col("doc_id"))
      val labels = Dedup.labelsArtifact(s, d)
        .select(col("doc_id"), col("rep"))
      val dropped = labels.filter(col("doc_id") =!= col("rep"))
        .select(col("doc_id"))
      val base = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("text"))
        .join(verdicts, Seq("doc_id"), "left_semi")
        .join(dropped, Seq("doc_id"), "left_anti")
        .join(labels, Seq("doc_id"), "left")
        .withColumn("is_train",
          pmod(hash60(coalesce(col("rep"), col("doc_id")).cast("string")),
            lit(100)) < 80)
      val sh = base
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 13)
        .select(col("doc_id"), col("is_train"),
          explode(array_distinct(
            transform(sequence(lit(1), size(col("toks")) - 12),
              i => hash60(concat_ws(" ", slice(col("toks"), i, lit(13)))))))
            .as("h"))
      val evalH = sh.filter(!col("is_train")).select(col("h")).distinct()
      val contaminated = sh.filter(col("is_train"))
        .join(evalH, Seq("h"), "left_semi")
        .select(col("doc_id")).distinct()
      val train = base.filter(col("is_train"))
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("source"), col("doc_id"),
          when(col("text").isNull, lit(0L))
            .otherwise(size(split(col("text"), " ")).cast("long"))
            .as("tokens"))
      packBySource(train).orderBy(col("source"), col("pack_id"))
    }),

    // Q69 — funnel analysis: first view → first click after it → first
    // purchase after that, per user. Three filtered min-aggregations
    // chained by equi-joins on user_id — every step shuffles on the same
    // key so AQE/exchange reuse co-locates them; no window over the whole
    // event history, no per-user event buffering, state is one timestamp
    // per user per stage. The standard conversion-funnel shape at any
    // scale.
    "q69_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("tv"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("us") > col("tv"))
        .groupBy(col("user_id")).agg(min(col("us")).as("tc"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("us") > col("tc"))
        .groupBy(col("user_id")).agg(min(col("us")).as("tp"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("tv"), col("tc"), col("tp"),
          (lit(1) + col("tc").isNotNull.cast("int")
            + col("tp").isNotNull.cast("int")).as("stage"))
        .orderBy(col("user_id"))
    }),

    // Q70 — data profiling: per-column row/null/distinct counts and
    // min/max, the observability primitive every pipeline runs before
    // training. ONE pass over the table computes all 5 columns' stats as
    // a single wide aggregate row (25 agg expressions — partial+final,
    // map-side combined), then a stack() unpivot reshapes it to one row
    // per column; no per-column rescan. Values are rendered through
    // exactly-portable types (longs, strings, dates; price in cents).
    "q70_profile" -> ((s, d) => profile(s, d, countDistinct(_))),

    // Q70b — the SKETCH profile: identical output shape to q70 but every
    // distinct count is approx_count_distinct (HLL++). q70's five exact
    // countDistinct aggregates in one pass force Catalyst's Expand — one
    // duplicated input stream per distinct aggregate, ~6× rows into the
    // shuffle — which is the scale-killer at 100 TB. HLL sketches are
    // plain partial+final aggregates (mergeable, fixed size, NO Expand;
    // PlanSpec asserts it), so this is the default profile a pipeline
    // should run, with q70 as the exact opt-in. Rows-checked + 2%
    // tolerance-tested against the exact counts (mirrors q12/q12b,
    // q44/q44b).
    "q70b_profile_sketch" -> ((s, d) =>
      // rsd 2%: the default 5% HLL landed 10% off on sf0.001's
      // o_orderdate; 2% keeps every column within the 5% tolerance
      // PlanSpec asserts while the sketch stays KB-sized and mergeable
      profile(s, d, approx_count_distinct(_, 0.02))),

    // Q65 — time-series resample + gap-fill: hourly buckets per user over
    // each user's own [min, max] hour span, absent hours materialized from
    // a generated spine (sequence+explode — no driver-side loop) and
    // forward-filled with the last observed hourly sum. One shuffle keys
    // everything by user_id; the spine join is a per-user equi-join and
    // the fill is a single running window pass. At 100 TB the spine is
    // dwarfed by the data (it scales with users × hours, not events).
    // Known trade: `hourly` feeds two consumers with different column
    // sets, so pruning makes their subtrees differ and ReusedExchange
    // cannot fire — the pre-aggregation scans events twice. A deployment
    // that cares materializes the hourly rollup once (it is the natural
    // incremental table here); inline caching would leak executor memory
    // across the suite.
    "q65_gapfill" -> ((s, d) => {
      // The hourly rollup feeds two consumers with different column
      // sets (the spine's min/max and the fill join), so pruning makes
      // their subtrees differ and ReusedExchange cannot fire — without
      // materialization the events pre-aggregation ran twice. One
      // lineage-free checkpoint IS the natural incremental table here
      // (it scales with users x hours, not events), and unlike a
      // session-lifetime .persist() its blocks are reclaimed as soon as
      // the row's plan is dropped.
      val hourly = Shared.ckpt(Tables.events(s, d)
        .groupBy(col("user_id"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
      val spine = hourly.groupBy(col("user_id"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("INTERVAL 1 HOUR"))).as("hr"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), tstr(col("hr")).as("hr"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("sum_value"), ignoreNulls = true).over(w).as("filled_value"))
        .orderBy(col("user_id"), col("hr"))
    }),

    // Q26 — tokenize + explode + count, top-20. explode feeds a hash
    // aggregate with map-side combine; shuffle volume is distinct tokens.
    "q26_text_tokens" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)
    })
  )

  private def sqlQueryVec: String = queryVec.mkString("[", ", ", "]")

  /** The q119 scorecard oracle — shared verbatim with q127, whose
    * incremental maintenance must be invisible against it.
    */
  private lazy val sqlQ119: String =
    s"""WITH RECURSIVE ${Dedup.sqlRepsCte},
       |  ${TextOps.sqlQ84Cte},
       |  dtok AS (SELECT source, doc_id,
       |             CAST(COALESCE(len(string_split(text, ' ')), 0)
       |               AS BIGINT) AS tokens
       |           FROM documents),
       |  f AS (SELECT dt.source, dt.tokens,
       |      (r.reasons = 0) AS isq,
       |      ((r.reasons = 0) AND
       |       (reps.doc_id IS NULL OR reps.doc_id = reps.rep)) AS isc,
       |      ((r.reasons = 0) AND
       |       (reps.doc_id IS NULL OR reps.doc_id = reps.rep) AND
       |       ${Shared.sqlHash60(
                "CAST(COALESCE(reps.rep, dt.doc_id) AS VARCHAR)")}
       |         % 100 < 80) AS ist
       |    FROM dtok dt JOIN r ON dt.doc_id = r.doc_id
       |    LEFT JOIN reps ON dt.doc_id = reps.doc_id)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(tokens) AS BIGINT) AS n_tokens,
       |  COUNT(*) FILTER (WHERE isq) AS n_quality,
       |  COUNT(*) FILTER (WHERE isc) AS n_canonical,
       |  COUNT(*) FILTER (WHERE ist) AS n_train,
       |  CAST(COALESCE(SUM(tokens) FILTER (WHERE ist), 0) AS BIGINT)
       |    AS train_tokens,
       |  ROUND((COUNT(*) FILTER (WHERE ist))::DOUBLE / COUNT(*), 4)
       |    AS keep_rate
       |FROM f GROUP BY source ORDER BY source""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q22_json" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | event_type AS mval,
        | string_split(props, ':')[1] AS first_frag,
        | len(string_split(props, ':')) AS n_frags
        |FROM events ORDER BY event_id""".stripMargin,

    // session_id must be CAST to BIGINT: DuckDB's SUM over integers yields
    // HUGEINT (int128), which downstream arrow/pandas consumers represent
    // differently than int64 even when values are equal (r2 hash mismatch).
    "q23_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id, value,
         |             epoch_ns(ts) // 1000 AS us FROM events),
         |     g AS (SELECT *, CASE WHEN us - LAG(us) OVER w > 1800000000
         |                          THEN 1 ELSE 0 END AS gap
         |           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |     ss AS (SELECT *, CAST(SUM(gap) OVER (PARTITION BY user_id
         |              ORDER BY us, event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) AS session_id FROM g)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(us) AS start_us, MAX(us) AS end_us,
         |  ${sqlDsum("value")} AS sum_value
         |FROM ss GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    "q24_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups,
        | LENGTH(LOWER(TRIM(text))) AS norm_len
        |FROM documents GROUP BY LOWER(TRIM(text))
        |ORDER BY doc_id""".stripMargin,

    "q25_similarity_topk" ->
      s"""WITH q AS (SELECT ${sqlQueryVec}::DOUBLE[] AS qv),
         |     sc AS (SELECT vec_id, label,
         |              len(embedding) AS dim,
         |              ROUND(embedding[1]::DOUBLE, 4) AS e0,
         |              ROUND(
         |                list_sum(list_transform(list_zip(embedding, qv),
         |                  x -> x[1]::DOUBLE * x[2]::DOUBLE))
         |                / (sqrt(list_sum(list_transform(embedding,
         |                     x -> x::DOUBLE * x::DOUBLE)))
         |                   * ${queryVecNorm}), 4) AS cos
         |            FROM embeddings, q)
         |SELECT vec_id, label, cos, dim, e0 FROM sc
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "q44_percentiles" ->
      """SELECT l_returnflag,
        | ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        | ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // q147: the identical histogram + order-statistic + type-7 formula,
    // LEFT-joined so a k at the domain edge interpolates against itself
    "q147_histogram_percentiles" ->
      """WITH h AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS v,
        |        COUNT(*) AS c FROM lineitem GROUP BY 1, 2),
        |  w AS (SELECT flag, v, c,
        |      SUM(c) OVER (PARTITION BY flag ORDER BY v) AS cum,
        |      SUM(c) OVER (PARTITION BY flag) AS n FROM h),
        |  ks AS (SELECT flag, n, CAST(p.p AS BIGINT) AS p,
        |      ((n - 1) * p.p) // 100 + 1 AS k_lo,
        |      ((n - 1) * p.p) % 100 AS frac
        |    FROM (SELECT DISTINCT flag, n FROM w) t
        |    CROSS JOIN (SELECT unnest([50, 95, 99]) AS p) p),
        |  xlo AS (SELECT k.flag, k.p, k.frac, MIN(w.v) AS x1
        |    FROM ks k JOIN w ON w.flag = k.flag AND w.cum >= k.k_lo
        |    GROUP BY 1, 2, 3),
        |  xhi AS (SELECT k.flag, k.p, MIN(w.v) AS x2
        |    FROM ks k JOIN w ON w.flag = k.flag AND w.cum >= k.k_lo + 1
        |    GROUP BY 1, 2)
        |SELECT xlo.flag, xlo.p,
        |  CAST(ROUND(x1 + frac * (COALESCE(x2, x1) - x1) / 100.0, 4) AS DOUBLE)
        |    AS pv
        |FROM xlo LEFT JOIN xhi ON xlo.flag = xhi.flag AND xlo.p = xhi.p
        |ORDER BY xlo.flag, xlo.p""".stripMargin,

    "q45_histogram" ->
      s"""SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
         | COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q54_pivot" ->
      """SELECT user_id,
        | COUNT(*) FILTER (event_type = 'click') AS click,
        | COUNT(*) FILTER (event_type = 'error') AS error,
        | COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        | COUNT(*) FILTER (event_type = 'signup') AS signup,
        | COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q55_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, ROUND(value, 4) AS value
        |FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
        |    CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice',
        |    CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount',
        |    CAST(l_discount AS DOUBLE) FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

    "q26_text_tokens" ->
      """SELECT token, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "q75_incremental_dedup" ->
      s"""WITH dk AS (SELECT doc_id,
         |    ${graft.operators.Shared.sqlHash60("lower(trim(text))")} AS k
         |  FROM documents),
         |  corpus AS (SELECT DISTINCT k FROM dk WHERE doc_id % 5 != 0),
         |  batch AS (SELECT k, MIN(doc_id) AS doc_id,
         |              COUNT(*) AS n_batch_dups
         |            FROM dk WHERE doc_id % 5 = 0 GROUP BY k)
         |SELECT doc_id, n_batch_dups FROM batch
         |WHERE NOT EXISTS (SELECT 1 FROM corpus WHERE corpus.k = batch.k)
         |ORDER BY doc_id""".stripMargin,

    // q75b: the bloom prefilter admits no false negatives, so the staged
    // variant's contract is BYTE-IDENTITY with q75 — same oracle text
    "q75b_incremental_dedup_bloom" ->
      s"""WITH dk AS (SELECT doc_id,
         |    ${graft.operators.Shared.sqlHash60("lower(trim(text))")} AS k
         |  FROM documents),
         |  corpus AS (SELECT DISTINCT k FROM dk WHERE doc_id % 5 != 0),
         |  batch AS (SELECT k, MIN(doc_id) AS doc_id,
         |              COUNT(*) AS n_batch_dups
         |            FROM dk WHERE doc_id % 5 = 0 GROUP BY k)
         |SELECT doc_id, n_batch_dups FROM batch
         |WHERE NOT EXISTS (SELECT 1 FROM corpus WHERE corpus.k = batch.k)
         |ORDER BY doc_id""".stripMargin,

    "q78_sequence_pack" ->
      """WITH t AS (SELECT source, doc_id,
        |             CAST(COALESCE(len(string_split(text, ' ')), 0)
        |               AS BIGINT) AS tokens
        |           FROM documents),
        |  c AS (SELECT source, doc_id, tokens,
        |          SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM t)
        |SELECT source, CAST((cum - tokens) // 2048 AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin,

    // q78b: the q78 pack replayed over the recursive-CTE BPE counts
    // (graft.functions.Bpe.sqlBpeCtes — the defined merge procedure)
    "q78b_bpe_sequence_pack" ->
      s"""WITH RECURSIVE ${graft.functions.Bpe.sqlBpeCtes},
         |  bt AS (SELECT bw.doc_id, CAST(SUM(bcnt.bpe) AS BIGINT) AS bpe
         |         FROM bw JOIN bcnt USING (w) GROUP BY bw.doc_id),
         |  t AS (SELECT d.source, d.doc_id,
         |          CAST(COALESCE(bt.bpe, 0) AS BIGINT) AS tokens
         |        FROM documents d LEFT JOIN bt ON bt.doc_id = d.doc_id),
         |  c AS (SELECT source, doc_id, tokens,
         |          SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |        FROM t)
         |SELECT source, CAST((cum - tokens) // 2048 AS BIGINT) AS pack_id,
         |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin,

    // q113: same tokenization, same closed-form chunk count (DuckDB //
    // is floor division, matching the Spark floor()), same clamped list
    // slice and md5.
    "q113_stride_chunks" ->
      s"""WITH t AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |  FROM documents),
         | d AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t
         |       WHERE len(toks) >= 1),
         | c AS (SELECT doc_id, n, i AS chunk_idx,
         |     array_to_string(
         |       toks[i*$ChunkStride+1 : i*$ChunkStride+$ChunkLen], ' ')
         |       AS chunk_txt
         |   FROM d, LATERAL unnest(generate_series(0, greatest(0,
         |     (n - ${ChunkLen - ChunkStride + 1}) // $ChunkStride)))
         |     AS g(i))
         |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
         |  LEAST($ChunkLen, n - chunk_idx*$ChunkStride)::BIGINT AS n_tokens,
         |  md5(chunk_txt) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // q93 = q84's verdict chain + q73's recursive closure + q87's split
    // key + q78's cumsum pack, composed from the same shared fragments
    // the individual oracles use — the Spark side reads the staged
    // labels artifact; the oracle recomputes the identical labels from
    // first principles (same equivalence q81b/q87b pin).
    "q93_corpus_build" ->
      s"""WITH RECURSIVE ${Dedup.sqlRepsCte},
         |  ${TextOps.sqlQ84Cte},
         |  dtok AS (SELECT source, doc_id,
         |             CAST(COALESCE(len(string_split(text, ' ')), 0)
         |               AS BIGINT) AS tokens
         |           FROM documents),
         |  surv AS (SELECT dt.source, dt.doc_id, dt.tokens
         |    FROM dtok dt
         |    JOIN r ON dt.doc_id = r.doc_id AND r.reasons = 0
         |    LEFT JOIN reps ON dt.doc_id = reps.doc_id
         |    WHERE (reps.doc_id IS NULL OR reps.doc_id = reps.rep)
         |      AND ${Shared.sqlHash60(
                  "CAST(COALESCE(reps.rep, dt.doc_id) AS VARCHAR)")}
         |            % 100 < 80),
         |  cc AS (SELECT source, doc_id, tokens,
         |          SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |        FROM surv)
         |SELECT source, CAST((cum - tokens) // 2048 AS BIGINT) AS pack_id,
         |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM cc GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin,

    // q118: the q93 gate chain recomputed from first principles (same
    // equivalence q81b/q87b pin for the artifact), one funnel row per
    // cumulative stage
    "q118_curation_funnel" ->
      s"""WITH RECURSIVE ${Dedup.sqlRepsCte},
         |  ${TextOps.sqlQ84Cte},
         |  dtok AS (SELECT source, doc_id,
         |             CAST(COALESCE(len(string_split(text, ' ')), 0)
         |               AS BIGINT) AS tokens
         |           FROM documents),
         |  s1 AS (SELECT dt.* FROM dtok dt
         |         JOIN r ON dt.doc_id = r.doc_id AND r.reasons = 0),
         |  s2 AS (SELECT s1.* FROM s1
         |         LEFT JOIN reps ON s1.doc_id = reps.doc_id
         |         WHERE reps.doc_id IS NULL OR reps.doc_id = reps.rep),
         |  s3 AS (SELECT s2.* FROM s2
         |         LEFT JOIN reps ON s2.doc_id = reps.doc_id
         |         WHERE ${Shared.sqlHash60(
                  "CAST(COALESCE(reps.rep, s2.doc_id) AS VARCHAR)")}
         |           % 100 < 80)
         |SELECT '0_raw' AS stage, COUNT(*) AS n_docs,
         |       CAST(SUM(tokens) AS BIGINT) AS n_tokens FROM dtok
         |UNION ALL SELECT '1_quality', COUNT(*),
         |       CAST(SUM(tokens) AS BIGINT) FROM s1
         |UNION ALL SELECT '2_canonical', COUNT(*),
         |       CAST(SUM(tokens) AS BIGINT) FROM s2
         |UNION ALL SELECT '3_train', COUNT(*),
         |       CAST(SUM(tokens) AS BIGINT) FROM s3
         |ORDER BY stage""".stripMargin,

    // q119: the q118 gate chain as per-doc booleans, grouped by source
    "q119_source_scorecard" -> sqlQ119,

    // q127: incremental maintenance must be INVISIBLE — the oracle is
    // from-scratch q119 over corpus+batch, verbatim
    "q127_incremental_scorecard" -> sqlQ119,
    // q128b: fold chain + flag-store and scorecard compaction swaps must
    // all be invisible — from-scratch q119 over all documents
    "q128b_scorecard_compact" -> sqlQ119,
    // q171: the scorecard vacuum must be invisible at latest — newest
    // ver per source is the fully folded q119 scorecard
    "q171_scorecard_vacuum" -> sqlQ119,

    // q94 = q93's gates + the 13-shingle decontamination anti-join,
    // recomposed from the same shared fragments
    "q94_decontaminated_build" ->
      s"""WITH RECURSIVE ${Dedup.sqlRepsCte},
         |  ${TextOps.sqlQ84Cte},
         |  base AS (
         |    SELECT d.source, d.doc_id, d.text,
         |      (${Shared.sqlHash60(
                  "CAST(COALESCE(reps.rep, d.doc_id) AS VARCHAR)")}
         |         % 100 < 80) AS is_train
         |    FROM documents d
         |    JOIN r ON d.doc_id = r.doc_id AND r.reasons = 0
         |    LEFT JOIN reps ON d.doc_id = reps.doc_id
         |    WHERE reps.doc_id IS NULL OR reps.doc_id = reps.rep),
         |  shg AS (
         |    SELECT doc_id, is_train, unnest(list_distinct(
         |      [${Shared.sqlHash60("array_to_string(toks[i:i+12], ' ')")}
         |       FOR i IN generate_series(1, len(toks) - 12)])) AS h
         |    FROM (SELECT doc_id, is_train, string_split(text, ' ') AS toks
         |          FROM base)
         |    WHERE len(toks) >= 13),
         |  evalh AS (SELECT DISTINCT h FROM shg WHERE NOT is_train),
         |  cont AS (SELECT DISTINCT doc_id FROM shg
         |           WHERE is_train AND h IN (SELECT h FROM evalh)),
         |  dtok2 AS (SELECT source, doc_id,
         |      CAST(COALESCE(len(string_split(text, ' ')), 0) AS BIGINT)
         |        AS tokens
         |    FROM base WHERE is_train
         |      AND doc_id NOT IN (SELECT doc_id FROM cont)),
         |  cc2 AS (SELECT source, doc_id, tokens,
         |          SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |        FROM dtok2)
         |SELECT source, CAST((cum - tokens) // 2048 AS BIGINT) AS pack_id,
         |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM cc2 GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin,

    "q69_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |             epoch_ns(ts) // 1000 AS us FROM events),
        |  v AS (SELECT user_id, MIN(us) AS tv FROM e
        |        WHERE event_type = 'view' GROUP BY 1),
        |  c AS (SELECT e.user_id, MIN(us) AS tc FROM e JOIN v USING (user_id)
        |        WHERE event_type = 'click' AND us > tv GROUP BY 1),
        |  p AS (SELECT e.user_id, MIN(us) AS tp FROM e JOIN c USING (user_id)
        |        WHERE event_type = 'purchase' AND us > tc GROUP BY 1)
        |SELECT v.user_id, tv, tc, tp,
        |  1 + CAST(tc IS NOT NULL AS INT) + CAST(tp IS NOT NULL AS INT)
        |    AS stage
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q70_profile" -> {
      val rendered = Map(
        "o_orderkey" -> "CAST(o_orderkey AS VARCHAR)",
        "o_custkey" -> "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus" -> "o_orderstatus",
        "o_totalprice_cents" ->
          "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)",
        "o_orderdate" -> "strftime(o_orderdate, '%Y-%m-%d')")
      rendered.toSeq.sortBy(_._1).map { case (name, sql) =>
        s"""SELECT '$name' AS col_name, COUNT(*) AS n,
           |  COUNT(*) FILTER (($sql) IS NULL) AS n_nulls,
           |  COUNT(DISTINCT ($sql)) AS n_distinct,
           |  MIN($sql) AS min_s, MAX($sql) AS max_s
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "q65_gapfill" ->
      s"""WITH e AS (SELECT user_id,
         |             make_timestamp(epoch_ns(ts) // 1000) AS ts, value
         |           FROM events),
         |  h AS (SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS hr,
         |          COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
         |        FROM e GROUP BY 1, 2),
         |  b AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1
         |        FROM h GROUP BY 1),
         |  spine AS (SELECT user_id,
         |              unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
         |            FROM b)
         |SELECT s.user_id, strftime(s.hr, '%Y-%m-%d %H:%M:%S') AS hr,
         |  COALESCE(h.n, 0) AS n,
         |  last_value(h.sum_value IGNORE NULLS) OVER (
         |    PARTITION BY s.user_id ORDER BY s.hr
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
         |FROM spine s LEFT JOIN h USING (user_id, hr)
         |ORDER BY user_id, hr""".stripMargin
  )
}
