package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over `documents`: BM25 ranked top-k, in two
  * physical shapes.
  *
  * q151 — self-contained BM25: tokenize → (doc, term) tf → term df →
  * per-(query, doc) score → top-k per query. One corpus pass; the only
  * wide stages are vocabulary-keyed (df) and match-keyed (the per-query
  * accumulation) — never corpus-quadratic.
  *
  * q152 — STAGED BM25: the production shape. The inverted index is a
  * write-once bucketed posting table (term, df, doc_id, tf, len) plus a
  * one-row stats table; a query batch broadcasts into the posting scan,
  * so serving cost is O(matched postings), never a corpus scan. Same
  * rows as q151 by construction — staging is a physical-layout change —
  * so the oracle is the identical SQL.
  *
  * Scoring is BM25 (k1 = 1.2, b = 0.75) with the Robertson RATIONAL idf
  * `(N - df + 0.5)/(df + 0.5)` — i.e. the standard idf without the final
  * `ln`. Rationale: this file inherits the operator suite's
  * transcendental-free oracle contract (`ln` is the one sub-ulp
  * divergence point between JVM and DuckDB libm); the rational form is a
  * strictly monotone transform of the standard idf PER TERM, and the
  * swap back is one `ln(1 + ·)` at the marked line. Per-term scores are
  * fixed-pointed to 1e-4 (`score_e4` bigint) BEFORE the per-(query, doc)
  * sum, so the aggregation is exact integer math with no
  * float-summation-order dependence between engines.
  *
  * 100-TB posture: the posting table is bucketed by term, so repeated
  * query batches never reshuffle it; df rides denormalized in the
  * posting rows (the classic posting-list-header layout) so serving
  * needs no second vocabulary join; the per-query top-k is a
  * WindowGroupLimit over per-(query, doc) partial sums — shuffle volume
  * is the matched-posting mass, bounded by Σ_t∈queries df(t), not the
  * corpus.
  */
object Retrieval {

  /** Fixed literal query batch (query_id, term) — terms drawn from the
    * synthetic corpus vocabulary so every query has a non-trivial
    * posting mass. A production caller supplies its own batch; the
    * bound that matters (broadcast-sized, ≤ a few thousand terms) is a
    * property of the batch, not the corpus.
    */
  private[graft] val QueryBatch: Seq[(Long, String)] = Seq(
    1L -> "hash", 1L -> "join",
    2L -> "window", 2L -> "agg", 2L -> "order",
    3L -> "table", 3L -> "scan", 3L -> "fast",
    4L -> "filter", 4L -> "value",
    5L -> "customer", 5L -> "query",
    6L -> "batch", 6L -> "spark", 6L -> "data",
    7L -> "merge", 7L -> "slow",
    8L -> "key", 8L -> "column", 8L -> "row")

  /** Top-k per query. */
  private[graft] val BmTopK = 5

  private def queryDf(s: SparkSession): DataFrame = {
    import s.implicits._
    QueryBatch.toDF("query_id", "term")
  }

  /** (doc_id, term, tf, len): term frequencies + document token length.
    * `len` counts ALL tokens (repeats included) — the BM25 length
    * normalizer — while tf is per distinct (doc, term).
    */
  private def tfOf(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("term"))
    val len = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("len"))
    tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .join(len, "doc_id")
  }

  /** Per-term fixed-point BM25 partial: expects columns
    * n_docs, df, tf, len, avgdl. 0.25 = 1 − b; every operation and its
    * associativity mirrors the oracle SQL token-for-token (IEEE doubles
    * are deterministic given the same expression tree). The marked
    * factor is where the standard `ln(1 + idf_r)` would reinstate
    * textbook BM25 at the cost of oracle bit-exactness.
    */
  private def scoreE4: org.apache.spark.sql.Column =
    round(
      (col("n_docs") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d)) * // idf_r (swap point for ln(1 + ·))
        (col("tf") * lit(2.2d)) /
        (col("tf") + lit(1.2d) *
          (lit(0.25d) + lit(0.75d) * col("len") / col("avgdl"))) *
        lit(10000.0d)).cast("long")

  /** q151b's textbook scorer: [[scoreE4]] with the marked factor swapped
    * to `ln(1 + idf_r)` — i.e. the standard Robertson idf
    * `ln((N − df + 0.5)/(df + 0.5) + 1)` production BM25 consumers
    * expect. `ln` is the one sub-ulp JVM-vs-DuckDB libm divergence point
    * the operator suite's oracle contract excludes, so this row is
    * `no_oracle` by design (the q12b class); its correctness gate is the
    * RetrievalSpec tolerance contract instead — per-query top-k SETS
    * match the rational form (the per-term transform is strictly
    * monotone, so per-term ranks are identical; cross-term sums can in
    * principle reorder, which is exactly what the spec measures and
    * bounds, promoting SCALING.md's round-12 brute-force audit — 40/40
    * set agreement at three tiers — to a permanent gate).
    */
  private def scoreE4Ln: org.apache.spark.sql.Column =
    round(
      log(lit(1.0d) +
        (col("n_docs") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d))) *
        (col("tf") * lit(2.2d)) /
        (col("tf") + lit(1.2d) *
          (lit(0.25d) + lit(0.75d) * col("len") / col("avgdl"))) *
        lit(10000.0d)).cast("long")

  /** Rank matched (query, doc) score sums and keep the top [[BmTopK]]
    * per query — integer-exact ordering (score_e4 desc, doc_id), so the
    * cut is tie-unambiguous across engines.
    */
  private def topkOf(scored: DataFrame): DataFrame =
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_e4").desc, col("doc_id"))).cast("long"))
      .filter(col("rk") <= BmTopK)
      .select(col("query_id"), col("doc_id"), col("n_hit"),
        col("score_e4"), col("rk"))
      .orderBy(col("query_id"), col("rk"))

  // ---- staged inverted index (q152) ---------------------------------------

  /** How many times the posting artifact was WRITTEN this JVM —
    * RetrievalSpec asserts repeated serving builds the index once.
    */
  private[graft] val postingWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Write-once posting table (term, df, doc_id, tf, len) bucketed by
    * term: df denormalized into every posting row (posting-list-header
    * layout) so serving joins ONLY queries × postings. Bucketing by term
    * means later query batches probe bucket-locally — the corpus never
    * reshuffles after the one index build.
    */
  private[graft] def postingArtifact(s: SparkSession, d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "bm25_postings",
      s"$d/documents.parquet", {
        postingWrites.incrementAndGet()
        val tf = tfOf(Tables.documents(s, d))
        val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        tf.join(dfreq, "term")
          .select(col("term"), col("df"), col("doc_id"), col("tf"),
            col("len"))
      }, 8, Seq("term"))

  /** Write-once one-row corpus stats (n_docs, sum_len). Bucketed table
    * like every other staged artifact (single bucket — it is one row);
    * avgdl is derived at serve time so the stored columns stay integer
    * monoids (they fold under q123-style manifest merges if this index
    * ever goes incremental).
    */
  private[graft] def statsArtifact(s: SparkSession, d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "bm25_stats",
      s"$d/documents.parquet",
      tfOf(Tables.documents(s, d))
        .select(col("doc_id"), col("len")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
        .withColumn("k", lit(0L))
        .select(col("k"), col("n_docs"), col("sum_len")),
      1, Seq("k"))

  // ---- incremental + deletion maintenance (q157/q158) ---------------------
  //
  // q152's serving layout denormalizes df into every posting row — one
  // less join per query, the right call for a REBUILT index. But df is a
  // CORPUS-GLOBAL statistic: one new document increments df for every
  // term it contains, touching posting rows of OTHER documents — a
  // denormalized index cannot take increments without a base rewrite.
  // q157 is the increment-friendly layout: postings WITHOUT df
  // (term, doc_id, tf, len, all per-doc facts that never change), plus a
  // vocabulary-sized df table and the one-row stats — both pure count
  // MONOIDS. An arriving batch appends O(|batch|) posting rows and
  // merges df/stats by addition; serving joins df at query time
  // (vocabulary-keyed, term-bucketed on both sides — co-located). The
  // trade is explicit: one extra serve-time join buys O(batch)
  // increments with EXACT df — no stale-idf window at all.
  //
  // q158 adds the deletion verb: postings of a tombstoned doc set are
  // anti-joined out (broadcast, the q155 shape), and df/stats RETRACT by
  // the group inverses (counts subtract — the q153 algebra). Both
  // maintenance forms serve rows provably identical to the from-scratch
  // index over the resulting corpus: the oracles are the same bm25Sql
  // replay over (all docs) and (docs minus tombstones).

  private[graft] val q157BaseWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The q120-convention corpus split: doc_id % 10 == 0 is the arriving
    * batch, the rest the frozen base.
    */
  private def q157Corpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0)
  private def q157Batch(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 10 === 0)

  /** Normalized-layout index of an arbitrary doc frame:
    * (postings without df, df table, one-row stats).
    */
  private[graft] def bm25IndexOf(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val tf = tfOf(docs)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = tf.select(col("doc_id"), col("len")).distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
      .withColumn("k", lit(0L)).select(col("k"), col("n_docs"),
        col("sum_len"))
    (tf.select(col("term"), col("doc_id"), col("tf"), col("len")),
      dfreq, stats)
  }

  private[graft] def idx157(s: SparkSession, d: String, leaf: String,
      docs: => DataFrame, counter: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val db = Bucketed.dbFor(d)
    val src = s"$d/documents.parquet"
    lazy val built = {
      if (counter) q157BaseWrites.incrementAndGet()
      bm25IndexOf(docs)
    }
    (Bucketed.writeOnceBucketed(s, db, s"q157_post_$leaf", src,
        built._1, 8, Seq("term")),
      Bucketed.writeOnceBucketed(s, db, s"q157_df_$leaf", src,
        built._2, 8, Seq("term")),
      Bucketed.writeOnceBucketed(s, db, s"q157_stats_$leaf", src,
        built._3, 1, Seq("k")))
  }

  /** Merge two ONE-ROW stats tables by addition. Deliberately a
    * full-outer join on the key, NOT `union.groupBy(k)`: Spark 4.1
    * plans an aggregate keyed on the bucket column directly above a
    * Union of two same-bucket-spec catalog tables WITHOUT the merge
    * exchange (each table's partial lands in its own partition and the
    * final agg runs per-partition — one key, two output rows; probed
    * and pinned in RetrievalTombstoneSpec's hazard test). Joins over
    * such unions DO get the exchange (EnsureRequirements treats the
    * join's co-partitioning strictly), which is why the q122/q126/q130
    * serving unions are safe — the hazard is bucket-key AGGREGATES
    * above table unions, and every monoid merge in this file avoids
    * the shape. Full-outer with zero fill (mergeDf's shape, replacing
    * the round-12 crossJoin): an EMPTY side — an empty batch split, an
    * empty q159 shard glob — contributes zeros instead of annihilating
    * the merge into zero rows and silently serving nothing.
    */
  private[graft] def mergeStats(a: DataFrame, b: DataFrame,
      sign: Int): DataFrame =
    a.select(col("k"), col("n_docs").as("a_n"), col("sum_len").as("a_len"))
      .join(b.select(col("k"), col("n_docs").as("b_n"),
        col("sum_len").as("b_len")), Seq("k"), "full_outer")
      .select(col("k"),
        (coalesce(col("a_n"), lit(0L)) +
          lit(sign.toLong) * coalesce(col("b_n"), lit(0L))).as("n_docs"),
        (coalesce(col("a_len"), lit(0L)) +
          lit(sign.toLong) * coalesce(col("b_len"), lit(0L))).as("sum_len"))

  /** Merge df tables by the count monoid (full outer on term, zeros
    * fill) — or, negated, retract one from the other.
    */
  private[graft] def mergeDf(a: DataFrame, b: DataFrame,
      sign: Int): DataFrame = {
    val l = a.withColumnRenamed("df", "a_df")
    val r = b.withColumnRenamed("df", "b_df")
    l.join(r, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("a_df"), lit(0L)) +
          lit(sign.toLong) * coalesce(col("b_df"), lit(0L))).as("df"))
      .filter(col("df") > 0)
  }

  /** Serve BM25 from a normalized-layout index: queries broadcast into
    * postings, df joined term-keyed at query time, stats broadcast.
    */
  private[graft] def serveNormalized(s: SparkSession, post: DataFrame,
      dfreq: DataFrame, stats: DataFrame): DataFrame = {
    val st = stats.select(col("n_docs"),
      (col("sum_len").cast("double") / col("n_docs")).as("avgdl"))
    val scored = broadcast(queryDf(s))
      .join(post, "term")
      .join(dfreq, "term")
      .crossJoin(broadcast(st))
      .withColumn("s_e4", scoreE4)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("s_e4")).as("score_e4"))
    topkOf(scored)
  }

  // ---- q161: phrase matching over a positional index -----------------------

  /** Fixed phrase batch (mixed 2- and 3-term), drawn from measured
    * corpus bigram/trigram frequencies so every phrase has matches at
    * every tier.
    */
  private[graft] val PhraseBatch: Seq[(Long, String)] = Seq(
    1L -> "table hash", 2L -> "customer join", 3L -> "merge order",
    4L -> "filter small", 5L -> "slow hash batch", 6L -> "stream table hash")

  /** How many times the positional posting artifact was written. */
  private[graft] val posPostingWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Positional postings (term, doc_id, pos) of an arbitrary doc frame —
    * pure per-doc facts: a document's rows depend on nothing outside the
    * document, which is what makes the positional store's maintenance
    * verbs (q161c/q165d/q161d) plain appends and anti-joins with
    * fold-equals-rebuild exact by construction.
    */
  private[graft] def posPostingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(regexp_extract_all(
        lower(col("text")), lit("[a-z0-9]+"), lit(0))))
      .toDF("doc_id", "pos", "term")
      .select(col("term"), col("doc_id"), col("pos"))

  /** Write-once POSITIONAL posting table (term, doc_id, pos), bucketed
    * by term — the staged layout q161/q165 serve from in production
    * (the ~2× index-bytes positional price, paid once at build). The
    * corpus text is tokenized exactly once however many phrase or
    * proximity batches run afterwards.
    */
  private[graft] def posPostingArtifact(s: SparkSession,
      d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "pos_postings",
      s"$d/documents.parquet", {
        posPostingWrites.incrementAndGet()
        posPostingsOf(Tables.documents(s, d))
      }, 8, Seq("term"))

  // ---- positional-store maintenance verbs (q161c / q165d / q161d) ---------
  //
  // The write-once table above serves a FROZEN corpus; a daily-ingest
  // corpus needs the verb set every other staged family already carries
  // (SURVEY §8.1). Because positional postings are per-doc facts with NO
  // corpus-global statistic (the df that forces q157's normalized layout
  // has no analogue here — anchors and pair distances read only the
  // matched rows), the verbs are the simplest in the suite:
  //   - q161c INSERT: an arriving batch appends O(|batch postings|) rows
  //     into its own term-bucketed leaf; serving unions base ∪ batch
  //     (bucket-co-located, no re-tokenize, no base rewrite);
  //   - q165d DELETE: tombstoned docs' postings broadcast-anti-joined
  //     out at serve (the q155/q158 shape); nothing retracts because
  //     nothing is corpus-global;
  //   - q161d CONTINUOUS (StreamingQueries): each micro-batch writes
  //     its own postings shard into a [[FoldStore]].
  // Every verb serves rows provably identical to a from-scratch index
  // over the resulting corpus, so the oracles are the q161/q165 replays
  // (full corpus for insert/continuous, survivors for delete).

  /** Spec counter: the incremental base leaf builds once across verbs. */
  private[graft] val posBaseWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Write-once positional-posting leaf of one corpus split (q157's
    * convention: doc_id % 10 == 0 arrives, the rest is the frozen base).
    * One physical store shared by every positional verb — q161c/q165d/
    * q161d all maintain THESE tables, not private copies.
    */
  private[graft] def posIdx(s: SparkSession, d: String, leaf: String,
      docs: => DataFrame): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), s"q161c_pos_$leaf",
      s"$d/documents.parquet", {
        // counter keyed on the LEAF, inside the build thunk: the
        // write-once invariant ("the base builds once across verbs")
        // must hold no matter which verb touches the shared leaf first
        // (round-13 advice: a caller-passed flag left the counter 0
        // when q161d built the base before q161c did).
        if (leaf == "base") posBaseWrites.incrementAndGet()
        posPostingsOf(docs)
      }, 8, Seq("term"))

  /** The maintained positional frame: frozen base ∪ arriving batch. */
  private[graft] def posMaintained(s: SparkSession, d: String): DataFrame =
    posIdx(s, d, "base", q157Corpus(s, d))
      .unionByName(posIdx(s, d, "batch", q157Batch(s, d)))

  /** q165d's landed doc tombstones — write-once staged side table (the
    * q162_tombs shape): O(|tombstones|) rows land once; serving
    * broadcasts this instead of re-deriving the id set from a
    * documents scan.
    */
  private[graft] def posTombArtifact(s: SparkSession, d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "q165d_tombs",
      s"$d/documents.parquet",
      Dedup.tombstonesOf(Tables.documents(s, d)).select(col("doc_id")),
      8, Seq("doc_id"))

  // ---- q161e: positional-store COMPACTION ---------------------------------
  //
  // The closer that completes the family's LSM arc (insert q161c /
  // delete q165d / continuous q161d / COMPACT here): fold the batch
  // leaf into the base and scrub the landed tombstones in ONE
  // marker-guarded base rewrite (a [[Bucketed.Store]] compaction — the
  // batch leaf is the truncated delta), then GC the tombstone side table.
  // The tombstone truncate runs AFTER the swap and needs no marker of
  // its own: post-swap the landed ids are already anti-joined out of
  // the base, so re-anti-joining them is a no-op (the q155 latest-wins
  // class) — a crash before the truncate leaves a correct-serving
  // store and the next compact re-truncates. At 100 TB the truncate is
  // a metadata op; here it rewrites an O(|tombstones|) table.
  // Per the q126 namespacing rule the compaction owns COPIES of the
  // three stores — q161c/q165d/q161d keep serving their pristine ones.

  /** Spec counter: the q161e store copies stage once. */
  private[graft] val q161eWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The positional store: base and batch leaf. Its compaction merge
    * also reads the tombstones, so it is driven by [[q161eCompact]]
    * rather than a [[Bucketed.Family]].
    */
  private[graft] val q161eStore = Bucketed.Store("q161e_pos_base",
    "q161e_pos_batch", "q161e_compact_pending", 8, Seq("term"))

  private[graft] def q161eBase(s: SparkSession, d: String): DataFrame =
    q161eStore.stageBase(s, Bucketed.dbFor(d), s"$d/documents.parquet") {
      q161eWrites.incrementAndGet()
      posIdx(s, d, "base", q157Corpus(s, d))
    }

  private[graft] def q161eBatch(s: SparkSession, d: String): DataFrame =
    q161eStore.stageDelta(s, Bucketed.dbFor(d), s"$d/documents.parquet")(
      posIdx(s, d, "batch", q157Batch(s, d)))

  private[graft] def q161eTombs(s: SparkSession, d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "q161e_tombs",
      s"$d/documents.parquet", posTombArtifact(s, d), 8, Seq("doc_id"))

  /** Serving view at every compaction state: (base ∪ batch) minus the
    * landed tombstones. Pre-compact this is the maintained store;
    * post-compact batch and tombs are empty and it degenerates to the
    * base scan — identical rows by construction at every crash point.
    */
  private[graft] def q161eServeFrame(s: SparkSession, d: String): DataFrame =
    q161eBase(s, d).unionByName(q161eBatch(s, d))
      .join(broadcast(q161eTombs(s, d)), Seq("doc_id"), "left_anti")

  /** Recover, then — when the batch leaf or the tombstone store holds
    * anything — fold both into the base and GC the tombstones.
    */
  private[graft] def q161eCompact(s: SparkSession, d: String): Unit = {
    val db = Bucketed.dbFor(d)
    q161eStore.recover(s, db)
    if (q161eBatch(s, d).limit(1).count() > 0 ||
        q161eTombs(s, d).limit(1).count() > 0) {
      q161eStore.compact(s, db, q161eServeFrame(s, d))
      // tombstone-store GC (no marker — see the section comment)
      Bucketed.rewriteBucketed(s, db, "q161e_tombs",
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          s.table(s"$db.q161e_tombs").schema), 8, Seq("doc_id"))
    }
  }

  /** The q161 anchor-count body over ANY positional posting frame. */
  private[graft] def phraseMatchOver(s: SparkSession,
      post: DataFrame): DataFrame = {
    import s.implicits._
    val pq = PhraseBatch.flatMap { case (id, p) =>
      val ts = p.split(' ')
      ts.zipWithIndex.map { case (t, i) =>
        (id, t, i.toLong, ts.length.toLong)
      }
    }.toDF("phrase_id", "term", "off", "plen")
    post.join(broadcast(pq), "term")
      .groupBy(col("phrase_id"), col("doc_id"),
        (col("pos") - col("off")).as("anchor"), col("plen"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") === col("plen"))
      .groupBy(col("phrase_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("phrase_id"), col("doc_id"))
  }

  /** q165's proximity window and term-pair batch (query_id, a, b). */
  private[graft] val ProxK = 4L
  private[graft] val ProximityBatch: Seq[(Long, String, String)] = Seq(
    (1L, "hash", "join"), (2L, "table", "scan"),
    (3L, "merge", "slow"), (4L, "customer", "query"))

  /** q165c's per-(term, doc) position cap — the standard positional-
    * index truncation: the pair join is bounded at cap² per (query,
    * doc) REGARDLESS of tf, which is the stop-word defense q165's
    * Scaladoc promises. 8 keeps every content-word list intact on this
    * corpus while the spec plants a binding case.
    */
  private[graft] val PosCap = 8

  /** Spec counter: the capped positional artifact builds once. */
  private[graft] val cappedPosWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Write-once CAPPED positional posting table: the first [[PosCap]]
    * positions of each (term, doc) list, truncated at INDEX BUILD (paid
    * once — a serve-time window over the full table would re-shuffle
    * the corpus per query batch). The rank filter is the LocalTopKPerKey
    * shape, so the build's shuffle carries ≤ cap rows per (term, doc)
    * from the map side.
    */
  private[graft] def cappedPosArtifact(s: SparkSession, d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "pos_postings_capped",
      s"$d/documents.parquet", {
        cappedPosWrites.incrementAndGet()
        posPostingArtifact(s, d)
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("term"), col("doc_id"))
              .orderBy(col("pos"))))
          .filter(col("rk") <= PosCap)
          .select(col("term"), col("doc_id"), col("pos"))
      }, 8, Seq("term"))

  /** The q165 within-k body over ANY positional posting frame. */
  private def proximityOver(s: SparkSession,
      post: DataFrame): DataFrame = {
    import s.implicits._
    val qa = ProximityBatch.map { case (id, a, _) => (id, a) }
      .toDF("query_id", "term")
    val qb = ProximityBatch.map { case (id, _, b) => (id, b) }
      .toDF("query_id", "term")
    val pa = post.join(broadcast(qa), "term")
      .select(col("query_id"), col("doc_id"), col("pos").as("pa"))
    val pb = post.join(broadcast(qb), "term")
      .select(col("query_id"), col("doc_id"), col("pos").as("pb"))
    pa.join(pb, Seq("query_id", "doc_id"))
      .withColumn("dist", abs(col("pa") - col("pb")))
      .filter(col("dist") >= 1 && col("dist") <= ProxK)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(min(col("dist")).as("min_dist"),
        count(lit(1)).as("n_pairs"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("min_dist"), col("n_pairs").desc,
            col("doc_id"))).cast("long"))
      .filter(col("rk") <= BmTopK)
      .select(col("query_id"), col("doc_id"), col("min_dist"),
        col("n_pairs"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  // ---- bench artifact staging (round-13 verdict #1; see Dedup's section) --

  /** Stage every write-once retrieval store (BM25 denormalized +
    * normalized leaves, positional full/capped/maintained leaves,
    * tombstone side tables).
    */
  private[graft] def retrievalStaged(s: SparkSession, d: String): Unit = {
    postingArtifact(s, d); statsArtifact(s, d)
    idx157(s, d, "base", q157Corpus(s, d), counter = true)
    idx157(s, d, "batch", q157Batch(s, d))
    posPostingArtifact(s, d); cappedPosArtifact(s, d)
    posMaintained(s, d); posTombArtifact(s, d); ()
  }

  /** Stage the q161e store copies and run the compaction to steady
    * state (one-shot transition — see Dedup's staging section).
    */
  private[graft] def q161eStaged(s: SparkSession, d: String): Unit =
    q161eCompact(s, d)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q161 — PHRASE MATCH: exact consecutive-token phrases over a
    // positional posting list, the second classic retrieval primitive
    // (BM25 ranks bags of words; phrase/proximity needs positions). One
    // pass, no per-phrase rescan: the phrase batch flattens to
    // broadcast (phrase_id, term, offset, len) rows, every matched
    // posting projects its ANCHOR (pos − offset), and an anchor with
    // all `len` offsets present is one occurrence — a single postings
    // scan + one (phrase, doc, anchor)-keyed count regardless of
    // phrase count or length. Correct under repeated phrase terms too:
    // for a fixed (doc, anchor) each offset contributes at most one row
    // (document positions are unique), so count == len ⟺ every offset
    // matched. At 100 TB the positional store stages like q152's
    // postings (term-bucketed, positions as an extra column — ~2× the
    // index bytes, the classic positional-index price); here it is
    // derived inline and the shuffle is the matched-posting mass.
    "q161_phrase_match" -> ((s, d) =>
      phraseMatchOver(s, Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), posexplode(regexp_extract_all(
          lower(col("text")), lit("[a-z0-9]+"), lit(0))))
        .toDF("doc_id", "pos", "term"))),

    // q161b — STAGED phrase matching: the same anchor algebra over the
    // write-once term-bucketed positional posting table. Serving never
    // touches documents.parquet (plan-asserted), so any number of
    // phrase/proximity batches amortize one tokenize pass — the
    // production positional-index shape. Rows identical to q161; one
    // shared oracle.
    "q161b_phrase_staged" -> ((s, d) =>
      phraseMatchOver(s, posPostingArtifact(s, d))),

    // q165 — PROXIMITY retrieval: unordered co-occurrence within a
    // k-token window, the third positional primitive (BM25 = bags,
    // q161 = exact adjacency, q165 = nearness). Per 2-term query: the
    // two terms' postings join PER DOC and a pair within distance
    // [[ProxK]] scores; output is each query's matching docs with the
    // exact MINIMUM distance and the within-window pair count —
    // integers, rank-cut by (min_dist asc, n_pairs desc, doc_id). The
    // per-doc position join is |pos(t1)|·|pos(t2)| — bounded by tf²,
    // ~25 here and fine for content words; the honest 100-TB caveat is
    // stop-word pairs, where the standard levers are tf caps or
    // galloping intersection inside a custom kernel. Shuffle is the
    // matched-posting mass keyed by (query, doc), same class as q151.
    "q165_proximity" -> ((s, d) =>
      proximityOver(s, Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), posexplode(regexp_extract_all(
          lower(col("text")), lit("[a-z0-9]+"), lit(0))))
        .toDF("doc_id", "pos", "term"))),

    // q165b — staged proximity: the within-k body over the write-once
    // positional table q161b shares — one tokenize pass serves every
    // positional primitive. Rows identical to q165; one shared oracle.
    "q165b_proximity_staged" -> ((s, d) =>
      proximityOver(s, posPostingArtifact(s, d))),

    // q165c — CAPPED proximity: the stop-word defense as a real lever,
    // not a Scaladoc caveat. Serving runs the identical within-k body
    // over the build-time-truncated positional table ([[cappedPosArtifact]]),
    // so the per-doc pair join is ≤ [[PosCap]]² however long the
    // document or common the term — the bound that keeps
    // stop-word × stop-word queries from going tf² at 100 TB. The
    // DEFINED semantics is "proximity over each list's first PosCap
    // positions" (the classic truncated-index contract — early
    // positions carry the signal); the oracle replays exactly that, and
    // the spec plants a binding case to show where truncation changes
    // the answer vs q165.
    "q165c_proximity_capped" -> ((s, d) =>
      proximityOver(s, cappedPosArtifact(s, d))),

    // q161e — positional-store COMPACTION (see the q161e section
    // comment): recover any interrupted swap, fold batch + tombstones
    // into the base when either store is non-empty, serve phrase
    // matching from the compacted view. Oracle = the phrase replay over
    // the SURVIVORS — identical rows before, during (any crash state),
    // and after the compaction, which is what the hash proves.
    "q161e_pos_compact" -> ((s, d) => {
      q161eCompact(s, d)
      phraseMatchOver(s, q161eServeFrame(s, d))
    }),

    // q161c — INCREMENTAL positional maintenance: the arriving tenth's
    // postings land as their own term-bucketed leaf (O(|batch|) rows,
    // the base never rescanned or rewritten — positional postings are
    // per-doc facts, so the fold is a pure append with exact semantics,
    // not even q157's monoid merge). Phrase serving over base ∪ batch is
    // row-identical to the from-scratch index: one shared q161 oracle.
    "q161c_phrase_incremental" -> ((s, d) =>
      phraseMatchOver(s, posMaintained(s, d))),

    // q165d — positional-store DELETION: tombstoned docs' postings
    // broadcast-anti-joined out of the maintained store at serve (the
    // q155/q158 shape; nothing retracts — no corpus-global statistic
    // exists in this layout). The tombstone id set is itself a staged
    // side table (the q162_tombs landed-set model): takedowns land
    // O(|tombstones|) rows once and every serve broadcasts THAT, never
    // re-deriving the set from a corpus scan. With q161c and q161d the
    // positional store carries the full insert/delete/continuous verb
    // set every other staged family has. Oracle: the proximity replay
    // over the survivors.
    "q165d_proximity_tombstone" -> ((s, d) =>
      proximityOver(s, posMaintained(s, d).join(
        broadcast(posTombArtifact(s, d)), Seq("doc_id"), "left_anti"))),

    // q157 — INCREMENTAL index maintenance (normalized-df layout; see
    // the section comment): batch postings appended, df/stats merged by
    // the count monoid — the base is never rescanned or rewritten, and
    // serving df is EXACT, not stale-until-compaction.
    "q157_bm25_incremental" -> ((s, d) => {
      val (bPost, bDf, bStats) =
        idx157(s, d, "base", q157Corpus(s, d), counter = true)
      val (nPost, nDf, nStats) = idx157(s, d, "batch", q157Batch(s, d))
      val post = bPost.unionByName(nPost)
      val dfreq = mergeDf(bDf, nDf, 1)
      serveNormalized(s, post, dfreq, mergeStats(bStats, nStats, 1))
    }),

    // q158 — index DELETION: tombstoned docs' postings anti-joined out
    // (broadcast), df/stats retracted by the group inverses. Together
    // with q157 the inverted index has the full verb set; the oracle is
    // the from-scratch replay over the survivors.
    "q158_bm25_tombstone" -> ((s, d) => {
      val (bPost, bDf, bStats) =
        idx157(s, d, "base", q157Corpus(s, d), counter = true)
      val (nPost, nDf, nStats) = idx157(s, d, "batch", q157Batch(s, d))
      val tombs = graft.operators.Dedup.tombstonesOf(Tables.documents(s, d))
      // the deletion batch's own index terms — O(|tombstones|) work, the
      // group-inverse side of the retraction (postings unused: the base
      // side is anti-joined instead of recomputed)
      val (_, tDf, tStats) = bm25IndexOf(Tables.documents(s, d)
        .join(broadcast(tombs), Seq("doc_id"), "left_semi"))
      val post = bPost.unionByName(nPost)
        .join(broadcast(tombs), Seq("doc_id"), "left_anti")
      val dfreq = mergeDf(mergeDf(bDf, nDf, 1), tDf, -1)
      val stats = mergeStats(mergeStats(bStats, nStats, 1), tStats, -1)
      serveNormalized(s, post, dfreq, stats)
    }),
    // q151 — self-contained BM25 top-k: tf/df/len from the corpus scan,
    // query terms broadcast, integer-exact rank cut. The df agg and the
    // (query, doc) partial-sum agg are the only shuffles; both are
    // match-mass-sized, with map-side partial aggregation.
    "q151_bm25_topk" -> ((s, d) => bm25SelfContained(s, d, scoreE4)),

    // q151b — TEXTBOOK BM25 (ln idf): identical pipeline with the marked
    // idf factor swapped to ln(1 + idf_r). no_oracle by design (`ln` is
    // outside the suite's transcendental-free oracle contract); gated by
    // RetrievalSpec's permanent set-agreement tolerance vs q151.
    "q151b_bm25_ln" -> ((s, d) => bm25SelfContained(s, d, scoreE4Ln)),

    // q152 — staged BM25 serving: broadcast query terms probe the
    // write-once term-bucketed posting table (no corpus scan, no posting
    // reshuffle); stats row broadcast for avgdl. Rows identical to q151.
    "q152_bm25_staged" -> ((s, d) => {
      val post = postingArtifact(s, d)
      val stats = statsArtifact(s, d)
        .select(col("n_docs"),
          (col("sum_len").cast("double") / col("n_docs")).as("avgdl"))
      val scored = broadcast(queryDf(s))
        .join(post, "term")
        .crossJoin(broadcast(stats))
        .withColumn("s_e4", scoreE4)
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_hit"), sum(col("s_e4")).as("score_e4"))
      topkOf(scored)
    })
  )

  /** The q151 self-contained body, scorer-parameterized so q151 (rational
    * idf, oracle-exact) and q151b (textbook ln idf, tolerance-gated)
    * share one pipeline: tf/df/len from the corpus scan, query terms
    * broadcast, integer-exact rank cut.
    */
  private def bm25SelfContained(s: SparkSession, d: String,
      scorer: org.apache.spark.sql.Column): DataFrame = {
    val tf = tfOf(Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = tf.select(col("doc_id"), col("len")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("len")).cast("double") / count(lit(1))).as("avgdl"))
    val matched = broadcast(queryDf(s))
      .join(tf, "term").join(dfreq, "term")
      .crossJoin(broadcast(stats))
    val scored = matched
      .withColumn("s_e4", scorer)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("s_e4")).as("score_e4"))
    topkOf(scored)
  }

  /** One BM25 oracle over an arbitrary docs relation — shared verbatim
    * by every physical shape (inline, staged, incrementally maintained)
    * and, filtered, by the deletion form.
    */
  private def bm25SqlFrom(docsRel: String): String = {
    val qvals = QueryBatch
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $qvals),
       | tok AS (SELECT doc_id,
       |     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |   FROM $docsRel),
       | dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
       | tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |        GROUP BY doc_id, term),
       | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       | st AS (SELECT count(*) AS n_docs,
       |     sum(len)::DOUBLE / count(*) AS avgdl FROM dl),
       | sc AS (SELECT q.query_id, tf.doc_id,
       |     CAST(ROUND(
       |       (st.n_docs - dfreq.df + 0.5::DOUBLE) / (dfreq.df + 0.5::DOUBLE) *
       |       (tf.tf * 2.2::DOUBLE) /
       |       (tf.tf + 1.2::DOUBLE *
       |         (0.25::DOUBLE + 0.75::DOUBLE * dl.len / st.avgdl)) *
       |       10000.0::DOUBLE) AS BIGINT) AS s_e4
       |   FROM q JOIN tf USING (term) JOIN dfreq USING (term)
       |        JOIN dl ON dl.doc_id = tf.doc_id, st),
       | acc AS (SELECT query_id, doc_id, count(*) AS n_hit,
       |     CAST(sum(s_e4) AS BIGINT) AS score_e4
       |   FROM sc GROUP BY query_id, doc_id),
       | rk AS (SELECT query_id, doc_id, n_hit, score_e4,
       |     row_number() OVER (PARTITION BY query_id
       |       ORDER BY score_e4 DESC, doc_id) AS rk
       |   FROM acc)
       |SELECT query_id, doc_id, n_hit, score_e4, rk FROM rk
       |WHERE rk <= $BmTopK ORDER BY query_id, rk""".stripMargin
  }

  private lazy val bm25Sql: String = bm25SqlFrom("documents")

  def oracleSql: Map[String, String] = Map(
    "q151_bm25_topk" -> bm25Sql,
    "q152_bm25_staged" -> bm25Sql,
    // q157 serves provably the full-corpus index (append + monoid
    // merges are exact), so its oracle is the identical replay
    "q157_bm25_incremental" -> bm25Sql,
    // q158: the same replay over the survivors — postings removed, df
    // and stats retracted by group inverses
    "q158_bm25_tombstone" -> bm25SqlFrom(
      s"(SELECT * FROM documents WHERE doc_id % ${Dedup.TombMod}" +
        s" <> ${Dedup.TombRes})"),

    // q165/q165b: the same per-doc position join; 1- vs 0-based
    // positions cancel in the distance; the staged form shares the
    // replay (physical layout only)
    "q165b_proximity_staged" -> proximitySql,
    "q165_proximity" -> proximitySql,
    "q165c_proximity_capped" -> proximityCappedSql,

    // q161/q161b: the same anchor algebra in SQL — positions are
    // 1-based in DuckDB vs 0-based in Spark, a constant shift that
    // cancels in the anchor equality, so n_occ is engine-identical;
    // the staged form is a physical-layout change, one shared replay
    "q161b_phrase_staged" -> phraseSql,
    "q161_phrase_match" -> phraseSql,
    // q161c: append + union serves exactly the full-corpus positional
    // index (per-doc facts — fold-equals-rebuild is definitional), so
    // the oracle is the identical full replay
    "q161c_phrase_incremental" -> phraseSql,
    // q165d: the proximity replay over the tombstone survivors
    "q165d_proximity_tombstone" -> proximitySqlOver(tokCteFrom(
      s"(SELECT * FROM documents WHERE doc_id % ${Dedup.TombMod}" +
        s" <> ${Dedup.TombRes})")),
    // q161e: the phrase replay over the survivors — the compaction
    // (fold + scrub + GC) must be invisible at serve
    "q161e_pos_compact" -> phraseSqlFrom(
      s"(SELECT * FROM documents WHERE doc_id % ${Dedup.TombMod}" +
        s" <> ${Dedup.TombRes})")
  )

  /** The shared proximity replay over a parameterized positional CTE
    * (`tok(doc_id, term, pos)` must be defined by `tokCtes`).
    */
  private def proximitySqlOver(tokCtes: String): String = {
    val qvals = ProximityBatch
      .map { case (id, a, b) => s"($id, '$a', '$b')" }.mkString(", ")
    s"""WITH q(query_id, ta, tb) AS (VALUES $qvals),
       | $tokCtes,
       | pa AS (SELECT q.query_id, tok.doc_id, tok.pos AS p1
       |   FROM tok JOIN q ON tok.term = q.ta),
       | pb AS (SELECT q.query_id, tok.doc_id, tok.pos AS p2
       |   FROM tok JOIN q ON tok.term = q.tb),
       | prs AS (SELECT pa.query_id, pa.doc_id, abs(p1 - p2) AS dist
       |   FROM pa JOIN pb ON pa.query_id = pb.query_id
       |     AND pa.doc_id = pb.doc_id
       |   WHERE abs(p1 - p2) BETWEEN 1 AND $ProxK),
       | agg AS (SELECT query_id, doc_id,
       |     CAST(min(dist) AS BIGINT) AS min_dist,
       |     count(*) AS n_pairs
       |   FROM prs GROUP BY query_id, doc_id),
       | rk AS (SELECT query_id, doc_id, min_dist, n_pairs,
       |     row_number() OVER (PARTITION BY query_id
       |       ORDER BY min_dist, n_pairs DESC, doc_id) AS rk
       |   FROM agg)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, min_dist,
       |  n_pairs, rk FROM rk
       |WHERE rk <= $BmTopK ORDER BY query_id, rk""".stripMargin
  }

  private def tokCteFrom(docsRel: String): String =
    s"""tok AS (SELECT doc_id,
       |     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
       |     generate_subscripts(
       |       regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
       |   FROM $docsRel)""".stripMargin

  private val fullTokCte: String = tokCteFrom("documents")

  private lazy val proximitySql: String = proximitySqlOver(fullTokCte)

  /** q165c: the same replay with each (term, doc) list truncated to its
    * first [[PosCap]] positions — the capped index's defined contract.
    */
  private lazy val proximityCappedSql: String = proximitySqlOver(
    s"""tok0 AS (SELECT doc_id,
       |     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
       |     generate_subscripts(
       |       regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
       |   FROM documents),
       | tokr AS (SELECT doc_id, term, pos,
       |     row_number() OVER (PARTITION BY term, doc_id ORDER BY pos)
       |       AS prk
       |   FROM tok0),
       | tok AS (SELECT doc_id, term, pos FROM tokr WHERE prk <= $PosCap)"""
      .stripMargin)

  private def phraseSqlFrom(docsRel: String): String = {
      val pqVals = PhraseBatch.flatMap { case (id, p) =>
        val ts = p.split(' ')
        ts.zipWithIndex.map { case (t, i) =>
          s"($id, '$t', $i, ${ts.length})"
        }
      }.mkString(", ")
      s"""WITH pq(phrase_id, term, off, plen) AS (VALUES $pqVals),
         | ${tokCteFrom(docsRel)},
         | m AS (SELECT pq.phrase_id, tok.doc_id,
         |     tok.pos - pq.off AS anchor, pq.plen
         |   FROM tok JOIN pq USING (term)),
         | a AS (SELECT phrase_id, doc_id, anchor, plen, count(*) AS c
         |   FROM m GROUP BY phrase_id, doc_id, anchor, plen),
         | occ AS (SELECT phrase_id, doc_id,
         |     CAST(count(*) AS BIGINT) AS n_occ
         |   FROM a WHERE c = plen GROUP BY phrase_id, doc_id)
         |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id, n_occ
         |FROM occ ORDER BY phrase_id, doc_id""".stripMargin
  }

  private lazy val phraseSql: String = phraseSqlFrom("documents")
}
