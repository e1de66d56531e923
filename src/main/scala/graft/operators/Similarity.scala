package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity operators over `embeddings` (64-dim float
  * vectors). Q25 (brute-force cosine top-k vs a literal query) lives in
  * [[Pipeline]]; these are the *scale-path* variants:
  *
  *  - q35: embedding near-dup pairs within a blocking key (`label` — in a
  *    real corpus: shard / source / cluster id), LSH-banded inside the
  *    block: candidates must share (label, band, key), so pair generation
  *    is an equi-join that stays linear in candidates even when blocks
  *    grow with the corpus. q35b is the exact Σblock² opt-in for bounded
  *    blocks.
  *  - q36: IVF-style ANN: vectors are assigned to 1 of 256 cells by the
  *    sign pattern of their first 8 dims (axis-aligned hyperplane
  *    quantizer). The query probes its own cell plus the 8 cells at
  *    hamming distance 1 (9/256 of the data — at 100 TB the cell id is a
  *    partition key, so this becomes partition pruning on the scan), then
  *    ranks candidates by exact cosine. Deterministic, so the DuckDB
  *    oracle replays the identical arithmetic. Recall envelope (measured,
  *    OperatorSpec "q36 IVF recall on clustered embeddings"): 2/10 on the
  *    UNIFORM synthetic testdata — the worst case for any cell quantizer,
  *    every cell border equally populated so true neighbors scatter —
  *    but 10/10 on tight Gaussian clusters (σ=0.25, member-centroid cos
  *    ≈0.94) and 8/10 on loose ones (σ=0.5, cos ≈0.82), the regime real
  *    embedding corpora live in; spec floors 8/10 and 6/10. The exact
  *    baselines it is measured against are q25 (single query) and q85
  *    (batch).
  */
object Similarity {
  import Shared._

  private[graft] val CosT = 0.3

  /** q35's verify threshold. Sign-LSH banding (4 bands × 8 bits) only has
    * high candidate recall where the Charikar collision curve is steep —
    * at cos 0.8 (θ ≈ 36.9°) a band collides with (1 − θ/π)^8 ≈ 0.155 and
    * 4 bands find ~49% of pairs AT the threshold, rising fast above it
    * (~89% at cos 0.9, >99.9% at 0.98); at cos 0.3 the same bands find
    * ~6%. So the banded operator's contract is TRUE near-dups (τ ≥ 0.8) —
    * the regime dedup actually targets — and the low-τ similarity jobs
    * belong to the exact blocked q35b or IVF q36. The recall envelope is
    * measured, not argued: OperatorSpec plants perturbed near-dup pairs
    * and asserts ≥80% recall vs the exact all-pairs set at this
    * threshold.
    */
  val NearDupT = 0.8

  /** IVF cell = sign bits of the first 8 dims. private[graft]: PlanSpec
    * uses it to demonstrate the at-rest layout (table partitioned by
    * cell → probe is partition pruning on the scan).
    */
  private[graft] def cellOf(e: org.apache.spark.sql.Column) =
    (0 until 8).map(i =>
      when(element_at(e, i + 1) > 0.0d, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _).cast("long")

  /** Query cell + its 8 hamming-1 neighbors, computed once in Scala and
    * interpolated into both engines.
    */
  val queryCell: Int = {
    val qv = Pipeline.queryVec
    (0 until 8).map(i => if (qv(i) > 0) 1 << i else 0).sum
  }
  val probeCells: Seq[Int] = queryCell +: (0 until 8).map(i => queryCell ^ (1 << i))

  /** XOR masks generating a cell's 9-cell probe set (itself + hamming-1
    * neighbors) — the per-query generalization of [[probeCells]], shared
    * by q112's audit and its oracle.
    */
  val probeMasks: Seq[Long] = 0L +: (0 until 8).map(i => (1L << i))

  /** q112 recall depth: recall@10, the standard ANN serving contract. */
  private[graft] val AnnRecallK = 10

  /** q36b's probe budget — q36's 9 cells, now TRAINED ones. */
  private[graft] val TrainedProbeBudget = 9

  /** [[Pipeline.queryVec]] through the q97 integer quantization
    * (floor(x·1000)+1000 per dim), computed once in Scala and
    * interpolated into both engines as exact integer literals — the
    * coordinates q36b ranks trained centroids against.
    */
  private[graft] val quantQueryVec: Seq[Long] =
    Pipeline.queryVec.map(x => math.floor(x * 1000).toLong + 1000L)

  /** q117 probe widths: cumulative xor-mask sets for hamming radius
    * 0 / 1 / 2 around a query's cell (1, 9, and 37 cells). Interpolated
    * into both engines as explicit (width, mask) literals; the width
    * DOMAIN everywhere else derives from [[sweepWidths]], so adding a
    * radius here propagates to the exact side and the oracle.
    */
  private[graft] val probeWidths: Seq[(Int, Long)] = {
    val h2 = for (i <- 0 until 8; j <- i + 1 until 8)
      yield (1L << i) | (1L << j)
    (Seq(0L).map((0, _))) ++
      (Seq(0L) ++ (0 until 8).map(1L << _)).map((1, _)) ++
      (Seq(0L) ++ (0 until 8).map(1L << _) ++ h2).map((2, _))
  }

  /** The sweep's width domain, derived from [[probeWidths]]. */
  private[graft] val sweepWidths: Seq[Int] =
    probeWidths.map(_._1).distinct.sorted

  /** Normalized audit frame shared by q112/q117: (vec_id, v, nrm, cell),
    * zero vectors excluded (q85's NaN-cosine rationale).
    */
  private[graft] def annAuditFrame(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .withColumn("cell", cellOf(col("v")))

  /** q85's fixed deterministic query batch over the audit frame. */
  private[graft] def annAuditBatch(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 500 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cell").as("qcell"))
      .orderBy(col("q_id")).limit(AnnBatchSize)

  /** Exact brute-force top-[[AnnRecallK]] per query — the ground truth
    * both audits compare against (q85's broadcast-batch shape; cosine
    * rounded to 4 before the vec_id-tie-broken rank).
    */
  private[graft] def annExactTopK(e: DataFrame, q: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(
        dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= AnnRecallK)
      .select(col("q_id"), col("vec_id"))
  }

  /** Deterministic product-quantization codebook for q76: 8 subspaces ×
    * 4 centroids × 8 dims, cb(s)(c)(d) = sin(32s + 8c + d + 1). Like
    * [[Pipeline.queryVec]], the doubles are interpolated as exact
    * shortest-repr decimal literals into BOTH engines, so the binary
    * values are identical. (A production codebook comes from k-means —
    * q63 is that M-step; the assignment/compression operator is the
    * same regardless of how the codebook was trained.)
    */
  val pqCodebook: Seq[Seq[Seq[Double]]] =
    (0 until 8).map(sub => (0 until 4).map(c => (0 until 8).map(dd =>
      math.sin((32 * sub + 8 * c + dd + 1).toDouble))))

  /** The 4×8 sign-bit band keys shared by q35 and q64: band b hashes dims
    * 8b+1..8b+8 to the 8-bit sign pattern. Two vectors are LSH candidates
    * iff they agree on at least one whole band — the standard sign-LSH
    * collision curve (Charikar'02): P[bit agrees] = 1 − θ/π, so a band of
    * 8 bits collides with probability (1 − θ/π)^8 and high-cosine pairs
    * are found with high probability while distant pairs almost never
    * collide.
    */
  private def bandKeysOf(e: DataFrame, extraCols: Seq[String]): DataFrame =
    (0 until 4).map { b =>
      val key = (0 until 8).map(i =>
        when(element_at(col("emb"), 8 * b + i + 1) > 0.0d, lit(1 << i))
          .otherwise(lit(0))).reduce(_ + _)
      e.select((extraCols.map(col) :+ lit(b).as("band") :+
        key.cast("long").as("key") :+ col("vec_id")): _*)
    }.reduce(_ unionByName _)

  /** q35's core: sign-LSH-banded near-dup pairs within `label` blocks over
    * an (vec_id, label, emb: array<double>) frame. Candidates must share
    * (label, band, key) — an equi-join, linear in candidates — and only
    * candidates pay the exact-cosine verify at `threshold`. Factored out
    * so OperatorSpec can drive it over PLANTED near-dup vectors (the
    * synthetic testdata's max same-label cosine is 0.47, so the recall
    * envelope at the operator's real threshold can only be measured on
    * planted pairs).
    */
  /** q64's band geometry: the 64 raw sign bits form eight 8-bit groups;
    * a band is one of the C(8,2) = 28 group PAIRS, its key the 16-bit
    * concatenation. Round-4 q64 used 4 bands × 8 bits, whose random-
    * collision floor (4/256 per pair) made candidates QUADRATIC in the
    * corpus — measured ×100 at the 10× stress blow-up (SCALING.md
    * round-5 curves). 16-bit keys push the floor to 28/65536 ≈ 1/2340
    * (36× fewer random candidates at sf~1: ~85k vs 3.1M measured), and
    * 28 overlapping bands keep near-dup recall high: P[pair survives] =
    * 1 − (1 − p^16)^28 with p = 1 − θ/π, i.e. ~88% at cosine 0.95,
    * >99% at 0.98 — measured ≥80% on planted pairs (OperatorSpec). All
    * bits are raw per-dim sign comparisons — exact, no float summation
    * — so the DuckDB oracle replays them bit-for-bit.
    */
  private[graft] val bandPairs: Seq[(Int, Int)] =
    for { g <- 0 until 8; h <- g + 1 until 8 } yield (g, h)

  /** The sign-LSH band-join candidate stage alone — (vec_a, vec_b[, label])
    * pairs sharing a band key (and the label block when `blocked`), before
    * the exact-cosine verify. Exposed for [[graft.ScaleProbe]]'s candidate
    * growth measurement; q35 (blocked, 4 bands × 8 bits inside bounded
    * label blocks) and q64 (unblocked, [[bandPairs]] geometry) build on it.
    */
  private[graft] def bandedCandidates(e: DataFrame, blocked: Boolean): DataFrame =
    if (blocked) {
      val bands = bandKeysOf(e, Seq("label"))
      bands.alias("a")
        .join(bands.alias("b"), Seq("label", "band", "key"))
        .filter(col("a.vec_id") < col("b.vec_id"))
        .select(col("label"), col("a.vec_id").as("vec_a"),
          col("b.vec_id").as("vec_b"))
        .distinct()
    } else {
      // one narrow pass computes the eight group bytes, then explodes to
      // the 28 (band, key) rows — ids + 16-bit keys only on the shuffle
      val groupByte = (g: Int) => (0 until 8).map(i =>
        when(element_at(col("emb"), 8 * g + i + 1) > 0.0d, lit(1 << i))
          .otherwise(lit(0))).reduce(_ + _)
      val withBytes = e.select(
        col("vec_id") +: (0 until 8).map(g => groupByte(g).as(s"g$g")): _*)
      val bandArr = array(bandPairs.zipWithIndex.map { case ((g, h), b) =>
        struct(lit(b).as("band"),
          (col(s"g$g") * 256 + col(s"g$h")).cast("long").as("key"))
      }: _*)
      val bands = withBytes
        .select(col("vec_id"), explode(bandArr).as("bk"))
        .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      bands.alias("a")
        .join(bands.alias("b"), Seq("band", "key"))
        .filter(col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
    }

  /** Deterministic pseudo-random hyperplanes for [[hyperplaneCandidates]]:
    * `bands × bits` unit-cube directions over `dim` dims, components from
    * a splitmix64 stream seeded by (band, bit, dim) index — replayable
    * anywhere, no RNG state. Uniform[-1,1) components are direction-
    * biased toward cube corners vs true Gaussians, which only flattens
    * the sign-LSH collision curve slightly — the planted-pair spec
    * measures the recall that survives the bias instead of assuming it.
    */
  private[graft] def hyperplanes(
      bands: Int, bits: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    def mix(seed: Long): Long = {
      var z = (seed + 1L) * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until bands).map(b => (0 until bits).map(j => (0 until dim).map { i =>
      (mix(((b.toLong * 4096 + j) * 4096 + i)) >>> 11) *
        (2.0 / (1L << 53)) - 1.0
    }))
  }

  /** q64's GROWTH-PATH candidate stage: band keys from signs of random-
    * hyperplane projections instead of raw per-dim signs. The raw-sign
    * geometry ([[bandPairs]]) tops out at 64 key bits total — past ~1e8
    * vectors (or past 64 dims, where raw signs ignore the extra signal)
    * the random-collision floor needs MORE bits, and hyperplane
    * projections mint arbitrarily many: bit j of band b = sign of
    * dot(emb, h_bj). Works at any dim; bits is the log2(n) knob (floor
    * per band = 2^-bits of all pairs). Costs bands×bits vec_dot kernels
    * per row in one narrow projection — the shuffle still carries ids +
    * keys only. Flag-gated for q64 (`spark.graft.q64.hyperplanes=true`,
    * with `spark.graft.q64.bands`/`.bits`, default 16×20); the oracle
    * default stays the exact-replay raw-sign variant, so this path's
    * envelope is pinned by the planted-pair spec (OperatorSpec: ≥80% at
    * τ=0.8 planting, measured at 64 AND 128 dims), not DuckDB.
    */
  private[graft] def hyperplaneCandidates(
      e: DataFrame, bands: Int, bits: Int, dim: Int): DataFrame = {
    require(bits <= 62, s"band key must fit a long, got $bits bits")
    val hp = hyperplanes(bands, bits, dim)
    val bandArr = array((0 until bands).map { b =>
      val key = (0 until bits).map { j =>
        when(Shared.dot(col("emb"), typedLit(hp(b)(j))) > 0.0d,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), key.as("key"))
    }: _*)
    val keyed = e.select(col("vec_id"), explode(bandArr).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    keyed.alias("a").join(keyed.alias("b"), Seq("band", "key"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  def bandedNearDupPairs(e: DataFrame, threshold: Double): DataFrame = {
    val cand = bandedCandidates(e, blocked = true)
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b")), "vec_b")
      .withColumn("cos", round(cosine(col("emb_a"), col("emb_b")), 4))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("label"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** q76's 8 PQ code columns (c0..c7) from a 64-dim double-array column:
    * deterministic nearest-of-4 squared-L2 argmin per subspace, ties to
    * the lowest code; the DuckDB oracle replays the identical
    * left-associated arithmetic. Shared with q90's IVF-PQ search.
    */
  private[graft] def pqCodes(emb: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    (0 until 8).map { sub =>
      val dists = (0 until 4).map { c =>
        (0 until 8).map { dd =>
          val x = element_at(emb, 8 * sub + dd + 1)
          val l = lit(pqCodebook(sub)(c)(dd))
          (x - l) * (x - l)
        }.reduce(_ + _)
      }
      when(dists(0) <= dists(1) && dists(0) <= dists(2) &&
          dists(0) <= dists(3), 0L)
        .when(dists(1) <= dists(2) && dists(1) <= dists(3), 1L)
        .when(dists(2) <= dists(3), 2L)
        .otherwise(3L).as(s"c$sub")
    }

  /** q90's exact-re-rank depth: the ADC pass keeps this many best
    * approximate candidates, the exact cosine re-ranks only them. 100
    * (not 50) because the deliberately tiny 4-entry-per-subspace
    * codebook ranks coarsely — measured on the clustered spec corpus,
    * depth 50 finds 7/10 of the exact top-10 at σ=0.25 and depth 100
    * finds enough to hold q36's own floors; a production IVF-PQ tunes
    * exactly this knob against its trained codebook.
    */
  private[graft] val PqRerank = 100

  /** q90's ADC (asymmetric distance computation) table: adcTable(s)(c) =
    * ||query_sub_s − codebook(s)(c)||², 8×4 doubles computed ONCE from
    * the query on the driver and interpolated as exact literals into
    * both engines — per probed row the approximate distance is just 8
    * CASE lookups + 7 adds, no vector arithmetic at all.
    */
  private[graft] val adcTable: Seq[Seq[Double]] =
    (0 until 8).map(sub => (0 until 4).map { c =>
      (0 until 8).map { dd =>
        val diff = Pipeline.queryVec(8 * sub + dd) - pqCodebook(sub)(c)(dd)
        diff * diff
      }.reduce(_ + _) // left-assoc, mirrored by the oracle's + chain
    })

  /** Fixed size of q85's oracle-checked query batch (lowest qualifying
    * vec_ids). Constant across tiers so the broadcast side — and the
    * exact-baseline harness — never grows with the corpus.
    */
  private[graft] val AnnBatchSize = 40

  /** q85 body. `fixedBatch = true` (the oracle default) caps the query
    * batch at the [[AnnBatchSize]] lowest qualifying vec_ids via
    * TakeOrderedAndProject — a deterministic, tier-constant broadcast.
    * `fixedBatch = false` is the historical growing-batch form kept ONLY
    * for ScaleProbe's shuffle-tracks-batch-not-corpus invariant.
    */
  private[graft] def annBatch(s: SparkSession, d: String,
      fixedBatch: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Shared.dot(col("v"), col("v"))))
      // zero vectors (padding/encoder failures in real corpora) have
      // undefined cosine: 0/0 = NaN, and NaN sort order is exactly the
      // kind of cross-engine divergence the oracle contract bans —
      // excluded on both sides, pinned by the degenerate-vector test
      .filter(col("nrm") > 0)
    val qAll = e.filter(col("vec_id") % 500 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val q = if (fixedBatch) qAll.orderBy(col("q_id")).limit(AnnBatchSize)
            else qAll
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(
        Shared.dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id"), col("label"),
        col("cos"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** q90b core — BATCHED IVF-PQ serving over a (vec_id, emb) frame: q90
    * generalized from one literal query to a q85-style fixed batch, the
    * ANN *serving* shape (a retrieval endpoint answers batches, not
    * single queries, and never with driver-side literals).
    *
    * Per query the driver-side constants q90 interpolates become two
    * narrow q-side columns computed ONCE per query row: its coarse cell,
    * and its 8×4 ADC table flattened to a 32-double array
    * (adcq[4·sub + c] = ||q_sub − codebook(sub)(c)||², same left-assoc
    * summation as [[adcTable]] so the DuckDB replay is bit-identical).
    * The q side then explodes into its 9 probe cells (own + hamming-1) —
    * ≤ 9·batch tiny rows, broadcast — and equi-joins the coded corpus on
    * the cell id: at 100 TB the corpus side is the cell-partitioned PQ
    * codes table (q76's encode pass), the probe is partition pruning on
    * its scan, and per probed row the ADC distance is 8 element_at
    * lookups into the broadcast 32-double array + 7 adds — no vector
    * arithmetic on the scan path (the emb column rides along here only
    * because the final exact re-rank happens in the same query; a
    * production index would re-join the [[PqRerank]] survivors to the
    * vector store by id instead). Both cuts are rank filters partitioned
    * by q_id, so LocalTopK prunes map-side: the ADC cut shuffles
    * ~[[PqRerank]]·batch rows, the final cut 10·batch. Every step is
    * deterministic (exact literals, fixed association, vec_id ties), so
    * the oracle replays it row-for-row.
    *
    * Factored over an arbitrary frame so OperatorSpec can measure the
    * recall envelope on planted clustered corpora (the uniform testdata
    * is a cell quantizer's worst case — same argument as q36).
    */
  private[graft] def ivfPqBatchOver(e0: DataFrame, qStride: Long,
      batchSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = e0
      .select(col("vec_id"), col("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .filter(col("nrm") > 0)
    // per-query ADC table: 32 doubles, adcq[4*sub + c], left-assoc sums
    val adcq = array((0 until 8).flatMap { sub =>
      (0 until 4).map { c =>
        (0 until 8).map { dd =>
          val x = element_at(col("qv"), 8 * sub + dd + 1)
          val l = lit(pqCodebook(sub)(c)(dd))
          (x - l) * (x - l)
        }.reduce(_ + _)
      }
    }: _*)
    val q = e.filter(col("vec_id") % qStride === 0)
      .orderBy(col("vec_id")).limit(batchSize)
      .select(col("vec_id").as("q_id"), col("emb").as("qv"),
        col("nrm").as("qnrm"))
      .withColumn("adcq", adcq)
      .withColumn("qcell", cellOf(col("qv")))
      .withColumn("m", explode(array(
        (0 +: (0 until 8).map(1 << _)).map(m => lit(m.toLong)): _*)))
      .select(col("q_id"), col("qv"), col("qnrm"), col("adcq"),
        col("qcell").bitwiseXOR(col("m")).as("pcell"))
    val coded = e.withColumn("cell", cellOf(col("emb")))
      .select(col("vec_id") +: col("emb") +: col("nrm") +: col("cell") +:
        pqCodes(col("emb")): _*)
    val adc = (0 until 8).map { sub =>
      element_at(col("adcq"), (lit(4 * sub + 1) + col(s"c$sub")).cast("int"))
    }.reduce(_ + _)
    coded.join(broadcast(q),
        col("cell") === col("pcell") && col("vec_id") =!= col("q_id"))
      .withColumn("adc", adc)
      .withColumn("ar", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adc"), col("vec_id"))))
      .filter(col("ar") <= PqRerank)
      .withColumn("cos", round(
        dot(col("emb"), col("qv")) / (col("nrm") * col("qnrm")), 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cell"),
        round(col("adc"), 4).as("adc_dist"), col("cos"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** ScaleProbe hook: rows the batched IVF-PQ search reads before ADC
    * ranking (Σ over the batch of per-query probed-cell populations) and
    * the bounded exact re-rank input (Σ min(PqRerank, probed_q)). The
    * first grows linearly with the corpus at fixed batch (9/256 of the
    * rows per query in expectation); the second is capped at
    * PqRerank·batch — the two numbers are the scan-vs-exact cost split
    * the IVF-PQ design exists to create.
    */
  private[graft] def ivfPqBatchProbeCounts(s: SparkSession,
      d: String): (Long, Long) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .filter(col("nrm") > 0)
    val q = e.filter(col("vec_id") % 500 === 0)
      .orderBy(col("vec_id")).limit(AnnBatchSize)
      .select(col("vec_id").as("q_id"), cellOf(col("emb")).as("qcell"))
      .withColumn("m", explode(array(
        (0 +: (0 until 8).map(1 << _)).map(m => lit(m.toLong)): _*)))
      .select(col("q_id"), col("qcell").bitwiseXOR(col("m")).as("pcell"))
    val perQ = e.select(cellOf(col("emb")).as("cell"), col("vec_id"))
      .join(broadcast(q),
        col("cell") === col("pcell") && col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n"))
    val r = perQ.agg(
      coalesce(sum(col("n")), lit(0L)).as("probed"),
      coalesce(sum(least(col("n"), lit(PqRerank.toLong))), lit(0L))
        .as("reranked")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Write-once staged PQ-codes table (vec_id, nrm, cell, c0..c7) —
    * bucketed by coarse cell, NO vector column. q90/q90b re-derive
    * `pqCodes(emb)` per run and carry the raw 64-double `emb` through the
    * ADC join so the exact re-rank can read it in place; at 100 TB the
    * codes are a table written once by the encode pass (q76's job) and
    * the scan below the ADC cut touches 8 one-byte codes + 2 narrow
    * columns per row instead of 512 bytes of vector — the ~50× scan-width
    * cut is the reason PQ indexes store codes separately from vectors.
    * The [[PqRerank]]-bounded survivors then re-join the vector store by
    * vec_id (q90c). Same memo/locking contract as dup_labels
    * ([[Bucketed.writeOnceBucketed]]).
    */
  /** How many times `pq_codes` was WRITTEN this JVM — PipelineSpec
    * asserts the encode pass is paid once, not per serving query.
    */
  private[graft] val pqCodesWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The staged-codes encode body — one kernel shared by the full
    * artifact (q90c), the q122 base, and the q122 delta, so "base ∪
    * delta == from-scratch" is true by construction of the rows and the
    * serving query only has to prove the LAYOUT is equivalent.
    */
  private def pqCodesOf(e0: DataFrame): DataFrame = {
    val e = e0
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .filter(col("nrm") > 0)
    e.select(col("vec_id") +: col("nrm") +: cellOf(col("emb")).as("cell") +:
      pqCodes(col("emb")): _*)
  }

  private[graft] def pqCodesArtifact(s: SparkSession, d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "pq_codes",
      s"$d/embeddings.parquet",
      {
        pqCodesWrites.incrementAndGet()
        pqCodesOf(Tables.embeddings(s, d))
      }, 8, Seq("cell"))

  // ---- q122: incremental pq_codes (base + append-only delta) -------------

  /** q122's corpus/batch split — q121's convention: vec_id % 10 == 0 is
    * the arriving increment, the rest is the frozen base the increment
    * must never force a re-encode of.
    */
  private def q122CorpusEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") % 10 =!= 0)
  private def q122BatchEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") % 10 === 0)

  /** Write counters — the q122 spec asserts one base write + one delta
    * write per tier, and that SERVING the query never re-encodes either.
    */
  private[graft] val q122BaseWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val q122DeltaWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def q122BaseArtifact(s: SparkSession, d: String): DataFrame =
    q122.store.stageBase(s, Bucketed.dbFor(d), s"$d/embeddings.parquet") {
      q122BaseWrites.incrementAndGet()
      pqCodesOf(q122CorpusEmb(s, d))
    }

  /** The maintenance step itself: encode the BATCH ONLY and stage it
    * beside the base. Nothing in the base is read, moved, or rewritten —
    * the 100-TB increment cost is the delta encode plus an append;
    * compaction into the base rides the land-then-compact schedule
    * (ingest/Compact.scala), not the per-batch path. (The fixture
    * derives the batch by filtering the single embeddings table — that
    * filter is evaluated in the scan stage but cannot prune parquet I/O;
    * a production increment arrives as its own landed files, so the
    * encode job's INPUT is O(|batch|) too, exactly the land-then-compact
    * reader shape.)
    */
  private[graft] def q122DeltaArtifact(s: SparkSession, d: String): DataFrame =
    q122.store.stageDelta(s, Bucketed.dbFor(d), s"$d/embeddings.parquet") {
      q122DeltaWrites.incrementAndGet()
      pqCodesOf(q122BatchEmb(s, d))
    }

  /** q122 COMPACTION — folds the delta into the base on the maintenance
    * schedule (land-then-compact's cadence), not per batch. Production
    * shape, not an in-place rewrite: the merged segment is written to a
    * NEW table, swapped in with a catalog rename, and the delta
    * truncated — readers see old base ∪ delta until the swap and the
    * compacted base ∪ empty delta after; both serve identical rows
    * (spec-proved on an isolated tier copy). The write-once memos stay
    * valid through the swap because the catalog names and source mtimes
    * are unchanged — consumers keep reading the same names and simply
    * see the compacted layout.
    *
    * Crash safety is a REDO MARKER, not wishful atomicity: the swap is
    * three catalog steps, and dying between the rename and the delta
    * truncate would leave the delta rows in BOTH tables — silent
    * double-counted serving. So the marker is created after the merged
    * segment lands and removed only after the truncate; every crash
    * state rolls FORWARD idempotently in the store's recovery, which
    * both the compaction and the serving path run first. The whole
    * operation holds the two tables' artifact locks (sorted order), so
    * an in-JVM concurrent builder/reader cannot observe the
    * drop-to-rename gap.
    */
  private[graft] val q122 = Bucketed.Family(
    Bucketed.Store("q122_codes_base", "q122_codes_delta",
      "q122_compact_pending", 8, Seq("cell")),
    q122BaseArtifact, q122DeltaArtifact, _.unionByName(_))

  // ---- q155: ANN index TOMBSTONES (deletion serving + compaction) --------
  //
  // The deletion verb for the PQ index — the LSM shape: takedowns land in
  // a small TOMBSTONE side table (never a base rewrite on arrival), the
  // serving path anti-joins them out, and compaction folds them in on the
  // maintenance cadence via the shared [[Bucketed.Store]] swap. The
  // codebook and cell assignment are NOT retrained on delete (the
  // production behavior: a takedown must be prompt; geometry refresh
  // rides q121's retrain cadence) — so the oracle is the full ADC replay
  // with the deleted ids excluded from the coded scan only, queries and
  // codebook untouched.
  //
  // Tombstone rows carry (cell, vec_id) — the id resolved to its cell at
  // landing time (one delta-sized probe of the cell-bucketed base) — so
  // both tables share the (cell) bucket layout: serving can take the
  // anti-join bucket-locally when the tombstone set outgrows a broadcast,
  // and the store swap's delta truncate keeps one key set.
  // Crash window (rename committed, delta stale): anti-joining
  // already-removed ids is a NO-OP, so q155 is in the latest-wins safety
  // class — double-applied tombstones serve identically (spec'd).

  private[graft] val q155BaseWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val q155TombWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** q155's own copy of the full codes artifact (compaction rewrites it;
    * the shared `pq_codes` stays pristine for q90c).
    */
  private[graft] def q155BaseArtifact(s: SparkSession, d: String): DataFrame =
    q155.store.stageBase(s, Bucketed.dbFor(d), s"$d/embeddings.parquet") {
      q155BaseWrites.incrementAndGet()
      pqCodesOf(Tables.embeddings(s, d))
    }

  /** Landed tombstones (cell, vec_id): the q154 deletion rule applied to
    * vectors. Built by resolving the arriving id set against the base —
    * O(|tombstones|) rows, the base never rewritten on the landing path.
    */
  private[graft] def q155TombArtifact(s: SparkSession, d: String): DataFrame =
    q155.store.stageDelta(s, Bucketed.dbFor(d), s"$d/embeddings.parquet") {
      q155TombWrites.incrementAndGet()
      q155BaseArtifact(s, d)
        .filter(pmod(col("vec_id"), lit(Dedup.TombMod)) === Dedup.TombRes)
        .select(col("cell"), col("vec_id"))
    }

  /** The tombstoned codes store: the merge (the serving view, and what a
    * compaction writes as the new base before truncating the tombstone
    * store) is base minus landed tombstones. Broadcast is the
    * deletion-batch regime; the shared (cell) bucketing is the fallback
    * layout if takedowns accumulate past broadcast size before the next
    * compaction.
    */
  private[graft] val q155 = Bucketed.Family(
    Bucketed.Store("q155_codes_base", "q155_tombs", "q155_compact_pending",
      8, Seq("cell")),
    q155BaseArtifact, q155TombArtifact,
    (base, tombs) =>
      base.join(broadcast(tombs), Seq("cell", "vec_id"), "left_anti"))

  /** q90c's serving body over ANY staged codes frame (vec_id, nrm, cell,
    * c0..c7): broadcast-probe ADC scan over the codes (no vector column
    * below the [[PqRerank]] cut), bounded exact re-rank re-joining the
    * vector store by id. Shared by q90c (the write-once full artifact)
    * and q122 (base ∪ delta) — the physical layout varies, the semantics
    * and the oracle replay do not.
    */
  private[graft] def ivfPqServeStaged(s: SparkSession, d: String,
      codes: DataFrame,
      masks: Seq[Long] = (0L +: (0 until 8).map(1L << _)),
      radiusCol: Option[Long] = None,
      rerank: Int = PqRerank,
      rerankCol: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .filter(col("nrm") > 0)
    // per-query ADC table, identical literals + association to q90b
    val adcq = array((0 until 8).flatMap { sub =>
      (0 until 4).map { c =>
        (0 until 8).map { dd =>
          val x = element_at(col("qv"), 8 * sub + dd + 1)
          val l = lit(pqCodebook(sub)(c)(dd))
          (x - l) * (x - l)
        }.reduce(_ + _)
      }
    }: _*)
    val qb = e.filter(col("vec_id") % 500 === 0)
      .orderBy(col("vec_id")).limit(AnnBatchSize)
      .select(col("vec_id").as("q_id"), col("emb").as("qv"),
        col("nrm").as("qnrm"))
      .withColumn("adcq", adcq)
      .withColumn("qcell", cellOf(col("qv")))
    val probes = qb
      .withColumn("m", explode(array(masks.map(lit(_)): _*)))
      .select(col("q_id"), col("adcq"),
        col("qcell").bitwiseXOR(col("m")).as("pcell"))
    val adc = (0 until 8).map { sub =>
      element_at(col("adcq"),
        (lit(4 * sub + 1) + col(s"c$sub")).cast("int"))
    }.reduce(_ + _)
    // codes-only below the cut: 10 narrow columns, no vector arithmetic
    val survivors = codes.join(broadcast(probes),
        col("cell") === col("pcell") && col("vec_id") =!= col("q_id"))
      .withColumn("adc", adc)
      .withColumn("ar", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adc"), col("vec_id"))))
      .filter(col("ar") <= rerank)
      .select(col("q_id"), col("vec_id"), col("cell"), col("nrm"),
        col("adc"))
    // bounded exact re-rank: survivors re-join the vector store by id
    val store = Tables.embeddings(s, d)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
    survivors.join(store, "vec_id")
      .join(broadcast(qb.select(col("q_id"), col("qv"), col("qnrm"))),
        "q_id")
      .withColumn("cos", round(
        dot(col("emb"), col("qv")) / (col("nrm") * col("qnrm")), 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= 10)
      .select(Seq(col("q_id"), col("rk"), col("vec_id"), col("cell"),
        round(col("adc"), 4).as("adc_dist"), col("cos")) ++
        radiusCol.map(r => lit(r).as("probe_radius")).toSeq ++
        rerankCol.map(r => lit(r).as("rerank_cut")).toSeq: _*)
      .orderBy(col("q_id"), col("rk"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q35 — near-dup within label blocks, LSH-banded candidate
    // generation: a candidate pair must share BOTH the blocking key
    // (label — in a real corpus: shard / source / cluster id) AND at
    // least one of the 4 sign-bit band keys; only candidates pay the
    // exact-cosine verify. Pair generation is therefore an equi-join on
    // (label, band, key) — shuffle-partitioned, never Σblock² — so block
    // sizes can grow with the corpus without the join going quadratic
    // (the round-3 form compared all same-label pairs; with ~10 labels
    // that is n²/10 at scale). The price is LSH recall at the candidate
    // stage (deterministic, replayed bit-for-bit by the oracle).
    //
    // Recall honesty: the verify threshold is [[NearDupT]] = 0.8, the
    // regime where sign-LSH banding actually finds what it claims to
    // (~49% of pairs AT 0.8, ~89% at 0.9 — measured ≥80% on planted
    // near-dup pairs in OperatorSpec). The round-4 form verified at 0.3,
    // where banding finds ~10% of qualifying pairs — an operator named
    // "neardup" silently missing 90% of its contract. Low-threshold
    // similarity belongs to the exact blocked q35b (bounded blocks) or
    // IVF cell probing (q36), which are kept at CosT = 0.3.
    "q35_neardup_embedding" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      bandedNearDupPairs(e, NearDupT)
    }),

    // q85 — batched brute-force ANN: exact cosine top-5 per query for a
    // BATCH of query vectors (the eval / retrieval-serving pattern; q25
    // is the single-query form). The query set is broadcast — corpus ×
    // batch is a broadcast nested loop with a narrow per-pair fold, no
    // shuffle of the big side — and per-row norms are computed ONCE in
    // the scan projection, not per (vector, query) pair. The per-query
    // rank is the LocalTopK shape (mappers pre-prune to 5 below the
    // q_id exchange, so the shuffle carries ~5·|batch| rows, not
    // |corpus|·|batch|). This is the exact baseline ANN recall is
    // measured against; q36's IVF probing is the sublinear scale path.
    // The oracle-checked batch is FIXED-SIZE — the lowest [[AnnBatchSize]]
    // qualifying vec_ids (selector vec_id % 500 == 0 is stride-stable
    // across the StressGen re-keying): a batch growing with the corpus
    // would make the broadcast side — and so the harness itself — scale
    // with data, capping the tier this exact baseline stays runnable at.
    // The growing-batch variant survives as a ScaleProbe-only invariant
    // ([[annBatch]] with fixedBatch = false).
    "q85_ann_batch" -> ((s, d) => annBatch(s, d, fixedBatch = true)),

    // Q35b — the EXACT blocked variant: all same-label pairs, no LSH
    // filter. Σblock² pair generation — correct and fast when the
    // blocking key keeps blocks bounded (per-source shards, per-day
    // partitions), quadratic when it doesn't; q35 is the scale path.
    "q35b_neardup_block_exact" -> ((s, d) => {
      // Repartition by the blocking key: co-locates each label's vectors
      // (the join needs it anyway) and parallelizes the per-pair cosine
      // folds, which a single-file scan would otherwise run on one core.
      val e = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("label"))
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      val a = e.select(col("vec_id").as("vec_a"), col("label"),
        col("emb").as("emb_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("label").as("label_b"),
        col("emb").as("emb_b"))
      a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
        .withColumn("cos", round(cosine(col("emb_a"), col("emb_b")), 4))
        .filter(col("cos") >= CosT)
        .select(col("vec_a"), col("vec_b"), col("label"), col("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // Q36 — IVF ANN: probe 9/256 cells, exact cosine rank inside them
    "q36_ann_ivf" -> ((s, d) => {
      val qv = typedLit(Pipeline.queryVec)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("cell", cellOf(col("emb")))
        .filter(col("cell").isin(probeCells.map(_.toLong): _*))
      e.withColumn("cos",
          round(dot(col("emb"), qv) /
            (sqrt(dot(col("emb"), col("emb"))) *
              lit(Pipeline.queryVecNorm)), 4))
        .select(col("vec_id"), col("cell"), col("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // q36b — IVF over the TRAINED two-level cells at q36's 9-cell probe
    // budget: the headline ANN serving path (round-11 verdict #5). q36
    // keeps the untrained sign-bit grid as the disclosed worst case
    // (2/10 on the uniform tier); q36b probes the [[TrainedProbeBudget]]
    // fine centroids NEAREST THE QUERY in the q97 integer metric —
    // ranked globally across coarse cells, so the sign-bit coarse layer
    // cannot orphan a neighbor the trained leaves would have found —
    // then exact-cosine-ranks the members of those leaves. Candidate
    // mass is ~9·[[LeafTarget]] rows REGARDLESS of corpus size (leaves
    // hold ~250 rows by construction; the leaf COUNT grows with data),
    // which is the sublinear serving law q36's fixed 9/256 fraction
    // lacks. Staging: the memoized sem_cells/sem_centroids artifacts —
    // training is paid once by whichever of q103b/q36b runs first; at
    // 100 TB the assignment table is additionally cell-partitioned so
    // the probe set prunes partitions at the scan (the q90c layout).
    // Measured recall on the uniform tier: OperatorSpec floors 8/10
    // (vs q36's 2/10) and SCALING.md carries the sf0.1 row.
    "q36b_ann_ivf_trained" -> ((s, d) =>
      trainedIvfServe(s, d, TrainedProbeBudget, widthCol = false)),

    // q36c — AUTO-TUNED probe width: the operator's "what do I turn"
    // answered with the engine's own measurements. The q112b audit runs
    // once per corpus as a write-once CURVE artifact — mean recall@10
    // of the trained path at each probe width in [[Q36cWidths]] — and
    // serving picks the SMALLEST width whose measured recall meets the
    // declarative target ([[Q36cTargetE4]]), falling back to the widest
    // (uniform-regime honesty: if no width reaches the target, serve
    // the best the index can do and say so via the probe_width column).
    // Width-as-data: the chosen width rides every result row, and the
    // oracle replays curve + pick + serve end-to-end, so a hash match
    // proves the SELECTION, not just the serve. The curve lookup is a
    // ≤|Q36cWidths|-row control frame (bounded by construction), not a
    // data path. At 100 TB the curve re-measures on the audit cadence
    // (q112b's argument) and serving stays ~width·LeafTarget candidates.
    "q36c_ann_ivf_autotuned" -> ((s, d) => {
      val w = q36cPickWidth(s, d)
      trainedIvfServe(s, d, w.toInt, widthCol = true, width = w)
    }),

    // q112 — ANN recall AUDIT: measure, don't guess. For the q85 fixed
    // query batch, run BOTH the exact brute-force top-[[AnnRecallK]]
    // (q85's broadcast-batch shape) and the per-query IVF 9-cell probe
    // (q36's shape generalized from one literal query to a batch: each
    // query explodes into its own cell + 8 hamming-1 neighbors, ≤ 9·batch
    // tiny broadcast rows equi-joined to the corpus on the cell id), and
    // report per-query recall = |ivf ∩ exact| / |exact|. This is the
    // operator an ANN deployment runs CONTINUOUSLY on a held-out batch to
    // know what its index is actually returning — the published recall
    // envelope of sign-LSH cells is corpus-dependent, so it must be
    // measured on THIS corpus, not quoted from a paper.
    //
    // At 100 TB: the exact side is the only corpus-wide pass and it is
    // the q85 shape (broadcast batch, per-row norms computed once in the
    // scan, LocalTopK pruning the rank shuffle to K·batch rows); the IVF
    // side scans only the probed cells (partition pruning once the codes
    // table is cell-partitioned, as in q90c); the audit join touches
    // K·batch rows. Ties deterministic: cosine rounded to 4 before
    // ranking, broken by vec_id — both engines replay bit-for-bit.
    "q112_ann_recall_audit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = annAuditFrame(s, d)
      val q = annAuditBatch(e)
      val exact = annExactTopK(e, q)
      val probes = q.select(col("q_id"), col("qv"), col("qnrm"),
          explode(array(probeMasks.map(m => lit(m)): _*)).as("m"),
          col("qcell"))
        .select(col("q_id"), col("qv"), col("qnrm"),
          col("qcell").bitwiseXOR(col("m")).as("pcell"))
      val ivf = e.join(broadcast(probes), col("cell") === col("pcell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", round(
          dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rk") <= AnnRecallK)
        .select(col("q_id").as("iq_id"), col("vec_id").as("ivec_id"))
      exact.join(ivf,
          col("q_id") === col("iq_id") && col("vec_id") === col("ivec_id"),
          "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"),
          count(col("ivec_id")).as("n_hit"))
        .withColumn("recall", round(col("n_hit") / col("n_exact"), 4))
        .orderBy(col("q_id"))
    }),

    // q112b — the recall audit POINTED AT THE HEADLINE PATH: q112
    // audits the untrained sign grid, but q36b made the TRAINED
    // two-level cells the serving default, so the continuous audit must
    // measure what serving actually returns. Per batch query: its
    // quantized vector ranks ALL fine centroids in the q97 integer
    // metric (centroid table × batch — tiny, broadcast), the 9 nearest
    // cids gate the assignment table, exact cosine ranks the candidates,
    // and recall@10 compares against the shared brute-force baseline
    // (q85's shape). Same determinism contract as q112 (rounded cosine,
    // vec_id ties; integer d2 with cid tie-break on the probe cut).
    // At 100 TB both sides keep q112's scale shape; the probed side
    // additionally prunes to ~9·LeafTarget candidate rows per query.
    "q112b_trained_recall_audit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = annAuditFrame(s, d)
      val q = annAuditBatch(e)
      val exact = annExactTopK(e, q)
      val qq = q.select(col("q_id"), posexplode(quantized(col("qv"))))
        .select(col("q_id"), (col("pos") + 1).cast("long").as("dim"),
          col("col").as("qvq"))
      val probes = qq.join(centroidsArtifact(s, d), "dim")
        .withColumn("dv", col("qvq") - col("c"))
        .groupBy(col("q_id"), col("cell"), col("sid"))
        .agg(sum(col("dv") * col("dv")).as("d2q"))
        .withColumn("cid", col("cell") * lit(SubKCap) + col("sid"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("d2q"), col("cid"))))
        .filter(col("rn") <= TrainedProbeBudget)
        .select(col("q_id").as("pq_id"), col("cid"))
      val cand = cellsArtifact(s, d).join(broadcast(probes), "cid")
        .select(col("pq_id"), col("vec_id"))
      val ivf = cand
        .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
        .join(broadcast(q.select(col("q_id"), col("qv"), col("qnrm"))),
          col("pq_id") === col("q_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", round(
          dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rk") <= AnnRecallK)
        .select(col("q_id").as("iq_id"), col("vec_id").as("ivec_id"))
      exact.join(ivf,
          col("q_id") === col("iq_id") && col("vec_id") === col("ivec_id"),
          "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"),
          count(col("ivec_id")).as("n_hit"))
        .withColumn("recall", round(col("n_hit") / col("n_exact"), 4))
        .orderBy(col("q_id"))
    }),

    // q117 — ANN PROBE-WIDTH SWEEP: q112's audit swept across hamming
    // radius 0 / 1 / 2 probe sets (1, 9, 37 of 256 cells) — the tuning
    // curve an index operator reads to set probe width: recall@10 as a
    // function of the fraction of the corpus scanned. One pass computes
    // all three widths: the per-query probe frame carries an explicit
    // (width, mask) literal pair per row (47·batch tiny broadcast rows,
    // cumulative sets so each width ranks its own candidate pool), the
    // corpus equi-joins on the probed cell once, and the rank window is
    // partitioned by (q_id, width). Exact baseline shared with q112
    // (q85's broadcast-batch shape). Same determinism contract: rounded
    // cosine, vec_id ties.
    "q117_ann_probe_sweep" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = annAuditFrame(s, d)
      val q = annAuditBatch(e)
      val exact = annExactTopK(e, q)
      val wm = array(probeWidths.map { case (w, m) =>
        struct(lit(w).as("width"), lit(m).as("m"))
      }: _*)
      val probes = q
        .select(col("q_id"), col("qv"), col("qnrm"), col("qcell"),
          explode(wm).as("wm"))
        .select(col("q_id"), col("qv"), col("qnrm"),
          col("wm.width").as("width"),
          col("qcell").bitwiseXOR(col("wm.m")).as("pcell"))
      val ivf = e.join(broadcast(probes), col("cell") === col("pcell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", round(
          dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id"), col("width"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rk") <= AnnRecallK)
        .select(col("q_id").as("iq_id"), col("width").as("iwidth"),
          col("vec_id").as("ivec_id"))
      exact
        .select(col("q_id"), col("vec_id"),
          explode(array(sweepWidths.map(lit(_)): _*)).as("width"))
        .join(ivf,
          col("q_id") === col("iq_id") && col("width") === col("iwidth") &&
            col("vec_id") === col("ivec_id"),
          "left")
        .groupBy(col("q_id"), col("width"))
        .agg(count(lit(1)).as("n_exact"),
          count(col("ivec_id")).as("n_hit"))
        .withColumn("recall", round(col("n_hit") / col("n_exact"), 4))
        .orderBy(col("q_id"), col("width"))
    }),

    // q90 — IVF-PQ search: the composed vector-index kernel this family
    // builds toward — q63 trains the codebook, q76 encodes, q36's cell
    // quantizer coarse-probes, and THIS is the search: probe 9/256
    // cells, rank the probed rows by ADC approximate distance (8 CASE
    // lookups into [[adcTable]] + 7 adds per row — the reason PQ
    // exists: no vector arithmetic on the scan path), keep the best
    // [[PqRerank]], exact-cosine re-rank only those, emit the top-10
    // (Jégou et al., TPAMI'11 IVF-ADC + refine). At 100 TB the codes
    // are precomputed table columns (q76 is that encode pass; re-derived
    // here only because the testdata ships raw vectors), cells are
    // partition keys (pruned at the scan, PlanSpec-demonstrated for
    // q36), and the exact pass touches PqRerank rows per query. Every
    // cut is deterministic: adc is a sum of interpolated literals in a
    // fixed order (bit-identical across engines), ties break on vec_id.
    "q90_ann_ivfpq" -> ((s, d) => {
      val qv = typedLit(Pipeline.queryVec)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("cell", cellOf(col("emb")))
        .filter(col("cell").isin(probeCells.map(_.toLong): _*))
      val coded = e.select(
        col("vec_id") +: col("emb") +: col("cell") +: pqCodes(col("emb")): _*)
      val adc = (0 until 8).map { sub =>
        val t = adcTable(sub)
        when(col(s"c$sub") === 0L, lit(t(0)))
          .when(col(s"c$sub") === 1L, lit(t(1)))
          .when(col(s"c$sub") === 2L, lit(t(2)))
          .otherwise(lit(t(3)))
      }.reduce(_ + _)
      coded.withColumn("adc", adc)
        .orderBy(col("adc"), col("vec_id")).limit(PqRerank)
        .withColumn("cos",
          round(dot(col("emb"), qv) /
            (sqrt(dot(col("emb"), col("emb"))) *
              lit(Pipeline.queryVecNorm)), 4))
        .select(col("vec_id"), col("cell"),
          round(col("adc"), 4).as("adc_dist"), col("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
    }),

    // q90b — batched IVF-PQ serving: q90 generalized to the q85
    // fixed-size query batch, per-query ADC tables broadcast, cells
    // probed per query (see [[ivfPqBatchOver]] for the full design).
    "q90b_ann_ivfpq_batch" -> ((s, d) =>
      ivfPqBatchOver(Tables.embeddings(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("emb")),
        qStride = 500, batchSize = AnnBatchSize)),

    // q90c — staged-codes IVF-PQ serving: q90b with the production index
    // layout. The ADC scan reads ONLY the write-once [[pqCodesArtifact]]
    // table (codes + norm + cell, no vector column — PlanSpec-asserted),
    // and the exact re-rank re-joins the ≤PqRerank·batch survivors to
    // the vector store by vec_id. Same rows as q90b — the staging is a
    // physical-layout change, not a semantic one — so the oracle is the
    // identical replay.
    "q90c_ann_ivfpq_staged" -> ((s, d) =>
      ivfPqServeStaged(s, d, pqCodesArtifact(s, d))),

    // q90d — AUTO-TUNED IVF-PQ: q36c's curve discipline applied to the
    // PQ serving path, now over BOTH knobs (round-13 verdict: the
    // radius-only curve saturated at 0.20 by radius 1 on the uniform
    // tier, so radius alone provably wasn't the binding constraint).
    // The measured 2-D recall surface (hamming radius 0-3 x ADC-rerank
    // cut 100-6400) of the FULL ADC + re-rank pipeline picks the
    // cheapest combo meeting the shared 0.90 target (max-recall
    // fallback when none does — the quantizer's measured information
    // limit on uniform data); the pick rides every row as
    // (probe_radius, rerank_cut), and the oracle replays surface +
    // pick + serve so the hash proves the selection. Sign-cell radii
    // are the coarse lever; the trained path's finer lever is q36c.
    "q90d_ann_ivfpq_autotuned" -> ((s, d) => {
      val (r, rk) = q90dPickParams(s, d)
      ivfPqServeStaged(s, d, pqCodesArtifact(s, d),
        masks = q90dProbeWidths.filter(_._1.toLong == r).map(_._2),
        radiusCol = Some(r), rerank = rk.toInt, rerankCol = Some(rk))
    }),

    // q122 — INCREMENTAL pq_codes maintenance: the third staged artifact
    // (after q120's dup_labels and q121's sem_cells) folded forward
    // instead of rebuilt. The PQ codebook is fixed by design (q76), so
    // the fold is the simplest of the three: encode ONLY the arriving
    // batch through the identical kernel and serve q90c's ADC scan over
    // base ∪ delta — an append-only maintenance step that never rewrites
    // or re-encodes a base row (the encode filter is pushed to the scan;
    // spec asserts base/delta row counts partition the corpus and each
    // side is written exactly once). Output is BYTE-IDENTICAL to the
    // from-scratch q90c — incrementality is provably invisible — so the
    // oracle is the same full-corpus replay. At 100 TB: a daily increment
    // pays O(|batch|) encode + an append, while serving keeps the
    // codes-only scan shape; deltas compact into the base on the
    // land-then-compact schedule (ingest/Compact.scala) rather than per
    // batch.
    "q122_incremental_pq_codes" -> ((s, d) => {
      // rolls an interrupted compaction forward first
      ivfPqServeStaged(s, d, q122.asOf(s, d))
    }),

    // q155 — tombstoned ANN serving: q90c's staged scan over base minus
    // the landed tombstone store (see the q155 section above). Deletion
    // must be visible in the RESULT (deleted ids never served) while the
    // base is never rewritten on the landing path.
    "q155_ann_tombstone" -> ((s, d) => {
      ivfPqServeStaged(s, d, q155.asOf(s, d))
    }),

    // q155b — tombstone COMPACTION closer: fold the tombstones into the
    // base (redo-marker swap), then serve from the compacted base with
    // the truncated store. Byte-identical to q155 — compaction is
    // invisible — so the oracle is the same filtered replay.
    "q155b_tombstone_compact" -> ((s, d) => {
      q155.compact(s, d)
      ivfPqServeStaged(s, d, q155.asOf(s, d))
    }),

    // Q64 — LSH-banded embedding near-dup WITHOUT a blocking key: the
    // scale path when no natural shard/label exists (q35 needs one).
    // Round-5 geometry: 28 bands of 16 raw sign bits ([[bandPairs]] —
    // the 10× stress run measured the old 4×8-bit bands going quadratic,
    // ×100 candidates at ×10 corpus; 16-bit keys are 36× tighter and 28
    // overlapping bands keep near-dup recall ≥80%, planted-pair-measured).
    // The banding join shuffles ids + 16-bit keys only (vectors re-join
    // after pair dedup), is hash-partitioned on (band, key), and only
    // candidates pay the exact-cosine verify at [[NearDupT]] — the
    // near-dup regime this operator is named for (the synthetic testdata
    // has no pair above cosine 0.52, so the gate output is honestly
    // empty; the recall envelope lives in the planted-pair spec).
    "q64_neardup_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
      val cands =
        if (s.conf.get("spark.graft.q64.hyperplanes", "false").toBoolean)
          hyperplaneCandidates(e,
            s.conf.get("spark.graft.q64.bands", "16").toInt,
            s.conf.get("spark.graft.q64.bits", "20").toInt, dim = 64)
        else bandedCandidates(e, blocked = false)
      cands
        .join(e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b")), "vec_b")
        .withColumn("cos", round(cosine(col("emb_a"), col("emb_b")), 4))
        .filter(col("cos") >= NearDupT)
        .select(col("vec_a"), col("vec_b"), col("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // Q76 — product quantization (PQ) compression: 64 float dims → 8
    // byte-sized codes, the storage/ANN trick every vector index at 100
    // TB relies on (Jégou et al., TPAMI'11). Each of 8 subspaces (8 dims
    // each) is assigned to its nearest of 4 codebook centroids by
    // squared L2; ties break to the lowest code, so the argmin is
    // deterministic and the DuckDB oracle replays it bit-for-bit (exact
    // shortest-repr literals, identical left-assoc summation). Pure
    // narrow map work — no shuffle except the verification ORDER BY; at
    // scale this is the encode kernel of an IVF-PQ index build (q36 is
    // the coarse quantizer, q63 trains the codebook).
    "q76_pq_quantize" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
      e.select(col("vec_id") +: pqCodes(col("emb")): _*).orderBy(col("vec_id"))
    }),

    // Q63 — per-cluster centroids: elementwise mean vector per label (one
    // k-means M-step / the IVF codebook refresh). posexplode turns the
    // vector column into (label, dim, value) rows so the centroid is a
    // plain partial+final hash aggregate on (label, dim) — fully
    // distributed, no per-group vector buffering, shuffle volume
    // labels × dims regardless of row count. Decimal-backed mean keeps the
    // result order-insensitive.
    "q63_centroids" -> ((s, d) => {
      import graft.Q._
      Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
        // + 0.0 canonicalizes IEEE negative zero: round() of a tiny
        // negative mean yields -0.0, which sorts/renders differently from
        // 0.0 in downstream comparators even though it compares equal
        .agg(count(lit(1)).as("n"), (davg(col("x")) + 0.0d).as("centroid"))
        .orderBy(col("label"), col("dim"))
    }),

    // q97 — Lloyd's k-means, the full iterative loop (q63 is one M-step;
    // this is the codebook TRAINING a real IVF/PQ index build runs):
    // K=8 clusters, 3 assign+update rounds from deterministic seeds (the
    // 8 smallest vec_ids), final assignment reported with its squared
    // distance.
    //
    // Exactness contract: embeddings are quantized up front to
    // non-negative integers (floor(x*1000) + 1000 — the +1000 shift
    // cancels in every distance and keeps all sums non-negative, so
    // Spark `div` and DuckDB `//` agree), and every subsequent operation
    // — squared-L2, argmin with ties to the lowest cluster id, centroid
    // update floor(sum/count) — is integer arithmetic. Both engines
    // therefore walk bit-identical centroid trajectories; there is no
    // float accumulation anywhere, which is what makes an ITERATIVE
    // algorithm hash-checkable across engines (a single ulp would
    // diverge geometrically with rounds). Empty clusters die (no rows in
    // the update — later rounds assign over the survivors), identically
    // on both sides.
    //
    // 100-TB posture: the centroid table is (K × dims) rows — broadcast
    // to the assignment join; assignment is one hash agg over (vec, cid)
    // partial distances and the update one hash agg over (cid, dim) —
    // both map-side-combinable, shuffle O(n×K) and O(K×dims) ints. The
    // driver runs only the round loop; per-round localCheckpoint
    // truncates lineage exactly as q73's CC loop does (the plan would
    // otherwise nest one join+agg deeper per round).
    "q97_kmeans" -> ((s, d) =>
      kmeansAssignFull(s, d, k = 8, iters = 3)
        .select(col("vec_id"), col("cid").as("cluster"), col("d2"))
        .orderBy(col("vec_id"))),

    // q99 — semantic dedup (the SemDeDup recipe, Abbas et al. '23,
    // arXiv:2303.09540): prune the corpus in EMBEDDING space — cluster
    // with a coarse quantizer, compare pairs only within a cluster, drop
    // a document when a lower-id cluster-mate is semantically close.
    // Complements the text-signature family: q24/q32/q34 catch lexical
    // dups, this catches paraphrases/translations/re-renders that share
    // no n-grams.
    //
    // Policy is DOMINANCE PRUNING: drop v iff some u < v in v's cell has
    // cos(u,v) >= τ, and record that witness (the lowest such u) as the
    // provenance. One parallel round, no iteration; it upper-bounds the
    // drops of SemDeDup's sequential greedy scan (which only compares
    // against KEPT predecessors — a lexicographic-MIS chain that cannot
    // run in one distributed pass; chains where it differs need the q73
    // iterative machinery, and a survivor-vs-survivor residual check is
    // the standard second pass).
    //
    // 100-TB posture: the cell here is the q36 sign quantizer; a real run
    // uses q97's trained K-means codebook with K ~ n / target_cell_size,
    // so the within-cell Σcell² pair join is bounded by construction
    // (same contract as q35b's blocks — and q64's banding is the escape
    // hatch when no bounded quantizer exists). Shuffle carries ids +
    // cell keys; vectors join back per candidate pair only. The witness
    // aggregate is a map-side-combinable min-struct per doc.
    "q99_semantic_dedup" -> ((s, d) => semanticDedupOf(s, d)),

    // q103 — semantic dedup over a TRAINED, SIZE-SCALED codebook: the
    // measured answer to q99's measured problem. q99's fixed 256-cell
    // sign quantizer grows its within-cell pair mass ×99 per data decade
    // (SCALING.md round-8 tail) — the designed quadratic of any fixed K.
    // This operator keys the dedup on the TWO-LEVEL trained codebook
    // ([[hierTrain]]): an untrained sign-bit coarse grid that grows a bit
    // per corpus doubling, and per-coarse-cell sub-codebooks trained by
    // the q97 integer-exact Lloyd loop on bounded per-cell samples. Leaf
    // population stays ~[[LeafTarget]] at ANY corpus size, so the Σcell²
    // candidate mass is ~linear per decade — the SemDeDup deployment
    // recipe (cluster count scales with the corpus, FAISS-style) — while
    // training and assignment are ALSO ~linear (Σ32·K_g² ≈ 2n and
    // Σn_g·K_g ≤ 16n-ish distance rows; the round-8 flat-Lloyd design
    // paid n²/250 per round). Dedup semantics, witness provenance, and
    // the oracle contract are exactly q99's ([[dominanceDedup]]); both
    // engines walk the identical integer centroid trajectory (q97's
    // contract), so the trained cells — and with them every drop
    // decision — are bit-reproducible cross-engine.
    // q121 — ONLINE index maintenance with leaf split/retrain (see the
    // block comment at [[maintainCells]]). The batch is the vec_id tenth
    // PLUS a planted skew-load: the tenth re-landed 6× as constant
    // all-0.5 vectors (ids offset by k·1e9) — a deterministic hot spot
    // that pushes one leaf of the all-sign-bits-set coarse cell past
    // [[LeafOverflow]] at EVERY tier, so the driver gate exercises the
    // census → per-cell retrain → split path, while the other coarse
    // cells gate the carry-over-unchanged path in the same result.
    // Oracle: full DuckDB replay (frozen corpus training → online
    // assignment → census → per-cell retrain).
    "q121_online_leaf_split" -> ((s, d) => {
      val tenth = Tables.embeddings(s, d)
        .filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val planted = tenth
        .select(explode(sequence(lit(1L), lit(6L))).as("k"), col("vec_id"))
        .select((col("vec_id") + col("k") * lit(1000000000L)).as("vec_id"))
        .select(col("vec_id"),
          // all-positive → the all-sign-bits coarse cell; the per-id
          // jitter keeps the planted rows DISTINCT (identical vectors
          // would make the retrain's seed centroids degenerate and the
          // split collapse back to one leaf). Pure double arithmetic on
          // identical IEEE inputs — bit-equal in the DuckDB replay.
          array_repeat(
            lit(0.5d) + (col("vec_id") % 97).cast("double") / lit(10000.0d),
            64).as("embedding"))
      maintainCells(q121CellsArtifact(s, d), q121CodebookArtifact(s, d),
        q121CorpusEmb(s, d), tenth.unionByName(planted), q121Bits(s, d))
        .orderBy(col("vec_id"))
    }),

    "q103_semantic_dedup_trained" -> ((s, d) =>
      dominanceDedup(trainedCellFrame(s, d))),

    // q104 — prototype pruning over the trained codebook (the D4 recipe's
    // second leg, Tirumala et al. '23 arXiv:2308.12284, after SemDeDup =
    // q99/q103; the prototypicality criterion is Sorscher et al. '22's
    // SSL-prototypes, arXiv:2206.14486): within each trained cluster,
    // rank examples by distance-to-centroid and DROP the most prototypical
    // 20% — near-centroid examples are the redundant "easy" mass a
    // pretraining corpus sheds first. d2 is the integer distance the
    // Lloyd loop already computes, so the score costs nothing beyond
    // training, and both engines rank identical integers (ties broken by
    // vec_id; the 20% cut is the integer cross-product rank·5 ≤ cell_n —
    // no float fraction anywhere). 100-TB posture: the rank window is
    // per-cell, and trained cells are ~250-row balanced BY CONSTRUCTION
    // (K ∝ n) — the window never sees skew and the whole pass is one
    // exchange on the cell key.
    "q104_prototype_prune" -> ((s, d) =>
      protoPruneOf(trainedAssign(s, d)
        .select(col("vec_id"), col("cid").as("cell"), col("d2")))
        .orderBy(col("vec_id"))),

    // q105 — cluster-balanced (diversity) sampling: keep at most M=40
    // examples per trained cell, chosen by deterministic salted-hash
    // order — the coverage-preserving sampler (every semantic region
    // keeps representation, high-density regions are capped) that
    // complements q104's within-cell pruning. Mechanically q74's
    // stratified cap, but keyed on LEARNED clusters instead of a
    // metadata column — the strata a curation pipeline actually wants
    // when no source/lang label captures content. The hash-rank filter
    // is the LocalTopK idiom: each mapper pre-prunes to its local
    // top-M per cell below the exchange, so the shuffle carries
    // O(K·M) rows — and K·M ≈ n·(M/250) scales linearly with the
    // corpus while per-cell work stays constant.
    "q105_cluster_balanced_sample" -> ((s, d) =>
      balancedCapOf(trainedAssign(s, d)
        .select(col("vec_id"), col("cid").as("cell")))
        .orderBy(col("cell"), col("rn"))),

    // q103b/q104b/q105b — the staged twins: identical semantics and
    // output, but the trained assignment comes from the write-once
    // `sem_cells` artifact (one Lloyd training per pipeline, however
    // many curation stages consume it — the q81b/q87b cost structure
    // applied to the semantic suite; PipelineSpec asserts the
    // write-once invariant via [[cellsWrites]]).
    "q103b_semantic_dedup_staged" -> ((s, d) =>
      dominanceDedup(stagedCellFrame(s, d))),
    "q104b_prototype_staged" -> ((s, d) =>
      protoPruneOf(cellsArtifact(s, d)
        .select(col("vec_id"), col("cid").as("cell"), col("d2")))
        .orderBy(col("vec_id"))),
    "q105b_sample_staged" -> ((s, d) =>
      balancedCapOf(cellsArtifact(s, d)
        .select(col("vec_id"), col("cid").as("cell")))
        .orderBy(col("cell"), col("rn"))),

    // q107 — the COMPOSED semantic curation pipeline (the D4 recipe
    // end-to-end, over the shared artifact): semantic dedup survivors →
    // prototype prune RE-RANKED AMONG SURVIVORS (composition order
    // matters: pruning 20% of post-dedup cells, not of raw cells) →
    // cluster-balanced cap. One Spark job, one trained codebook, three
    // window/join stages all keyed on (cell) or (vec_id) — no stage
    // rescans the corpus and nothing is all-pairs beyond the dedup's
    // within-cell verify. The oracle recomposes the identical CTEs.
    "q107_semantic_pipeline" -> ((s, d) => {
      val deduped = dominanceDedup(stagedCellFrame(s, d))
      val survivors = deduped.filter(col("dropped_for").isNull)
        .select(col("vec_id"), col("cell"))
        .join(cellsArtifact(s, d).select(col("vec_id"), col("d2")),
          "vec_id")
      protoPruneOf(survivors)
        .filter(col("dropped") === 0L)
        .select(col("vec_id"), col("cell"))
        .transform(balancedCapOf)
        .orderBy(col("cell"), col("rn"))
    }),

    // q109 — semantic split-LEAKAGE audit: the eval-integrity check a
    // pipeline runs AFTER splitting. q87's cluster-keyed split provably
    // never separates a LEXICAL dup cluster, but semantic near-dups
    // (paraphrases — cos ≥ τ pairs that share no shingles) can still
    // straddle train/test; this operator MEASURES that residual leakage
    // by listing every verified semantic pair (the q103 candidate
    // machinery over the staged codebook — fifth artifact consumer)
    // whose endpoints land in different hash splits. Nonempty output is
    // the quantified argument for running semantic dedup (q103/q107)
    // BEFORE the split, exactly as q61's shingle audit is for lexical
    // contamination. Cost: the pair join is the measured cell-bounded
    // mass; the split labels are narrow hash maps on each side — no new
    // shuffle beyond the pairs themselves.
    "q109_semantic_leakage_audit" -> ((s, d) => {
      def splitOf(c: Column): Column = {
        val bucket = pmod(Shared.hash60(c.cast("string")), lit(100))
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise(lit("test"))
      }
      semanticPairsOf(stagedCellFrame(s, d))
        .withColumn("split_a", splitOf(col("vec_a")))
        .withColumn("split_b", splitOf(col("vec_b")))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("vec_a"), col("vec_b"), col("cell"), col("cos"),
          col("split_a"), col("split_b"))
        .orderBy(col("vec_a"), col("vec_b"))
    })
  )

  // ---- two-level trained semantic codebook ------------------------------
  //
  // Round 8 trained ONE flat codebook at K = max(8, n/250) by full-corpus
  // Lloyd — n×K = n²/250 distance rows per round, measured ×100/decade
  // (SCALING.md round 8) — and shipped it to online consumers as a driver
  // collect + K inlined expression literals (capped by Janino/codegen
  // limits in the low thousands of centroids). Round 9 replaces that with
  // the hierarchical layout the round-8 comments promised (q90's IVF
  // pattern, the FAISS coarse+fine deployment shape):
  //
  //  - COARSE layer: an UNTRAINED sign-bit grid over the first B dims,
  //    B = min{b : n ≤ [[CoarseCellTarget]]·2^b} — [[cellOf]] generalized
  //    to a bit count that GROWS with the corpus (one bit per doubling).
  //    Pure codegen'd expression: coarse assignment costs zero distance
  //    rows, holds no state, and needs no training.
  //  - FINE layer: per coarse cell g, a sub-codebook of
  //    K_g = clamp(ceil(n_g/[[LeafTarget]]), 1, [[SubKCap]]) centroids,
  //    trained by the q97 integer Lloyd recurrence on a BOUNDED per-cell
  //    sample — the [[SamplePerCentroid]]·K_g lowest-hash60 vec_ids of the
  //    cell (deterministic, oracle-replayable). Leaf cells stay ~250-row
  //    by construction (the same K ∝ n law as round 8), but the cost
  //    model changes class:
  //      training  = Σ_g 32·K_g² ≈ 2n distance rows per round  (was n²/250)
  //      assignment = Σ_g n_g·K_g ≈ 8–16·n, K_g bounded by the grid
  //                   growing a bit per corpus doubling          (was n×K)
  //    Both are ~flat per corpus row across decades — training now grows
  //    ×10/decade with the corpus, not ×100 (ScaleProbe measures both).
  //  - cid = coarse_cell·[[SubKCap]] + sid, a flat long, so every consumer
  //    (dominance dedup, prototype prune, balanced cap, corpus index,
  //    split-leakage audit, streaming dedup, media retrieval) is an
  //    UNCHANGED reader of (vec_id, cid, d2).
  //  - ONLINE assignment ([[onlineAssign]]: q108's stream side, q41c's
  //    media retrieval) is the coarse expression + an equi-join against
  //    the write-once PACKED codebook table (one row per coarse cell,
  //    ≤[[SubKCap]] sub-centroids) + one compiled [[graft.functions.SubArgmin]]
  //    kernel — no driver collect, no K-proportional literals; the
  //    stream side stays a narrow map + stream-static join.

  /** Target leaf-cell population — the ~250-row cells the SemDeDup-style
    * within-cell verify is priced for (q99's measured lever).
    */
  private[graft] val LeafTarget = 250L

  /** Max sub-centroids per coarse cell; also the cid packing stride.
    * Bounds the per-row argmin (and with it the assignment distance mass)
    * regardless of corpus size — the coarse grid, not the sub-codebook,
    * absorbs growth. 64 = 4× headroom over the balanced-cell K_g ≈ 16
    * before a skewed coarse cell's leaves start exceeding [[LeafTarget]].
    */
  private[graft] val SubKCap = 64L

  /** Coarse grid sizing: bits B = min{b : n ≤ CoarseCellTarget·2^b}, i.e.
    * expected coarse population ≤ 4000 = 16 leaves of [[LeafTarget]] —
    * keeps the balanced K_g in (8, 16].
    */
  private[graft] val CoarseCellTarget = LeafTarget * 16

  /** Lloyd sample size per sub-centroid (FAISS trains on 32–256 points
    * per centroid; 32 keeps the per-cell sample ≤ 2048 rows at the cap).
    */
  private[graft] val SamplePerCentroid = 32L

  /** Sign-bit coarse grid width for an n-vector corpus (see above).
    * Minimum 1 bit: a 0-bit grid would make the coarse cell a FOLDABLE
    * constant, and Catalyst then degenerates the codebook equi-join into
    * a nested-loop join (constant key folds out of the join condition).
    */
  private[graft] def coarseBits(n: Long): Int = {
    var b = 1
    while (b < 32 && n > CoarseCellTarget * (1L << b)) b += 1
    b
  }

  private[graft] def coarseBitsFor(s: SparkSession, d: String): Int =
    coarseBits(Tables.embeddings(s, d).count())

  /** [[cellOf]] generalized to `bits` sign dims — the untrained coarse
    * quantizer ([[coarseBits]] keeps bits ≥ 1).
    */
  private[graft] def coarseCellExpr(emb: Column, bits: Int): Column =
    if (bits == 0) lit(0L)
    else (0 until bits).map(i =>
      when(element_at(emb, i + 1) > 0.0d, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _).cast("long")

  /** The q97 integer quantization as an array column: floor(x·1000)+1000
    * per dim — the exactness contract both engines share.
    */
  private[graft] def quantized(emb: Column): Column =
    transform(emb, x => (floor(x * 1000) + 1000).cast("long"))

  /** (cell, sid, dim, c) centroid rows → (cell, packed) with packed =
    * sid-ascending array<struct<sid, cv: array<long>>> — one row per
    * coarse cell, the shape [[graft.functions.SubArgmin]] consumes.
    */
  private[graft] def packCodebook(cents: DataFrame): DataFrame =
    cents.groupBy(col("cell"), col("sid"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        e => e.getField("c")).as("cv"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("sid"), col("cv"))))
        .as("packed"))

  /** Fine assignment of (vec_id, cell, qv) rows against a (cell, sid,
    * dim, c) centroid frame: per-coarse-cell equi-join + compiled
    * [[graft.functions.SubArgmin]] → (vec_id, cell, sid, d2). Distance
    * mass = Σ_g rows_g·K_g; the codebook side is one packed row per
    * coarse cell (AQE broadcasts it while it fits; at extreme scale the
    * equi-join on cell shuffles only the narrow (vec_id, cell, qv)
    * projection — never the codebook times the corpus).
    */
  private def subAssign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.join(packCodebook(cents), "cell")
      .withColumn("m", call_function("sub_argmin", col("qv"), col("packed")))
      .select(col("vec_id"), col("cell"), col("m.sid").as("sid"),
        col("m.d2").as("d2"))

  /** The two-level trainer: returns (final assignment (vec_id, cid, d2),
    * sub-centroid table (cell, sid, dim, c)). See the section comment for
    * the design; every arithmetic step is the q97 integer contract so the
    * DuckDB oracle ([[trainedAssignCtes]]) replays the identical centroid
    * trajectory bit-for-bit.
    */
  private[graft] def hierTrain(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    hierTrainOf(Tables.embeddings(s, d), coarseBitsFor(s, d))

  /** [[hierTrain]] over an arbitrary (vec_id, embedding) frame with an
    * EXPLICIT coarse grid width. Every step after the coarse split is
    * cell-local (per-cell windows, per-cell samples, per-cell Lloyd), so
    * running this on a SUBSET of coarse cells retrains exactly those
    * cells as the full run would — the property q121's online leaf
    * split/retrain builds on.
    */
  private[graft] def hierTrainOf(embIn: DataFrame, bits: Int)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val base = embIn
      .repartition(
        embIn.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("cell", coarseCellExpr(col("emb"), bits))
      .withColumn("qv", quantized(col("emb")))
      .select(col("vec_id"), col("cell"), col("qv"))
      .transform(Shared.ckpt)
    // per-cell sample ranks: ONE window exchange over the narrow
    // (vec_id, cell) projection — the only corpus-wide shuffle training
    // pays besides the final assignment's cell join. The window key is
    // the coarse cell (≥ ~4000 rows/key in expectation), never global.
    val wCell = Window.partitionBy(col("cell"))
    val ranked = base.select(col("vec_id"), col("cell"))
      .withColumn("rk", row_number().over(wCell.orderBy(
        Shared.hash60(concat(lit("ks|"), col("vec_id").cast("string"))),
        col("vec_id"))))
      .withColumn("ng", count(lit(1)).over(wCell))
      .withColumn("kg", least(lit(SubKCap), greatest(lit(1L),
        expr(s"(ng + ${LeafTarget - 1}) div $LeafTarget"))))
    // deterministic bounded sample: the 32·K_g lowest-hash rows per cell;
    // seeds = the K_g lowest, sid = rank-1 (both engines replay the rank)
    val seeds = ranked.filter(col("rk") <= col("kg"))
      .select(col("vec_id"), (col("rk") - 1).cast("long").as("sid"))
    val svecs = base
      .join(ranked.filter(col("rk") <= lit(SamplePerCentroid) * col("kg"))
        .select(col("vec_id")), "vec_id")
      .transform(Shared.ckpt)
    // per-dim exploded SAMPLE rows — the Lloyd update's input
    val sqd = svecs.select(col("vec_id"), col("cell"),
        posexplode(col("qv")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("cell"),
        (col("pos") + 1).cast("long").as("dim"), col("v"))
      .transform(Shared.ckpt)
    var cent = sqd.join(seeds, "vec_id")
      .select(col("cell"), col("sid"), col("dim"), col("v").as("c"))
      .transform(Shared.ckpt)
    for (_ <- 1 to 2) {
      val a = subAssign(svecs, cent).select(col("vec_id"), col("sid"))
      cent = a.join(sqd, "vec_id")
        .groupBy(col("cell"), col("sid"), col("dim"))
        .agg(expr("sum(v) div count(1)").as("c"))
        .transform(Shared.ckpt)
    }
    val assign = subAssign(base, cent)
      .select(col("vec_id"),
        (col("cell") * lit(SubKCap) + col("sid")).as("cid"), col("d2"))
    (assign, cent)
  }

  /** The trained assignment shared by the semantic curation suite.
    * Returns (vec_id, cid, d2) — cid is the flat two-level cell id.
    */
  private def trainedAssign(s: SparkSession, d: String): DataFrame =
    hierTrain(s, d)._1

  /** ScaleProbe hook: the codebook's per-round TRAINING distance mass
    * (Σ_g min(n_g, 32·K_g)·K_g) and full-corpus ASSIGNMENT distance mass
    * (Σ_g n_g·K_g), computed from the coarse-cell census without running
    * the training. The round-8 flat design's corresponding masses were
    * both n·K = n²/250 — the measured ×100/decade scale-killer; healthy
    * two-level growth is ~linear per decade (flat per corpus row).
    */
  private[graft] def trainingMassProbe(s: SparkSession,
      d: String): (Long, Long) = {
    val bits = coarseBitsFor(s, d)
    val r = Tables.embeddings(s, d)
      .select(coarseCellExpr(col("embedding").cast("array<double>"), bits)
        .as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("ng"))
      .withColumn("kg", least(lit(SubKCap), greatest(lit(1L),
        expr(s"(ng + ${LeafTarget - 1}) div $LeafTarget"))))
      .select(
        sum(least(col("ng"), lit(SamplePerCentroid) * col("kg")) * col("kg"))
          .as("train"),
        sum(col("ng") * col("kg")).as("assign"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** How many times the staged `sem_cells` artifact has been WRITTEN this
    * JVM — PipelineSpec asserts the staged suite (q103b/q104b/q105b/q107)
    * pays for Lloyd training exactly once.
    */
  private[graft] val cellsWrites = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Write-once trained-codebook artifact: (vec_id, cid, d2) bucketed +
    * sorted by vec_id — the "semantic index" a curation pipeline builds
    * once at ingest and every downstream stage (dedup, prune, sample,
    * composed builds) joins for free. Same memo/locking contract as the
    * dup_labels artifact ([[Bucketed.writeOnceBucketed]]).
    */
  private[graft] def cellsArtifact(s: SparkSession, d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "sem_cells",
      s"$d/embeddings.parquet",
      {
        cellsWrites.incrementAndGet()
        val (assign, cents) = hierTrain(s, d)
        // the codebook rides along under the same memo + lock — one
        // training writes ALL THREE tables (cells, raw centroid rows,
        // packed per-coarse-cell codebook), so the online consumers
        // (q108's stream-static join, q41c's retrieval) can never see
        // centroids from a different training than the stored cells
        Bucketed.rewriteBucketed(s, Bucketed.dbFor(d), "sem_centroids",
          cents, 1, Seq("cell"))
        Bucketed.rewriteBucketed(s, Bucketed.dbFor(d), "sem_codebook",
          packCodebook(s.table(s"${Bucketed.dbFor(d)}.sem_centroids")),
          1, Seq("cell"))
        assign
      },
      8, Seq("vec_id"))

  /** The trained sub-centroid rows (cell, sid, dim, c) written alongside
    * [[cellsArtifact]] — triggers the (memoized) training if needed.
    */
  private[graft] def centroidsArtifact(s: SparkSession, d: String): DataFrame = {
    cellsArtifact(s, d)
    s.table(s"${Bucketed.dbFor(d)}.sem_centroids")
  }

  /** The packed (cell, packed) codebook table for online assignment —
    * one row per coarse cell, ≤[[SubKCap]] sub-centroids each.
    */
  private[graft] def codebookArtifact(s: SparkSession, d: String): DataFrame = {
    cellsArtifact(s, d)
    s.table(s"${Bucketed.dbFor(d)}.sem_codebook")
  }

  // ---- q36c: auto-tuned probe width ---------------------------------------

  /** q36c's probe-width domain — trained-cid budgets, NESTED by the
    * integer-d2 rank (width w probes exactly the w nearest fine
    * centroids), so the curve is monotone non-decreasing by
    * construction and "smallest width meeting the target" is
    * well-defined.
    */
  private[graft] val Q36cWidths: Seq[Long] = Seq(1L, 3L, 9L, 27L, 81L)

  /** The declarative recall target (e4): probe until measured mean
    * recall@10 ≥ 0.90.
    */
  private[graft] val Q36cTargetE4 = 9000L

  /** Spec counter: the curve is measured once per corpus. */
  private[graft] val q36cCurveWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The measured trained-path recall CURVE (width, mean_recall_e4):
    * q112b's audit swept across [[Q36cWidths]] in ONE pass (the q117
    * cumulative-set shape — probe ranks carry a width literal per row,
    * each width ranks its own candidate pool), folded to the
    * per-width mean in exact integer arithmetic (per-query recall_e4 =
    * (10⁴·n_hit) div n_exact, mean = Σ div n — no float summation
    * order anywhere). Write-once: the curve is index metadata, priced
    * like the index.
    */
  private[graft] def q36cCurveArtifact(s: SparkSession, d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "q36c_curve",
      s"$d/embeddings.parquet", {
        q36cCurveWrites.incrementAndGet()
        import org.apache.spark.sql.expressions.Window
        val e = annAuditFrame(s, d)
        val q = annAuditBatch(e)
        val exact = annExactTopK(e, q)
        val qq = q.select(col("q_id"), posexplode(quantized(col("qv"))))
          .select(col("q_id"), (col("pos") + 1).cast("long").as("dim"),
            col("col").as("qvq"))
        val ranked = qq.join(centroidsArtifact(s, d), "dim")
          .withColumn("dv", col("qvq") - col("c"))
          .groupBy(col("q_id"), col("cell"), col("sid"))
          .agg(sum(col("dv") * col("dv")).as("d2q"))
          .withColumn("cid", col("cell") * lit(SubKCap) + col("sid"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("d2q"), col("cid"))))
          .filter(col("rn") <= Q36cWidths.max)
        val probes = ranked
          .select(col("q_id"), col("cid"), col("rn"),
            explode(array(Q36cWidths.map(lit(_)): _*)).as("width"))
          .filter(col("rn") <= col("width"))
          .select(col("q_id").as("pq_id"), col("width"), col("cid"))
        val cand = cellsArtifact(s, d).join(broadcast(probes), "cid")
          .select(col("pq_id"), col("width"), col("vec_id"))
        val ivf = cand
          .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
          .join(broadcast(q.select(col("q_id"), col("qv"), col("qnrm"))),
            col("pq_id") === col("q_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", round(
            dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("q_id"), col("width"))
              .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rk") <= AnnRecallK)
          .select(col("q_id").as("iq_id"), col("width").as("iwidth"),
            col("vec_id").as("ivec_id"))
        exact
          .select(col("q_id"), col("vec_id"),
            explode(array(Q36cWidths.map(lit(_)): _*)).as("width"))
          .join(ivf,
            col("q_id") === col("iq_id") &&
              col("width") === col("iwidth") &&
              col("vec_id") === col("ivec_id"), "left")
          .groupBy(col("q_id"), col("width"))
          .agg(count(lit(1)).as("n_exact"),
            count(col("ivec_id")).as("n_hit"))
          .withColumn("recall_e4", expr("(10000 * n_hit) div n_exact"))
          .groupBy(col("width"))
          .agg(expr("sum(recall_e4) div count(1)").as("mean_recall_e4"))
      }, 1, Seq("width"))

  /** The curve lookup: smallest width whose measured mean recall meets
    * [[Q36cTargetE4]]; the widest width when none does. The collect is
    * a ≤|[[Q36cWidths]]|-row control frame.
    */
  private[graft] def q36cPickWidth(s: SparkSession, d: String): Long = {
    val curve = q36cCurveArtifact(s, d)
      .select(col("width"), col("mean_recall_e4")).collect()
    curve.filter(_.getLong(1) >= Q36cTargetE4).map(_.getLong(0))
      .sorted.headOption.getOrElse(Q36cWidths.max)
  }

  // ---- q90d: auto-tuned probe radius x rerank for the IVF-PQ path ---------

  /** Spec counter: the PQ recall curve is measured once per corpus. */
  private[graft] val q90dCurveWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** q90d's rerank-cut domain — the ADC-survivor-depth axis of the 2-D
    * curve. The round-13 radius-only curve saturated at 0.20 by radius
    * 1 on the uniform tier, which could mean EITHER "the [[PqRerank]]
    * = 100 cut drops true neighbors the probes did find" OR "the probed
    * cells never contained them"; only sweeping the cut separates the
    * two. 100 is the fixed legacy point; the deepest cut upper-bounds
    * the radius-3 candidate count at oracle sf, so its row measures the
    * IVF coverage ceiling itself — rerank provably not binding there.
    */
  private[graft] val q90dRerankCuts: Seq[Int] = Seq(100, 400, 1600, 6400)

  /** q90d's probe domain — [[probeWidths]] extended to hamming radius 3
    * (93 of 256 cells, ~36% of a uniform corpus). Radius 3 exists to
    * bound the saturation measurement (does MORE coverage keep paying
    * on this corpus?), not as a serving recommendation; q117 and the
    * exact sweep keep the shared 0-2 domain.
    */
  private[graft] val q90dProbeWidths: Seq[(Int, Long)] = {
    val bits = 0 until 8
    val h3 = for { i <- bits; j <- bits if j > i; k <- bits if k > j }
      yield (1L << i) | (1L << j) | (1L << k)
    probeWidths ++
      (probeWidths.filter(_._1 == 2).map(_._2) ++ h3).map((3, _))
  }

  /** The 2-D sweep's radius domain, derived from [[q90dProbeWidths]]. */
  private[graft] val q90dSweepWidths: Seq[Int] =
    q90dProbeWidths.map(_._1).distinct.sorted

  /** The measured IVF-PQ recall SURFACE (width = hamming radius 0-3 x
    * rerank = ADC-survivor cut, mean_recall_e4): the full serving path
    * audited against the brute-force baseline over every (radius,
    * rerank) combo in ONE pass. Candidates are ranked by ADC per
    * (query, radius) up to the DEEPEST cut only once; each grid row is
    * then pure aggregation, because MEMBERSHIP = SERVED for a true
    * top-10 row: if an exact top-10 neighbor survives a cut, at most 9
    * survivors precede it in (cos desc, vec_id) order, so its served
    * rank is <= 10 — counting survivor membership IS counting
    * recall@10, no per-cut re-rank join needed (the oracle replays the
    * identical shortcut). Write-once index metadata, like q36c's curve
    * for the trained path.
    */
  private[graft] def q90dCurveArtifact(s: SparkSession, d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "q90d_curve",
      s"$d/embeddings.parquet", {
        q90dCurveWrites.incrementAndGet()
        import org.apache.spark.sql.expressions.Window
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("emb"))
          .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
          .filter(col("nrm") > 0)
        val q = e.filter(col("vec_id") % 500 === 0)
          .orderBy(col("vec_id")).limit(AnnBatchSize)
          .select(col("vec_id").as("q_id"), col("emb").as("qv"),
            col("nrm").as("qnrm"))
        val exact = annExactTopK(
          e.select(col("vec_id"), col("emb").as("v"), col("nrm")), q)
        val adcq = array((0 until 8).flatMap { sub =>
          (0 until 4).map { c =>
            (0 until 8).map { dd =>
              val x = element_at(col("qv"), 8 * sub + dd + 1)
              val l = lit(pqCodebook(sub)(c)(dd))
              (x - l) * (x - l)
            }.reduce(_ + _)
          }
        }: _*)
        val wm = array(q90dProbeWidths.map { case (w, m) =>
          struct(lit(w.toLong).as("width"), lit(m).as("m"))
        }: _*)
        val probes = q.withColumn("adcq", adcq)
          .withColumn("qcell", cellOf(col("qv")))
          .select(col("q_id"), col("adcq"), col("qcell"),
            explode(wm).as("wm"))
          .select(col("q_id"), col("adcq"), col("wm.width").as("width"),
            col("qcell").bitwiseXOR(col("wm.m")).as("pcell"))
        val adc = (0 until 8).map { sub =>
          element_at(col("adcq"),
            (lit(4 * sub + 1) + col(s"c$sub")).cast("int"))
        }.reduce(_ + _)
        val survivors = pqCodesArtifact(s, d).join(broadcast(probes),
            col("cell") === col("pcell") && col("vec_id") =!= col("q_id"))
          .withColumn("adc", adc)
          .withColumn("ar", row_number().over(
            Window.partitionBy(col("q_id"), col("width"))
              .orderBy(col("adc"), col("vec_id"))))
          .filter(col("ar") <= q90dRerankCuts.max)
          .select(col("q_id").as("sq_id"), col("width").as("swidth"),
            col("vec_id").as("svec_id"), col("ar"))
        exact
          .select(col("q_id"), col("vec_id"),
            explode(array(q90dSweepWidths.map(w => lit(w.toLong)): _*))
              .as("width"))
          .join(survivors,
            col("q_id") === col("sq_id") &&
              col("width") === col("swidth") &&
              col("vec_id") === col("svec_id"), "left")
          .select(col("q_id"), col("width"), col("ar"),
            explode(array(q90dRerankCuts.map(c => lit(c.toLong)): _*))
              .as("rerank"))
          .groupBy(col("q_id"), col("width"), col("rerank"))
          .agg(count(lit(1)).as("n_exact"),
            count(when(col("ar") <= col("rerank"), lit(1))).as("n_hit"))
          .withColumn("recall_e4", expr("(10000 * n_hit) div n_exact"))
          .groupBy(col("width"), col("rerank"))
          .agg(expr("sum(recall_e4) div count(1)").as("mean_recall_e4"))
      }, 1, Seq("width"))

  /** The 2-D curve lookup for the PQ path: combos are ordered by
    * SERVING COST — lexicographic (radius, rerank), because the ADC
    * scan reads coverage(radius)*N codes while rerank is bounded by
    * the cut, so at corpus scale radius dominates any bounded rerank —
    * and the cheapest combo whose measured mean recall meets the
    * shared [[Q36cTargetE4]] target wins. When NO combo meets it (the
    * uniform tier — the quantizer's measured information limit, see
    * SCALING.md), serve the max-recall combo, ties to the cheapest;
    * the (probe_radius, rerank_cut) columns riding every served row
    * disclose which branch fired. The collect is a |grid|-row (<= 16)
    * control frame.
    */
  private[graft] def q90dPickParams(s: SparkSession, d: String): (Long, Long) = {
    val grid = q90dCurveArtifact(s, d)
      .select(col("width"), col("rerank"), col("mean_recall_e4")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val meeting = grid.filter(_._3 >= Q36cTargetE4).map(t => (t._1, t._2))
    meeting.sorted.headOption.getOrElse {
      val best = grid.map(_._3).max
      grid.filter(_._3 == best).map(t => (t._1, t._2)).sorted.head
    }
  }

  /** The q36b serve body at an arbitrary probe budget — shared by the
    * fixed-budget headline (q36b) and the curve-tuned q36c.
    */
  private def trainedIvfServe(s: SparkSession, d: String, budget: Int,
      widthCol: Boolean, width: Long = 0L): DataFrame = {
    val qv = typedLit(Pipeline.queryVec)
    val qq = typedLit(quantQueryVec)
    val probe = centroidsArtifact(s, d)
      .withColumn("dv", element_at(qq, col("dim").cast("int")) - col("c"))
      .groupBy(col("cell"), col("sid"))
      .agg(sum(col("dv") * col("dv")).as("d2q"))
      .select((col("cell") * lit(SubKCap) + col("sid")).as("cid"),
        col("d2q"))
      .orderBy(col("d2q"), col("cid")).limit(budget)
      .select(col("cid"))
    val cand = cellsArtifact(s, d).join(broadcast(probe), "cid")
      .select(col("vec_id"), col("cid"))
    val scored = cand.join(Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb")), "vec_id")
      .withColumn("cos", round(dot(col("emb"), qv) /
        (sqrt(dot(col("emb"), col("emb"))) *
          lit(Pipeline.queryVecNorm)), 4))
    val out =
      if (widthCol)
        scored.select(col("vec_id"), col("cid"), col("cos"),
          lit(width).as("probe_width"))
      else scored.select(col("vec_id"), col("cid"), col("cos"))
    out.orderBy(col("cos").desc, col("vec_id")).limit(10)
  }

  // ---- q121: ONLINE leaf split/retrain -----------------------------------
  //
  // The staged semantic index above is write-once-then-full-rebuild; a
  // corpus ingesting daily needs the index MAINTAINED: assign the new
  // batch online, and when a leaf cell outgrows its serving budget,
  // retrain just that coarse cell's sub-codebook — never the whole
  // index. The maintenance operator:
  //
  //   1. assigns batch vectors through the existing online path (sign-bit
  //      coarse expression + packed-codebook equi-join + compiled
  //      sub_argmin) — per-row work bounded by SubKCap, no training;
  //   2. takes a leaf census of the merged assignment; a leaf holding
  //      > 2·LeafTarget rows marks its COARSE cell for retrain, as does
  //      a batch coarse cell the codebook has never seen (those rows
  //      cannot be assigned at all — they seed a fresh cell rather than
  //      being dropped);
  //   3. retrains ONLY the marked cells, by running the cell-local
  //      trainer ([[hierTrainOf]]) on their merged population under the
  //      FROZEN coarse grid: every training step is per-cell (per-cell
  //      sample ranks, per-cell K_g from the merged census, per-cell
  //      Lloyd), so the subset run produces bit-identically what a full
  //      retrain would produce for those cells;
  //   4. carries every other cell's rows over unchanged — in the staged
  //      form, only the retrained cells' rows are rewritten.
  //
  // Cost: assignment is batch-proportional; retrain mass is bounded by
  // Σ_retrained 32·K_g·K_g sample distances — proportional to how much
  // the batch actually perturbed the index, not to the corpus. The
  // oracle replays the whole thing (frozen corpus training, online
  // assignment, census, per-cell retrain) in DuckDB.

  /** Leaf-overflow retrain trigger: a (coarse, sid) leaf serving more
    * than this many rows forces its coarse cell's sub-codebook retrain.
    */
  private[graft] val LeafOverflow = 2L * LeafTarget

  private def q121CorpusEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") % 10 =!= 0)

  /** Frozen coarse-grid width — sized from the CORPUS (the grid must not
    * move as batches arrive, or every cid changes meaning).
    */
  private[graft] def q121Bits(s: SparkSession, d: String): Int =
    coarseBits(q121CorpusEmb(s, d).count())

  /** Corpus-only trained assignment (vec_id, cid, d2), staged write-once;
    * the packed codebook rides along under the same memo + lock.
    */
  private[graft] def q121CellsArtifact(s: SparkSession, d: String): DataFrame =
    Bucketed.writeOnceBucketed(s, Bucketed.dbFor(d), "q121_cells",
      s"$d/embeddings.parquet",
      {
        val (assign, cents) = hierTrainOf(q121CorpusEmb(s, d), q121Bits(s, d))
        Bucketed.rewriteBucketed(s, Bucketed.dbFor(d), "q121_codebook",
          packCodebook(cents), 1, Seq("cell"))
        assign
      },
      8, Seq("vec_id"))

  private[graft] def q121CodebookArtifact(s: SparkSession,
      d: String): DataFrame = {
    q121CellsArtifact(s, d)
    s.table(s"${Bucketed.dbFor(d)}.q121_codebook")
  }

  /** The q121 maintenance operator (steps 1-4 above): returns the
    * maintained assignment (vec_id, cid, d2) over corpus+batch given the
    * frozen state. Frame-parameterized so the planted-overflow spec can
    * drive it directly.
    */
  private[graft] def maintainCells(oldCells: DataFrame, codebook: DataFrame,
      corpusEmb: DataFrame, batchEmb: DataFrame, bits: Int): DataFrame = {
    def norm(e: DataFrame) = e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val b = norm(batchEmb)
      .withColumn("cell", coarseCellExpr(col("embedding"), bits))
      .withColumn("qv", quantized(col("embedding")))
    // 1. online assignment — inner join: only coarse cells the codebook
    //    knows; the unknown ones are handled by the fresh-cell retrain
    val bKnown = b
      .join(codebook.select(col("cell"), col("packed")), "cell")
      .withColumn("m", call_function("sub_argmin", col("qv"), col("packed")))
      .select(col("vec_id"),
        (col("cell") * lit(SubKCap) + col("m").getField("sid")).as("cid"),
        col("m").getField("d2").as("d2"))
    val merged0 = oldCells.select(col("vec_id"), col("cid"), col("d2"))
      .unionByName(bKnown)
    // 2. leaf census → retrain set (overflowing ∪ fresh coarse cells).
    //    The census is a map-side-combined count of 16-byte rows — the
    //    only corpus-wide touch maintenance pays, and it shuffles the
    //    per-leaf partial counts, not the rows.
    val overflow = merged0.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .filter(col("n") > LeafOverflow)
      .select(expr(s"cid div $SubKCap").as("cell")).distinct()
    val fresh = b.select(col("cell"))
      .join(codebook.select(col("cell")), Seq("cell"), "left_anti")
      .distinct()
    val retrain = overflow.unionByName(fresh).distinct()
    // 3. cell-local retrain on the merged population of just those cells
    val rows = norm(corpusEmb).unionByName(norm(batchEmb))
      .withColumn("cell", coarseCellExpr(col("embedding"), bits))
      .join(broadcast(retrain), Seq("cell"), "left_semi")
      .select(col("vec_id"), col("embedding"))
    val (reassign, _) = hierTrainOf(rows, bits)
    // 4. carry over everything else unchanged
    merged0.withColumn("cell", expr(s"cid div $SubKCap"))
      .join(broadcast(retrain), Seq("cell"), "left_anti")
      .select(col("vec_id"), col("cid"), col("d2"))
      .unionByName(reassign)
  }

  /** ONLINE assignment to the trained two-level codebook: adds column
    * `cell` (the flat cid) to `df`, which must carry a double-array
    * embedding column `embCol`. Coarse cell = pure sign-bit expression;
    * fine = equi-join against the write-once packed codebook + one
    * compiled [[graft.functions.SubArgmin]] per row. No driver collect,
    * no K-proportional literals — works identically on a static frame
    * (q41c) and a streaming micro-batch (q108: a stream-static join).
    *
    * `qvCol`: optional pre-quantized integer vector. Callers whose
    * integers are EXACT (q41c's byte-sum features) pass it to avoid the
    * float round-trip; embedding callers omit it and get the standard
    * floor(x·1000)+1000 quantization.
    *
    * A row whose coarse cell holds no corpus vectors has no codebook row
    * and is dropped by the join — the standard empty-probe IVF outcome,
    * replayed identically by the oracle's inner join.
    */
  private[graft] def onlineAssign(s: SparkSession, d: String, df: DataFrame,
      embCol: String, qvCol: Option[String] = None): DataFrame = {
    val bits = coarseBitsFor(s, d)
    val cb = codebookArtifact(s, d)
      .select(col("cell").as("_ccell"), col("packed").as("_packed"))
    val qv = qvCol.map(col).getOrElse(quantized(col(embCol)))
    df.withColumn("_ccell", coarseCellExpr(col(embCol), bits))
      .join(cb, "_ccell")
      .withColumn("_m", call_function("sub_argmin", qv, col("_packed")))
      .withColumn("cell",
        col("_ccell") * lit(SubKCap) + col("_m").getField("sid"))
      .drop("_ccell", "_packed", "_m")
  }

  /** The staged twin of [[trainedCellFrame]]: embeddings keyed by the
    * artifact's cells. Checkpointed for the same three-read reason.
    */
  private def stagedCellFrame(s: SparkSession, d: String): DataFrame = {
    val cells = cellsArtifact(s, d)
      .select(col("vec_id"), col("cid").as("cell"))
    Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .join(cells, "vec_id")
      .transform(Shared.ckpt)
  }

  /** The q104 body over ANY (vec_id, cell, d2) assignment frame: rank by
    * integer distance-to-centroid within the cell (ties by vec_id) and
    * drop the most prototypical floor-20% via the integer cross-product
    * cut. Shared by q104, its staged twin, and q107's survivor re-rank.
    */
  private def protoPruneOf(a: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("d2"), col("vec_id"))
    a.withColumn("proto_rank", row_number().over(w).cast("long"))
      .withColumn("cell_n",
        count(lit(1)).over(Window.partitionBy(col("cell"))).cast("long"))
      .withColumn("dropped",
        (col("proto_rank") * 5 <= col("cell_n")).cast("long"))
      .select(col("vec_id"), col("cell"), col("d2"), col("proto_rank"),
        col("dropped"))
  }

  /** The q105 body over ANY (vec_id, cell) frame: keep at most 40 rows
    * per cell by deterministic salted-hash order. The rank filter is the
    * LocalTopK idiom (map-side per-cell pre-pruning).
    */
  private def balancedCapOf(a: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Shared.hash60(concat(lit("cb|"), col("vec_id").cast("string")))
    val w = Window.partitionBy(col("cell")).orderBy(ord, col("vec_id"))
    a.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 40)
      .select(col("vec_id"), col("cell"), col("rn"))
  }

  /** The q97 Lloyd loop, parameterized: K seeds = the K lowest vec_ids,
    * `iters` assign+update rounds over the integer-quantized vectors
    * (floor(x·1000)+1000 — see the q97 query doc for the exactness
    * contract), then a final assignment. Returns (vec_id, cid, d2).
    * q97 reports it at K=8/3 rounds; the semantic suite's size-scaled
    * codebook uses the per-coarse-cell variant in [[hierTrain]] instead.
    */
  private[graft] def kmeansAssignFull(s: SparkSession, d: String,
      k: Long, iters: Int): DataFrame =
    kmeansTrain(s, d, k, iters)._1

  /** [[kmeansAssignFull]] plus the trained codebook itself: returns
    * (final assignment (vec_id, cid, d2), centroids (cid, dim, c)) — the
    * centroid table is what an ONLINE consumer (q108's streaming
    * assignment) needs to place vectors it has never seen into the
    * trained cells.
    */
  private[graft] def kmeansTrain(s: SparkSession, d: String,
      k: Long, iters: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // The quantized (vec_id, dim, v) stream is read by every round's
    // assignment AND update: materialize it ONCE, already hash-clustered
    // on vec_id. The checkpoint keeps that partitioning, so each round's
    // per-vector aggregates below need ZERO new exchanges on the n-sized
    // side — only the K×dims centroid table moves (broadcast out,
    // partial-agg back). Per-round cost is the n×K distance rows, never
    // a repeated parquet scan.
    val qd = Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        (floor(col("x") * 1000) + 1000).cast("long").as("v"))
      .transform(Shared.ckpt)
    val seeds = Tables.embeddings(s, d)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(k.toInt)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .cast("long").as("cid"))
    var cent = qd.join(seeds, "vec_id")
      .select(col("cid"), col("dim"), col("v").as("c"))
      .transform(Shared.ckpt)
    // argmin over cells as a lexicographic min(struct(d2, cid)) aggregate
    // (map-side combinable, ties to the lowest cid — the same total order
    // the oracle's `ORDER BY d2, cid` window replays) instead of a
    // sort-based row_number window: both grouping keys start with vec_id,
    // so qd's clustering satisfies them and neither aggregate exchanges.
    def assign(c: DataFrame): DataFrame =
      qd.join(broadcast(c), "dim")
        .groupBy(col("vec_id"), col("cid"))
        .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"))
    for (_ <- 1 to iters) {
      val a = assign(cent).select(col("vec_id"), col("cid"))
      cent = a.join(qd, "vec_id")
        .groupBy(col("cid"), col("dim"))
        .agg(expr("sum(v) div count(1)").as("c"))
        .transform(Shared.ckpt)
    }
    (assign(cent), cent)
  }

  /** q99 body + its ScaleProbe hook: [[semanticCandidates]] is the
    * within-cell pair frame BEFORE the cosine verify — the Σcell² number
    * whose growth law (×100 per decade for a fixed 256-cell quantizer,
    * ×10 when K scales with n) decides when the codebook must grow.
    */
  private[graft] def semanticCandidates(s: SparkSession,
      d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("cell", cellOf(col("emb")))
    val a = e.select(col("vec_id").as("vec_a"), col("cell"),
      col("emb").as("emb_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("cell").as("cell_b"),
      col("emb").as("emb_b"))
    a.join(b, col("cell") === col("cell_b") && col("vec_a") < col("vec_b"))
  }

  private def semanticDedupOf(s: SparkSession, d: String): DataFrame =
    dominanceDedup(Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("cell", cellOf(col("emb"))))

  /** Dominance-pruning semantic dedup over ANY cell-keyed vector frame
    * `(vec_id, cell, emb)` — the shared body of q99 (fixed sign-cell
    * quantizer) and q103 (trained K ∝ n codebook): drop v iff some
    * u < v in v's cell has cos(u,v) ≥ τ, witness = the lowest such u.
    */
  /** The verified semantic pair set of a cell-keyed vector frame
    * `(vec_id, cell, emb)`: within-cell ordered pairs with cos ≥ τ —
    * the shared candidate machinery of [[dominanceDedup]] and the q109
    * leakage audit.
    */
  private[graft] def semanticPairsOf(e: DataFrame): DataFrame = {
    val a = e.select(col("vec_id").as("vec_a"), col("cell"),
      col("emb").as("emb_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("cell").as("cell_b"),
      col("emb").as("emb_b"))
    a.join(b,
        col("cell") === col("cell_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos", round(cosine(col("emb_a"), col("emb_b")), 4))
      .filter(col("cos") >= CosT)
      .select(col("vec_a"), col("vec_b"), col("cell"), col("cos"))
  }

  private[graft] def dominanceDedup(e: DataFrame): DataFrame = {
    val drops = semanticPairsOf(e)
      .groupBy(col("vec_b").as("vec_id"))
      // min over (vec_a, cos) structs = lowest witness id; vec_a is
      // unique per group so the tiebreak never reaches cos
      .agg(min(struct(col("vec_a"), col("cos"))).as("w"))
      .select(col("vec_id"), col("w.vec_a").as("dropped_for"),
        col("w.cos").as("wcos"))
    e.select(col("vec_id"), col("cell"))
      .join(drops, Seq("vec_id"), "left")
      .orderBy(col("vec_id"))
  }

  /** q103's trained-codebook cell frame: embeddings keyed by the final
    * two-level assignment ([[hierTrain]]) — leaf cells sized ~250 by
    * construction at ANY corpus size, which is the lever the q99
    * ×99-per-decade measurement demands. Factored for the query, the
    * ScaleProbe candidate counter, and the spec.
    */
  private[graft] def trainedCellFrame(s: SparkSession, d: String): DataFrame = {
    val assign = trainedAssign(s, d)
      .select(col("vec_id"), col("cid").as("cell"))
    // Checkpointed: the consumer ([[dominanceDedup]]) reads this frame
    // THREE times (pair-join a-side, b-side, final witness outer join) —
    // without the cut each read would replay the final k-means assignment
    // (the n×K distance pass) from scratch.
    Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .join(assign, "vec_id")
      .transform(Shared.ckpt)
  }

  def oracleSql: Map[String, String] = {
    val m = oracleSqlBase
    m ++ Map(
      "q121_online_leaf_split" -> q121Sql,
      // q112b: the trained-path audit replay — exact side identical to
      // q112's, probed side = per-query 9 nearest fine centroids in the
      // integer metric gating the trained assignment
      "q112b_trained_recall_audit" ->
        s"""WITH $trainedAssignCtes,
           | e0 AS (SELECT vec_id, embedding,
           |    sqrt(list_sum(list_transform(embedding,
           |         x -> x::DOUBLE * x::DOUBLE))) AS nrm
           |  FROM embeddings),
           | e AS (SELECT vec_id, embedding, nrm FROM e0 WHERE nrm > 0),
           | q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm
           |       FROM e WHERE vec_id % 500 = 0
           |       ORDER BY vec_id LIMIT $AnnBatchSize),
           | ex AS (SELECT q.q_id, e.vec_id,
           |    row_number() OVER (PARTITION BY q.q_id ORDER BY
           |      ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
           |          p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (e.nrm * q.qnrm),
           |        4) DESC, e.vec_id) AS rk
           |   FROM e, q WHERE e.vec_id <> q.q_id),
           | ext AS (SELECT q_id, vec_id FROM ex WHERE rk <= $AnnRecallK),
           | qq2 AS (SELECT q.q_id, CAST(g.i AS BIGINT) AS dim,
           |    CAST(floor(CAST(q.qv[g.i] AS DOUBLE) * 1000) AS BIGINT)
           |      + 1000 AS v
           |  FROM q, generate_series(1, 64) AS g(i)),
           | cd AS (SELECT qq2.q_id, c.cell, c.sid,
           |    SUM((qq2.v - c.c) * (qq2.v - c.c)) AS d2q
           |  FROM c2 c JOIN qq2 ON qq2.dim = c.dim
           |  GROUP BY qq2.q_id, c.cell, c.sid),
           | pr AS (SELECT q_id, cid FROM (
           |    SELECT q_id, CAST(cell * $SubKCap + sid AS BIGINT) AS cid,
           |      d2q,
           |      row_number() OVER (PARTITION BY q_id
           |        ORDER BY d2q, CAST(cell * $SubKCap + sid AS BIGINT))
           |        AS rn
           |    FROM cd) WHERE rn <= $TrainedProbeBudget),
           | iv AS (SELECT pr.q_id, e.vec_id,
           |    row_number() OVER (PARTITION BY pr.q_id ORDER BY
           |      ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
           |          p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (e.nrm * q.qnrm),
           |        4) DESC, e.vec_id) AS rk
           |   FROM pr JOIN a3 ON a3.cid = pr.cid
           |     JOIN e ON e.vec_id = a3.vec_id
           |     JOIN q ON q.q_id = pr.q_id
           |   WHERE e.vec_id <> pr.q_id),
           | ivt AS (SELECT q_id, vec_id FROM iv WHERE rk <= $AnnRecallK)
           |SELECT x.q_id, COUNT(*) AS n_exact,
           |  COUNT(i.vec_id) AS n_hit,
           |  ROUND(COUNT(i.vec_id)::DOUBLE / COUNT(*), 4) AS recall
           |FROM ext x LEFT JOIN ivt i
           |  ON x.q_id = i.q_id AND x.vec_id = i.vec_id
           |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin,

      // q36b: the full trained-assignment replay, then the 9 globally
      // nearest fine centroids to the integer-quantized query (exact
      // integer d2, cid tiebreak — both engines cut identically), exact
      // cosine rank inside the probed leaves
      "q36b_ann_ivf_trained" -> {
        val qqVals = quantQueryVec.zipWithIndex
          .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
        val qvList = Pipeline.queryVec.mkString("[", ", ", "]")
        s"""WITH $trainedAssignCtes,
           | qq(dim, v) AS (VALUES $qqVals),
           | cd AS (SELECT c.cell, c.sid,
           |     SUM((qq.v - c.c) * (qq.v - c.c)) AS d2q
           |   FROM c2 c JOIN qq ON qq.dim = c.dim
           |   GROUP BY c.cell, c.sid),
           | probe AS (SELECT CAST(cell * $SubKCap + sid AS BIGINT) AS cid
           |   FROM cd
           |   ORDER BY d2q, CAST(cell * $SubKCap + sid AS BIGINT)
           |   LIMIT $TrainedProbeBudget),
           | q AS (SELECT $qvList::DOUBLE[] AS qv)
           |SELECT a3.vec_id, a3.cid,
           |  ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
           |      x -> x[1]::DOUBLE * x[2]::DOUBLE))
           |    / (sqrt(list_sum(list_transform(e.embedding,
           |         x -> x::DOUBLE * x::DOUBLE)))
           |       * ${Pipeline.queryVecNorm}), 4) AS cos
           |FROM a3 JOIN probe USING (cid)
           |  JOIN embeddings e ON e.vec_id = a3.vec_id, q
           |ORDER BY cos DESC, a3.vec_id LIMIT 10""".stripMargin
      },
      // q36c: the COMPLETE replay — trained assignment, the q112b audit
      // swept across the width domain, the integer-exact per-width mean
      // recall curve, the smallest-width-meeting-target pick (widest
      // fallback), then the q36b serve cut at the picked width. A hash
      // match proves the width SELECTION as well as the serve.
      "q36c_ann_ivf_autotuned" -> {
        val qqVals = quantQueryVec.zipWithIndex
          .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
        val qvList = Pipeline.queryVec.mkString("[", ", ", "]")
        val wVals = Q36cWidths.map(w => s"($w)").mkString(", ")
        s"""WITH $trainedAssignCtes,
           | e0 AS (SELECT vec_id, embedding,
           |    sqrt(list_sum(list_transform(embedding,
           |         x -> x::DOUBLE * x::DOUBLE))) AS nrm
           |  FROM embeddings),
           | e AS (SELECT vec_id, embedding, nrm FROM e0 WHERE nrm > 0),
           | q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm
           |       FROM e WHERE vec_id % 500 = 0
           |       ORDER BY vec_id LIMIT $AnnBatchSize),
           | ex AS (SELECT q.q_id, e.vec_id,
           |    row_number() OVER (PARTITION BY q.q_id ORDER BY
           |      ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
           |          p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (e.nrm * q.qnrm),
           |        4) DESC, e.vec_id) AS rk
           |   FROM e, q WHERE e.vec_id <> q.q_id),
           | ext AS (SELECT q_id, vec_id FROM ex WHERE rk <= $AnnRecallK),
           | qq2 AS (SELECT q.q_id, CAST(g.i AS BIGINT) AS dim,
           |    CAST(floor(CAST(q.qv[g.i] AS DOUBLE) * 1000) AS BIGINT)
           |      + 1000 AS v
           |  FROM q, generate_series(1, 64) AS g(i)),
           | cd AS (SELECT qq2.q_id, c.cell, c.sid,
           |    SUM((qq2.v - c.c) * (qq2.v - c.c)) AS d2q
           |  FROM c2 c JOIN qq2 ON qq2.dim = c.dim
           |  GROUP BY qq2.q_id, c.cell, c.sid),
           | rp AS (SELECT q_id, CAST(cell * $SubKCap + sid AS BIGINT)
           |      AS cid,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY d2q, CAST(cell * $SubKCap + sid AS BIGINT))
           |      AS rn
           |   FROM cd),
           | wdom(width) AS (VALUES $wVals),
           | probes AS (SELECT rp.q_id, wdom.width, rp.cid
           |   FROM rp, wdom WHERE rp.rn <= wdom.width),
           | iv AS (SELECT p.q_id, p.width, e.vec_id,
           |    row_number() OVER (PARTITION BY p.q_id, p.width ORDER BY
           |      ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
           |          x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (e.nrm * q.qnrm),
           |        4) DESC, e.vec_id) AS rk
           |   FROM probes p JOIN a3 ON a3.cid = p.cid
           |     JOIN e ON e.vec_id = a3.vec_id
           |     JOIN q ON q.q_id = p.q_id
           |   WHERE e.vec_id <> p.q_id),
           | ivt AS (SELECT q_id, width, vec_id FROM iv
           |         WHERE rk <= $AnnRecallK),
           | exw AS (SELECT ext.q_id, ext.vec_id, w.width FROM ext,
           |         wdom w),
           | rc AS (SELECT x.q_id, x.width, COUNT(*) AS n_exact,
           |     COUNT(i.vec_id) AS n_hit
           |   FROM exw x LEFT JOIN ivt i
           |     ON x.q_id = i.q_id AND x.width = i.width
           |        AND x.vec_id = i.vec_id
           |   GROUP BY x.q_id, x.width),
           | curve AS (SELECT width,
           |     CAST(SUM((10000 * n_hit) // n_exact) // COUNT(*)
           |       AS BIGINT) AS mre4
           |   FROM rc GROUP BY width),
           | pick AS (SELECT CAST(COALESCE(
           |     MIN(width) FILTER (WHERE mre4 >= $Q36cTargetE4),
           |     ${Q36cWidths.max}) AS BIGINT) AS w FROM curve),
           | qq(dim, v) AS (VALUES $qqVals),
           | cds AS (SELECT c.cell, c.sid,
           |     SUM((qq.v - c.c) * (qq.v - c.c)) AS d2q
           |   FROM c2 c JOIN qq ON qq.dim = c.dim
           |   GROUP BY c.cell, c.sid),
           | pserve AS (SELECT cid FROM (
           |     SELECT CAST(cell * $SubKCap + sid AS BIGINT) AS cid,
           |       row_number() OVER (ORDER BY d2q,
           |         CAST(cell * $SubKCap + sid AS BIGINT)) AS rn
           |     FROM cds) WHERE rn <= (SELECT w FROM pick)),
           | qvv AS (SELECT $qvList::DOUBLE[] AS qv)
           |SELECT a3.vec_id, a3.cid,
           |  ROUND(list_sum(list_transform(list_zip(em.embedding, qvv.qv),
           |      x -> x[1]::DOUBLE * x[2]::DOUBLE))
           |    / (sqrt(list_sum(list_transform(em.embedding,
           |         x -> x::DOUBLE * x::DOUBLE)))
           |       * ${Pipeline.queryVecNorm}), 4) AS cos,
           |  (SELECT w FROM pick) AS probe_width
           |FROM a3 JOIN pserve USING (cid)
           |  JOIN embeddings em ON em.vec_id = a3.vec_id, qvv
           |ORDER BY cos DESC, a3.vec_id LIMIT 10""".stripMargin
      },
      // staged twins: identical output contract, so identical oracles
      "q103b_semantic_dedup_staged" -> m("q103_semantic_dedup_trained"),
      "q104b_prototype_staged" -> m("q104_prototype_prune"),
      "q105b_sample_staged" -> m("q105_cluster_balanced_sample"),
      // q109: the q103 pair CTEs + the q49-style hash-split formula on
      // each endpoint, keeping only straddling pairs
      "q109_semantic_leakage_audit" -> {
        def sp(x: String): String =
          s"""CASE WHEN ${Shared.sqlHash60(s"CAST($x AS VARCHAR)")} % 100 < 80
             |  THEN 'train'
             |  WHEN ${Shared.sqlHash60(s"CAST($x AS VARCHAR)")} % 100 < 90
             |  THEN 'val' ELSE 'test' END""".stripMargin
        s"""WITH $trainedAssignCtes,
           | e AS (SELECT em.vec_id, em.embedding, a3.cid AS cell
           |       FROM embeddings em JOIN a3 ON a3.vec_id = em.vec_id),
           | pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
           |    ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
           |            p -> p[1]::DOUBLE * p[2]::DOUBLE))
           |      / (sqrt(list_sum(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE)))
           |         * sqrt(list_sum(list_transform(b.embedding, v -> v::DOUBLE * v::DOUBLE)))),
           |      4) AS cos
           |   FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id),
           | q AS (SELECT * FROM pr WHERE cos >= $CosT),
           | l AS (SELECT vec_a, vec_b, cell, cos,
           |    ${sp("vec_a")} AS split_a,
           |    ${sp("vec_b")} AS split_b
           |   FROM q)
           |SELECT vec_a, vec_b, cell, cos, split_a, split_b
           |FROM l WHERE split_a <> split_b
           |ORDER BY vec_a, vec_b""".stripMargin
      },

      // q107: the q103 dominance CTEs → survivors → re-ranked prototype
      // prune → balanced cap, recomposed from the same fragments
      "q107_semantic_pipeline" ->
        s"""WITH $trainedAssignCtes,
           | e AS (SELECT em.vec_id, em.embedding, a3.cid AS cell
           |       FROM embeddings em JOIN a3 ON a3.vec_id = em.vec_id),
           | pr AS (SELECT a.vec_id AS va, b.vec_id AS vb,
           |    ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
           |            p -> p[1]::DOUBLE * p[2]::DOUBLE))
           |      / (sqrt(list_sum(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE)))
           |         * sqrt(list_sum(list_transform(b.embedding, v -> v::DOUBLE * v::DOUBLE)))),
           |      4) AS cos
           |   FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id),
           | dr AS (SELECT DISTINCT vb FROM pr WHERE cos >= $CosT),
           | sv AS (SELECT e.vec_id, e.cell, a3.d2
           |   FROM e JOIN a3 ON a3.vec_id = e.vec_id
           |   LEFT JOIN dr ON dr.vb = e.vec_id WHERE dr.vb IS NULL),
           | r AS (SELECT vec_id, cell, d2,
           |    row_number() OVER (PARTITION BY cell
           |                       ORDER BY d2, vec_id) AS proto_rank,
           |    COUNT(*) OVER (PARTITION BY cell) AS cell_n
           |   FROM sv),
           | kept AS (SELECT vec_id, cell FROM r
           |          WHERE proto_rank * 5 > cell_n),
           | c AS (SELECT vec_id, cell,
           |    row_number() OVER (PARTITION BY cell ORDER BY
           |      ${Shared.sqlHash60("concat('cb|', CAST(vec_id AS VARCHAR))")},
           |      vec_id) AS rn
           |   FROM kept)
           |SELECT vec_id, cell, CAST(rn AS BIGINT) AS rn
           |FROM c WHERE rn <= 40 ORDER BY cell, rn""".stripMargin
    )
  }

  private def oracleSqlBase: Map[String, String] = {
    val cellSql = (0 until 8)
      .map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END")
      .mkString(" + ")
    val qvList = Pipeline.queryVec.mkString("[", ", ", "]")

    // Shared q112/q117 audit prelude: normalized frame, fixed batch,
    // exact top-K ground truth — ONE copy, interpolated into both
    // oracles (mirrors the annAuditFrame/annAuditBatch/annExactTopK
    // helpers on the Spark side).
    val annAuditCtes =
      s"""e0 AS (SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |         x -> x::DOUBLE * x::DOUBLE))) AS nrm
         |  FROM embeddings),
         | e AS (SELECT vec_id, embedding, nrm,
         |        CAST($cellSql AS BIGINT) AS cell FROM e0 WHERE nrm > 0),
         | q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm,
         |        cell AS qcell
         |       FROM e WHERE vec_id % 500 = 0
         |       ORDER BY vec_id LIMIT $AnnBatchSize),
         | ex AS (SELECT q.q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q.q_id ORDER BY
         |      ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
         |          p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (e.nrm * q.qnrm),
         |        4) DESC, e.vec_id) AS rk
         |   FROM e, q WHERE e.vec_id <> q.q_id),
         | ext AS (SELECT q_id, vec_id FROM ex WHERE rk <= $AnnRecallK)"""
        .stripMargin

    val bandKeySql = (0 until 8)
      .map(i => s"CASE WHEN embedding[8*b + ${i + 1}] > 0 THEN ${1 << i} ELSE 0 END")
      .mkString(" + ")

    // q76/q90 shared: the 8 PQ code columns, left-assoc distance sums in
    // the same order as the Spark fold
    val pqCodesSql = {
      def dist(sub: Int, c: Int): String =
        (0 until 8).map { dd =>
          val l = pqCodebook(sub)(c)(dd)
          s"(embedding[${8 * sub + dd + 1}]::DOUBLE - $l) * " +
            s"(embedding[${8 * sub + dd + 1}]::DOUBLE - $l)"
        }.mkString(" + ")
      (0 until 8).map { sub =>
        val d = (0 until 4).map(dist(sub, _))
        s"""CASE WHEN ${d(0)} <= ${d(1)} AND ${d(0)} <= ${d(2)}
           |       AND ${d(0)} <= ${d(3)} THEN 0::BIGINT
           |     WHEN ${d(1)} <= ${d(2)} AND ${d(1)} <= ${d(3)} THEN 1::BIGINT
           |     WHEN ${d(2)} <= ${d(3)} THEN 2::BIGINT ELSE 3::BIGINT
           |END AS c$sub""".stripMargin
      }.mkString(",\n  ")
    }

    // shared by q90b and its staged-codes twin q90c (identical rows —
    // the staging changes physical layout, not semantics): per-query
    // cell + probe list + ADC CASE chains computed from qv with the same
    // exact literals and left-assoc association as the Spark-side adcq
    // `codedWhere` filters the CODED SCAN only (q155's tombstone set);
    // queries, norms, and the codebook see the full table — the
    // no-retrain-on-delete contract.
    def ivfPqBatchSqlWhere(codedWhere: String): String = {
      def qdSql(sub: Int, c: Int): String =
        (0 until 8).map { dd =>
          val l = pqCodebook(sub)(c)(dd)
          s"(qv[${8 * sub + dd + 1}]::DOUBLE - $l) * " +
            s"(qv[${8 * sub + dd + 1}]::DOUBLE - $l)"
        }.mkString(" + ")
      val adcqSql = (0 until 8).map { sub =>
        s"(CASE c$sub WHEN 0 THEN ${qdSql(sub, 0)} " +
          s"WHEN 1 THEN ${qdSql(sub, 1)} WHEN 2 THEN ${qdSql(sub, 2)} " +
          s"ELSE ${qdSql(sub, 3)} END)::DOUBLE"
      }.mkString(" + ")
      s"""WITH e0 AS (SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |         x -> x::DOUBLE * x::DOUBLE))) AS nrm
         |  FROM embeddings),
         | e AS (SELECT * FROM e0 WHERE nrm > 0),
         | q0 AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm,
         |        CAST($cellSql AS BIGINT) AS qcell
         |      FROM e WHERE vec_id % 500 = 0
         |      ORDER BY vec_id LIMIT $AnnBatchSize),
         | probe AS (SELECT q_id, qv, qnrm, xor(qcell, m.m) AS pcell
         |      FROM q0, (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS m) m),
         | coded AS (SELECT vec_id, embedding, nrm,
         |    CAST($cellSql AS BIGINT) AS cell,
         |    $pqCodesSql
         |   FROM e $codedWhere),
         | j AS (SELECT p.q_id, p.qv, p.qnrm, c.vec_id, c.embedding,
         |        c.nrm, c.cell, $adcqSql AS adc
         |   FROM probe p JOIN coded c
         |     ON c.cell = p.pcell AND c.vec_id <> p.q_id),
         | r1 AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |          ORDER BY adc, vec_id) AS ar FROM j),
         | sc AS (SELECT q_id, vec_id, cell, ROUND(adc, 4) AS adc_dist,
         |    ROUND(list_sum(list_transform(list_zip(embedding, qv),
         |        x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (nrm * qnrm), 4)
         |      AS cos
         |   FROM r1 WHERE ar <= $PqRerank),
         | r2 AS (SELECT q_id, vec_id, cell, adc_dist, cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS rk
         |   FROM sc)
         |SELECT q_id, rk::BIGINT AS rk, vec_id, cell, adc_dist, cos
         |FROM r2 WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin
    }
    val ivfPqBatchSql = ivfPqBatchSqlWhere("")
    val ivfPqTombSql = ivfPqBatchSqlWhere(
      s"WHERE vec_id % ${Dedup.TombMod} <> ${Dedup.TombRes}")

    Map(
      // same association as Spark: dot / (nrm_v * nrm_q), norms from the
      // double-cast squares, ROUND 4dp before ranking
      "q85_ann_batch" ->
        s"""WITH e0 AS (SELECT vec_id, label, embedding,
          |    sqrt(list_sum(list_transform(embedding,
          |         x -> x::DOUBLE * x::DOUBLE))) AS nrm
          |  FROM embeddings),
          | e AS (SELECT * FROM e0 WHERE nrm > 0),
          | q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm
          |       FROM e WHERE vec_id % 500 = 0
          |       ORDER BY vec_id LIMIT $AnnBatchSize),
          | sc AS (SELECT q.q_id, e.vec_id, e.label,
          |    ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
          |        p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (e.nrm * q.qnrm),
          |      4) AS cos
          |   FROM e, q WHERE e.vec_id <> q.q_id),
          | r AS (SELECT q_id, vec_id, label, cos,
          |    row_number() OVER (PARTITION BY q_id
          |                       ORDER BY cos DESC, vec_id) AS rk
          |   FROM sc)
          |SELECT q_id, rk::BIGINT AS rk, vec_id, label, cos
          |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

      "q35_neardup_embedding" ->
        s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
           |  bands AS (SELECT label, b, vec_id, CAST($bandKeySql AS BIGINT) AS key
           |            FROM e, (SELECT unnest([0, 1, 2, 3]) AS b)),
           |  cand AS (SELECT DISTINCT a.label, a.vec_id AS vec_a, c.vec_id AS vec_b
           |           FROM bands a JOIN bands c
           |             ON a.label = c.label AND a.b = c.b AND a.key = c.key
           |            AND a.vec_id < c.vec_id),
           |  ver AS (SELECT vec_a, vec_b, cand.label,
           |    ROUND(list_sum(list_transform(list_zip(x.embedding, y.embedding),
           |            p -> p[1]::DOUBLE * p[2]::DOUBLE))
           |      / (sqrt(list_sum(list_transform(x.embedding, v -> v::DOUBLE * v::DOUBLE)))
           |         * sqrt(list_sum(list_transform(y.embedding, v -> v::DOUBLE * v::DOUBLE)))),
           |      4) AS cos
           |    FROM cand JOIN e x ON x.vec_id = vec_a
           |              JOIN e y ON y.vec_id = vec_b)
           |SELECT vec_a, vec_b, label, cos FROM ver
           |WHERE cos >= $NearDupT ORDER BY vec_a, vec_b""".stripMargin,

      "q35b_neardup_block_exact" ->
        s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
           |  p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           |    ROUND(
           |      list_sum(list_transform(list_zip(a.embedding, b.embedding),
           |        x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
           |      (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
           |       * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           |      4) AS cos
           |   FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
           |SELECT vec_a, vec_b, label, cos FROM p
           |WHERE cos >= $CosT ORDER BY vec_a, vec_b""".stripMargin,

      "q36_ann_ivf" ->
        s"""WITH q AS (SELECT $qvList::DOUBLE[] AS qv),
           |  e AS (SELECT vec_id, embedding,
           |          CAST($cellSql AS BIGINT) AS cell FROM embeddings)
           |SELECT vec_id, cell,
           |  ROUND(
           |    list_sum(list_transform(list_zip(embedding, qv),
           |      x -> x[1]::DOUBLE * x[2]::DOUBLE))
           |    / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           |       * ${Pipeline.queryVecNorm}), 4) AS cos
           |FROM e, q WHERE cell IN (${probeCells.mkString(", ")})
           |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

      // q112: same batch, same rounded-cos/vec_id tie ranking on both
      // the exact and the probed side; probe set replayed via xor masks.
      "q112_ann_recall_audit" ->
        s"""WITH $annAuditCtes,
           | probes AS (SELECT q_id, qv, qnrm, xor(qcell, m) AS pcell
           |   FROM q, (SELECT unnest([${probeMasks.mkString(", ")}]) AS m)),
           | iv AS (SELECT p.q_id, e.vec_id,
           |    row_number() OVER (PARTITION BY p.q_id ORDER BY
           |      ROUND(list_sum(list_transform(list_zip(e.embedding, p.qv),
           |          x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (e.nrm * p.qnrm),
           |        4) DESC, e.vec_id) AS rk
           |   FROM e JOIN probes p ON e.cell = p.pcell
           |   WHERE e.vec_id <> p.q_id),
           | ivt AS (SELECT q_id, vec_id FROM iv WHERE rk <= $AnnRecallK)
           |SELECT x.q_id, COUNT(*) AS n_exact,
           |  COUNT(i.vec_id) AS n_hit,
           |  ROUND(COUNT(i.vec_id)::DOUBLE / COUNT(*), 4) AS recall
           |FROM ext x LEFT JOIN ivt i
           |  ON x.q_id = i.q_id AND x.vec_id = i.vec_id
           |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin,

      // q117: q112's replay with the (width, mask) literal table; each
      // width ranks its own candidate pool, exact side crossed with the
      // three widths.
      "q117_ann_probe_sweep" ->
        s"""WITH $annAuditCtes,
           | wm(width, m) AS (VALUES ${
               probeWidths.map { case (w, m) => s"($w, $m)" }.mkString(", ")
             }),
           | probes AS (SELECT q_id, qv, qnrm, wm.width,
           |             xor(qcell, wm.m) AS pcell FROM q, wm),
           | iv AS (SELECT p.q_id, p.width, e.vec_id,
           |    row_number() OVER (PARTITION BY p.q_id, p.width ORDER BY
           |      ROUND(list_sum(list_transform(list_zip(e.embedding, p.qv),
           |          x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (e.nrm * p.qnrm),
           |        4) DESC, e.vec_id) AS rk
           |   FROM e JOIN probes p ON e.cell = p.pcell
           |   WHERE e.vec_id <> p.q_id),
           | ivt AS (SELECT q_id, width, vec_id FROM iv
           |         WHERE rk <= $AnnRecallK),
           | exw AS (SELECT q_id, vec_id, w.width FROM ext,
           |         (SELECT unnest([${sweepWidths.mkString(", ")}])
           |            AS width) w)
           |SELECT x.q_id, x.width, COUNT(*) AS n_exact,
           |  COUNT(i.vec_id) AS n_hit,
           |  ROUND(COUNT(i.vec_id)::DOUBLE / COUNT(*), 4) AS recall
           |FROM exw x LEFT JOIN ivt i
           |  ON x.q_id = i.q_id AND x.width = i.width
           |     AND x.vec_id = i.vec_id
           |GROUP BY x.q_id, x.width ORDER BY x.q_id, x.width""".stripMargin,

      "q64_neardup_lsh" -> {
        // the eight 8-bit sign groups, then the 28 (band, 16-bit key)
        // rows per vector — same [[bandPairs]] order as the Spark side
        val groupSql = (g: Int) => (0 until 8)
          .map(i => s"CASE WHEN embedding[${8 * g + i + 1}] > 0 THEN ${1 << i} ELSE 0 END")
          .mkString(" + ")
        val byteCols = (0 until 8)
          .map(g => s"CAST(${groupSql(g)} AS BIGINT) AS g$g").mkString(",\n    ")
        val keyCase = bandPairs.zipWithIndex
          .map { case ((g, h), b) => s"WHEN $b THEN g$g * 256 + g$h" }
          .mkString("CASE p.b ", " ", " END")
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |  bytes AS (SELECT vec_id,
           |    $byteCols
           |    FROM e),
           |  bands AS (SELECT vec_id, p.b, $keyCase AS key
           |            FROM bytes, (SELECT unnest(range(28)) AS b) p),
           |  cand AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
           |           FROM bands a JOIN bands c
           |             ON a.b = c.b AND a.key = c.key
           |            AND a.vec_id < c.vec_id),
           |  ver AS (SELECT vec_a, vec_b,
           |    ROUND(list_sum(list_transform(list_zip(x.embedding, y.embedding),
           |            p -> p[1]::DOUBLE * p[2]::DOUBLE))
           |      / (sqrt(list_sum(list_transform(x.embedding, v -> v::DOUBLE * v::DOUBLE)))
           |         * sqrt(list_sum(list_transform(y.embedding, v -> v::DOUBLE * v::DOUBLE)))),
           |      4) AS cos
           |    FROM cand JOIN e x ON x.vec_id = vec_a
           |              JOIN e y ON y.vec_id = vec_b)
           |SELECT vec_a, vec_b, cos FROM ver WHERE cos >= $NearDupT
           |ORDER BY vec_a, vec_b""".stripMargin
      },

      "q76_pq_quantize" ->
        s"""SELECT vec_id,
           |  $pqCodesSql
           |FROM embeddings ORDER BY vec_id""".stripMargin,

      // q90: identical cell probe + code argmin + literal ADC chain;
      // the $PqRerank-row cut and final rank are fully deterministic
      // (literal sums bit-identical across engines, ties on vec_id)
      "q90_ann_ivfpq" -> {
        // every term cast to DOUBLE: DuckDB parses the interpolated
        // literals as DECIMAL and would sum in decimal arithmetic —
        // ::DOUBLE restores the exact IEEE chain the Spark reduce runs
        val adcSql = (0 until 8).map { sub =>
          val t = adcTable(sub)
          s"(CASE c$sub WHEN 0 THEN ${t(0)} WHEN 1 THEN ${t(1)} " +
            s"WHEN 2 THEN ${t(2)} ELSE ${t(3)} END)::DOUBLE"
        }.mkString(" + ") // same left-assoc order as the Spark reduce
        s"""WITH q AS (SELECT $qvList::DOUBLE[] AS qv),
           |  e AS (SELECT vec_id, embedding,
           |          CAST($cellSql AS BIGINT) AS cell FROM embeddings
           |        WHERE CAST($cellSql AS BIGINT)
           |          IN (${probeCells.mkString(", ")})),
           |  coded AS (SELECT vec_id, embedding, cell,
           |    $pqCodesSql
           |    FROM e),
           |  adc AS (SELECT vec_id, embedding, cell,
           |      $adcSql AS adc
           |    FROM coded),
           |  top AS (SELECT * FROM adc ORDER BY adc, vec_id LIMIT $PqRerank)
           |SELECT vec_id, cell, ROUND(adc, 4) AS adc_dist,
           |  ROUND(
           |    list_sum(list_transform(list_zip(embedding, qv),
           |      x -> x[1]::DOUBLE * x[2]::DOUBLE))
           |    / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           |       * ${Pipeline.queryVecNorm}), 4) AS cos
           |FROM top, q ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
      },

      // q90b: the batched replay — per-query cell + probe list + ADC
      // CASE chains computed from qv with the same exact literals and
      // left-assoc association as the Spark-side adcq array
      "q90b_ann_ivfpq_batch" -> ivfPqBatchSql,

      // q90c: the staged-codes form is a physical-layout change only —
      // the scan below the ADC cut reads the write-once pq_codes table
      // instead of re-deriving codes, and the re-rank re-joins the
      // vector store by id — so its rows are identical to q90b's and
      // the oracle is the same replay.
      "q90c_ann_ivfpq_staged" -> ivfPqBatchSql,

      // q90d: the COMPLETE replay — brute-force baseline, the 2-D
      // (radius x rerank) ADC-survivor sweep via the membership-=-served
      // shortcut (doc'd at q90dCurveArtifact), the integer-exact
      // mean-recall surface, the cheapest-combo-meeting-target pick
      // (max-recall fallback), then the q90c serve at the picked combo.
      // A hash match proves the 2-D selection.
      "q90d_ann_ivfpq_autotuned" -> {
        def qdSql(sub: Int, c: Int): String =
          (0 until 8).map { dd =>
            val l = pqCodebook(sub)(c)(dd)
            s"(qv[${8 * sub + dd + 1}]::DOUBLE - $l) * " +
              s"(qv[${8 * sub + dd + 1}]::DOUBLE - $l)"
          }.mkString(" + ")
        val adcqSql = (0 until 8).map { sub =>
          s"(CASE c$sub WHEN 0 THEN ${qdSql(sub, 0)} " +
            s"WHEN 1 THEN ${qdSql(sub, 1)} WHEN 2 THEN ${qdSql(sub, 2)} " +
            s"ELSE ${qdSql(sub, 3)} END)::DOUBLE"
        }.mkString(" + ")
        val wmVals = q90dProbeWidths
          .map { case (w, m) => s"($w, $m)" }.mkString(", ")
        s"""WITH e0 AS (SELECT vec_id, embedding,
           |    sqrt(list_sum(list_transform(embedding,
           |         x -> x::DOUBLE * x::DOUBLE))) AS nrm
           |  FROM embeddings),
           | e AS (SELECT * FROM e0 WHERE nrm > 0),
           | q0 AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm,
           |        CAST($cellSql AS BIGINT) AS qcell
           |      FROM e WHERE vec_id % 500 = 0
           |      ORDER BY vec_id LIMIT $AnnBatchSize),
           | ex AS (SELECT q.q_id, e.vec_id,
           |    row_number() OVER (PARTITION BY q.q_id ORDER BY
           |      ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
           |          p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (e.nrm * q.qnrm),
           |        4) DESC, e.vec_id) AS rk
           |   FROM e, q0 q WHERE e.vec_id <> q.q_id),
           | ext AS (SELECT q_id, vec_id FROM ex WHERE rk <= $AnnRecallK),
           | wm(width, m) AS (VALUES $wmVals),
           | coded AS (SELECT vec_id, embedding, nrm,
           |    CAST($cellSql AS BIGINT) AS cell,
           |    $pqCodesSql
           |   FROM e),
           | probe2 AS (SELECT q_id, qv, qnrm, wm.width,
           |      xor(qcell, wm.m) AS pcell FROM q0, wm),
           | j2 AS (SELECT p.q_id, p.width, c.vec_id, $adcqSql AS adc
           |   FROM probe2 p JOIN coded c
           |     ON c.cell = p.pcell AND c.vec_id <> p.q_id),
           | srv AS (SELECT q_id, width, vec_id, ar FROM (
           |     SELECT *, row_number() OVER (
           |       PARTITION BY q_id, width ORDER BY adc, vec_id) AS ar
           |     FROM j2)
           |   WHERE ar <= ${q90dRerankCuts.max}),
           | exw AS (SELECT ext.q_id, ext.vec_id, w.width FROM ext,
           |         (SELECT unnest([${q90dSweepWidths.mkString(", ")}])
           |            AS width) w),
           | rr AS (SELECT unnest([${q90dRerankCuts.mkString(", ")}])
           |          AS rerank),
           | rc AS (SELECT x.q_id, x.width, r.rerank, COUNT(*) AS n_exact,
           |     COUNT(*) FILTER (WHERE s.ar IS NOT NULL
           |                        AND s.ar <= r.rerank) AS n_hit
           |   FROM exw x CROSS JOIN rr r LEFT JOIN srv s
           |     ON x.q_id = s.q_id AND x.width = s.width
           |        AND x.vec_id = s.vec_id
           |   GROUP BY x.q_id, x.width, r.rerank),
           | curve AS (SELECT width, rerank,
           |     CAST(SUM((10000 * n_hit) // n_exact) // COUNT(*)
           |       AS BIGINT) AS mre4
           |   FROM rc GROUP BY width, rerank),
           | pick AS (SELECT CAST(width AS BIGINT) AS w,
           |     CAST(rerank AS BIGINT) AS r
           |   FROM curve
           |   ORDER BY (CASE WHEN mre4 >= $Q36cTargetE4
           |               THEN 1 ELSE 0 END) DESC,
           |     (CASE WHEN mre4 >= $Q36cTargetE4 THEN 0 ELSE -mre4 END),
           |     width, rerank
           |   LIMIT 1),
           | j AS (SELECT p.q_id, p.qv, p.qnrm, c.vec_id, c.embedding,
           |        c.nrm, c.cell, $adcqSql AS adc
           |   FROM (SELECT q_id, qv, qnrm, xor(qcell, wm.m) AS pcell
           |         FROM q0, wm
           |         WHERE wm.width = (SELECT w FROM pick)) p
           |     JOIN coded c
           |     ON c.cell = p.pcell AND c.vec_id <> p.q_id),
           | r1 AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |          ORDER BY adc, vec_id) AS ar FROM j),
           | sc AS (SELECT q_id, vec_id, cell, ROUND(adc, 4) AS adc_dist,
           |    ROUND(list_sum(list_transform(list_zip(embedding, qv),
           |        x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (nrm * qnrm), 4)
           |      AS cos
           |   FROM r1 WHERE ar <= (SELECT r FROM pick)),
           | r2 AS (SELECT q_id, vec_id, cell, adc_dist, cos,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY cos DESC, vec_id) AS rk
           |   FROM sc)
           |SELECT q_id, rk::BIGINT AS rk, vec_id, cell, adc_dist, cos,
           |  (SELECT w FROM pick) AS probe_radius,
           |  (SELECT r FROM pick) AS rerank_cut
           |FROM r2 WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin
      },
      // q122 serves base ∪ delta; the rows are provably those of the
      // from-scratch artifact, so the oracle is the identical full replay
      "q122_incremental_pq_codes" -> ivfPqBatchSql,
      // q155/q155b: the coded scan excludes the tombstone set; compaction
      // must be invisible, so both shapes share one filtered replay
      "q155_ann_tombstone" -> ivfPqTombSql,
      "q155b_tombstone_compact" -> ivfPqTombSql,

      "q63_centroids" ->
        s"""SELECT label, dim, COUNT(*) AS n,
           |  ${graft.Q.sqlDavg("x")} + 0.0 AS centroid
           |FROM (SELECT CAST(label AS BIGINT) AS label,
           |        unnest(embedding)::DOUBLE AS x,
           |        CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim
           |      FROM embeddings)
           |GROUP BY label, dim ORDER BY label, dim""".stripMargin,

      // q97: the same integer-exact Lloyd trajectory as a CTE chain —
      // assignment k reads centroids c{k-1}, update k rebuilds c{k};
      // DuckDB `//` and Spark `div` agree because every sum is
      // non-negative (the +1000 quantization shift)
      "q97_kmeans" -> {
        def kmAssign(n: Int): String =
          s"""a$n AS (SELECT vec_id, cid, d2 FROM (
             |    SELECT qd.vec_id, c.cid,
             |      SUM((qd.v - c.c) * (qd.v - c.c)) AS d2,
             |      row_number() OVER (PARTITION BY qd.vec_id
             |        ORDER BY SUM((qd.v - c.c) * (qd.v - c.c)), c.cid)
             |        AS rn
             |    FROM qd JOIN c${n - 1} c USING (dim)
             |    GROUP BY qd.vec_id, c.cid)
             |  WHERE rn = 1)""".stripMargin
        def kmUpdate(n: Int): String =
          s"""c$n AS (SELECT a.cid, qd.dim, SUM(qd.v) // COUNT(*) AS c
             |  FROM a$n a JOIN qd USING (vec_id)
             |  GROUP BY a.cid, qd.dim)""".stripMargin
        val rounds = (1 to 3)
          .map(n => s"${kmAssign(n)},\n${kmUpdate(n)}").mkString(",\n")
        s"""WITH qd AS (
           |  SELECT vec_id, CAST(g.i AS BIGINT) AS dim,
           |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000) AS BIGINT)
           |      + 1000 AS v
           |  FROM embeddings, generate_series(1, 64) AS g(i)),
           |seeds AS (
           |  SELECT vec_id,
           |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
           |      AS cid
           |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
           |c0 AS (SELECT s.cid, qd.dim, qd.v AS c
           |       FROM qd JOIN seeds s USING (vec_id)),
           |$rounds,
           |${kmAssign(4)}
           |SELECT vec_id, cid AS cluster, CAST(d2 AS BIGINT) AS d2 FROM a4
           |ORDER BY vec_id""".stripMargin
      },

      // q99: same cell assignment, same pair predicate, witness = lowest
      // qualifying lower id (min on va, then its cos joined back)
      "q99_semantic_dedup" ->
        s"""WITH e AS (SELECT vec_id, embedding,
           |    CAST($cellSql AS BIGINT) AS cell FROM embeddings),
           | pr AS (SELECT a.vec_id AS va, b.vec_id AS vb,
           |    ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
           |            p -> p[1]::DOUBLE * p[2]::DOUBLE))
           |      / (sqrt(list_sum(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE)))
           |         * sqrt(list_sum(list_transform(b.embedding, v -> v::DOUBLE * v::DOUBLE)))),
           |      4) AS cos
           |   FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id),
           | q AS (SELECT * FROM pr WHERE cos >= $CosT),
           | dr AS (SELECT vb, min(va) AS dropped_for FROM q GROUP BY vb),
           | drc AS (SELECT dr.vb, dr.dropped_for, q.cos AS wcos
           |   FROM dr JOIN q ON q.vb = dr.vb AND q.va = dr.dropped_for)
           |SELECT e.vec_id, e.cell, drc.dropped_for, drc.wcos
           |FROM e LEFT JOIN drc ON drc.vb = e.vec_id
           |ORDER BY e.vec_id""".stripMargin,

      // q103: the q97 CTE chain with K = max(8, n//250) seeds and 2
      // rounds, then exactly q99's pair/dominance SQL keyed on the
      // trained assignment
      "q103_semantic_dedup_trained" ->
        s"""WITH $trainedAssignCtes,
           | e AS (SELECT em.vec_id, em.embedding, a3.cid AS cell
           |       FROM embeddings em JOIN a3 ON a3.vec_id = em.vec_id),
           | pr AS (SELECT a.vec_id AS va, b.vec_id AS vb,
           |    ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
           |            p -> p[1]::DOUBLE * p[2]::DOUBLE))
           |      / (sqrt(list_sum(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE)))
           |         * sqrt(list_sum(list_transform(b.embedding, v -> v::DOUBLE * v::DOUBLE)))),
           |      4) AS cos
           |   FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id),
           | q AS (SELECT * FROM pr WHERE cos >= $CosT),
           | dr AS (SELECT vb, min(va) AS dropped_for FROM q GROUP BY vb),
           | drc AS (SELECT dr.vb, dr.dropped_for, q.cos AS wcos
           |   FROM dr JOIN q ON q.vb = dr.vb AND q.va = dr.dropped_for)
           |SELECT e.vec_id, e.cell, drc.dropped_for, drc.wcos
           |FROM e LEFT JOIN drc ON drc.vb = e.vec_id
           |ORDER BY e.vec_id""".stripMargin,

      // q104: rank a3's integer distances within each trained cell —
      // same window order (d2, vec_id) and the integer 20% cut
      "q104_prototype_prune" ->
        s"""WITH $trainedAssignCtes,
           | r AS (SELECT vec_id, cid AS cell, d2,
           |    row_number() OVER (PARTITION BY cid
           |                       ORDER BY d2, vec_id) AS proto_rank,
           |    COUNT(*) OVER (PARTITION BY cid) AS cell_n
           |   FROM a3)
           |SELECT vec_id, cell, CAST(d2 AS BIGINT) AS d2,
           |  CAST(proto_rank AS BIGINT) AS proto_rank,
           |  (CASE WHEN proto_rank * 5 <= cell_n THEN 1 ELSE 0 END)::BIGINT
           |    AS dropped
           |FROM r ORDER BY vec_id""".stripMargin,

      // q105: per-cell cap by the salted portable hash, same tie order
      "q105_cluster_balanced_sample" ->
        s"""WITH $trainedAssignCtes,
           | r AS (SELECT vec_id, cid AS cell,
           |    row_number() OVER (PARTITION BY cid ORDER BY
           |      ${Shared.sqlHash60("concat('cb|', CAST(vec_id AS VARCHAR))")},
           |      vec_id) AS rn
           |   FROM a3)
           |SELECT vec_id, cell, CAST(rn AS BIGINT) AS rn
           |FROM r WHERE rn <= 40 ORDER BY cell, rn""".stripMargin
    )
  }

  /** DuckDB CTE chain for the trained two-level assignment ([[hierTrain]]):
    * sign-bit coarse grid `cg` (B = min{b : n ≤ 4000·2^b}), per-cell
    * sample ranks + K_g, the q97 integer Lloyd recurrence per coarse cell
    * over the bounded sample (2 update rounds), ending in `a3` = the
    * final full-corpus (vec_id, cid, d2) assignment with cid =
    * cell·[[SubKCap]] + sid. Every consumer replays the identical centroid
    * trajectory the Spark side walks (q97's exactness contract); `bb` and
    * `c2` are also referenced by the q41c oracle's media-side assignment.
    */
  private[graft] def trainedAssignCtes: String = {
    val h = Shared.sqlHash60("concat('ks|', CAST(vec_id AS VARCHAR))")
    // sample-side Lloyd round: assignment of sample rows to c{n-1}, then
    // the integer-mean update — all joins keyed on (cell, dim)
    def kmAssign(n: Int): String =
      s"""a$n AS (SELECT vec_id, cell, sid FROM (
         |    SELECT sq.vec_id, sq.cell, c.sid,
         |      row_number() OVER (PARTITION BY sq.vec_id
         |        ORDER BY SUM((sq.v - c.c) * (sq.v - c.c)), c.sid)
         |        AS rn
         |    FROM sq JOIN c${n - 1} c
         |      ON c.cell = sq.cell AND c.dim = sq.dim
         |    GROUP BY sq.vec_id, sq.cell, c.sid)
         |  WHERE rn = 1)""".stripMargin
    def kmUpdate(n: Int): String =
      s"""c$n AS (SELECT a.cell, a.sid, q.dim, SUM(q.v) // COUNT(*) AS c
         |  FROM a$n a JOIN sq q ON q.vec_id = a.vec_id
         |  GROUP BY a.cell, a.sid, q.dim)""".stripMargin
    val rounds = (1 to 2)
      .map(n => s"${kmAssign(n)},\n${kmUpdate(n)}").mkString(",\n")
    s"""bb AS (SELECT MIN(t.b) AS b FROM generate_series(1, 32) t(b)
       |  WHERE (SELECT COUNT(*) FROM embeddings)
       |        <= 4000 * (1::BIGINT << t.b)),
       |cg AS (SELECT vec_id,
       |    CAST(COALESCE(list_sum(
       |      [CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i)
       |            ELSE 0::BIGINT END
       |       FOR i IN generate_series(0, bb.b - 1)]), 0) AS BIGINT) AS cell
       |  FROM embeddings, bb),
       |qd AS (
       |  SELECT em.vec_id, cg.cell, CAST(g.i AS BIGINT) AS dim,
       |    CAST(floor(CAST(em.embedding[g.i] AS DOUBLE) * 1000) AS BIGINT)
       |      + 1000 AS v
       |  FROM embeddings em JOIN cg ON cg.vec_id = em.vec_id,
       |       generate_series(1, 64) AS g(i)),
       |kk AS (SELECT vec_id, cell, rk,
       |    LEAST($SubKCap, GREATEST(1, (ng + ${LeafTarget - 1})
       |      // $LeafTarget)) AS kg
       |  FROM (SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY cell ORDER BY $h, vec_id)
       |        AS rk,
       |      COUNT(*) OVER (PARTITION BY cell) AS ng
       |    FROM cg)),
       |sq AS (SELECT qd.vec_id, qd.cell, qd.dim, qd.v
       |  FROM qd JOIN kk ON kk.vec_id = qd.vec_id
       |  WHERE kk.rk <= $SamplePerCentroid * kk.kg),
       |c0 AS (SELECT k.cell, CAST(k.rk - 1 AS BIGINT) AS sid,
       |    qd.dim, qd.v AS c
       |  FROM kk k JOIN qd ON qd.vec_id = k.vec_id
       |  WHERE k.rk <= k.kg),
       |$rounds,
       |a3 AS (SELECT vec_id,
       |    CAST(ccell * $SubKCap + sid AS BIGINT) AS cid, d2 FROM (
       |    SELECT qd.vec_id, qd.cell AS ccell, c.sid,
       |      SUM((qd.v - c.c) * (qd.v - c.c)) AS d2,
       |      row_number() OVER (PARTITION BY qd.vec_id
       |        ORDER BY SUM((qd.v - c.c) * (qd.v - c.c)), c.sid)
       |        AS rn
       |    FROM qd JOIN c2 c ON c.cell = qd.cell AND c.dim = qd.dim
       |    GROUP BY qd.vec_id, qd.cell, c.sid)
       |  WHERE rn = 1)""".stripMargin
  }

  /** q121 oracle — the COMPLETE maintenance replay in DuckDB: frozen
    * corpus-only training (grid width from the corpus census), online
    * batch assignment against the corpus codebook, leaf census, and the
    * per-cell retrain of overflowing + fresh coarse cells over their
    * merged population. Same integer contract as [[trainedAssignCtes]],
    * parameterized by a CTE prefix so the two trainings coexist.
    */
  private[graft] def q121Sql: String = {
    val h = Shared.sqlHash60("concat('ks|', CAST(vec_id AS VARCHAR))")
    def kmRound(p: String, n: Int): String =
      s"""${p}a$n AS (SELECT vec_id, cell, sid FROM (
         |    SELECT sq.vec_id, sq.cell, c.sid,
         |      row_number() OVER (PARTITION BY sq.vec_id
         |        ORDER BY SUM((sq.v - c.c) * (sq.v - c.c)), c.sid) AS rn
         |    FROM ${p}sq sq JOIN ${p}c${n - 1} c
         |      ON c.cell = sq.cell AND c.dim = sq.dim
         |    GROUP BY sq.vec_id, sq.cell, c.sid)
         |  WHERE rn = 1),
         |${p}c$n AS (SELECT a.cell, a.sid, q.dim, SUM(q.v) // COUNT(*) AS c
         |  FROM ${p}a$n a JOIN ${p}sq q ON q.vec_id = a.vec_id
         |  GROUP BY a.cell, a.sid, q.dim)""".stripMargin
    def kkOf(name: String, src: String): String =
      s"""$name AS (SELECT vec_id, cell, rk,
         |    LEAST($SubKCap, GREATEST(1, (ng + ${LeafTarget - 1})
         |      // $LeafTarget)) AS kg
         |  FROM (SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY cell ORDER BY $h, vec_id)
         |        AS rk,
         |      COUNT(*) OVER (PARTITION BY cell) AS ng
         |    FROM cg WHERE vec_id IN (SELECT vec_id FROM $src)))""".stripMargin
    def sampleOf(p: String, kk: String): String =
      s"""${p}sq AS (SELECT qd.vec_id, qd.cell, qd.dim, qd.v
         |  FROM qd JOIN $kk k ON k.vec_id = qd.vec_id
         |  WHERE k.rk <= $SamplePerCentroid * k.kg),
         |${p}c0 AS (SELECT k.cell, CAST(k.rk - 1 AS BIGINT) AS sid,
         |    qd.dim, qd.v AS c
         |  FROM $kk k JOIN qd ON qd.vec_id = k.vec_id
         |  WHERE k.rk <= k.kg)""".stripMargin
    def assignOf(name: String, cents: String, src: String): String =
      s"""$name AS (SELECT vec_id,
         |    CAST(ccell * $SubKCap + sid AS BIGINT) AS cid, d2 FROM (
         |    SELECT qd.vec_id, qd.cell AS ccell, c.sid,
         |      SUM((qd.v - c.c) * (qd.v - c.c)) AS d2,
         |      row_number() OVER (PARTITION BY qd.vec_id
         |        ORDER BY SUM((qd.v - c.c) * (qd.v - c.c)), c.sid)
         |        AS rn
         |    FROM qd JOIN $cents c ON c.cell = qd.cell AND c.dim = qd.dim
         |    WHERE qd.vec_id IN (SELECT vec_id FROM $src)
         |    GROUP BY qd.vec_id, qd.cell, c.sid)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
       |batch AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
       |  UNION ALL
       |  SELECT p.pid,
       |    [0.5 + CAST(p.pid % 97 AS DOUBLE) / 10000.0
       |     FOR i IN generate_series(1, 64)]
       |  FROM (SELECT vec_id + g.k * 1000000000 AS pid
       |        FROM embeddings, generate_series(1, 6) AS g(k)
       |        WHERE vec_id % 10 = 0) p),
       |allr AS (SELECT * FROM corpus UNION ALL SELECT * FROM batch),
       |bb AS (SELECT MIN(t.b) AS b FROM generate_series(1, 32) t(b)
       |  WHERE (SELECT COUNT(*) FROM corpus)
       |        <= $CoarseCellTarget * (1::BIGINT << t.b)),
       |cg AS (SELECT vec_id,
       |    CAST(COALESCE(list_sum(
       |      [CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i)
       |            ELSE 0::BIGINT END
       |       FOR i IN generate_series(0, bb.b - 1)]), 0) AS BIGINT) AS cell
       |  FROM allr, bb),
       |qd AS (
       |  SELECT a.vec_id, cg.cell, CAST(g.i AS BIGINT) AS dim,
       |    CAST(floor(CAST(a.embedding[g.i] AS DOUBLE) * 1000) AS BIGINT)
       |      + 1000 AS v
       |  FROM allr a JOIN cg ON cg.vec_id = a.vec_id,
       |       generate_series(1, 64) AS g(i)),
       |${kkOf("ckk", "corpus")},
       |${sampleOf("c", "ckk")},
       |${kmRound("c", 1)},
       |${kmRound("c", 2)},
       |${assignOf("cassign", "cc2", "corpus")},
       |${assignOf("bassign", "cc2", "batch")},
       |merged0 AS (
       |  SELECT * FROM cassign UNION ALL SELECT * FROM bassign),
       |ovf AS (SELECT DISTINCT cid // $SubKCap AS cell FROM (
       |    SELECT cid, COUNT(*) AS n FROM merged0 GROUP BY cid)
       |  WHERE n > $LeafOverflow),
       |freshc AS (SELECT DISTINCT cg.cell FROM cg
       |  WHERE cg.vec_id IN (SELECT vec_id FROM batch)
       |    AND cg.cell NOT IN (SELECT DISTINCT cell FROM cc2)),
       |ret AS (SELECT cell FROM ovf UNION SELECT cell FROM freshc),
       |retr AS (SELECT cg.vec_id FROM cg
       |  WHERE cg.cell IN (SELECT cell FROM ret)),
       |${kkOf("rkk", "retr")},
       |${sampleOf("r", "rkk")},
       |${kmRound("r", 1)},
       |${kmRound("r", 2)},
       |${assignOf("rassign", "rc2", "retr")}
       |SELECT vec_id, cid, CAST(d2 AS BIGINT) AS d2 FROM merged0
       |WHERE cid // $SubKCap NOT IN (SELECT cell FROM ret)
       |UNION ALL
       |SELECT vec_id, cid, CAST(d2 AS BIGINT) AS d2 FROM rassign
       |ORDER BY vec_id""".stripMargin
  }
}
