package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column helpers shared by the dedup / similarity / text-analysis
  * operators, with their DuckDB-SQL twins.
  *
  * Everything here is *engine-portable arithmetic*: the only hash primitive
  * is md5 (identical in Spark and DuckDB), widened to a 60-bit positive
  * long by parsing the first 15 hex chars. That makes every derived
  * signature (minhash, simhash, fingerprints) bit-identical across the two
  * engines, so even approximate-dedup results are exact-hash-checkable.
  */
object Shared {

  /** 60-bit positive hash of a string column: first 15 hex chars of md5.
    * Portable: DuckDB twin is `CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)`.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Full-outer join on a NULLABLE key (null-safe `<=>`, key coalesced
    * back into one column). `Seq(key)` joins use EqualTo, under which a
    * NULL key never matches — a null-source row would split into
    * per-side partials while the oracle's GROUP BY folds nulls into ONE
    * group. Used by the manifest/scorecard monoid merges whose key is
    * the (nullable-in-parquet) `source` column.
    */
  private[graft] def fullOuterOnNullable(left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame,
      key: String): org.apache.spark.sql.DataFrame = {
    val (lk, rk) = (s"_l_$key", s"_r_$key")
    val l = left.withColumnRenamed(key, lk)
    val r = right.withColumnRenamed(key, rk)
    l.join(r, col(lk) <=> col(rk), "full_outer")
      .withColumn(key, coalesce(col(lk), col(rk)))
      .drop(lk, rk)
  }

  /** DuckDB twin of [[hash60]] as a SQL fragment over expression `x`. */
  def sqlHash60(x: String): String =
    s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT)"

  /** Distinct 3-token shingles of a space-tokenized text column, as the
    * native [[graft.functions.ShingleSet]] expression (registered by
    * GraftExtensions): one compiled split + hash-set pass per row. The
    * declarative HOF formulation ran as interpreted eval with the `split`
    * subtree re-inlined into every element access — O(tokens²) per doc.
    */
  def shingles3(text: Column): Column = call_function("shingle_set", text)

  /** DuckDB twin of [[shingles3]] over an arbitrary docs relation
    * (a table name or a parenthesized subquery): a CTE body producing
    * (doc_id, sh). Parameterized so deletion-scoped oracles (q154) can
    * shingle `documents` minus a tombstone set with the SAME fragment.
    */
  def sqlShingles3From(rel: String): String =
    s"""SELECT doc_id, list_distinct(
       |    [array_to_string(toks[i:i+2], ' ')
       |     FOR i IN generate_series(1, len(toks)-2)]) AS sh
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $rel)
       |WHERE len(toks) >= 3""".stripMargin

  /** DuckDB twin of [[shingles3]]: a CTE body producing (doc_id, sh). */
  val sqlShingles3: String = sqlShingles3From("documents")

  /** Sequential left-fold sum of a double array — deterministic summation
    * order in both engines (Spark `aggregate`, DuckDB `list_sum`).
    */
  def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0d), (acc, x) => acc + x)

  /** Sequential-fold dot product as the native [[graft.functions.VecDot]]
    * kernel (registered by GraftExtensions): bit-identical to
    * `foldSum(zip_with(a, b, _ * _))` but one compiled loop instead of
    * interpreted HOF eval — the hot inner op of every similarity join.
    * `dot(a, a)` is the squared norm.
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Eager materialization + lineage truncation for iterative loops
    * (connected components, Lloyd rounds).
    *
    * `localCheckpoint` stores blocks on executors — fast, but NOT
    * executor-loss tolerant: at cluster scale one preempted executor
    * mid-loop loses checkpoint blocks and fails the whole job, and a
    * 100-TB CC run that cannot survive a single preemption re-pays
    * hours. With `spark.graft.reliableCheckpoints=true` on the session
    * (and `sparkContext.setCheckpointDir` pointing at fault-tolerant
    * storage), loops switch to reliable `checkpoint` — each round's
    * state is in HDFS/object storage and survives any executor. Local
    * runs keep the fast path by default.
    */
  def ckpt(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.sparkSession.conf
        .get("spark.graft.reliableCheckpoints", "false").toBoolean)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** [[ckpt]] with a LOUD delta-bound guard (round-15, verdict item):
    * the fold operators' soundness arguments say these sets are
    * "delta-bounded" — batch-proportional, hence broadcastable — but a
    * pathological batch (every doc touching one hot window-hash) makes
    * them corpus-sized, and the first symptom at cluster scale would be
    * an executor OOM inside a broadcast build. This variant materializes
    * a lazy checkpoint through an explicit count() and throws a named,
    * actionable error when the set exceeds
    * `spark.graft.deltaBound.maxRows` (default 10M rows ≈ a few hundred
    * MB as a broadcast hash relation; 0 disables). The failure mode
    * becomes a message naming the operator, not an OOM.
    *
    * Cost: TWO SQL executions per call, not one. Building the lazy
    * checkpoint's RDD runs the query stages under it (AQE materializes
    * its shuffle stages: 4 jobs for the candidate-pair set of a q124
    * fold), and the count() over the checkpointed RDD is a second
    * execution (2 jobs: the pass that stores the checkpoint blocks, then
    * the final aggregate). An eager checkpoint is one execution but
    * yields no row count to check.
    */
  private[graft] def ckptBounded(df: org.apache.spark.sql.DataFrame,
      what: String): org.apache.spark.sql.DataFrame = {
    val ck =
      if (df.sparkSession.conf
          .get("spark.graft.reliableCheckpoints", "false").toBoolean)
        df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    val n = ck.count() // materializes the checkpoint AND yields the bound
    val maxRows = deltaBoundMaxRows(df)
    if (maxRows > 0 && n > maxRows)
      throw deltaBoundViolation(what, n.toString, maxRows)
    ck
  }

  /** Collect a delta-bounded set to the driver under the guard of
    * [[ckptBounded]] (same bound, same named error). The set is read
    * through `limit(maxRows + 1)`, so an oversized set throws before the
    * driver holds more than one row past the bound. A set the guard
    * admits fits on the driver by the same argument that makes it
    * broadcastable.
    */
  private[graft] def collectBounded(df: org.apache.spark.sql.DataFrame,
      what: String): Array[org.apache.spark.sql.Row] = {
    val maxRows = deltaBoundMaxRows(df)
    val rows =
      if (maxRows > 0 && maxRows < Int.MaxValue)
        df.limit(maxRows.toInt + 1).collect()
      else df.collect()
    if (maxRows > 0 && rows.length > maxRows)
      throw deltaBoundViolation(what, s"at least ${rows.length}", maxRows)
    rows
  }

  private def deltaBoundMaxRows(df: org.apache.spark.sql.DataFrame): Long =
    df.sparkSession.conf.get("spark.graft.deltaBound.maxRows", "10000000")
      .toLong

  private def deltaBoundViolation(what: String, rows: String,
      maxRows: Long): IllegalStateException =
    new IllegalStateException(
      s"delta-bounded set '$what' has $rows rows > " +
        s"spark.graft.deltaBound.maxRows=$maxRows: this batch violates " +
        "the operator's delta-bounded soundness argument (downstream " +
        "broadcasts of the set would OOM at cluster scale). Shrink or " +
        "split the batch, compact the accumulated delta, or raise the " +
        "bound if the cluster's executors can hold it.")

  /** Run independent Spark actions concurrently on a small pool (guide
    * §2.6 job overlap: one action's straggler tail leaves cores idle
    * that the next action's tasks back-fill; FIFO scheduling does the
    * rest). Used by the maintenance ticks (disjoint table families) and
    * the fold steps' shard writes ([[FoldStore]]). 3 in flight is the
    * guide's "enough to fill the tail, not enough to fight" sizing;
    * exceptions propagate unwrapped.
    */
  private[graft] def inParallel(thunks: Seq[() => Unit]): Unit =
    { inParallelEval(thunks); () }

  /** [[inParallel]] returning each thunk's value in input order — for
    * callers whose independent units are DataFrame CONSTRUCTIONS with
    * eager materializations inside (q160's six audit legs: each builds
    * its deletion-folded view, which checkpoints touched-set slices /
    * runs a subgraph CC before the frame is returned). Same
    * await-every-thunk contract as [[inParallel]].
    */
  private[graft] def inParallelEval[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.isEmpty) return Seq.empty
    if (thunks.size == 1) return Seq(thunks.head())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(3, thunks.size))
    try {
      val futs = thunks.map(t => pool.submit(
        new java.util.concurrent.Callable[A] { override def call(): A = t() }))
      // Await EVERY thunk before propagating the first failure: callers'
      // contracts are crash-recovery re-invocation (ticks) or redelivery
      // (folds), and returning while sibling writers still run would let
      // the retry race a zombie write job on the same output dir (two
      // Spark write jobs share one _temporary). No cancellation — the
      // siblings are idempotent appends/rewrites, finishing them is
      // strictly safer than interrupting mid-commit. An interrupt of
      // THIS thread (e.g. a streaming query stop mid-fold) must not
      // bypass that contract either: keep awaiting through interrupts,
      // then restore the flag and surface the interruption.
      var firstFailure: Throwable = null
      var interrupted = false
      val out = futs.map { f =>
        var done = false
        var v: Option[A] = None
        while (!done) {
          try { v = Some(f.get()); done = true }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure == null) firstFailure = e.getCause
              done = true
            case _: InterruptedException =>
              interrupted = true // re-await this future; flag restored below
          }
        }
        v
      }
      if (interrupted) Thread.currentThread().interrupt()
      if (firstFailure != null) throw firstFailure
      if (interrupted) throw new InterruptedException(
        "inParallel interrupted; all sibling thunks were awaited first")
      out.map(_.get)
    } finally pool.shutdown()
  }
}
