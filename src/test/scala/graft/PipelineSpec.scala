package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Pins the staged dedup pipeline's cost structure: the labels artifact
  * (pair generation + connected components) is paid for AT MOST ONCE per
  * (session, tier) however many consumers run — at 100 TB this is the
  * difference between one CC job and one per consumer — while a NEW
  * session never trusts another session's memo (its artifact could
  * predate a testdata regeneration).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("staged labels artifact is written at most once across q81b + q87b") {
    val d0 = Dedup.labelsWrites.get()
    Dedup.queries("q81b_canonical_staged")(spark, TestSpark.sf).collect()
    val d1 = Dedup.labelsWrites.get()
    // 1 if this suite built it first, 0 if an earlier consumer in this
    // session already did — never more.
    assert(d1 - d0 <= 1, s"first consumer wrote ${d1 - d0} times")
    Dedup.queries("q87b_split_staged")(spark, TestSpark.sf).collect()
    Dedup.queries("q81b_canonical_staged")(spark, TestSpark.sf).collect()
    // the composed corpus build (q93) is the third artifact consumer
    operators.Pipeline.queries("q93_corpus_build")(spark, TestSpark.sf)
      .collect()
    assert(Dedup.labelsWrites.get() === d1,
      "warm consumers re-ran pair generation + connected components")
  }

  test("sem_cells artifact trains Lloyd at most once across the staged semantic suite") {
    import operators.Similarity
    val d0 = Similarity.cellsWrites.get()
    Similarity.queries("q103b_semantic_dedup_staged")(spark, TestSpark.sf)
      .collect()
    val d1 = Similarity.cellsWrites.get()
    assert(d1 - d0 <= 1, s"first consumer trained ${d1 - d0} times")
    Similarity.queries("q104b_prototype_staged")(spark, TestSpark.sf).collect()
    Similarity.queries("q105b_sample_staged")(spark, TestSpark.sf).collect()
    Similarity.queries("q107_semantic_pipeline")(spark, TestSpark.sf).collect()
    Similarity.queries("q109_semantic_leakage_audit")(spark, TestSpark.sf)
      .collect()
    assert(Similarity.cellsWrites.get() === d1,
      "warm consumers re-ran Lloyd training")
  }

  test("pq_codes artifact encodes at most once across repeated q90c runs") {
    import operators.Similarity
    val d0 = Similarity.pqCodesWrites.get()
    Similarity.queries("q90c_ann_ivfpq_staged")(spark, TestSpark.sf).collect()
    val d1 = Similarity.pqCodesWrites.get()
    assert(d1 - d0 <= 1, s"first serving run encoded ${d1 - d0} times")
    Similarity.queries("q90c_ann_ivfpq_staged")(spark, TestSpark.sf).collect()
    assert(Similarity.pqCodesWrites.get() === d1,
      "a warm serving run re-ran the PQ encode pass")
  }

  test("q122: base+delta partition the codes, fold is append-only, output == from-scratch") {
    import operators.Similarity
    val b0 = Similarity.q122BaseWrites.get()
    val d0 = Similarity.q122DeltaWrites.get()
    val inc = Similarity.queries("q122_incremental_pq_codes")(
      spark, TestSpark.sf).collect()
    val b1 = Similarity.q122BaseWrites.get()
    val d1 = Similarity.q122DeltaWrites.get()
    assert(b1 - b0 <= 1 && d1 - d0 <= 1,
      s"first maintenance encoded base ${b1 - b0} / delta ${d1 - d0} times")
    // a warm serving run re-encodes NOTHING — neither base nor delta
    Similarity.queries("q122_incremental_pq_codes")(spark, TestSpark.sf)
      .collect()
    assert(Similarity.q122BaseWrites.get() === b1 &&
      Similarity.q122DeltaWrites.get() === d1,
      "a warm serving run re-ran an encode pass")
    // base and delta PARTITION the from-scratch artifact: same total
    // row count and no vec_id appears on both sides (the fold appended,
    // never duplicated or re-encoded)
    val base = Similarity.q122BaseArtifact(spark, TestSpark.sf)
    val delta = Similarity.q122DeltaArtifact(spark, TestSpark.sf)
    val full = Similarity.pqCodesArtifact(spark, TestSpark.sf)
    assert(base.count() + delta.count() === full.count(),
      "base + delta row counts do not partition the full artifact")
    assert(base.select("vec_id").intersect(delta.select("vec_id")).count()
      === 0L, "a vec_id was encoded into BOTH base and delta")
    assert(delta.count() > 0, "fixture degenerate: empty delta batch")
    // incrementality is invisible: the maintained serve == q90c's
    // from-scratch serve, row for row
    val scratch = Similarity.queries("q90c_ann_ivfpq_staged")(
      spark, TestSpark.sf).collect()
    assert(inc.toSeq === scratch.toSeq,
      "base ∪ delta serving diverged from the from-scratch artifact")
  }

  test("q122 compaction: serve-before == serve-after, delta truncated") {
    import operators.Similarity
    // isolated tier copy — compaction REWRITES the staged tables, which
    // would race any parallel suite reading the shared tier's q122
    // artifacts (the q118 lesson)
    val dir = TestSpark.tempDir("graft_q122c").toString
    spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .write.parquet(s"$dir/embeddings.parquet")
    val before = Similarity.queries("q122_incremental_pq_codes")(spark, dir)
      .collect()
    val baseBefore = Similarity.q122BaseArtifact(spark, dir).count()
    val deltaBefore = Similarity.q122DeltaArtifact(spark, dir).count()
    assert(deltaBefore > 0, "fixture degenerate: nothing to compact")
    Similarity.q122.compact(spark, dir)
    assert(Similarity.q122BaseArtifact(spark, dir).count()
      === baseBefore + deltaBefore,
      "compacted base must hold base+delta rows")
    assert(Similarity.q122DeltaArtifact(spark, dir).count() === 0L,
      "compaction must truncate the delta")
    val after = Similarity.queries("q122_incremental_pq_codes")(spark, dir)
      .collect()
    assert(after.toSeq === before.toSeq,
      "serving changed across compaction — the swap is not transparent")
  }

  test("q122 compaction crash: rename-committed-but-delta-stale rolls forward, never double-counts") {
    import operators.{Bucketed, Similarity}
    val dir = TestSpark.tempDir("graft_q122r").toString
    spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .write.parquet(s"$dir/embeddings.parquet")
    val before = Similarity.queries("q122_incremental_pq_codes")(spark, dir)
      .collect()
    val db = Bucketed.dbFor(dir)
    val base = Similarity.q122BaseArtifact(spark, dir)
    val delta = Similarity.q122DeltaArtifact(spark, dir)
    val (nBase, nDelta) = (base.count(), delta.count())
    assert(nDelta > 0, "fixture degenerate: nothing to compact")
    // simulate the worst crash window by hand: merged segment written,
    // marker set, swap COMMITTED — process dies before the delta
    // truncate. The delta rows now exist in BOTH tables.
    Bucketed.rewriteBucketed(spark, db, "q122_codes_base_next",
      base.unionByName(delta), 8, Seq("cell"))
    val marker = java.nio.file.Paths.get("/tmp/graft-warehouse",
      s"$db.db", "q122_compact_pending")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    spark.sql(s"DROP TABLE IF EXISTS $db.q122_codes_base")
    spark.sql(
      s"ALTER TABLE $db.q122_codes_base_next RENAME TO $db.q122_codes_base")
    // next serving run must roll the truncate forward and match exactly
    val after = Similarity.queries("q122_incremental_pq_codes")(spark, dir)
      .collect()
    assert(after.toSeq === before.toSeq,
      "serving after an interrupted compaction diverged (double count?)")
    assert(!java.nio.file.Files.exists(marker), "marker not cleared")
    assert(Similarity.q122BaseArtifact(spark, dir).count() === nBase + nDelta)
    assert(Similarity.q122DeltaArtifact(spark, dir).count() === 0L)
  }

  // ---- q126/q127 planted tier ------------------------------------------
  //
  // Texts engineered on 3-token shingles AND the q84 quality gate at once:
  // QA/QB are 40 distinct tokens each (incl. the "the" marker → quality
  // keeps), sharing their first 30 tokens → J = 28/48 ≈ 0.583 < 0.6 (not a
  // pair), while each exact copy pairs at J = 1. The batch doc is QA ++ QB
  // (80 tokens, J = 38/50 = 0.76 against both) — one batch doc bridges the
  // two quality clusters, DEMOTING the former rep of {3, 13}: source s2
  // loses a canonical doc, the correction q127 exists for.
  private def q126Tier(): String = {
    import spark.implicits._
    val common = "the" +: (2 to 30).map(i => s"w$i")
    val qa = (common ++ (31 to 40).map(i => s"w$i")).mkString(" ")
    val qb = (common ++ (31 to 40).map(i => s"v$i")).mkString(" ")
    val bridge = s"$qa $qb"
    val filler = (1 to 9).map(i => s"z$i").mkString(" ")
    val dir = TestSpark.tempDir("graft_q126").toString
    Seq((1L, qa, "s1"), (11L, qa, "s1"), (3L, qb, "s2"), (13L, qb, "s2"),
      (7L, filler, "s3"), (20L, bridge, "s3"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars", org.apache.spark.sql.functions
        .length(org.apache.spark.sql.functions.col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q126 compaction: serve-before == serve-after, delta truncated, warm run folds nothing") {
    import org.apache.spark.sql.functions.col
    val dir = q126Tier()
    Dedup.q126.recover(spark, dir)
    val nDelta = Dedup.q126DeltaArtifact(spark, dir).count()
    assert(nDelta > 0, "fixture degenerate: empty override delta")
    val before = Dedup.q126.asOf(spark, dir).orderBy(col("doc_id")).collect()
    Dedup.q126.compact(spark, dir)
    assert(Dedup.q126DeltaArtifact(spark, dir).count() === 0L,
      "compaction must truncate the override delta")
    val after = Dedup.q126.asOf(spark, dir).orderBy(col("doc_id")).collect()
    assert(after.toSeq === before.toSeq,
      "serving changed across the compaction swap")
    // the bridge really merged the two clusters: one rep, size 5
    assert(after.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === Set((1L, 1L, 5L), (3L, 1L, 5L), (11L, 1L, 5L), (13L, 1L, 5L),
        (20L, 1L, 5L)))
    // a warm query run folds nothing and serves straight from the base
    val w0 = Dedup.q126DeltaWrites.get()
    val warm = Dedup.queries("q126_labels_compact")(spark, dir).collect()
    assert(Dedup.q126DeltaWrites.get() === w0,
      "a warm serving run re-ran the fold")
    assert(warm.toSeq === after.toSeq)
  }

  test("q126 compaction crash: latest-wins never double-serves; marker rolls forward") {
    import operators.Bucketed
    import org.apache.spark.sql.functions.col
    val dir = q126Tier()
    val db = Bucketed.dbFor(dir)
    Dedup.q126.recover(spark, dir)
    val base = Dedup.q126BaseArtifact(spark, dir)
    val delta = Dedup.q126DeltaArtifact(spark, dir)
    val (nBase, nDelta) = (base.count(), delta.count())
    assert(nDelta > 0, "fixture degenerate: nothing to compact")
    val expect = Dedup.q126.asOf(spark, dir).orderBy(col("doc_id")).collect()
    // worst window by hand: merged segment written, marker set, swap
    // COMMITTED — process dies before the delta truncate. The override
    // rows now exist (materialized) in the base AND (as overrides) in the
    // delta.
    Bucketed.rewriteBucketed(spark, db, "q126_labels_base_next",
      Dedup.latestWins(base, delta, "doc_id"), 8, Seq("doc_id"))
    val marker = java.nio.file.Paths.get("/tmp/graft-warehouse",
      s"$db.db", "q126_compact_pending")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    spark.sql(s"DROP TABLE IF EXISTS $db.q126_labels_base")
    spark.sql(
      s"ALTER TABLE $db.q126_labels_base_next RENAME TO $db.q126_labels_base")
    // the latest-wins property: even a reader that MISSED the marker
    // serves the double-present state correctly (override rows replace
    // their base copies — q122's append-union would double-count here)
    val doubled = Dedup.latestWins(spark.table(s"$db.q126_labels_base"),
      spark.table(s"$db.q126_labels_delta"), "doc_id")
      .orderBy(col("doc_id")).collect()
    assert(doubled.toSeq === expect.toSeq,
      "latest-wins over the crash window diverged")
    // and the serving query rolls the truncate forward
    val after = Dedup.queries("q126_labels_compact")(spark, dir).collect()
    assert(after.toSeq === expect.toSeq)
    assert(!java.nio.file.Files.exists(marker), "marker not cleared")
    assert(Dedup.q126DeltaArtifact(spark, dir).count() === 0L)
    assert(Dedup.q126BaseArtifact(spark, dir).count() === nBase + 1,
      "compacted base must hold the corpus labels + the bridge doc")
  }

  // q130 planted tier — the q124 bridge topology arranged so the B↔A pair
  // exists ONLY through batch A's compacted posting rows: corpus {11,12}
  // (R+bt, J(X,B)=29/49 < 0.6), batch A doc 40 = R+xt (pairs nothing),
  // batch B doc 30 = R+xt+bt (J=39/49 vs X, 37/51 vs B — bridges all).
  private def q130Tier(): String = {
    import spark.implicits._
    val r = (1 to 31).map(i => s"r$i").mkString(" ")
    val xt = (1 to 10).map(i => s"x$i").mkString(" ")
    val bt = (1 to 10).map(i => s"b$i").mkString(" ")
    val dir = TestSpark.tempDir("graft_q130").toString
    Seq((11L, s"$r $bt"), (12L, s"$r $bt"),
      (40L, s"$r $xt"), (30L, s"$r $xt $bt"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q130 compaction: B pairs with A through the compacted index; delta truncated") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = q130Tier()
    Dedup.q130.recover(spark, dir)
    val nBase = Dedup.q130BaseArtifact(spark, dir).count()
    val nDelta = Dedup.q130DeltaArtifact(spark, dir).count()
    assert(nDelta > 0, "fixture degenerate: batch A shipped no postings")
    val got = Dedup.queries("q130_index_compact")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(Dedup.q130DeltaArtifact(spark, dir).count() === 0L,
      "compaction must truncate the posting delta")
    assert(Dedup.q130BaseArtifact(spark, dir).count() === nBase + nDelta,
      "compacted index must hold corpus + batch-A postings")
    // the merged component exists only if doc 30 (batch B) found doc 40
    // (batch A) through the compacted rows — no delta union in the probe
    assert(got === Set((11L, 11L, 4L), (12L, 11L, 4L),
      (30L, 11L, 4L), (40L, 11L, 4L)), s"got $got")
    val want = Dedup.labelsOf(spark.read
        .parquet(s"$dir/documents.parquet"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want, "compacted-index folds diverged from from-scratch")
    // warm serving re-derives nothing
    val w0 = Dedup.q130DeltaWrites.get()
    val warm = Dedup.queries("q130_index_compact")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(Dedup.q130DeltaWrites.get() === w0 && warm === got)
  }

  test("q130 crash window: double-present postings serve identical pairs; marker rolls forward") {
    import spark.implicits._
    import operators.Bucketed
    import org.apache.spark.sql.functions.col
    val dir = q130Tier()
    val db = Bucketed.dbFor(dir)
    Dedup.q130.recover(spark, dir)
    val base = Dedup.q130BaseArtifact(spark, dir)
    val delta = Dedup.q130DeltaArtifact(spark, dir)
    val (nBase, nDelta) = (base.count(), delta.count())
    assert(nDelta > 0, "fixture degenerate: nothing to compact")
    val corpus = Dedup.q120Corpus(spark, dir)
    val a = Dedup.q130BatchA(spark, dir)
    val b = Dedup.q130BatchB(spark, dir)
    val cdf = Dedup.q120DfArtifact(spark, dir)
    val cleanPairs = Dedup.batchPairs(corpus.unionByName(a), b, cdf,
        base.unionByName(delta))
      .as[(Long, Long, Double)].collect().toSet
    // worst window by hand: merged segment written, marker set, swap
    // committed — death before the truncate leaves every batch-A posting
    // row in BOTH tables
    Bucketed.rewriteBucketed(spark, db, "q130_prefix_base_next",
      base.unionByName(delta), 16, Seq("sg"))
    val marker = java.nio.file.Paths.get("/tmp/graft-warehouse",
      s"$db.db", "q130_compact_pending")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    spark.sql(s"DROP TABLE IF EXISTS $db.q130_prefix_base")
    spark.sql(
      s"ALTER TABLE $db.q130_prefix_base_next RENAME TO $db.q130_prefix_base")
    // the idempotency claim: a reader that MISSED the marker probes rows
    // present in base AND delta — distinct() + the self-pair guard make
    // the pair set identical, not doubled
    val doubled = Dedup.batchPairs(corpus.unionByName(a), b, cdf,
        spark.table(s"$db.q130_prefix_base")
          .unionByName(spark.table(s"$db.q130_prefix_delta")))
      .as[(Long, Long, Double)].collect().toSet
    assert(doubled === cleanPairs,
      "double-present postings changed the served pair set")
    // and the query rolls the truncate forward
    val after = Dedup.queries("q130_index_compact")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(after === Set((11L, 11L, 4L), (12L, 11L, 4L),
      (30L, 11L, 4L), (40L, 11L, 4L)))
    assert(!java.nio.file.Files.exists(marker), "marker not cleared")
    assert(Dedup.q130DeltaArtifact(spark, dir).count() === 0L)
    assert(Dedup.q130BaseArtifact(spark, dir).count() === nBase + nDelta)
  }

  test("driver-swap recovery: marker + dirs with NO catalog db roll forward at the filesystem level") {
    import operators.Bucketed
    // Simulates the replaced-maintenance-driver posture: a crashed
    // driver's warehouse dirs (base, committed _next, stale delta) and
    // redo marker exist on the shared filesystem, but THIS process's
    // (in-memory) catalog has never heard of the database. Round 10
    // deleted the marker in that state without doing the owed work;
    // round 11 replays the swap + truncate against the dirs themselves.
    import spark.implicits._
    val db = s"graft_swap_${System.nanoTime()}"
    val wh = java.nio.file.Paths.get("/tmp/graft-warehouse", s"$db.db")
    def write(leaf: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("k", "v").write.mode("overwrite")
        .parquet(wh.resolve(leaf).toString)
    write("acc", Seq((1L, "old")))          // pre-swap base (to be replaced)
    write("acc_next", Seq((1L, "old"), (2L, "delta"))) // committed segment
    write("acc_delta", Seq((2L, "delta"))) // stale delta (the crash window)
    val marker = wh.resolve("acc_pending")
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    assert(!spark.catalog.databaseExists(db), "fixture db must be unknown")
    Bucketed.Store("acc", "acc_delta", "acc_pending", 8, Seq("k"))
      .recover(spark, db)
    // _next promoted over base; delta contents gone; marker cleared
    val base = spark.read.parquet(wh.resolve("acc").toString)
      .as[(Long, String)].collect().toSet
    assert(base === Set((1L, "old"), (2L, "delta")),
      "swap not rolled forward at the FS level")
    assert(!java.nio.file.Files.exists(wh.resolve("acc_next")))
    assert(java.nio.file.Files.list(wh.resolve("acc_delta")).count() === 0L,
      "stale delta rows must be cleared — an append-union artifact would " +
        "serve them twice")
    assert(!java.nio.file.Files.exists(marker), "marker not cleared")
  }

  test("FS lease: orphaned lease is taken over; live compaction cleans its lease up") {
    import operators.{Bucketed, Similarity}
    val dir = TestSpark.tempDir("graft_lease").toString
    spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .write.parquet(s"$dir/embeddings.parquet")
    val before = Similarity.queries("q122_incremental_pq_codes")(spark, dir)
      .collect()
    val db = Bucketed.dbFor(dir)
    assert(Similarity.q122DeltaArtifact(spark, dir).count() > 0)
    // a dead driver's lease: plant the file, age it past the lease window
    val lease = java.nio.file.Paths.get("/tmp/graft-warehouse", s"$db.db",
      "_LEASE_q122_codes_base")
    java.nio.file.Files.createDirectories(lease.getParent)
    java.nio.file.Files.write(lease, Array.emptyByteArray)
    spark.conf.set("spark.graft.fs.leaseMs", "1500")
    try {
      java.nio.file.Files.setLastModifiedTime(lease,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000))
      Similarity.q122.compact(spark, dir) // must take the orphan over
    } finally spark.conf.unset("spark.graft.fs.leaseMs")
    assert(!java.nio.file.Files.exists(lease),
      "compaction must release (and not strand) the lease")
    val after = Similarity.queries("q122_incremental_pq_codes")(spark, dir)
      .collect()
    assert(after.toSeq === before.toSeq)
    assert(Similarity.q122DeltaArtifact(spark, dir).count() === 0L)
  }

  test("q131 trigger loop: fold cadence consults compact_due, the third fold flips it, compaction clears it") {
    import spark.implicits._
    import operators.Dedup
    import org.apache.spark.sql.functions.{col, expr}
    // 18 corpus docs + 6 batch docs (3 folds x 2), all 10 distinct tokens
    // -> 8 shingles -> 5 prefix rows each: base 90, delta +10/fold, so the
    // 25% posting threshold is crossed exactly at fold 3 (11% -> 22% -> 33%)
    val dir = TestSpark.tempDir("graft_q131").toString
    val ids = ((1 to 9) ++ (11 to 19)).map(_.toLong) ++
      (1 to 6).map(i => i * 10L)
    ids.map(i => (i, (1 to 10).map(j => s"d${i}_w$j").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpusDf = Dedup.q120DfArtifact(spark, dir)
    val corpusPrefix = Dedup.q120PrefixArtifact(spark, dir)
    assert(corpusPrefix.count() === 90L)
    val thr = 25 // spec-local threshold sized so the flip lands at fold 3
    var acc = corpusPrefix.limit(0)
    val verdicts = (0 until 3).map { k =>
      val b = docs.filter(col("doc_id") % 10 === 0)
        .filter(expr(s"(doc_id div 10) % 3") === k)
      acc = acc.unionByName(Dedup.prefixRowsOf(b, corpusDf)).localCheckpoint()
      val st = Dedup.storeStatus("posting_store", corpusPrefix, acc, thr)
        .collect().head
      (st.getAs[Long]("delta_n"), st.getAs[Boolean]("compact_due"))
    }
    assert(verdicts.map(_._1) === Seq(10L, 20L, 30L),
      s"delta must grow by one fold's postings per fold: $verdicts")
    assert(verdicts.map(_._2) === Seq(false, false, true),
      s"compact_due must flip exactly when fold 3 crosses $thr%: $verdicts")
    // consult-and-act: the compaction folds the accumulated rows into the
    // base and truncates the delta — the verdict clears
    val compacted = corpusPrefix.unionByName(acc)
    val after = Dedup.storeStatus("posting_store", compacted,
      acc.limit(0), thr).collect().head
    assert(after.getAs[Long]("base_n") === 120L &&
      !after.getAs[Boolean]("compact_due"),
      s"post-compaction status must clear: $after")
  }

  test("q132 tick: compacts exactly the due families, leaves the rest staged, idempotent re-tick") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import operators.Bucketed
    // Two synthetic families against a 20% threshold: fam_a's delta is
    // 3/10 = 30% (due), fam_b's is 1/10 = 10% (not due). Selectivity must
    // be observable in the PHYSICAL stores, not just the report.
    val db = "graft_q132spec"
    def kv(ids: Range): DataFrame =
      ids.map(i => (i.toLong, i.toLong * 100)).toDF("k", "v")
    val union = (b: DataFrame, del: DataFrame) => b.unionByName(del)
    val fams = Seq(
      Dedup.TickFamily("fam_a", 20, Bucketed.Store.of("t1_fam_a", 2, Seq("k")),
        kv(1 to 10), kv(11 to 13), union),
      Dedup.TickFamily("fam_b", 20, Bucketed.Store.of("t1_fam_b", 2, Seq("k")),
        kv(1 to 10), kv(11 to 11), union))
    val out = Dedup.maintenanceTick(spark, db, fams)
      .orderBy(col("artifact")).collect()
    assert(out.map(r => (r.getAs[String]("artifact"),
      r.getAs[Boolean]("compact_due"), r.getAs[Long]("base_n_after"),
      r.getAs[Long]("delta_n_after"))).toSeq ===
      Seq(("fam_a", true, 13L, 0L), ("fam_b", false, 10L, 1L)),
      s"tick transition: ${out.mkString(",")}")
    assert(spark.table(s"$db.t1_fam_a_base").count() === 13L &&
      spark.table(s"$db.t1_fam_a_delta").count() === 0L,
      "due family must be physically compacted")
    assert(spark.table(s"$db.t1_fam_b_base").count() === 10L &&
      spark.table(s"$db.t1_fam_b_delta").count() === 1L,
      "under-threshold family must be left staged untouched")
    // post-tick contract: nothing is due
    val post = Dedup.compactDueOf(fams.map { f =>
      (f.artifact, spark.table(s"$db.t1_${f.artifact}_base"),
        spark.table(s"$db.t1_${f.artifact}_delta"), f.thrPct)
    }).collect()
    assert(post.forall(!_.getAs[Boolean]("compact_due")),
      s"post-tick nothing may be due: ${post.mkString(",")}")
    // the tick re-stages from its pristine inputs: a second run reports
    // the identical transition (deterministic under bench/verify re-runs)
    val out2 = Dedup.maintenanceTick(spark, db, fams)
      .orderBy(col("artifact")).collect()
    assert(out2.toSeq === out.toSeq, "re-tick must be idempotent")
  }

  test("q127 incremental scorecard == from-scratch q119, incl. the demotion correction") {
    import operators.Pipeline
    import org.apache.spark.sql.functions.col
    val dir = q126Tier()
    val got = Pipeline.queries("q127_incremental_scorecard")(spark, dir)
      .collect()
    val want = Pipeline.queries("q119_source_scorecard")(spark, dir)
      .collect()
    assert(got.toSeq === want.toSeq,
      "maintained scorecard diverged from the from-scratch dashboard")
    // the fixture really exercises the correction path: s2's former rep
    // (doc 3) is demoted by the bridge merge, so its source LOSES a
    // canonical doc relative to the frozen base — a pure monoid fold
    // (base + batch) could never produce this row
    val batch = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 0)
    val pairs = Dedup.batchPairs(Dedup.q120Corpus(spark, dir), batch,
      Dedup.q120DfArtifact(spark, dir), Dedup.q120PrefixArtifact(spark, dir))
    val (sub, _) = Dedup.incrementalSubLabels(
      Dedup.q120LabelsArtifact(spark, dir), pairs)
    val corr = Pipeline.q127Corrections(sub,
      Pipeline.q127DocflagsArtifact(spark, dir),
      Dedup.q120LabelsArtifact(spark, dir))
    val s2 = corr.filter(col("source") === "s2").collect()
    assert(s2.length === 1 && s2.head.getAs[Long]("d_canonical") === -1L,
      s"expected s2 to lose exactly one canonical doc, got " +
        s2.mkString(","))
    // warm runs rebuild neither corpus-pass artifact
    val (b0, f0) = (Pipeline.q127BaseWrites.get(), Pipeline.q127FlagWrites.get())
    Pipeline.queries("q127_incremental_scorecard")(spark, dir).collect()
    assert(Pipeline.q127BaseWrites.get() === b0 &&
      Pipeline.q127FlagWrites.get() === f0,
      "a warm maintenance run re-paid a corpus pass")
  }

  test("a new session rewrites instead of trusting another session's memo") {
    // Isolated tier copy: the rebuild OVERWRITES the artifact's parquet
    // files, which would invalidate any concurrently-running suite
    // reading the shared-tier artifact (suites run in parallel; q118's
    // funnel read raced exactly this rewrite before the isolation).
    val dir = TestSpark.tempDir("graft_memo").toString
    spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .write.parquet(s"$dir/documents.parquet")
    // run once in the base session so its memo is warm
    Dedup.queries("q81b_canonical_staged")(spark, dir).collect()
    val before = Dedup.labelsWrites.get()
    val s2 = spark.newSession()
    Dedup.queries("q81b_canonical_staged")(s2, dir).collect()
    assert(Dedup.labelsWrites.get() - before === 1,
      "a fresh session must rebuild the artifact exactly once")
  }
}
