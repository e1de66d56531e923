package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures the suite's scale-posture invariants at a given data
  * directory, so the claims PLANS.md/SCALING.md argue from plan shape are
  * backed by numbers across sf0.01 → sf0.1 → sf~1 (the StressGen 10×
  * blow-up):
  *
  *  - candidate-pair counts for the three LSH/prefix candidate engines
  *    (q32 PPJoin, q35 blocked bands, q64 unblocked bands) and their
  *    verified-pair outputs — a healthy engine grows these ~linearly with
  *    corpus size; quadratic growth means a blocking key stopped working;
  *  - q73 connected-components round count — not O(log diameter) on
  *    paths whose ids run out of order (the known limit on
  *    [[graft.operators.Dedup.connectedComponents]], ROADMAP direction
  *    1), so it can grow with the corpus's longest dup chain;
  *  - q78 pack-size balance (min/max/avg tokens per pack) — the
  *    distributed prefix-sum must not degrade into skewed packs;
  *  - shuffle bytes for the LocalTopK-rewritten q74 and its headline
  *    sibling q14 — the map-side top-k prune is the difference between
  *    shuffling per-group candidates and shuffling whole tables.
  *
  * Usage: runMain graft.ScaleProbe <sfDir> [candidates]
  * Prints ONE JSON line; scripts/scaling_curves collates runs.
  * "candidates" mode probes ONLY the candidate-growth and q73-round
  * invariants (documents/embeddings based) — for the ~100x tier, whose
  * StressGen subset ships no TPC-H/events tables and which runs above
  * the DuckDB oracle ceiling on purpose (ids and counts, no oracle).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ScaleProbe <sfDir> " +
        "[candidates|segments|zipf|inc|folds|scorecard|span|sketch]")
    val d = args(0)
    // "candidates": skip the TPC-H/streaming probes (documents+embeddings
    // tiers). "segments": ONLY the q111 block — the cheap mode for the
    // sf~10 third-decade segment-dedup probe, where the full candidate
    // battery (q32 verify, q73 CC) costs tens of minutes.
    val mode = if (args.length > 1) args(1) else "full"
    // Positive block gates — each names the work it ADMITS and lists the
    // modes that run it (the round-10 review flagged the old inverted
    // *Only flags as a trap: "zipfOnly" was true for three modes that
    // never run the zipf block).
    //   full       → everything below
    //   candidates → candidate battery + segment probes + q73
    //   segments   → segment probes only (cheap third-decade sweep)
    //   zipf / inc / folds → exactly their own dedicated block
    val tpchProbes = mode == "full"
    val candidateBattery = mode == "full" || mode == "candidates"
    val segmentProbes = mode == "full" || mode == "candidates" ||
      mode == "segments"
    val zipfProbe = mode == "zipf"
    val incProbe = mode == "inc"
    val foldsProbe = mode == "folds"
    val scorecardProbe = mode == "scorecard"
    val spanProbe = mode == "span"
    val spark = Sessions.local()
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      out(s"${name}_sec") = math.round((System.nanoTime() - t0) / 1e7) / 100.0
      r
    }

    /** Shuffle bytes written across all stages of one action. */
    def shuffleBytes(df: DataFrame): Long = {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
          bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        df.write.format("noop").mode("overwrite").save()
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } finally spark.sparkContext.removeSparkListener(l)
      bytes.get()
    }

    out("dir") = "\"" + d + "\""
    out("documents") = Tables.documents(spark, d).count()
    out("embeddings") = Tables.embeddings(spark, d).count()
    if (tpchProbes) {
      out("events") = Tables.events(spark, d).count()
      out("lineitem") = Tables.lineitem(spark, d).count()
    }

    // --- dedup / similarity candidate growth ---
    if (candidateBattery) {
    out("q32_candidates") = timed("q32_candidates") {
      operators.Dedup.jaccardCandidates(spark, d).count()
    }
    out("q32_pairs") = timed("q32_pairs") {
      SparkEntry.queries("q32_neardup_jaccard")(spark, d).count()
    }
    val emb = Tables.embeddings(spark, d)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    out("q35_candidates") = timed("q35_candidates") {
      operators.Similarity.bandedCandidates(emb, blocked = true).count()
    }
    out("q64_candidates") = timed("q64_candidates") {
      operators.Similarity.bandedCandidates(emb, blocked = false).count()
    }
    out("q64_pairs") = timed("q64_pairs") {
      SparkEntry.queries("q64_neardup_lsh")(spark, d).count()
    }

    // --- q89 streaming-backfill candidate growth: the band-collision
    // join the per-batch work is proportional to (round-8 addition) ---
    out("q89_candidates") = timed("q89_candidates") {
      streaming.StreamingQueries.q89BatchCandidates(spark, d).count()
    }

    // --- q90/q90b probe funnel: rows read after cell pruning vs the
    // PqRerank-bounded exact re-rank input (round-8 addition) ---
    out("q90_probed") = timed("q90_probed") {
      Tables.embeddings(spark, d)
        .select(operators.Similarity
          .cellOf(col("embedding").cast("array<double>")).as("cell"))
        .filter(col("cell").isin(
          operators.Similarity.probeCells.map(_.toLong): _*))
        .count()
    }
    timed("q90b_probe") {
      val (probed, reranked) =
        operators.Similarity.ivfPqBatchProbeCounts(spark, d)
      out("q90b_probed") = probed
      out("q90b_reranked") = reranked
    }

    // --- q91 dup-window mass: the FRACTION is the scale invariant
    // (flat across isomorphic blow-ups — a rising fraction means window
    // hashes started colliding quadratically); q92 shard balance must
    // tighten as 1+O(1/sqrt(n/K)) (round-8 additions) ---
    timed("q91") {
      val r = SparkEntry.queries("q91_dup_spans")(spark, d)
        .agg(sum(col("n_windows")), sum(col("n_dup_windows"))).head()
      out("q91_windows") = r.getLong(0)
      out("q91_dup_windows") = r.getLong(1)
    }
    timed("q92") {
      val r = SparkEntry.queries("q92_train_order")(spark, d)
        .groupBy(col("shard")).agg(count(lit(1)).as("c"))
        .agg(max(col("c")), min(col("c"))).head()
      out("q92_balance") =
        math.round(r.getLong(0).toDouble / r.getLong(1) * 1000) / 1000.0
    }

    // --- round-8 tail: q95/q96/q98/q99/q75b scale drivers ---
    // q95: the agg shuffle is keyed on distinct grams — must grow
    // sub-linearly vs token mass (shared vocabulary), never super-linear
    out("q95_distinct_grams") = timed("q95_distinct_grams") {
      operators.TextOps.bigramsOf(spark, d).distinct().count()
    }
    // q96: containment candidates — posting-list-bounded, ~linear per
    // decade like q32 (quadratic = prefixes stopped excluding)
    out("q96_candidates") = timed("q96_candidates") {
      operators.Dedup.containmentCandidates(spark, d).count()
    }
    // q98: the cumsum runs over sources × distinct scores, NOT the corpus
    // — this row count is the whole reason the histogram formulation
    // scales (bounded by sources × 10001 whatever the corpus size)
    out("q98_hist_rows") = timed("q98_hist_rows") {
      operators.TextOps.q86Scored(Tables.documents(spark, d))
        .groupBy(col("source"), col("score")).agg(count(lit(1))).count()
    }
    // q99: within-cell pair mass (Σcell²) — ×100/decade for the fixed
    // 256-cell quantizer; the measurement that tells you when K must
    // scale with n
    out("q99_candidates") = timed("q99_candidates") {
      operators.Similarity.semanticCandidates(spark, d).count()
    }
    // q103: the SAME pair mass under the trained K ∝ n codebook — the
    // shipped lever for q99's fixed-K quadratic; healthy growth is
    // ~linear per decade (cell population pinned ~250 by construction)
    out("q103_candidates") = timed("q103_candidates") {
      val f = operators.Similarity.trainedCellFrame(spark, d)
      val a = f.select(col("vec_id").as("va"), col("cell"))
      val b = f.select(col("vec_id").as("vb"), col("cell").as("cb"))
      a.join(b, col("cell") === col("cb") && col("va") < col("vb")).count()
    }
    // q103 training economics (round 9): per-round Lloyd distance mass
    // and full-corpus assignment mass of the two-level codebook. The
    // round-8 flat design paid n×K = n²/250 for BOTH (measured
    // ×100/decade); the sample-trained per-coarse-cell design must hold
    // ~linear per decade — i.e. mass / corpus row roughly constant.
    timed("q103_train_mass") {
      val (train, assign) = operators.Similarity.trainingMassProbe(spark, d)
      out("q103_train_mass") = train
      out("q103_assign_mass") = assign
    }
    // q108: the streaming semantic join's per-batch candidate mass —
    // new-tenth × corpus-nine-tenths meeting in trained cells. With
    // K ∝ n this tracks the q103 law (~linear per decade): per-batch
    // work stays proportional to the batch, never to corpus²
    out("q108_candidates") = timed("q108_candidates") {
      val cells = operators.Similarity.cellsArtifact(spark, d)
      cells.filter(col("vec_id") % 10 === 0)
        .select(col("cid").as("cell"))
        .join(cells.filter(col("vec_id") % 10 =!= 0)
          .select(col("cid").as("cell")), "cell")
        .count()
    }
    // q75b: corpus keys before/after the bloom prefilter — the
    // anti-join's shuffle reduction
    timed("q75b_prune") {
      import operators.Shared.hash60
      val docs = Tables.documents(spark, d)
        .withColumn("k", hash60(lower(trim(col("text")))))
      val corpusKeys = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("k")).distinct()
      val batchKeys = docs.filter(col("doc_id") % 5 === 0)
        .select(col("k")).distinct()
      out("q75b_corpus_keys") = corpusKeys.count()
      out("q75b_bloom_survivors") =
        operators.Pipeline.bloomPruned(corpusKeys, batchKeys).count()
    }
    } // candidateBattery

    // q111: segment mass (corpus-linear by construction) vs the
    // boiler SET — the broadcast side of the strip join. The scale claim
    // is that the boiler set grows far slower than the corpus (few
    // distinct boilerplate strings, massively repeated), which is what
    // keeps the strip pass a broadcast join; boiler_rows is the mass the
    // strip actually removes.
    // --- mode == "zipf": q111's strip join under a ZIPFIAN segment
    // popularity. The tier corpus plants near-uniform boilerplate; real
    // web boilerplate df follows ~zipf(1.1) (a few templates dominate,
    // a long tail barely repeats). Plant that law synthetically at this
    // tier's document scale — rank k carries floor(n/k^1.1) occurrences
    // — and measure the three claims the q111 plan rests on:
    //  1. the df>=SegDf boiler set stays far below the segment mass
    //     (the tail's df-1 ranks are excluded);
    //  2. the df aggregate's exchange carries the distinct
    //     (segment, doc) INCIDENCE set at ~10 B/row — within-doc repeats
    //     collapse map-side, cross-doc repeats must survive because df
    //     counts distinct docs (measured ×9/decade, linear in incidence
    //     mass: the honest law, not a free collapse);
    //  3. the unhinted strip join broadcasts while the boiler set fits
    //     and flips to SortMergeJoin when the threshold forbids it —
    //     AQE's runtime choice, probed under both settings.
    // --- mode == "inc": the q120/q121 maintenance-cost laws. The claim
    // is DELTA-proportional update work: at a FIXED corpus, a 1% batch
    // must cost ~1/10 of a 10% batch in candidate/pair mass (q120) and
    // in retrain training mass (q121) — and both must sit far below the
    // full-rebuild mass. Counts, not wall seconds: the box's 7-21×
    // contention swing makes times incomparable across runs, while the
    // distance/candidate mass IS the work the cluster would do.
    /** The frozen q120-style corpus index (shingles, df, prefix
      * postings), persisted and materialized — ONE definition so the inc
      * and folds probes measure the same index q120/q124 build (a drift
      * between hand copies would silently measure something else).
      */
    def frozenCorpusIndex(corpus: DataFrame)
        : (DataFrame, DataFrame, DataFrame) = {
      val csh = corpus
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          operators.Shared.shingles3(col("text")).as("sh"))
        .filter(size(col("sh")) > 0).withColumn("sz", size(col("sh")))
        .persist()
      val cdf = operators.Dedup.dfOf(csh).persist()
      val cpfx = operators.Dedup.prefixOf(csh, cdf).persist()
      Seq(cdf, cpfx).foreach(_.count())
      (csh, cdf, cpfx)
    }

    if (incProbe) timed("inc_probe") {
      import operators.{Dedup, Similarity}
      val docs = Tables.documents(spark, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      // frozen q120 index, computed once and persisted (artifact stand-in)
      val (csh, cdf, cpfx) = frozenCorpusIndex(corpus)
      for ((label, modBase) <- Seq("b10" -> 10, "b1" -> 100)) {
        // modBase 10 = the standard tenth; 100 = a 10× smaller delta
        // over the SAME corpus (doc_id % 100 == 0 ⊂ % 10 == 0)
        val batch = docs.filter(col("doc_id") % modBase === 0)
        out(s"inc_${label}_docs") = batch.count()
        val pairs =
          Dedup.batchPairs(corpus, batch, cdf, cpfx).persist()
        out(s"inc_${label}_pairs") = pairs.count()
        pairs.unpersist()
      }
      out("inc_full_shingle_rows") =
        csh.select(explode(col("sh"))).count() // the full-rebuild mass
      Seq(cdf, cpfx, csh).foreach(_.unpersist())
      // q121: retrain mass for the planted skew batch vs the full
      // two-level training mass (trainingMassProbe's law)
      val (trainFull, assignFull) = Similarity.trainingMassProbe(spark, d)
      out("inc_q121_full_train_mass") = trainFull
      out("inc_q121_full_assign_mass") = assignFull
      val got = SparkEntry.queries("q121_online_leaf_split")(spark, d)
        .withColumn("cell", expr(s"cid div ${Similarity.SubKCap}"))
        .persist()
      val cells = got.groupBy(col("cell"))
        .agg(count(lit(1)).as("ng"),
          countDistinct(col("cid")).as("leaves")).persist()
      out("inc_q121_cells") = cells.count()
      // cells maintenance may have retrained = cells holding a LEAF over
      // the overflow trigger in the maintained output (conservative
      // upper bound: a just-split cell's biggest leaf may already be
      // back under it); their bounded retrain mass is Σ min(ng, 32·K)·K
      val hot = got.groupBy(col("cell"), col("cid"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("cell")).agg(max(col("n")).as("max_leaf"))
        .filter(col("max_leaf") > 2 * Similarity.LeafTarget)
        .select(col("cell"))
      out("inc_q121_hot_cells") = hot.count()
      val retrainMass = cells.join(hot, Seq("cell"), "left_semi")
        .select(sum(least(col("ng"),
          lit(32L) * col("leaves")) * col("leaves")).as("m"))
        .head().getAs[Any](0)
      out("inc_q121_retrain_mass") =
        Option(retrainMass).map(_.toString).getOrElse("0")
      cells.unpersist(); got.unpersist()
    }

    // --- mode == "folds": q124's continuous-fold law. Drives the same
    // machinery the streaming query runs (batch form — the cost law is
    // identical; only the trigger differs) and measures, per fold: the
    // verified pair mass (must track the micro-batch, q120's law), the
    // override rows appended (touched-cluster bounded), and the
    // ACCUMULATED posting/override delta the next fold will carry — the
    // term whose growth mandates periodic compaction (SCALING.md q124).
    if (foldsProbe) timed("folds_probe") {
      import operators.Dedup
      val docs = Tables.documents(spark, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val (csh, cdf, cpfx) = frozenCorpusIndex(corpus)
      val baseLabels = Dedup.labelsOf(corpus).persist()
      baseLabels.count()
      var labDelta = baseLabels.limit(0).withColumn("ver", lit(0L))
      var pfxDelta = cpfx.limit(0)
      var seen = docs.select(col("doc_id")).limit(0)
      val folds = 3
      for (k <- 0 until folds) {
        val b = docs.filter(col("doc_id") % 10 === 0)
          .filter(expr(s"(doc_id div 10) % $folds") === k)
        out(s"folds_f${k}_docs") = b.count()
        val seenDocs = corpus.unionByName(
          docs.join(seen, Seq("doc_id"), "left_semi"))
        val pairs = Dedup.batchPairs(seenDocs, b, cdf,
          cpfx.unionByName(pfxDelta)).persist()
        out(s"folds_f${k}_pairs") = pairs.count()
        val current = Dedup.latestWins(baseLabels, labDelta, "doc_id")
        val (sub, _) = Dedup.incrementalSubLabels(current, pairs)
        val subV = sub.withColumn("ver", lit(k.toLong)).persist()
        out(s"folds_f${k}_override_rows") = subV.count()
        labDelta = labDelta.unionByName(subV)
        val bp = Dedup.prefixRowsOf(b, cdf).persist()
        pfxDelta = pfxDelta.unionByName(bp)
        out(s"folds_f${k}_acc_postings") = pfxDelta.count()
        seen = seen.unionByName(b.select(col("doc_id"))).persist()
        pairs.unpersist()
      }
      out("folds_corpus_postings") = cpfx.count()
      Seq(cdf, cpfx, csh).foreach(_.unpersist()); baseLabels.unpersist()
    }

    // --- mode == "span": the q135/q136 span-fold delta law (SCALING.md
    // round 11). The claim: per-fold work = batch windows + state-changed
    // hashes + touched docs, every term delta-proportional, while the
    // corpus window store is a built-once linear asset. Counts, not
    // wall-seconds. b1 is a 10× smaller batch over the SAME corpus:
    // delta-proportionality shows as ~×10 drops in changed hashes and
    // touched docs at fixed corpus. The change predicate is the
    // operator's own (Dedup.spanChangedHashes) — the probe cannot drift
    // from what q135 actually discovers.
    if (spanProbe) timed("span_probe") {
      import operators.Dedup
      val docs = Tables.documents(spark, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val cw = Dedup.spanWindows(Dedup.spanDocs(spark, corpus)).persist()
      out("span_corpus_windows") = cw.count()
      val cpost = cw.select(col("wh"), col("doc_id")).distinct().persist()
      out("span_corpus_postings") = cpost.count()
      for ((tag, batch) <- Seq(
          "b10" -> docs.filter(col("doc_id") % 10 === 0),
          "b1" -> docs.filter(col("doc_id") % 100 === 0))) {
        val bw = Dedup.spanWindows(Dedup.spanDocs(spark, batch)).persist()
        out(s"span_${tag}_windows") = bw.count()
        val bpost = bw.select(col("wh"), col("doc_id")).distinct()
        val bAgg = bpost.groupBy(col("wh"))
          .agg(min(col("doc_id")).as("bmin"),
            countDistinct(col("doc_id")).as("bn"))
        val changed = Dedup.spanChangedHashes(cpost, bpost, bAgg).persist()
        out(s"span_${tag}_changed_hashes") = changed.count()
        out(s"span_${tag}_touched_docs") = cpost
          .join(changed, Seq("wh"), "left_semi")
          .select(col("doc_id")).distinct().count()
        changed.unpersist(); bw.unpersist()
      }
      cw.unpersist(); cpost.unpersist()
    }

    // --- mode == "sketch": the q138-q141 boundedness laws. The sketch
    // claim is that STATE stays register/cell-bounded while input grows
    // (HLL <= groups x 4096, CMS = 4 x 1024); the layout claim is that a
    // 2-d box reads a constant cell subset of the 64-cell grid at every
    // tier. Counts and file tallies, never wall-seconds.
    if (mode == "sketch") timed("sketch_probe") {
      out("sk_lineitem_rows") = Tables.lineitem(spark, d).count()
      out("sk_hll_registers") =
        SparkEntry.queries("q138_hll_registers")(spark, d).count()
      out("sk_documents_rows") = Tables.documents(spark, d).count()
      out("sk_q139_registers") =
        SparkEntry.queries("q139_incremental_distinct")(spark, d).count()
      val cms = SparkEntry.queries("q141_cms_frequency")(spark, d)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      out("sk_cms_exact_readback") = cms.count { case (c, e) => e == c }
      val box = SparkEntry.queries("q140_zorder_box")(spark, d)
      // collect() on THIS queryExecution so the scan metrics populate
      // (count() would plan and run a different execution)
      out("sk_box_rows_out") = box.collect().length
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scansOf)
      }
      val scans = scansOf(box.queryExecution.executedPlan)
      out("sk_box_files_read") = scans.map(_.metrics("numFiles").value).sum
      out("sk_layout_files_total") =
        scans.map(_.relation.location.inputFiles.length.toLong).sum
    }

    // --- mode == "scorecard": the q127/q128 maintenance-cost law. The
    // claim is that a dashboard update costs O(|batch| + corrected docs +
    // |sources|): corrected docs are bounded by the touched-cluster
    // subgraph (q120's delta law), the merge is |sources| rows (corpus-
    // constant), and NOTHING rescans the corpus — while from-scratch q119
    // pays a full corpus pass per refresh. Counts, not wall-seconds (the
    // box's contention swing); the b1 batch is 10× smaller than b10 over
    // the SAME corpus, so delta-proportionality shows as ~×10 drops.
    if (scorecardProbe) timed("scorecard_probe") {
      import operators.{Dedup, Pipeline}
      val docs = Tables.documents(spark, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      out("sc_corpus_docs") = corpus.count()
      out("sc_sources") = docs.select(col("source")).distinct().count()
      val (csh, cdf, cpfx) = frozenCorpusIndex(corpus)
      val baseLabels = Dedup.labelsOf(corpus).persist()
      out("sc_labels_rows") = baseLabels.count() // q126 compaction rewrite bound
      val corpusFlags = Pipeline.docflagsOf(corpus).persist()
      corpusFlags.count() // artifact stand-in, built once at ingest
      for ((label, modBase) <- Seq("b10" -> 10, "b1" -> 100)) {
        val batch = docs.filter(col("doc_id") % modBase === 0)
        out(s"sc_${label}_docs") = batch.count()
        val pairs = Dedup.batchPairs(corpus, batch, cdf, cpfx)
        val (sub, _) = Dedup.incrementalSubLabels(baseLabels, pairs)
        val subP = sub.persist()
        out(s"sc_${label}_subgraph_docs") = subP.count()
        // the correction join's probe side: corpus docs whose rep can
        // have changed — the ONLY corpus rows the update touches
        out(s"sc_${label}_corrected_docs") = corpusFlags
          .join(subP.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .count()
        out(s"sc_${label}_batch_agg_rows") =
          Pipeline.q127BatchAgg(batch, subP).count()
        subP.unpersist()
      }
      Seq(cdf, cpfx, csh).foreach(_.unpersist()); baseLabels.unpersist()
      corpusFlags.unpersist()
      // q129's disjoint-delta law over the same corpus/batch pair: the
      // new-shingle delta must track the batch while the frozen index
      // and eval table stay corpus-sized (built once, probed per batch)
      import operators.TextOps
      val corpusTrain = corpus.filter(col("doc_id") % 10 < 8)
      val trainIdx = TextOps.contamShinglesOf(corpusTrain)
        .select(explode(col("sh")).as("h")).distinct().persist()
      out("sc_train_index_shingles") = trainIdx.count()
      val testRows = TextOps.contamShinglesOf(
        corpus.filter(col("doc_id") % 10 >= 8))
        .select(col("doc_id"), explode(col("sh")).as("h")).persist()
      out("sc_test_shingle_rows") = testRows.count()
      for ((label, modBase) <- Seq("b10" -> 10, "b1" -> 100)) {
        val batch = docs.filter(col("doc_id") % modBase === 0)
        val newH = TextOps.contamShinglesOf(batch)
          .select(explode(col("sh")).as("h")).distinct()
          .join(trainIdx, Seq("h"), "left_anti").persist()
        out(s"sc_${label}_new_shingles") = newH.count()
        out(s"sc_${label}_contam_corr_rows") =
          testRows.join(newH, Seq("h")).select(col("doc_id"))
            .distinct().count()
        newH.unpersist()
      }
      trainIdx.unpersist(); testRows.unpersist()
    }

    if (zipfProbe) timed("zipf_probe") {
      val nDocs = Tables.documents(spark, d).count()
      val K = math.round(math.pow(nDocs.toDouble, 1.0 / 1.1))
      val ranks = spark.range(1, K + 1)
        .select(col("id").as("k"),
          floor(lit(nDocs.toDouble) / pow(col("id").cast("double"),
            lit(1.1))).cast("long").as("cnt"))
        .filter(col("cnt") >= 1)
      // explode in 64k chunks: rank 1's occurrence array would otherwise
      // be a single n-element row
      val segs = ranks
        .select(col("k"), col("cnt"),
          explode(sequence(lit(0L),
            floor((col("cnt") - 1) / 65536L).cast("long"))).as("c"))
        .select(col("k"), explode(sequence(col("c") * 65536L,
          least(col("cnt") - 1, (col("c") + 1) * 65536L - 1))).as("j"))
        .select(pmod(hash(col("k"), col("j")), lit(nDocs)).cast("long")
          .as("doc_id"), concat(lit("zseg"), col("k")).as("sh"))
        .persist()
      out("zipf_mass") = segs.count()
      out("zipf_ranks") = K
      // measure the agg's shuffle BEFORE persisting its result — the
      // cache manager substitutes a persisted same-result plan into any
      // later identical frame, which would skip the exchange entirely
      // and record 0 bytes
      out("zipf_agg_shuffle_bytes") =
        shuffleBytes(operators.Dedup.boilerSet(segs))
      val b = operators.Dedup.boilerSet(segs).persist()
      out("zipf_boiler_set") = b.count()
      def stripPlan(): String = {
        val strip = segs.join(b, Seq("sh"), "left_anti")
        strip.write.format("noop").mode("overwrite").save()
        strip.queryExecution.executedPlan.toString
      }
      val p1 = stripPlan()
      out("zipf_bhj_default") = if (p1.contains("BroadcastHashJoin")) 1 else 0
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "1024")
        val p2 = stripPlan()
        out("zipf_smj_forced") =
          if (p2.contains("SortMergeJoin") &&
            !p2.contains("BroadcastHashJoin")) 1 else 0
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevA)
      }
      b.unpersist(); segs.unpersist()
    }

    if (segmentProbes)
    timed("q111_probe") {
      val segs = operators.Dedup.segmentFrame(spark, d)
      out("q111_segments") = segs.count()
      val b = operators.Dedup.boilerSet(segs).cache()
      out("q111_boiler_set") = b.count()
      out("q111_boiler_rows") =
        segs.join(b, Seq("sh"), "left_semi").count()
      b.unpersist()
    }

    // q114: the counting-sort construction is safe iff the score DOMAIN
    // stays bounded while the corpus grows (the offsets window runs over
    // |domain|·16 rows) and the salt keeps per-(score, salt) partitions
    // skew-free. Measure both directly.
    if (segmentProbes)
    timed("q114_probe") {
      val toks =
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      val scored = Tables.documents(spark, d)
        .select(col("doc_id"),
          size(array_distinct(toks)).cast("long").as("score"))
        .withColumn("salt", pmod(col("doc_id"), lit(16L)))
      out("q114_score_domain") =
        scored.select(col("score")).distinct().count()
      val g = scored.groupBy(col("score"), col("salt")).count()
      val r = g.agg(max(col("count")), count(lit(1))).head()
      out("q114_max_rank_partition") = r.getLong(0)
      out("q114_offset_rows") = r.getLong(1)
    }

    // --- q73 round count (flat across scale = the O(log d) claim) ---
    if (candidateBattery) timed("q73") {
      val edges = SparkEntry.queries("q32_neardup_jaccard")(spark, d)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val (labels, rounds) = operators.Dedup.connectedComponentsRounds(edges)
      out("q73_rounds") = rounds
      out("q73_nodes") = labels.count()
      out("q73_clusters") = labels.select("rep").distinct().count()
    }

    // --- q78 pack balance ---
    if (tpchProbes) timed("q78") {
      val packs = SparkEntry.queries("q78_sequence_pack")(spark, d)
      val s = packs.agg(
        count(lit(1)), min(col("n_tokens")), max(col("n_tokens")),
        avg(col("n_tokens"))).head()
      out("q78_packs") = s.getLong(0)
      out("q78_min_tokens") = s.getLong(1)
      out("q78_max_tokens") = s.getLong(2)
      out("q78_avg_tokens") = math.round(s.getDouble(3) * 100) / 100.0
    }

    // --- LocalTopK shuffle volume: q74 (rewritten) shuffles only each
    // partition's local top-k; q14 (full window rank) is the unrewritten
    // shape over the same events table ---
    if (tpchProbes) {
      out("q74_shuffle_bytes") = timed("q74") {
        shuffleBytes(SparkEntry.queries("q74_stratified_cap")(spark, d))
      }
      out("q14_shuffle_bytes") = timed("q14") {
        shuffleBytes(SparkEntry.queries("q14_window_rank")(spark, d))
      }
    }

    // --- q85 batched-ANN shuffle: the corpus×batch nested loop is
    // broadcast (no shuffle), and LocalTopK prunes the rank input to
    // ~5·|batch| rows per partition — so shuffle bytes must track the
    // query batch, not corpus × batch. Probed with the GROWING-batch
    // variant (batch = |corpus|/500): the oracle-checked q85 pins its
    // batch at AnnBatchSize, which would make this invariant trivially
    // constant ---
    if (tpchProbes)
      out("q85_shuffle_bytes") = timed("q85") {
        shuffleBytes(
          operators.Similarity.annBatch(spark, d, fixedBatch = false))
      }

    println(out.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
