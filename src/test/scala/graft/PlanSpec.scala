package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan property checks: the scale contract is that these hold
  * at ANY data size, so they are asserted on the plan itself rather than
  * observed from timings.
  */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02 filters are pushed into the parquet scan") {
    val p = plan("q02_filter")
    // the disjunctive predicate must reach the scan, not sit above it
    assert(p.contains("PushedFilters: [Or("), p.take(2000))
  }

  test("q01 scan prunes to the two referenced columns") {
    val p = plan("q01_scan_project")
    assert(p.contains("ReadSchema: struct<r_regionkey:int,r_name:string>"))
  }

  test("q17 top-k lowers to TakeOrderedAndProject (no global sort)") {
    val p = plan("q17_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortExec"))
  }

  test("q04 top-10 after aggregation also lowers to TakeOrderedAndProject") {
    assert(plan("q04_join_agg_topk").contains("TakeOrderedAndProject"))
  }

  test("no fact-table broadcast hints: only region/nation may be hinted") {
    // q13 joins all four dims+facts; its *logical* plan must carry
    // broadcast hints only on nation/region (customer is fact-scale).
    val lp = SparkEntry.queries("q13_rollup")(spark, sf)
      .queryExecution.analyzed.toString
    val hinted = "(?s)ResolvedHint.*?relation=\\[?([a-z_]*)".r
    // crude but effective: count hint nodes; there must be exactly 2
    val n = "ResolvedHint".r.findAllIn(lp).length
    assert(n === 2, s"expected 2 broadcast hints (nation, region), got $n")
  }

  test("q11 aggregation is partial+final (map-side combine)") {
    val p = plan("q11_agg_q1")
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("partial_sum") || p.contains("partial_count") ||
      p.contains("merge_sum"), "no partial aggregation found")
  }

  test("whole-stage codegen covers the relational hot paths") {
    // AQE hides the final plan until execution; run the query, then look
    // at the adaptively-finalized plan. Codegen spans print as "*(n)".
    for (q <- Seq("q02_filter", "q11_agg_q1", "q19_strings", "q21_math")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("*("), s"$q lost whole-stage codegen:\n${p.take(800)}")
    }
  }

  test("ingest expressions stay inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = spark.range(4).select(
      concat(lit("line"), col("id")).as("message"),
      lit("h").as("hostname"), col("id").as("timestamp"))
    val p = df.select(graft.ingest.Transformers.avro(Nil, None, 1))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [concat(0x0000000001, avrologlineencode"),
      s"avro_logline fell out of codegen:\n${p.take(800)}")
  }

  test("q43 bucketed join runs with no shuffle below the join") {
    val df = SparkEntry.queries("q43_bucketed_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(600))
    assert(p.contains("Bucketed: true"), "scan did not use buckets")
    // no exchange on the join keys anywhere (bucketing provides the
    // co-partitioning); the agg/orderBy exchanges on other keys are fine
    assert(!p.contains("Exchange hashpartitioning(o_custkey") &&
      !p.contains("Exchange hashpartitioning(c_custkey"),
      "join sides were shuffled despite bucketing")
  }

  test("q51 rank filter gets a map-side LocalTopKPerKey below the shuffle") {
    val p = plan("q51_local_topk")
    val topk = p.indexOf("LocalTopKPerKey")
    assert(topk >= 0, s"custom operator missing:\n${p.take(1200)}")
    // the partial top-k must run BEFORE the window's exchange (below it
    // in the tree = later in the plan string)
    val exch = p.indexOf("Exchange hashpartitioning(l_returnflag")
    assert(exch >= 0 && exch < topk,
      "LocalTopKPerKey must sit below the window's exchange")
    // q10's rn=1 as-of idiom must get the same treatment for free
    assert(plan("q10_asof_latest").contains("LocalTopKPerKey"))
    // ... and q74's stratified per-source cap (rank over a computed hash
    // order) — mappers pre-prune to local top-K below the exchange
    assert(plan("q74_stratified_cap").contains("LocalTopKPerKey"))
    // ... and q77's per-language top-10 trigram rank
    assert(plan("q77_trigram_profile").contains("LocalTopKPerKey"))
    // ... and q82's per-doc top-3 tf-idf rank
    assert(plan("q82_tfidf_topterms").contains("LocalTopKPerKey"))
    // ... and q85's per-query ANN top-5 (whose corpus×batch stage must be
    // a broadcast join, not a shuffled one)
    val p85 = plan("q85_ann_batch")
    assert(p85.contains("LocalTopKPerKey"), p85.take(800))
    assert(p85.contains("Broadcast"), "q85 query batch must broadcast")
  }

  test("q48 salted join shuffles on (key, salt), not the bare hot key") {
    val df = SparkEntry.queries("q48_salted_join")(spark, sf)
    df.collect() // AQE: final plan only materializes on execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p.take(600))
    // both join sides must carry the salt column in their keys — the
    // whole point is that no exchange partitions by user_id alone
    assert(p.contains("salt#"), "salt column missing from the plan")
    // a bare-key exchange prints `hashpartitioning(user_id#N, <nParts>)`;
    // the salted one carries a second key expression before the count
    val bareKey = """hashpartitioning\(user_id#\d+, \d+\)""".r
    assert(bareKey.findFirstIn(p).isEmpty,
      "fact side was shuffled on the bare key despite salting")
  }

  test("q12b HLL estimate lands within 5% of the exact distinct count") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("q12b_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, e) <- exact) {
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e < 0.05, s"$k: approx=$a exact=$e")
    }
  }

  test("q70b sketch profile has no Expand; exact q70 is the one that pays it") {
    val exact = SparkEntry.queries("q70_profile")(spark, sf)
    exact.collect()
    val sketch = SparkEntry.queries("q70b_profile_sketch")(spark, sf)
    sketch.collect()
    val pExact = exact.queryExecution.executedPlan.toString
    val pSketch = sketch.queryExecution.executedPlan.toString
    // 5 exact countDistinct in one pass force Expand (~6x shuffle rows)
    assert(pExact.contains("Expand"), pExact.take(600))
    // HLL++ partial+final aggregates need no input duplication
    assert(!pSketch.contains("Expand"), pSketch.take(600))
  }

  test("q70b HLL distinct counts land within 5% of q70's exact counts") {
    val exact = SparkEntry.queries("q70_profile")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = SparkEntry.queries("q70b_profile_sketch")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(approx.keySet === exact.keySet)
    for ((k, e) <- exact) {
      val a = approx(k)
      assert(math.abs(a - e).toDouble / math.max(e, 1L) < 0.05,
        s"$k: approx=$a exact=$e")
    }
  }

  /** Count Spark jobs started while `f` runs; drains the async listener
    * bus before reading (LiveListenerBus.waitUntilEmpty is private[spark]
    * => public in bytecode, so reflection reaches it).
    */
  private def jobsDuring(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("q54 pivot with explicit values runs no distinct-discovery job") {
    // differential: spark.read.parquet itself runs a schema-inference job
    // per construction, so compare against the bare scan — a values-less
    // pivot would ADD a blocking distinct-collect job over the input
    val base = jobsDuring(Tables.events(spark, sf))
    val q54 = jobsDuring(SparkEntry.queries("q54_pivot")(spark, sf))
    assert(q54 <= base,
      "building q54 must not add a pivot-value discovery job over the scan")
  }

  test("connectedComponents runs exactly one action per round (no count job)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    // AQE fans each action out into one job per materialized query stage,
    // so the invariant is counted in SQL EXECUTIONS (actions), not jobs.
    // A single edge converges in exactly 2 rounds (round 1 hooks node 2
    // to 1; round 2 observes no change); budget = 1 initial-labels
    // checkpoint + 1 checkpoint per round + the final collect = 4. The
    // old per-round convergence join+count made it 6.
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val id = js.properties.getProperty("spark.sql.execution.id")
        if (id != null) execs.add(id)
      }
    }
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    spark.sparkContext.addSparkListener(listener)
    try {
      operators.Dedup.connectedComponents(edges).collect()
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(execs.size <= 4,
      s"expected <=4 actions (init + 2 rounds + collect), got ${execs.size}")
  }

  test("q65 gap-fill runs exactly one window pass") {
    val df = SparkEntry.queries("q65_gapfill")(spark, sf)
    df.collect()
    // AQE's toString appends the pre-execution "Initial Plan" — count
    // only the final plan section or every node doubles
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("\\bWindow\\b".r.findAllIn(p).length === 1,
      s"expected a single Window node:\n${p.take(800)}")
  }

  test("q69 funnel stages reuse the user_id exchange") {
    val df = SparkEntry.queries("q69_funnel")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the three stage aggregates and the final joins all hash-partition
    // by user_id; at least one exchange must be reused, not recomputed
    assert(p.contains("ReusedExchange") || p.contains("reuses"),
      s"no exchange reuse in the funnel plan:\n${p.take(1200)}")
  }

  test("q59 correlated subquery is decorrelated into an aggregate join") {
    val df = SparkEntry.queries("q59_corr_subquery")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // no per-row subquery survives to the physical plan: the avg is a
    // standalone partial+final aggregate joined back on l_partkey
    assert(!p.contains("Subquery"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(800))
  }

  test("q95 global top-k lowers to TakeOrderedAndProject (no gram-table sort)") {
    val df = SparkEntry.queries("q95_heavy_hitters")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    // the full gram table must never be globally sorted; the only
    // ordering is the bounded 25-row top-k
    assert(!p.contains("SortExec"), p.take(800))
  }

  test("q97 assignment joins broadcast the centroid table") {
    val df = SparkEntry.queries("q97_kmeans")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q98 applies per-source cutoffs via broadcast join") {
    val df = SparkEntry.queries("q98_source_calibration")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the corpus side meets the (tiny) cutoff table in a broadcast hash
    // join — the full row set is never shuffled by source, and the only
    // Window in the plan runs over the aggregated histogram
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("q61/q64/q35/q96 candidate joins are equi-joins, never all-pairs") {
    for (q <- Seq("q61_contamination", "q64_neardup_lsh",
        "q35_neardup_embedding", "q96_containment")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to an all-pairs join:\n${p.take(800)}")
    }
  }

  test("partitioned writes get static + dynamic partition pruning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_dpp").toString
    Tables.lineitem(spark, sf)
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val fact = spark.read.parquet(dir)

    // static pruning: a literal filter on the partition column must land
    // in PartitionFilters, not a post-scan Filter
    val p1 = fact.filter(col("l_returnflag") === "R")
      .queryExecution.executedPlan.toString
    assert(p1.contains("PartitionFilters: [isnotnull(l_returnflag"),
      p1.take(600))

    // dynamic pruning: joining on the partition column against a filtered
    // dim must inject a runtime subquery filter into the scan — at 100 TB
    // this is the difference between scanning one partition and all of
    // them, decided at run time from the dim side. The dim is read from
    // parquet so Catalyst cannot constant-fold the filter into a static
    // partition predicate (a literal dim folds — see the assert above).
    val dimDir = TestSpark.tempDir("graft_dim").toString
    Seq(("R", 1), ("A", 0), ("N", 0)).toDF("flag", "keep")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("keep") === 1)
    val joined = fact.join(dim, col("l_returnflag") === col("flag"))
    val p2 = joined.queryExecution.executedPlan.toString
    assert(p2.contains("dynamicpruning"), p2.take(1200))
  }

  test("runtime bloom-filter join reduction engages on selective joins") {
    import org.apache.spark.sql.functions._
    // at 100 TB a selective dim filter should semi-join-reduce the fact
    // scan via an injected bloom filter; thresholds are production-sized,
    // so shrink them (and disable broadcast, which would subsume it) to
    // prove the engine path on test data
    val conf = spark.conf
    // thresholds: the APPLICATION side must be bigger than its threshold
    // (default 10GB — shrink so the test fact qualifies) while the
    // CREATION side must be smaller than its own (default 10MB — already
    // true for the filtered dim)
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "32")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = Tables.lineitem(spark, sf)
      val dim = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val p = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n${p.take(1200)}")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("q36 ANN cell filter prunes before the cosine computation") {
    val p = plan("q36_ann_ivf")
    // the cell IN (...) filter must appear below the projection that
    // computes the cosine fold (i.e., we never fold excluded vectors)
    val fi = p.indexOf("cell#")
    assert(fi >= 0)
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q36 at-rest layout: cell-partitioned table makes the probe partition pruning") {
    // SCALING.md claims "at 100 TB the cell id is a partition key, so the
    // 9/256-cell probe is partition pruning on the scan" — demonstrate it:
    // write embeddings partitioned BY cell, probe, and assert the filter
    // lands in PartitionFilters (directory pruning — excluded cells are
    // never opened), not in PushedFilters/post-scan Filter.
    import operators.Similarity
    import org.apache.spark.sql.functions.col
    val dir = TestSpark.tempDir("graft_ivf_parts").toString
    Tables.embeddings(spark, sf)
      .withColumn("cell",
        Similarity.cellOf(col("embedding").cast("array<double>")))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val probe = Similarity.probeCells.map(_.toLong)
    val df = spark.read.parquet(dir)
      .filter(col("cell").isin(probe: _*))
      .select(col("vec_id"), col("cell"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.find(_.contains("PartitionFilters: ["))
      .getOrElse(fail(s"no PartitionFilters in plan:\n${p.take(1200)}"))
    assert(pf.contains("cell"),
      s"cell probe not pushed to partition pruning: $pf")
    // correctness: partitioned probe returns exactly the unpartitioned set
    val expected = Tables.embeddings(spark, sf)
      .withColumn("cell",
        Similarity.cellOf(col("embedding").cast("array<double>")))
      .filter(col("cell").isin(probe: _*))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val got = df.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("q86 unbounded corpus never crosses a bare-source exchange") {
    // the skew contract: the full documents table shuffles only on
    // (source, salt); a hash exchange on bare `source` may exist solely
    // ABOVE the level-1 budget cut, where rows are budget-bounded
    // (TextOps.q86Survivors proof). Plans print root-first, so "above"
    // = an earlier offset than the salted exchange.
    val p = plan("q86_token_budget")
    val salted = """hashpartitioning\(source#\d+, salt#\d+""".r
    val saltedM = salted.findFirstMatchIn(p)
      .getOrElse(fail(s"no (source, salt) exchange in plan:\n${p.take(3000)}"))
    val bare = """hashpartitioning\(source#\d+, \d+\)""".r
    for (m <- bare.findAllMatchIn(p))
      assert(m.start < saltedM.start,
        s"bare-source exchange feeds on unbounded rows:\n${p.take(3000)}")
  }

  test("q89 static side is a scan of the materialized band table") {
    // Structured Streaming re-evaluates a stream-static join's static
    // side on EVERY micro-batch: the corpus's shingle→md5→minhash
    // pipeline must therefore live in the write-once band table, not in
    // the join subtree. Assert on the unstarted stream's analyzed plan:
    // the join's static (right) subtree is the band-table scan and
    // carries none of the signature expressions.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.streaming.StreamingQueries.q89Stream(spark, sf)
    val joins = df.queryExecution.analyzed.collect { case j: Join => j }
    assert(joins.size === 1, s"expected exactly one join, got ${joins.size}")
    val static = joins.head.right.toString
    assert(static.contains("q89_corpus_bands"),
      s"static side is not the materialized band table:\n${static.take(2000)}")
    for (bad <- Seq("md5", "minhash", "shingle", "h31"))
      assert(!static.toLowerCase.contains(bad),
        s"static side recomputes signatures ('$bad' found):\n${static.take(2000)}")
    // and the signature work IS on the streaming side, where it runs
    // once per arriving row
    assert(joins.head.left.toString.toLowerCase.contains("md5"))
  }

  test("q90c ADC subtree scans the staged codes table, never the vector") {
    // the production IVF-PQ layout: below the ADC cut the corpus side is
    // the write-once pq_codes table (vec_id, nrm, cell, c0..c7 — no
    // vector column exists in it at all), and the raw embedding is read
    // only by the q-side batch and the PqRerank-bounded re-rank join.
    val p = plan("q90c_ann_ivfpq_staged")
    val codeScans = p.linesIterator
      .filter(l => l.contains("pq_codes") && l.contains("FileScan")).toSeq
    assert(codeScans.nonEmpty,
      s"no scan of the staged pq_codes table found:\n${p.take(3000)}")
    for (l <- codeScans)
      assert(!l.contains("emb"),
        s"pq_codes scan must be codes-only, found a vector column:\n$l")
    // the vector store IS scanned (q batch + re-rank) — but with the
    // embedding column only there, outside the ADC candidate subtree
    assert(p.contains("embeddings.parquet"),
      "expected the vector-store scan for the bounded exact re-rank")
  }

  test("q152 staged BM25 serves from the posting table; documents never rescanned") {
    // the whole point of the staged index: a query batch costs O(matched
    // postings) — the corpus text is tokenized ONCE at index build, and
    // serving reads only bm25_postings + the one-row stats table. The
    // query side must come in as a broadcast (never a shuffle of the
    // posting scan below the match agg).
    val p = plan("q152_bm25_staged")
    assert(p.linesIterator.exists(l =>
      l.contains("bm25_postings") && l.contains("FileScan")),
      s"no scan of the staged posting table:\n${p.take(3000)}")
    assert(!p.contains("documents.parquet"),
      "staged BM25 serving re-scanned the corpus text")
    assert(p.contains("BroadcastHashJoin"),
      "query-batch join must broadcast into the posting scan")
    assert(!p.contains("SortMergeJoin"),
      "posting-side shuffle join found — the broadcast regime is the claim")
  }

  test("q165c capped proximity serves from the truncated table; corpus never re-windowed") {
    // the cap is paid at index build: serving reads pos_postings_capped
    // and must contain neither a corpus text scan nor the build's
    // (term, doc)-keyed window
    val p = plan("q165c_proximity_capped")
    assert(p.linesIterator.exists(l =>
      l.contains("pos_postings_capped") && l.contains("FileScan")),
      s"no scan of the capped positional table:\n${p.take(3000)}")
    assert(!p.contains("documents.parquet"),
      "capped proximity serving re-tokenized the corpus")
    // the per-query rank cut is a legitimate serve window; the BUILD's
    // (term, doc)-partitioned truncation window must not re-run
    assert(!p.linesIterator.exists(l =>
      l.contains("row_number") && l.contains("windowspecdefinition(term#")),
      "the (term, doc) truncation window ran at serve time")
  }

  test("q169b staged LM filter joins the frozen reference; corpus LM never re-counted") {
    // serving scans the batch tenth + the staged q169_lm table; the
    // corpus side's bigram aggregation must NOT appear (it ran once at
    // the write-once build)
    val p = plan("q169b_lm_filter_staged")
    assert(p.linesIterator.exists(l =>
      l.contains("q169_lm") && l.contains("FileScan")),
      s"no scan of the staged LM table:\n${p.take(3000)}")
    // exactly one documents scan (the arriving batch) — a second one
    // would be the corpus LM being re-derived at serve time
    val docScans = p.linesIterator.count(l =>
      l.contains("documents.parquet") && l.contains("FileScan"))
    assert(docScans <= 1,
      s"$docScans corpus scans — the reference LM must come from the artifact")
  }

  test("q155 tombstoned serving stays codes-only; tombstones broadcast anti-join") {
    val p = plan("q155_ann_tombstone")
    val scans = p.linesIterator
      .filter(l => l.contains("q155_codes_base") && l.contains("FileScan"))
      .toSeq
    assert(scans.nonEmpty, s"no scan of q155_codes_base:\n${p.take(3000)}")
    for (l <- scans)
      assert(!l.contains("emb"),
        s"tombstoned codes scan must be codes-only:\n$l")
    // deletion is an anti-join against the (small) landed tombstone set —
    // broadcast, so the base scan is never reshuffled to subtract ids
    assert(p.contains("LeftAnti"),
      "no anti-join found — tombstones not subtracted?")
    assert(!p.contains("SortMergeJoin("),
      "tombstone subtraction (or probe) fell back to a shuffle join")
  }

  test("q122 serves codes-only from base AND delta, encode filter pushed") {
    // the maintained layout keeps q90c's serving shape: BOTH staged
    // tables are scanned codes-only (no vector column below the ADC
    // cut), and the base scan never appears more than once — serving
    // must not trigger a re-encode of either side.
    val p = plan("q122_incremental_pq_codes")
    for (t <- Seq("q122_codes_base", "q122_codes_delta")) {
      val scans = p.linesIterator
        .filter(l => l.contains(t) && l.contains("FileScan")).toSeq
      assert(scans.nonEmpty, s"no scan of $t found:\n${p.take(3000)}")
      for (l <- scans)
        assert(!l.contains("emb"),
          s"$t scan must be codes-only, found a vector column:\n$l")
    }
    assert(p.contains("embeddings.parquet"),
      "expected the vector-store scan for the bounded exact re-rank")
    // ("serving never re-encodes" is the write-counter assert in
    // PipelineSpec — a plan-text heuristic for it would be fragile)
  }

  test("q123/q125 maintenance serves read the staged tables, corpus never re-aggregated") {
    // the whole point of the monoid folds: the frozen side of each merge
    // is a staged-table scan, not a recomputation of the corpus agg
    val p123 = plan("q123_incremental_manifest")
    assert(p123.contains("q123_manifest_base"),
      s"q123 must read the staged base manifest:\n${p123.take(2000)}")
    val p125 = plan("q125_incremental_boiler")
    assert(p125.contains("q125_seg_df"),
      s"q125 must read the staged corpus df table:\n${p125.take(2000)}")
    // and exactly ONE documents scan feeds each batch-side agg (the
    // serving strip pass scans documents too — so q125 has at most two)
    val scans123 = p123.linesIterator
      .count(l => l.contains("documents.parquet") && l.contains("FileScan"))
    assert(scans123 === 1,
      s"q123 should scan documents once (the batch agg), got $scans123")
  }

  test("q108 static sides are table scans; stream side is narrow") {
    // same contract as q89: the static sides of the stream-static joins
    // are re-evaluated per micro-batch, so they must be materialized
    // table scans — the packed sem_codebook for the online assignment and
    // the q108_corpus_cells index for the candidate join. No Lloyd
    // training and no stored-assignment recomputation anywhere in the
    // micro-batch plan.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.streaming.StreamingQueries.q108Stream(spark, sf)
    val joins = df.queryExecution.analyzed.collect { case j: Join => j }
    assert(joins.size === 2,
      s"expected codebook + corpus joins, got ${joins.size}")
    val statics = joins.map(_.right.toString)
    assert(statics.exists(_.contains("sem_codebook")),
      "one static side must be the packed codebook table")
    assert(statics.exists(_.contains("q108_corpus_cells")),
      s"one static side must be the corpus cell table")
    for (st <- statics; bad <- Seq("posexplode", "row_number"))
      assert(!st.toLowerCase.contains(bad),
        s"static side recomputes training ('$bad' found):\n${st.take(2000)}")
    assert(df.queryExecution.analyzed.toString.contains("sub_argmin"),
      "online argmin must be the compiled kernel on the stream side")
  }

  test("q91 is a single pass: one documents scan, no join") {
    // the agg+join formulation evaluated the scan→explode→md5 subtree
    // three times; the shipped plan must hit it once (PLANS.md §q91)
    val p = plan("q91_dup_spans")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected exactly one parquet scan, got $scans:\n" +
      p.linesIterator.filter(_.contains("Scan parquet")).mkString("\n"))
    assert(!p.contains("Join"), "single-pass q91 must not contain a join")
    val windows = "Window".r.findAllIn(p).size
    assert(windows >= 2, "expected the wh-window and the lead-window")
  }

  test("q133 decides keeper in the wh window; one doc_id join, nothing pairwise") {
    // the dup + keeper verdict is ONE window over the uniform 128-bit
    // hash (q91's no-join-back argument); the only join in the plan is
    // the per-doc merged-interval array rejoining documents on doc_id —
    // never a token-level or pairwise join
    val p = plan("q133_span_strip")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "q133 must contain nothing pairwise")
    val joins =
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).size
    assert(joins === 1,
      s"expected exactly the doc_id reassembly join, got $joins:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.linesIterator.filter(_.contains("Join"))
      .forall(_.contains("doc_id")), "the one join must key on doc_id")
    val windows = "Window".r.findAllIn(p).size
    assert(windows >= 2, "expected the wh-window and the island windows")
  }

  test("q93 reads the staged labels table and never recomputes CC") {
    // the composed pipeline's dedup gates must come from the write-once
    // dup_labels artifact (its third consumer), not from a re-run of
    // pair generation + connected components: the plan contains the
    // bucketed table's scans and none of the signature machinery
    operators.Dedup.labelsArtifact(spark, sf) // ensure artifact exists
    val p = plan("q93_corpus_build")
    assert(p.contains("dup_labels"),
      "q93 must scan the staged graft_b*.dup_labels table")
    for (bad <- Seq("shingle", "sorted_intersect"))
      assert(!p.toLowerCase.contains(bad),
        s"q93 recomputes dedup signatures ('$bad' found)")
    // the gate chain is the shared curationFlags frame filtered to all
    // three flags true; Catalyst collapses the null-filtered left joins
    // to Inner doc_id equi-joins (one row per doc_id on both gate
    // sides, so Inner == semi here), never a recomputation or cartesian
    assert("(SortMergeJoin|BroadcastHashJoin) .*Inner".r
        .findFirstIn(p).isDefined,
      "gates must survive as doc_id equi-joins:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q94 decontamination joins on hashes, labels stay staged") {
    operators.Dedup.labelsArtifact(spark, sf)
    val p = plan("q94_decontaminated_build")
    assert(p.contains("dup_labels"),
      "q94 must scan the staged graft_b*.dup_labels table")
    for (bad <- Seq("shingle_set", "sorted_intersect"))
      assert(!p.toLowerCase.contains(bad),
        s"q94 recomputes dedup signatures ('$bad' found)")
    // the contamination gate must be semi/anti joins over narrow ids and
    // 60-bit shingle hashes — document text must never cross a join
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q100 rate table broadcasts; the corpus is never exchange-shuffled") {
    val p = plan("q100_alpha_sample")
    assert(p.contains("BroadcastHashJoin"),
      "sources-row rate table must broadcast to the corpus scan")
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must not shuffle for a sources-sized dimension")
  }

  test("q101 count tables join by key with partial aggregation") {
    val p = plan("q101_lm_score")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // both LM count tables must be map-side-combined hash aggregates
    assert("partial_count".r.findAllIn(p).size >= 2,
      "c1/c2 aggregates must have partial (map-side) phases")
  }

  test("q99 pair generation is a cell equi-join, never all-pairs") {
    val p = plan("q99_semantic_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the candidate join must key on the quantizer cell: an equi-join
    // whose condition mentions the cell column on both sides
    assert(p.contains("cell"), "cell key missing from the plan")
  }

  test("q103 trained-cell pair generation is equi-keyed, never all-pairs") {
    val p = plan("q103_semantic_dedup_trained")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q104 prototype ranking stays equi-keyed with no all-pairs join") {
    val p = plan("q104_prototype_prune")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q105 per-cell cap pre-prunes map-side (LocalTopK fires)") {
    val p = plan("q105_cluster_balanced_sample")
    assert(p.contains("LocalTopKPerKey"),
      "rn <= 40 rank filter must rewrite to map-side per-cell pruning")
  }

  test("q106 selection is a top-k, never a corpus sort") {
    val p = plan("q106_dsir_importance")
    assert(p.contains("TakeOrderedAndProject"),
      "top-200 by (score, doc_id) must be per-partition top-k + merge")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("staged semantic twins scan the sem_cells artifact, not a Lloyd re-run") {
    for (q <- Seq("q104b_prototype_staged", "q105b_sample_staged")) {
      val p = plan(q)
      assert(p.contains("sem_cells"),
        s"$q must scan the staged graft_b*.sem_cells table")
    }
  }

  test("q107 composed pipeline stays equi-keyed, no all-pairs stage") {
    val p = plan("q107_semantic_pipeline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q41c probes the corpus index with a pruned top-3 rank") {
    val p = plan("q41c_media_embed_ann")
    assert(p.contains("q108_corpus_cells"),
      "retrieval must scan the materialized corpus cell table")
    assert(p.contains("LocalTopKPerKey"),
      "rk <= 3 rank filter must rewrite to map-side per-item pruning")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q108 stream side: join-based online assignment, no K-wide inline") {
    // The round-8 online assignment inlined K ∝ n/250 distance folds into
    // one CreateArray — a plan whose expression SIZE grew with the corpus
    // (Janino/codegen ceiling). The two-level design must keep every
    // expression K-independent: coarse cell = ≤32 sign terms, fine argmin
    // = one sub_argmin call against a JOINED packed codebook.
    val lp = graft.streaming.StreamingQueries.q108Stream(spark, sf)
      .queryExecution.analyzed
    def widest(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      (e match {
        case ca: org.apache.spark.sql.catalyst.expressions.CreateArray =>
          ca.children.size
        case _ => 0
      }).max(if (e.children.isEmpty) 0 else e.children.map(widest).max)
    val w = lp.collect { case n => n.expressions.map(widest) }
      .flatten.foldLeft(0)(_ max _)
    assert(w <= 256, s"stream side inlines a $w-wide array — the online " +
      "assignment must stay K-independent (join the codebook instead)")
    val s = lp.toString
    assert(s.contains("sub_argmin"),
      "online assignment must use the compiled sub_argmin kernel")
    assert(s.contains("sem_codebook"),
      "fine assignment must JOIN the packed codebook table")
  }

  test("q109 audit stays equi-keyed over the checkpointed cell frame") {
    // the staged read itself is pinned by PipelineSpec (cellsWrites);
    // the physical plan shows the checkpoint cut (Scan ExistingRDD),
    // which is exactly the no-retrain evidence available post-truncation
    val p = plan("q109_semantic_leakage_audit")
    assert(p.contains("Scan ExistingRDD"),
      "audit must read the checkpointed staged cell frame")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q75b probes the bloom inside the corpus scan stage") {
    val p = plan("q75b_incremental_dedup_bloom")
    assert(p.contains("bloom_might_contain"),
      "corpus side must be prefiltered by the compiled bloom probe")
    assert(p.contains("LeftAnti"), "exactness comes from the anti-join")
    // the probe must sit BELOW the anti-join's corpus-side exchange —
    // i.e. in a Filter, not applied after the shuffle: in the rendered
    // tree the bloom filter line appears after (deeper than) the last
    // exchange only if it ran post-shuffle; assert it precedes the
    // aggregate that feeds the anti-join by checking it guards a Filter
    // directly over the scan projection
    val lines = p.linesIterator.toVector
    val bloomLine = lines.indexWhere(_.contains("bloom_might_contain"))
    assert(bloomLine >= 0)
    val scanBelow = lines.drop(bloomLine)
      .exists(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scanBelow, "bloom probe must guard the documents scan subtree")
  }

  test("q111 strip join broadcasts the boiler set while it fits (AQE)") {
    // no hard hint in the code — AQE must still CHOOSE broadcast at this
    // scale (the small-boiler-set regime), keeping the corpus-wide
    // segment frame off any sh-keyed exchange for the strip pass; when
    // the set outgrows the threshold AQE falls back to SMJ on its own
    val p = plan("q111_segment_dedup")
    assert(p.contains("BroadcastHashJoin"),
      "AQE should pick broadcast for the small boiler set:\n" +
        p.take(1200))
  }

  test("q111 strip join falls back to SMJ when the boiler set outgrows the threshold") {
    // the other half of the unhinted-join claim: force a threshold the
    // boiler set cannot fit (1 KB) on an ISOLATED session (parallel
    // suites share TestSpark's) — the planner must degrade to a
    // sort-merge join instead of an impossible broadcast. This is the
    // regime a zipfian web corpus reaches when templates proliferate
    // (ScaleProbe's zipf mode measures the same flip at sf~1/sf~10).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "1024")
    val df = SparkEntry.queries("q111_segment_dedup")(s2, sf)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"),
      "a boiler set over the threshold must sort-merge:\n" + p.take(1200))
    assert(!p.contains("BroadcastHashJoin"),
      "no broadcast may survive a 1 KB threshold:\n" + p.take(1200))
  }

  test("q113 chunking is narrow map work: no join, no corpus shuffle") {
    val p = plan("q113_stride_chunks")
    assert(!p.contains("Join"), "chunking must not join")
    // only the presentation sort may exchange; nothing else
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"chunking must shuffle at most for the output sort:\n${p.take(1200)}")
  }

  test("q114 corpus window is (score, salt)-partitioned; offsets broadcast") {
    val p = plan("q114_curriculum_shard")
    // the corpus-side row_number must be partitioned — the whole point
    // of the counting-sort construction is that no corpus-wide data
    // crosses an unpartitioned window. The partitioned spec renders its
    // partition columns BEFORE the sort spec ("score#N, salt#N,
    // doc_id#N ASC"); the tiny offsets window's unpartitioned spec
    // renders "score#N DESC" first, so this regex matches only the
    // corpus-side shape (the bare contains("windowspecdefinition(score")
    // check matched both and proved nothing).
    assert("windowspecdefinition\\(score#\\d+L?, salt#\\d+L?, doc_id#\\d+L?"
        .r.findFirstIn(p).isDefined,
      "corpus rank window must be partitioned by (score, salt):\n" +
        p.take(1500))
    assert(p.contains("BroadcastHashJoin"),
      "offset table must broadcast back to the corpus")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q115 manifest is one scan into one source-keyed aggregate") {
    val p = plan("q115_manifest")
    assert(!p.contains("Join"), "manifest must not join")
    assert(p.contains("partial_bit_xor") || p.contains("bit_xor"),
      "xor fold must combine map-side")
    // one agg exchange + the presentation sort, nothing else
    val exchanges = p.linesIterator.count(_.contains("Exchange hash")) +
      p.linesIterator.count(_.contains("Exchange range"))
    assert(exchanges <= 2, p.take(1500))
  }

  test("q129 audit fold scans documents once (the batch pass); everything else is staged") {
    val p = plan("q129_incremental_contamination")
    // the claim the operator exists for: the train corpus is never
    // rescanned — the only documents.parquet scan is the batch shingle
    // pass; index, eval shingles, and the frozen audit come from the
    // three staged tables
    val docScans = p.linesIterator.count(l =>
      l.contains("documents.parquet") && l.contains("FileScan"))
    assert(docScans == 1,
      s"expected exactly one documents scan (the batch), got $docScans:\n" +
        p.take(1500))
    assert(p.contains("q129_train_shingles") &&
      p.contains("q129_test_shingles") &&
      p.contains("q129_base_contamination"),
      "fold must read the staged index/eval/audit tables")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q127 maintenance reads the staged scorecard + flag tables, no cartesian") {
    val p = plan("q127_incremental_scorecard")
    assert(p.contains("q127_base_scorecard") &&
      p.contains("q127_corpus_docflags"),
      "maintenance must serve from the frozen corpus artifacts")
    // the correction probe joins the delta-bounded subgraph against the
    // bucketed flag table — never an unkeyed pair stage
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q126 serves from the compacted base table") {
    val p = plan("q126_labels_compact")
    assert(p.contains("q126_labels_base"),
      "post-compact serve must scan the swapped-in base")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q112 exact side broadcasts the batch; probe side broadcasts " +
      "the probe cells") {
    val p = plan("q112_ann_recall_audit")
    // the exact baseline is the q85 shape: batch broadcast into a
    // nested-loop, never a shuffled cartesian of the corpus
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"),
      "cell probe must be a broadcast equi-join on the cell id")
  }
}
