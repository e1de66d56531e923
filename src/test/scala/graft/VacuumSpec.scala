package graft

import graft.operators.{Bucketed, Dedup, Pipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q167/q170/q171 — retention vacuum over the three versioned override
  * chains (labels / span strips / scorecard). Contracts spec'd here:
  *  - serving at LATEST is invisible to the vacuum;
  *  - the chain physically truncates to the retention suffix;
  *  - as-of ≥ horizon serves the identical snapshot before and after;
  *  - as-of < horizon fails loudly (vacuumed versions unrecoverable);
  *  - the horizon-carrying redo marker rolls an interrupted vacuum
  *    forward from the worst crash window (base swapped, delta stale).
  */
class VacuumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Own tier copy — the vacuum mutates its staged tables, so the spec
    * never shares q167 state with the registered-query run on the
    * shared tier (the q155 embTier pattern).
    */
  private def docsTier(): String = {
    val dir = TestSpark.tempDir("graft_q167").toString
    spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("q167 vacuum: latest unchanged, chain truncated, as-of floor enforced") {
    val dir = docsTier()
    val before = rows(Dedup.q167.asOf(spark, dir))
    val asOf1Before = rows(Dedup.q167.asOf(spark, dir, Some(1L)))
    val chain0 = Dedup.q167DeltaArtifact(spark, dir).count()
    val folded = Dedup.q167DeltaArtifact(spark, dir)
      .filter(col("ver") <= Dedup.Q167Horizon).count()
    assert(folded > 0, "fixture degenerate: no ver-1 rows to vacuum")
    val after = SparkEntry.queries("q167_labels_vacuum")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(after === before, "vacuum changed the latest-serve rows")
    // chain GC actually happened: only the suffix survives
    val chain1 = Dedup.q167DeltaArtifact(spark, dir).count()
    assert(chain1 === chain0 - folded,
      s"chain $chain0 -> $chain1, expected ${chain0 - folded}")
    assert(Dedup.q167DeltaArtifact(spark, dir)
      .filter(col("ver") <= Dedup.Q167Horizon).count() === 0L)
    assert(Dedup.q167.horizon(spark, dir) === Dedup.Q167Horizon)
    // snapshots at/above the horizon serve identically across the vacuum
    assert(rows(Dedup.q167.asOf(spark, dir, Some(1L))) === asOf1Before,
      "as-of-horizon snapshot changed across the vacuum")
    assert(rows(Dedup.q167.asOf(spark, dir, Some(2L))) === before)
    // below the horizon: loud failure, not a silently-wrong snapshot
    val ex = intercept[IllegalArgumentException] {
      Dedup.q167.asOf(spark, dir, Some(0L))
    }
    assert(ex.getMessage.contains("horizon"))
    // double vacuum: nothing left to fold; serve identical
    Dedup.q167.vacuum(spark, dir, Dedup.Q167Horizon)
    val again = SparkEntry.queries("q167_labels_vacuum")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(again === before)
  }

  test("q167 chain is staged once across repeated serving") {
    val dir = docsTier()
    Dedup.q167.asOf(spark, dir).collect()
    val w0 = Dedup.q167DeltaWrites.get()
    Dedup.q167.asOf(spark, dir).collect()
    SparkEntry.queries("q167_labels_vacuum")(spark, dir).collect()
    assert(Dedup.q167DeltaWrites.get() === w0,
      "warm q167 serving re-derived the fold chain")
  }

  // ---- q166b: staged ver-partitioned time travel ---------------------------

  test("q166b staged time travel: rows == q166, later vers pruned at the scan, chain staged once") {
    val a = SparkEntry.queries("q166_labels_timetravel")(
      spark, TestSpark.sf).collect()
    val bDf = SparkEntry.queries("q166b_timetravel_staged")(
      spark, TestSpark.sf)
    val b = bDf.collect()
    assert(a.nonEmpty && a.toSeq === b.toSeq,
      "staging changed the as-of snapshot")
    // the production claim: the snapshot predicate is a PARTITION
    // filter on the staged chain — the ver=2 subtree never scans
    val plan = bDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ver") ||
        plan.contains("PartitionFilters: [(ver"),
      s"as-of predicate not pushed as a partition filter:\n${plan.take(2000)}")
    assert(!plan.contains("ver=2"),
      s"pruned ver=2 partition appears in the scan:\n${plan.take(2000)}")
    val w0 = Dedup.q166bWrites.get()
    SparkEntry.queries("q166b_timetravel_staged")(spark, TestSpark.sf)
      .collect()
    assert(Dedup.q166bWrites.get() === w0,
      "warm staged time travel refolded the chain")
  }

  // ---- q170: the span-override chain --------------------------------------

  private def spanRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq

  test("q170 span vacuum: latest unchanged, chain truncated, as-of floor enforced") {
    val dir = docsTier()
    val before = spanRows(Dedup.q170.asOf(spark, dir))
    val asOf1Before = spanRows(Dedup.q170.asOf(spark, dir, Some(1L)))
    val chain0 = Dedup.q170DeltaArtifact(spark, dir).count()
    val folded = Dedup.q170DeltaArtifact(spark, dir)
      .filter(col("ver") <= Dedup.Q170Horizon).count()
    assert(folded > 0, "fixture degenerate: no ver-1 span rows to vacuum")
    SparkEntry.queries("q170_span_vacuum")(spark, dir).collect()
    assert(spanRows(Dedup.q170.asOf(spark, dir)) === before,
      "span vacuum changed the latest-serve rows")
    assert(Dedup.q170DeltaArtifact(spark, dir).count() === chain0 - folded,
      "span chain did not truncate to the retention suffix")
    assert(Dedup.q170.horizon(spark, dir) === Dedup.Q170Horizon)
    assert(spanRows(Dedup.q170.asOf(spark, dir, Some(1L))) === asOf1Before,
      "as-of-horizon span snapshot changed across the vacuum")
    assert(spanRows(Dedup.q170.asOf(spark, dir, Some(2L))) === before)
    val ex = intercept[IllegalArgumentException] {
      Dedup.q170.asOf(spark, dir, Some(0L))
    }
    assert(ex.getMessage.contains("horizon"))
  }

  test("q170 chain is staged once across repeated serving") {
    val dir = docsTier()
    Dedup.q170.asOf(spark, dir).collect()
    val w0 = Dedup.q170DeltaWrites.get()
    Dedup.q170.asOf(spark, dir).collect()
    SparkEntry.queries("q170_span_vacuum")(spark, dir).collect()
    assert(Dedup.q170DeltaWrites.get() === w0,
      "warm q170 serving re-derived the span fold chain")
  }

  // ---- q171: the scorecard ver chain ---------------------------------------

  private def scRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq

  test("q171 scorecard vacuum: latest unchanged, chain truncated, as-of floor enforced") {
    val dir = docsTier()
    val before = scRows(Pipeline.q171.asOf(spark, dir))
    val asOf2Before = scRows(Pipeline.q171.asOf(spark, dir, Some(2L)))
    val chain0 = Pipeline.q171DeltaArtifact(spark, dir).count()
    val folded = Pipeline.q171DeltaArtifact(spark, dir)
      .filter(col("ver") <= Pipeline.Q171Horizon).count()
    assert(folded > 0, "fixture degenerate: no pre-horizon scorecard rows")
    SparkEntry.queries("q171_scorecard_vacuum")(spark, dir).collect()
    assert(scRows(Pipeline.q171.asOf(spark, dir)) === before,
      "scorecard vacuum changed the latest-serve rows")
    assert(Pipeline.q171DeltaArtifact(spark, dir).count() ===
      chain0 - folded,
      "scorecard chain did not truncate to the retention suffix")
    assert(Pipeline.q171.horizon(spark, dir) === Pipeline.Q171Horizon)
    assert(scRows(Pipeline.q171.asOf(spark, dir, Some(2L))) === asOf2Before,
      "as-of-horizon scorecard snapshot changed across the vacuum")
    assert(scRows(Pipeline.q171.asOf(spark, dir, Some(3L))) === before)
    val ex = intercept[IllegalArgumentException] {
      Pipeline.q171.asOf(spark, dir, Some(1L))
    }
    assert(ex.getMessage.contains("horizon"))
  }

  test("q171 vacuum crash: the marker rolls the 1-bucket source-keyed store forward") {
    val dir = docsTier()
    val before = scRows(Pipeline.q171.asOf(spark, dir))
    val db = Bucketed.dbFor(dir)
    // worst window on the OTHER store shape (1 bucket, string key):
    // merged base written and swapped, marker present — death before
    // the delta rewrite and the meta write
    val merged = Dedup.latestWins(Pipeline.q171BaseArtifact(spark, dir),
      Pipeline.q171DeltaArtifact(spark, dir)
        .filter(col("ver") <= Pipeline.Q171Horizon), "source")
    Bucketed.rewriteBucketed(spark, db, "q171_sc_base_next", merged,
      1, Seq("source"))
    val marker = java.nio.file.Paths.get("/tmp/graft-warehouse",
      s"$db.db", "q171_vacuum_pending")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker,
      Pipeline.Q171Horizon.toString.getBytes("UTF-8"))
    spark.sql(s"DROP TABLE IF EXISTS $db.q171_sc_base")
    spark.sql(
      s"ALTER TABLE $db.q171_sc_base_next RENAME TO $db.q171_sc_base")
    // crash here; the serve path must finish the owed work
    val after = scRows(Pipeline.q171.asOf(spark, dir))
    assert(after === before, "interrupted scorecard vacuum changed serving")
    assert(!java.nio.file.Files.exists(marker), "marker not cleared")
    assert(Pipeline.q171DeltaArtifact(spark, dir)
      .filter(col("ver") <= Pipeline.Q171Horizon).count() === 0L,
      "recovery must finish the chain truncate")
    assert(Pipeline.q171.horizon(spark, dir) === Pipeline.Q171Horizon,
      "recovery must record the as-of floor")
  }

  test("q167 vacuum crash: the horizon-carrying marker rolls forward on serve") {
    val dir = docsTier()
    val before = rows(Dedup.q167.asOf(spark, dir))
    val db = Bucketed.dbFor(dir)
    // hand-build the worst window: merged base written and SWAPPED,
    // marker present with horizon content — death before the delta
    // rewrite and the meta write
    val merged = Dedup.latestWins(Dedup.q167BaseArtifact(spark, dir),
      Dedup.q167DeltaArtifact(spark, dir)
        .filter(col("ver") <= Dedup.Q167Horizon), "doc_id")
    Bucketed.rewriteBucketed(spark, db, "q167_labels_base_next", merged,
      8, Seq("doc_id"))
    val marker = java.nio.file.Paths.get("/tmp/graft-warehouse",
      s"$db.db", "q167_vacuum_pending")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker,
      Dedup.Q167Horizon.toString.getBytes("UTF-8"))
    spark.sql(s"DROP TABLE IF EXISTS $db.q167_labels_base")
    spark.sql(
      s"ALTER TABLE $db.q167_labels_base_next RENAME TO $db.q167_labels_base")
    // crash here; the serve path must finish the owed work
    val after = rows(Dedup.q167.asOf(spark, dir))
    assert(after === before, "interrupted vacuum changed serving")
    assert(!java.nio.file.Files.exists(marker), "marker not cleared")
    assert(Dedup.q167DeltaArtifact(spark, dir)
      .filter(col("ver") <= Dedup.Q167Horizon).count() === 0L,
      "recovery must finish the chain truncate")
    assert(Dedup.q167.horizon(spark, dir) === Dedup.Q167Horizon,
      "recovery must record the as-of floor")
  }
}
