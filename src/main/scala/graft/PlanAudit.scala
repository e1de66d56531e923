package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump the post-AQE physical plans of the headline queries.
  *
  * WARNING — do NOT redirect this over PLANS.md wholesale: since round 6
  * PLANS.md accumulates 40+ hand-curated sections (plan dumps with
  * per-round commentary) BEYOND this list; a regeneration from here
  * destroys them (it did once, restored from git in round 11). To add a
  * section, run `Explain <sfDir> <query>` and append, or extend this
  * list and splice the new sections only. `runMain graft.PlanAudit
  * [sfDir]` writes target/plans_headline.md.
  */
object PlanAudit {
  private val Headline = Seq(
    "q02_filter" -> "predicate pushdown into the parquet scan",
    "q04_join_agg_topk" -> "multi-join + agg + TakeOrderedAndProject, AQE-chosen join strategy",
    "q09_range_join" -> "equi-key join with range residual (no cartesian)",
    "q11_agg_q1" -> "partial+final hash aggregation, decimal-exact sums",
    "q43_bucketed_join" -> "bucketed co-located join: SMJ with zero shuffle below the join",
    "q48_salted_join" -> "skew-salted join: no exchange on the bare hot key",
    "q51_local_topk" -> "custom LocalTopKPerKey below the window exchange",
    "q59_corr_subquery" -> "correlated scalar subquery decorrelated to agg+join",
    "q61_contamination" -> "hashed-shingle contamination equi-join",
    "q64_neardup_lsh" -> "LSH banding joins (ids only) + candidate-verify join",
    "q65_gapfill" -> "spine generation + left join + running-window fill",
    "q35_neardup_embedding" -> "in-block LSH banding: equi-join on (label, band, key), no Σblock² self-join",
    "q70b_profile_sketch" -> "HLL profile: partial+final aggregate, NO Expand (q70's exact countDistincts pay ~6×)",
    "q77_trigram_profile" -> "explode → map-side-combined agg → LocalTopKPerKey-pruned per-language rank",
    "q85_ann_batch" -> "broadcast query batch × corpus (no shuffled join) + LocalTopKPerKey-pruned per-query rank",
    "q86_token_budget" -> "two-level budget cut: full corpus crosses only (source, salt) exchanges; bare-source window sees budget-bounded survivors",
    "q90_ann_ivfpq" -> "IVF-PQ search: cell-probed scan → literal ADC lookups (no vector math) → TakeOrdered(100) → exact re-rank of 100 rows",
    "q138_hll_registers" -> "portable HLL registers: one scan, partial+final max agg keyed (group, idx) — shuffle bounded by groups×4096, no Expand",
    "q140_zorder_box" -> "z-order box query: PartitionFilters zcell IN-list + pushed residual predicate on the pruned scan",
    "q141b_cms_width_sweep" -> "CMS width sweep: cell explode over the VOCABULARY count table (token-bounded gram explode only below the first agg)")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local()
    val sb = new StringBuilder
    sb.append("# PLANS — post-AQE physical plans of the headline queries\n\n")
    sb.append(s"Auto-generated by `runMain graft.PlanAudit` on `$sfDir`.\n")
    sb.append("Things to read for: `PushedFilters`/`ReadSchema` on scans, " +
      "`WholeStageCodegen (*)` spans, join operator choice, " +
      "`LocalTopKPerKey`, absence of `CartesianProduct`.\n")
    for ((name, why) <- Headline) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // execute so AQE finalizes THIS df's plan
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(6000))
      sb.append("\n```\n")
    }
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target", "plans_headline.md"), sb.toString)
    println(s"[plan-audit] wrote target/plans_headline.md " +
      s"(${Headline.size} queries) — splice into PLANS.md by hand, " +
      "it carries 40+ curated sections beyond this list")
    spark.stop()
  }
}
