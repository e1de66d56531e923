package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Land-then-compact layout: the compaction batch job folds an
  * unpartitioned landing zone into hive hour partitions, and the point
  * of the exercise — hour-pruned downstream scans — actually holds on
  * the produced layout.
  */
class CompactSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // three distinct hours, uneven row counts, plus a boundary row at the
  // exact top of an hour
  private val hourMs = 3600L * 1000
  private val baseMs = 1700000000000L - (1700000000000L % hourMs)
  private def landingRows: Seq[(Array[Byte], Long)] =
    (0 until 300).map { i =>
      val hour = if (i < 150) 0 else if (i < 250) 1 else 2
      (s"payload-$i".getBytes("UTF-8"), baseMs + hour * hourMs + (i % 60) * 1000L)
    } :+ ("boundary".getBytes("UTF-8"), baseMs + hourMs) // lands in hour 1

  private def tmp(name: String): String =
    TestSpark.tempDir(name).toString

  test("compaction partitions by hour, one task's files per hour, no rows lost") {
    val landing = tmp("graft_landing")
    val out = tmp("graft_compacted")
    landingRows.toDF("value", "timestamp")
      .repartition(8) // the many-small-files landing shape
      .write.mode("overwrite").parquet(landing)

    val n = ingest.Compact.run(spark, landing, out, writersPerPartition = 2)
    assert(n === 301L)

    val compacted = spark.read.parquet(out)
    assert(compacted.count() === 301L)
    val perPart = compacted.groupBy("ingest_part").count()
      .as[(String, Long)].collect().toMap
    assert(perPart.size === 3)
    assert(perPart.values.sum === 301L)
    // 150 in hour 0, 100+boundary in hour 1, 50 in hour 2
    assert(perPart.values.toSeq.sorted === Seq(50L, 101L, 150L))

    // the (part, salt)-keyed shuffle must coalesce each hour into at
    // most writersPerPartition files, not micro-batch × hour shards
    val filesPerPart = compacted.inputFiles
      .groupBy(f => f.split("/").find(_.startsWith("ingest_part=")).get)
    assert(filesPerPart.values.forall(_.length <= 2),
      s"expected <=2 files per hour partition, got ${filesPerPart.view.mapValues(_.length).toMap}")
  }

  test("hour filter prunes the compacted scan to the touched partition only") {
    val landing = tmp("graft_landing_p")
    val out = tmp("graft_compacted_p")
    landingRows.toDF("value", "timestamp")
      .write.mode("overwrite").parquet(landing)
    ingest.Compact.run(spark, landing, out)

    val allParts = spark.read.parquet(out).select("ingest_part")
      .distinct().as[String].collect().sorted
    val df = spark.read.parquet(out)
      .filter(col("ingest_part") === allParts.head)
    val scan = df.queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }
      .getOrElse(fail("no file scan in the plan"))
    // the filter must prune at the partition level: the scan's selected
    // partitions are exactly one, and every file it reads is in that dir
    df.collect()
    assert(scan.metrics("numPartitions").value === 1,
      s"partition pruning did not engage:\n${scan.toString.take(1500)}")
    assert(df.inputFiles.nonEmpty)
  }

  test("day granularity folds all hours of a day into one partition") {
    val landing = tmp("graft_landing_d")
    val out = tmp("graft_compacted_d")
    landingRows.toDF("value", "timestamp")
      .write.mode("overwrite").parquet(landing)
    val n = ingest.Compact.run(spark, landing, out, granularity = "day")
    assert(n === 301L)
    // the fixture's three hours straddle midnight UTC (22:00, 23:00,
    // 00:00) — day granularity must split exactly at the boundary
    val perDay = spark.read.parquet(out).groupBy("ingest_part").count()
      .as[(String, Long)].collect().toMap
    assert(perDay.keys.forall(_.matches("\\d{4}-\\d{2}-\\d{2}")),
      s"unexpected day keys: ${perDay.keys.toSeq}")
    assert(perDay.values.toSeq.sorted === Seq(50L, 251L),
      s"day-boundary split wrong: $perDay")
  }

  test("misaligned windows and unknown granularities are rejected up front") {
    val landing = tmp("graft_landing_g")
    landingRows.toDF("value", "timestamp")
      .write.mode("overwrite").parquet(landing)
    // a window bound inside a partition would make the dynamic overwrite
    // silently drop the rest of that partition — must throw, not run
    val e1 = intercept[IllegalArgumentException] {
      ingest.Compact.run(spark, landing, tmp("graft_out_g1"),
        sinceMs = baseMs + 30 * 60 * 1000L, untilMs = baseMs + hourMs)
    }
    assert(e1.getMessage.contains("aligned"))
    val e2 = intercept[IllegalArgumentException] {
      ingest.Compact.run(spark, landing, tmp("graft_out_g2"),
        granularity = "minute")
    }
    assert(e2.getMessage.contains("granularity"))
  }

  test("streaming land-then-compact end-to-end: landed stream folds into pruned hours") {
    import org.apache.spark.sql.streaming.Trigger
    // the exact schema contract cli.Main's land-compact mode lands:
    // (value binary, timestamp epoch-ms long), streamed through a real
    // checkpointed file sink, then folded by the batch Compact job
    val src = tmp("graft_lc_src")
    val landing = tmp("graft_lc_landing")
    val ckpt = tmp("graft_lc_ckpt")
    val out = tmp("graft_lc_out")
    val raw = spark.read.parquet(s"${TestSpark.sf}/events.parquet")
      .select(col("event_id"))
    raw.write.mode("overwrite").parquet(src)
    val n = raw.count()
    val q = spark.readStream.schema(raw.schema).parquet(src)
      .select(
        encode(concat(lit("evt|"), col("event_id").cast("string")), "UTF-8")
          .as("value"),
        (lit(baseMs) + pmod(col("event_id"), lit(2)) * hourMs)
          .cast("long").as("timestamp"))
      .writeStream.format("parquet")
      .option("path", landing).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()

    val compacted = ingest.Compact.run(spark, landing, out)
    assert(compacted === n, s"landed $n, compacted $compacted")
    val perHour = spark.read.parquet(out).groupBy("ingest_part").count()
      .as[(String, Long)].collect().toMap
    assert(perHour.size === 2, s"expected 2 hour partitions: $perHour")
    assert(perHour.values.sum === n)
    // and the point of the layout: an hour filter prunes the scan
    val df = spark.read.parquet(out)
      .filter(col("ingest_part") === perHour.keys.min)
    val scan = df.queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }.get
    df.collect()
    assert(scan.metrics("numPartitions").value === 1)
  }

  test("windowed rerun rewrites only its own partitions (idempotent retry)") {
    val landing = tmp("graft_landing_w")
    val out = tmp("graft_compacted_w")
    landingRows.toDF("value", "timestamp")
      .write.mode("overwrite").parquet(landing)
    ingest.Compact.run(spark, landing, out)
    val before = spark.read.parquet(out)
      .groupBy("ingest_part").count().as[(String, Long)].collect().toMap

    // retry exactly the middle hour's window — counts must be unchanged
    // and other hours' files untouched
    val others = spark.read.parquet(out).inputFiles
      .filterNot(_.contains(before.keys.toSeq.sorted.apply(1)))
    val rerun = ingest.Compact.run(spark, landing, out,
      sinceMs = baseMs + hourMs, untilMs = baseMs + 2 * hourMs)
    assert(rerun === before(before.keys.toSeq.sorted.apply(1)))
    val after = spark.read.parquet(out)
      .groupBy("ingest_part").count().as[(String, Long)].collect().toMap
    assert(after === before)
    val othersAfter = spark.read.parquet(out).inputFiles
      .filterNot(_.contains(before.keys.toSeq.sorted.apply(1)))
    assert(othersAfter.toSet === others.toSet,
      "untouched hours' files were rewritten by a windowed rerun")
  }
}
