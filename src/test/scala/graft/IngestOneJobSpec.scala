package graft

import java.io.PrintWriter
import java.net.Socket
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Transformers

/** The CLI's ingest pipeline (graft-syslog → fromSyslog →
  * repartition(--num.producers) → avro → parquet) runs each micro-batch
  * the source reads as one partition as ONE job with no shuffle
  * ([[graft.plans.OnePartitionRepartition]]), and still delivers every
  * line exactly once, in per-connection order. Batches that span two
  * source chunks and pools of two producers keep their exchange, and the
  * exchanges of joins and aggregates are never touched. Everything is
  * asserted in counts (jobs, shuffle bytes, rows), never in walls.
  */
class IngestOneJobSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Jobs and shuffle-write bytes per (query id, batch id), read from the
    * local properties a micro-batch execution puts on its jobs.
    */
  private final class PerBatch extends SparkListener {
    val jobs = new ConcurrentHashMap[(String, Long), AtomicInteger]()
    val shuffleBytes = new ConcurrentHashMap[(String, Long), AtomicLong]()
    private val batchOfStage = new ConcurrentHashMap[Int, (String, Long)]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val q = js.properties.getProperty("sql.streaming.queryId")
      val b = js.properties.getProperty("streaming.sql.batchId")
      if (q != null && b != null) {
        val key = (q, b.toLong)
        jobs.computeIfAbsent(key, _ => new AtomicInteger()).incrementAndGet()
        js.stageIds.foreach(batchOfStage.put(_, key))
      }
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val key = batchOfStage.get(te.stageId)
      if (key != null && te.taskMetrics != null)
        shuffleBytes.computeIfAbsent(key, _ => new AtomicLong())
          .addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }

    /** batch id -> (jobs, shuffle-write bytes) of one query. */
    def of(q: StreamingQuery): Map[Long, (Int, Long)] = {
      import scala.jdk.CollectionConverters._
      val id = q.id.toString
      jobs.asScala.collect { case ((`id`, b), n) =>
        b -> (n.get, Option(shuffleBytes.get((id, b))).fold(0L)(_.get))
      }.toMap
    }
  }

  /** Runs `f` with a [[PerBatch]] listener and drains the listener bus
    * before the counts are read (LiveListenerBus.waitUntilEmpty is
    * private[spark], public in bytecode).
    */
  private def countingBatches[T](f: PerBatch => T): T = {
    val l = new PerBatch
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val out = f(l)
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      out
    } finally sc.removeSparkListener(l)
  }

  private def sourceOptions(name: String, capacity: Int): Map[String, String] =
    Map("tcp.port" -> "-1", "udp.port" -> "0", "tcp.host" -> "127.0.0.1",
      "receiver.name" -> name, "maxBufferedRows" -> capacity.toString)

  /** The CLI's default avro pipeline into a parquet sink at `out`. */
  private def startPipeline(name: String, capacity: Int, producers: Int,
      out: String, trigger: Trigger): StreamingQuery =
    Transformers.fromSyslog(spark.readStream.format("graft-syslog")
        .options(sourceOptions(name, capacity)).load())
      .repartition(producers)
      .select(Transformers.avro(Seq("dc" -> "dc1"), Some(7L), 42))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$out/_ckpt")
      .trigger(trigger).start()

  private def port(name: String): Int = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def p = sources.SyslogReceivers.get(name).map(_.tcpPort).getOrElse(-1)
    while (p <= 0 && System.nanoTime() < deadline) Thread.sleep(20)
    p
  }

  private def send(name: String, lines: Seq[String]): Unit = {
    val sock = new Socket("127.0.0.1", port(name))
    val w = new PrintWriter(sock.getOutputStream)
    lines.foreach(l => w.print(l + "\n"))
    w.flush(); sock.close()
  }

  /** The decoded lines of the sink, file by file in commit order (the
    * `_spark_metadata` log, batch by batch), each file in row order.
    */
  private def sinkLines(out: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val logDir = java.nio.file.Paths.get(out, "_spark_metadata")
    val batchLogs = java.nio.file.Files.list(logDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.takeWhile(_ != '.').forall(_.isDigit))
      .toSeq.sortBy(_.takeWhile(_ != '.').toLong)
    val path = "\"path\":\"([^\"]+)\"".r
    val files = batchLogs.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(logDir.resolve(f)), "UTF-8")
      path.findAllMatchIn(text).map(_.group(1)).toSeq.sortBy { p =>
        "part-(\\d+)".r.findFirstMatchIn(p).fold(0)(_.group(1).toInt)
      }
    }.distinct // a compacted log repeats the files of earlier batches
    val rows = spark.read.parquet(out)
      .select(input_file_name().as("f"),
        call_function("avro_logline_decode",
          Transformers.confluentUnframe(col("value"))).getField("line").as("line"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val byFile = rows.groupBy(_._1) // keeps row order within a file
    // a file with no rows has no line here: a query that starts before
    // its first line arrives commits an empty batch 0 as a schema-only file
    assert(byFile.keySet.subsetOf(files.toSet), "sink rows outside its log")
    files.flatMap(f => byFile.getOrElse(f, Nil).map(_._2))
  }

  private def exactlyOnce(got: Seq[String], sent: Seq[String]): Unit = {
    assert(got.size === sent.size, "lost or duplicated lines")
    assert(got.sorted === sent.sorted, "sink lines differ from the sent lines")
  }

  test("one-chunk micro-batches run one job each, with no shuffle") {
    val name = s"one_job_${System.nanoTime()}"
    val out = TestSpark.tempDir("graft_onejob").toString
    val conns = 2
    val perRound = 1500
    val sent = scala.collection.mutable.ArrayBuffer[String]()
    val batches = countingBatches { counts =>
      val q = startPipeline(name, 100000, 1, out, Trigger.ProcessingTime(100))
      try {
        // two rounds, each committed before the next is sent: at least
        // two micro-batches, every one far below 65,536 rows
        for (round <- 0 until 2) {
          val lines = (0 until conns).map { c =>
            (round * perRound until (round + 1) * perRound).map(i => s"c$c-$i")
          }
          val senders = lines.map(ls => new Thread(() => send(name, ls)))
          senders.foreach(_.start()); senders.foreach(_.join())
          sent ++= lines.flatten
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (q.recentProgress.map(_.numInputRows).sum < sent.size &&
            System.nanoTime() < deadline) {
            q.exception.foreach(e => throw e)
            Thread.sleep(20)
          }
        }
      } finally { q.stop(); sources.SyslogReceivers.close(name) }
      q.recentProgress.foreach(p => assert(p.numInputRows <= 65536))
      counts.of(q)
    }
    assert(batches.size >= 2, s"expected at least two batches: $batches")
    batches.foreach { case (b, (jobs, bytes)) =>
      assert(jobs === 1, s"batch $b ran $jobs jobs: $batches")
      assert(bytes === 0L, s"batch $b wrote $bytes shuffle bytes")
    }
    val got = sinkLines(out)
    exactlyOnce(got, sent.toSeq)
    for (c <- 0 until conns)
      assert(got.filter(_.startsWith(s"c$c-")) ===
        (0 until 2 * perRound).map(i => s"c$c-$i"),
        s"connection $c out of order")
  }

  /** Preloads `rows` lines into a named receiver, then drains them with
    * an AvailableNow run of `producers` producers; returns the batch
    * counts and checks exactly-once delivery.
    */
  private def preloadedRun(rows: Int, producers: Int): Map[Long, (Int, Long)] = {
    val name = s"preloaded_${System.nanoTime()}"
    val out = TestSpark.tempDir("graft_onejob_pre").toString
    // capacity > 2 × rows: a batch plans at most half the buffer
    val capacity = 3 * rows
    val recv = sources.SyslogReceivers.getOrCreate(name,
      new CaseInsensitiveStringMap(
        scala.jdk.CollectionConverters.MapHasAsJava(
          sourceOptions(name, capacity)).asJava))
    val sent = (0 until rows).map(i => s"line-$i")
    try {
      send(name, sent)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (recv.nextOffset < rows && System.nanoTime() < deadline) Thread.sleep(20)
      assert(recv.nextOffset === rows.toLong)
      val batches = countingBatches { counts =>
        val q = startPipeline(name, capacity, producers, out, Trigger.AvailableNow())
        try q.awaitTermination() finally q.stop()
        assert(q.recentProgress.map(_.numInputRows).sum === rows.toLong)
        counts.of(q)
      }
      exactlyOnce(sinkLines(out), sent)
      batches
    } finally sources.SyslogReceivers.close(name)
  }

  test("a batch spanning two source chunks keeps its exchange, exactly once") {
    val batches = preloadedRun(100000, 1) // 65,536 + 34,464 rows
    assert(batches.size === 1, s"$batches")
    val (jobs, bytes) = batches.values.head
    assert(jobs === 2, "the two-chunk batch must keep its shuffle-map job")
    assert(bytes > 0L)
  }

  test("two producers keep their exchange, exactly once") {
    val batches = preloadedRun(2000, 2)
    assert(batches.size === 1, s"$batches")
    val (jobs, bytes) = batches.values.head
    assert(jobs === 2, "repartition(2) must keep its shuffle-map job")
    assert(bytes > 0L)
  }

  test("join, aggregate and repartition-by-column exchanges over a one-partition scan are kept") {
    // parquet read through DataSource V2 (one file = one input partition)
    // and one shuffle partition: each exchange below outputs one
    // partition over a one-partition scan, reached through a filter at
    // most — only its origin keeps it
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.useV1SourceList", "")
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dir = TestSpark.tempDir("graft_onejob_batch").toString
    import s.implicits._
    (0 until 100).map(i => (i % 10, i)).toDF("k", "a")
      .coalesce(1).write.parquet(s"$dir/a")
    (0 until 10).map(i => (i, s"v$i")).toDF("k", "b")
      .coalesce(1).write.parquet(s"$dir/b")
    val a = s.read.parquet(s"$dir/a")
    val b = s.read.parquet(s"$dir/b")

    def exchanges(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] = {
      df.collect()
      TestSpark.planNodes(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e }
    }
    val join = a.join(b, "k")
    assert(join.count() === 100)
    val joinEx = exchanges(join)
    assert(joinEx.size === 2 && joinEx.forall(_.shuffleOrigin == ENSURE_REQUIREMENTS),
      s"join exchanges: $joinEx")
    val agg = a.groupBy("k").agg(sum("a").as("s"))
    assert(agg.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ===
      (0 until 10).map(k => k -> (0 until 100).filter(_ % 10 == k).sum.toLong).toMap)
    assert(exchanges(agg).map(_.shuffleOrigin) === Seq(ENSURE_REQUIREMENTS))
    val byCol = a.repartition(col("k"))
    assert(exchanges(byCol).map(_.shuffleOrigin) === Seq(REPARTITION_BY_COL))
    // the rule itself: repartition(1) over the one-file scan is a copy
    val one = a.repartition(1)
    assert(exchanges(one).isEmpty)
    assert(one.collect().map(_.getInt(1)).sorted.toSeq === (0 until 100))
  }
}
