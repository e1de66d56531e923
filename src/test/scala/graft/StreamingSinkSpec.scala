package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once delivery through the checkpointed file sink: the property
  * that makes a streaming pipeline restartable in production. The file
  * sink commits each micro-batch to the checkpoint's metadata log, so
  * re-running the same query over the same source must be a no-op — no
  * duplicated rows, no re-processed batches. (The memory-sink harness in
  * StreamingQueries is test-only; THIS is the durable path.)
  */
class StreamingSinkSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("checkpointed parquet sink is exactly-once across restarts") {
    val src = TestSpark.tempDir("graft_eo_src").toString
    val out = TestSpark.tempDir("graft_eo_out").toString
    val ckpt = TestSpark.tempDir("graft_eo_ckpt").toString

    // stage the events table as the streaming source directory
    val raw = spark.read.parquet(s"${TestSpark.sf}/events.parquet")
    raw.write.mode("overwrite").parquet(src)
    val n = raw.count()
    val schema = raw.schema

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }

    runOnce()
    assert(spark.read.parquet(out).count() === n, "first run must land all rows")

    // restart against the same checkpoint: nothing new to process, and
    // nothing may be duplicated
    runOnce()
    val after = spark.read.parquet(out)
    assert(after.count() === n, "restart duplicated rows")
    assert(after.select("event_id").distinct().count() === n)
  }

  /** Names of the files in a checkpoint's logs and the sink's log. */
  private def logFiles(ckpt: String, out: String): Seq[String] =
    Seq(s"$ckpt/offsets", s"$ckpt/commits", s"$out/_spark_metadata").flatMap { d =>
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(d)).iterator().asScala
        .map(_.getFileName.toString).toSeq
    }

  test("syslog->parquet on a Sessions.builder session leaves no .crc or temp files in its logs") {
    import java.io.PrintWriter
    import java.net.Socket
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") ===
      classOf[streaming.LocalCheckpointFileManager].getName)
    val out = TestSpark.tempDir("graft_lc_out").toString
    val ckpt = TestSpark.tempDir("graft_lc_ckpt").toString
    val name = s"local_ckpt_${System.nanoTime()}"
    try {
      val q = spark.readStream.format("graft-syslog")
        .option("tcp.port", "-1").option("udp.port", "0")
        .option("tcp.host", "127.0.0.1")
        .option("receiver.name", name)
        .option("maxRowsPerBatch", "500")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(50)).start()
      try {
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        def port: Int =
          sources.SyslogReceivers.get(name).map(_.tcpPort).getOrElse(-1)
        while (port <= 0 && System.nanoTime() < deadline) Thread.sleep(20)
        val sock = new Socket("127.0.0.1", port)
        val w = new PrintWriter(sock.getOutputStream)
        (0 until 2000).foreach(i => w.print(s"local-ckpt-$i\n"))
        w.flush(); sock.close()
        while (q.recentProgress.map(_.numInputRows).sum < 2000 &&
          System.nanoTime() < deadline) Thread.sleep(20)
      } finally q.stop()
      assert(spark.read.parquet(out).count() === 2000)
      val files = logFiles(ckpt, out)
      assert(files.exists(_.forall(_.isDigit)), s"no batch files: $files")
      assert(files.forall(f => !f.endsWith(".crc") && !f.endsWith(".tmp")),
        s"checkpoint litter: $files")
    } finally sources.SyslogReceivers.close(name)
  }

  test("a checkpoint written by Spark's default writer restarts exactly-once") {
    val src = TestSpark.tempDir("graft_stock_src").toString
    val out = TestSpark.tempDir("graft_stock_out").toString
    val ckpt = TestSpark.tempDir("graft_stock_ckpt").toString
    import spark.implicits._
    def stage(part: Int): Unit = (part * 1000L until part * 1000L + 1000L).toDF("id")
      .coalesce(1).write.mode("append").parquet(src)

    def runOnce(session: org.apache.spark.sql.SparkSession): Unit = {
      val q = session.readStream.schema("id long").parquet(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }

    stage(0)
    val stock = spark.newSession()
    stock.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager].getName)
    runOnce(stock)
    val written = logFiles(ckpt, out)
    assert(written.contains(".0.crc"), s"default writer left no .crc sidecars: $written")

    // restart under this project's writer: it reads the default writer's
    // logs (verifying their .crc sidecars), processes only the new file
    // and adds log files without sidecars
    stage(1)
    runOnce(spark)
    val after = spark.read.parquet(out)
    assert(after.count() === 2000, "restart lost or duplicated rows")
    assert(after.distinct().count() === 2000)
    val added = logFiles(ckpt, out).diff(written)
    assert(added.nonEmpty && added.forall(_.forall(_.isDigit)), s"added: $added")
  }

  test("syslog->parquet recovers exactly-once from an ungraceful mid-stream stop") {
    import java.io.PrintWriter
    import java.net.Socket
    val out = TestSpark.tempDir("graft_cr_out").toString
    val ckpt = TestSpark.tempDir("graft_cr_ckpt").toString
    // a NAMED receiver keeps its buffer + sockets across query restarts,
    // so the planned-but-uncommitted window is still replayable after the
    // crash — the property under test
    val name = s"crash_recovery_${System.nanoTime()}"
    val total = 20000 // 40 batches at the 500-row cap: the stop below
                      // always lands with most of them still unprocessed

    def startQuery(trigger: Trigger) = spark.readStream.format("graft-syslog")
      .option("tcp.port", "-1").option("udp.port", "0")
      .option("tcp.host", "127.0.0.1")
      .option("receiver.name", name)
      .option("maxRowsPerBatch", "500") // force many small batches
      .load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(trigger).start()

    try {
      val q1 = startQuery(Trigger.ProcessingTime(50))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      // port from OUR named receiver — the SyslogState global is clobbered
      // by other suites' receivers when sbt runs suites in parallel
      def port: Int =
        sources.SyslogReceivers.get(name).map(_.tcpPort).getOrElse(-1)
      while (port <= 0 && System.nanoTime() < deadline) Thread.sleep(20)
      val sock = new Socket("127.0.0.1", port)
      val w = new PrintWriter(sock.getOutputStream)
      (0 until total).foreach(i => w.print(s"crash-line-$i\n"))
      w.flush(); sock.close()

      // kill the query as soon as the FIRST batch has committed — an
      // ungraceful stop: later batches are mid-flight or still planned,
      // and stop() interrupts the micro-batch thread wherever it is
      def committed: Long =
        q1.recentProgress.map(_.numInputRows).sum
      while (committed < 1 && System.nanoTime() < deadline) Thread.sleep(10)
      q1.stop()
      val landed =
        try spark.read.parquet(out).count() catch { case _: Exception => 0L }
      assert(landed < total,
        s"stop landed after all $total rows — test raced; lower the batch cap")

      // restart from the checkpoint: the uncommitted window replays from
      // the receiver's buffer, the rest drains, nothing duplicates
      val q2 = startQuery(Trigger.AvailableNow())
      try q2.awaitTermination() finally q2.stop()

      val after = spark.read.parquet(out)
      assert(after.count() === total, "crash recovery lost or duplicated rows")
      assert(after.select("message").distinct().count() === total,
        "crash recovery duplicated rows")
    } finally sources.SyslogReceivers.close(name)
  }
}
