package repobench

import java.io.BufferedOutputStream
import java.net.Socket
import java.nio.charset.StandardCharsets.US_ASCII
import java.security.MessageDigest
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The workload's syslog lines. Line k is a pure function of (seed, k):
  * mostly short RFC 5424-shaped lines (~90 B), one in 32 about 1 KB, from
  * a small host set. Each line carries its sequence number.
  */
final class LineMix(val seed: Long) extends Serializable {
  private val rnd = new java.util.Random(seed)
  private val vocab = Array("sshd", "session", "opened", "closed", "for",
    "user", "root", "from", "port", "accepted", "failed", "password", "disk",
    "usage", "warning", "error", "request", "served", "GET", "POST",
    "/api/v1/items", "status", "200", "404", "500", "timeout", "retry",
    "upstream", "cache", "miss", "hit", "kernel", "eth0", "link", "up")
  private def words(n: Int): String =
    Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
  private val hosts = Array.tabulate(8)(i => f"node${rnd.nextInt(100)}%02d-$i.dc${i % 3}")
  private val apps = Array("sshd", "cron", "nginx", "kernel", "app")
  private val bodies = Array.tabulate(LineMix.Pool)(i =>
    if (i % LineMix.LongEvery == 0) words(150) else words(2 + rnd.nextInt(3)))

  def line(k: Long): String = {
    val h = LineMix.mix(seed * 0x9E3779B97F4A7C15L + k)
    val pri = ((h >>> 40) & 0xff).toInt % 192
    s"<$pri>1 2026-10-17T12:00:00.000Z ${hosts((h & 7).toInt)} " +
      s"${apps(((h >>> 3) & 0xffff).toInt % apps.length)} ${(h >>> 20) & 0xfff} - - " +
      s"seq=$k ${bodies(((h >>> 32) & (LineMix.Pool - 1)).toInt)}"
  }

  def bytes(k: Long): Array[Byte] = (line(k) + "\n").getBytes(US_ASCII)
}

object LineMix {
  val Pool = 1024
  val LongEvery = 32

  def mix(x: Long): Long = { // splitmix64 finaliser
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The sequence number a line carries, if it carries one. */
  def seqOf(line: String): Option[Long] = {
    val i = line.indexOf(" seq=")
    val j = line.indexOf(' ', i + 5)
    if (i < 0 || j < 0) None else line.substring(i + 5, j).toLongOption
  }

  /** Digest of the first `rows` lines and their mean size. */
  def digest(seed: Long, rows: Long): Map[String, Any] = {
    val mixer = new LineMix(seed)
    val md = MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    var long = 0L
    var k = 0L
    while (k < rows) {
      val b = mixer.bytes(k)
      md.update(b)
      bytes += b.length
      if (b.length > 500) long += 1
      k += 1
    }
    Map("sha256" -> md.digest().map(b => f"$b%02x").mkString,
      "mean_bytes" -> bytes.toDouble / rows, "long_share" -> long.toDouble / rows)
  }
}

/** One TCP connection writing lines; records (time ms, rows sent so far). */
final class Sender(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  val curve = new ArrayBuffer[(Double, Long)]()
  var sent = 0L

  def write(b: Array[Byte]): Unit = { out.write(b); sent += 1 }
  def flush(): Unit = { out.flush(); curve += ((Clock.ms(), sent)) }
  def close(): Unit = { flush(); sock.close() }
}

object Senders {
  /** Closed loop: `conns` connections, connection c writes the seqs
    * `from + c*n/conns` onward as fast as backpressure allows.
    */
  def flood(port: Int, mix: LineMix, from: Long, n: Long, conns: Int)
      : Seq[Seq[(Double, Long)]] = {
    val per = n / conns
    require(per * conns == n, s"$n rows do not split over $conns connections")
    val senders = Seq.fill(conns)(new Sender(port))
    val t0 = Clock.ms()
    val threads = senders.zipWithIndex.map { case (s, c) =>
      val th = new Thread(() => {
        var k = from + c * per
        val end = k + per
        while (k < end) {
          s.write(mix.bytes(k))
          k += 1
          if ((k & 8191) == 0) s.flush()
        }
        s.close()
      }, s"flood-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    senders.map(s => (t0, 0L) +: s.curve.toSeq)
  }

  /** Open loop over one connection: line k is due at t0 + k/rate and is
    * written as soon as it is due. Returns the lateness of each write (how
    * long after its first line's due time it went out), in ms.
    */
  def paced(s: Sender, mix: LineMix, t0: Double, rate: Double, n: Long)
      : ArrayBuffer[Double] = {
    val late = new ArrayBuffer[Double]()
    var k = 0L
    while (k < n) {
      val now = Clock.ms()
      val due = math.min(n, math.floor((now - t0) * rate / 1000.0).toLong + 1)
      if (due > k) {
        late += now - (t0 + k * 1000.0 / rate)
        while (k < due) { s.write(mix.bytes(k)); k += 1 }
        s.flush()
      } else {
        val wait = t0 + k * 1000.0 / rate - now
        LockSupport.parkNanos((math.min(wait, 1.0) * 1e6).toLong)
      }
    }
    late
  }
}

/** One running ingest pipeline: the CLI's default path (syslog source →
  * receive-time enrich → Avro + Confluent framing → parquet sink), built
  * from the CLI's own option parsing.
  */
final class Pipeline(spark: SparkSession, dir: String, queueSize: Long) {
  private val conf = graft.cli.Config.parse(Seq(
    "--tcp.host", "127.0.0.1", "--tcp.port", "-1", "--udp.port", "0",
    "--avro", "--schema.registry.url", "http://unused", "--log.type.id", "7",
    "--tag", "dc=dc1", "--tag", "env=bench", "--queue.size", queueSize.toString,
    "--sink.format", "parquet", "--sink.path", s"$dir/sink")).toOption.get
  val sinkPath: String = conf.sinkPath.get

  val query: StreamingQuery = {
    graft.sources.SyslogState.lastTcpPort = -1
    val source = graft.ingest.Transformers.fromSyslog(
      spark.readStream.format("graft-syslog")
        .options(graft.cli.Config.sourceOptions(conf)).load())
    val value = graft.ingest.Transformers.avro(conf.tags, conf.logTypeId, 42)
    source.repartition(conf.numProducers).select(value)
      .writeStream.format("parquet").option("path", sinkPath)
      .option("checkpointLocation", s"$dir/ckpt").start()
  }

  val port: Int = {
    val deadline = System.nanoTime() + 60000000000L
    while (graft.sources.SyslogState.lastTcpPort <= 0) {
      query.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("syslog source never bound a port")
      Thread.sleep(20)
    }
    graft.sources.SyslogState.lastTcpPort
  }

  def id: String = query.id.toString

  def awaitCommitted(log: ProgressLog, rows: Long, timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (log.committedRows(id) < rows) {
      query.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline) throw new IllegalStateException(
        s"commit: ${log.committedRows(id)} of $rows rows after $timeoutS s")
      Thread.sleep(5)
    }
  }
}

object IngestWorkload {
  private val Warmup = 65536L
  private val Setups = 3
  private val Rate = 40000.0 // open loop, rows/s over one connection
  private val Conns = 2 // closed loop
  private val FloodRows = 3L << 18 // closed loop
  // the CLI's --queue.size; its default (10,000 rows) caps every
  // micro-batch at 10,000 rows
  private val Queue = 1L << 17
  private val LayerRows = 500000L // each traced layer drive

  def run(o: Opts): Map[String, Any] = {
    val tmp = o("tmp")
    val mix = new LineMix(o.long("seed"))

    // Set-up, several times: session, pipeline, and a first committed
    // warm-up batch. The first one also pays JVM start and cold codegen.
    val setupMs = new ArrayBuffer[Double]()
    var spark: SparkSession = null
    var log: ProgressLog = null
    var pipe: Pipeline = null
    for (rep <- 0 until Setups) {
      if (pipe != null) { pipe.query.stop(); Session.stop(spark) }
      val t = if (rep == 0) Clock.jvmStartMs else Clock.ms()
      spark = Session.create(tmp)
      log = new ProgressLog
      spark.streams.addListener(log)
      pipe = new Pipeline(spark, s"$tmp/pipe$rep", Queue)
      val s = new Sender(pipe.port)
      var k = -Warmup
      while (k < 0) { s.write(mix.bytes(k)); k += 1 }
      s.close()
      pipe.awaitCommitted(log, Warmup, 120)
      setupMs += Clock.ms() - t
    }

    // Closed loop first, which also brings the JIT to steady state for the
    // open loop: a fixed row count (seqs from `paced` on) over `Conns`
    // connections, each written as fast as TCP backpressure allows.
    val paced = (Rate * o.double("seconds")).toLong
    val curves = Senders.flood(pipe.port, mix, paced, FloodRows, Conns)
    pipe.awaitCommitted(log, Warmup + FloodRows, 120)

    // Open loop over one connection: line k (seqs 0 until `paced`) is due
    // at t0 + k/Rate.
    val s = new Sender(pipe.port)
    val t0 = Clock.ms() + 20
    val late = Senders.paced(s, mix, t0, Rate, paced)
    s.close()
    pipe.awaitCommitted(log, Warmup + FloodRows + paced, 120)
    val rows = paced + FloodRows
    pipe.query.stop()
    val progress = log.all.filter(_("query") == pipe.id)
    val trace = if (o.flag("trace")) traced(spark, mix, tmp, pipe.sinkPath) else Map()
    val check = checkSink(spark, mix, pipe.sinkPath, Warmup, rows,
      k => if (k < 0 || k >= paced) 0L else math.floor(t0 + k * 1000.0 / Rate).toLong)
    Map("setup_ms" -> setupMs, "warmup" -> Warmup,
      "paced" -> Map("t0_ms" -> t0, "rate" -> Rate, "rows" -> paced,
        "late_ms" -> late, "send_curve" -> s.curve.toSeq),
      "flood" -> Map("rows" -> FloodRows, "send_curves" -> curves),
      "progress" -> progress, "check" -> check, "trace" -> trace,
      "jvm" -> Session.jvm())
  }

  /** Every committed value is decoded and compared with the line that was
    * sent. A sent row passes when exactly one committed row carries its
    * sequence number, that row decodes to the sent line, and (open loop)
    * its receive stamp is no earlier than the line's due time. Failed rows
    * are the sent rows that did not pass or the committed rows that carry
    * no sequence number that was sent, whichever are more.
    */
  private def checkSink(spark: SparkSession, mix: LineMix, sink: String,
      warmup: Long, rows: Long, dueOf: Long => Long): Map[String, Any] = {
    import spark.implicits._
    val decoded = spark.read.parquet(sink).select(
      call_function("avro_logline_decode",
        graft.ingest.Transformers.confluentUnframe(col("value"))).as("r"))
      .select(col("r.line").as("line"),
        element_at(col("r.timings"), 1).getField("value").as("recv"))
      .as[(String, Long)]
      .map { case (line, recv) =>
        LineMix.seqOf(line) match {
          case Some(k) => (Option(k), if (line == mix.line(k)) 0L else 1L,
            if (recv >= dueOf(k)) 0L else 1L)
          case None => (None, 1L, 0L)
        }
      }.toDF("k", "bad_line", "early")
    val sent = col("k").between(-warmup, rows - 1)
    val r = decoded.groupBy(col("k"))
      .agg(count(lit(1)).as("c"), sum(col("bad_line")).as("bl"), sum(col("early")).as("e"))
      .agg(sum(col("c")),
        sum(when(sent && col("c") === 1 && col("bl") === 0 && col("e") === 0, 1L)
          .otherwise(0L)),
        sum(when(sent, 0L).otherwise(col("c"))),
        sum(col("bl")), sum(col("e")))
      .head()
    def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    val expected = warmup + rows
    Map("expected" -> expected, "committed" -> long(0), "passed" -> long(1),
      "unsent" -> long(2), "bad_line" -> long(3), "early" -> long(4),
      // a corrupted row is both a sent row that did not pass and a
      // committed row with no sent sequence number: count it once
      "failed" -> math.min(expected, math.max(expected - long(1), long(2))))
  }

  /** Traced only: each ingest layer driven on its own. */
  private def traced(spark: SparkSession, mix: LineMix, tmp: String,
      sink: String): Map[String, Any] = {
    val n = LayerRows
    val files = listFiles(sink).filter(_.getName.endsWith(".parquet"))
    Map(
      "accept" -> acceptOnly(mix, n),
      "encode" -> encode(spark, mix, n),
      "sink_write" -> sinkWrite(spark, mix, n, s"$tmp/layer_sink"),
      "sink_files" -> files.size,
      "sink_bytes" -> files.map(_.length).sum)
  }

  private def listFiles(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (f.isDirectory) f.listFiles.toSeq.flatMap(c => listFiles(c.getPath)) else Seq(f)
  }

  /** The source's accept path alone: senders against the listener, and
    * a loop that plans, reads and commits offsets as fast as it can, as
    * if the rest of the pipeline cost nothing. Returns rows/s.
    */
  private def acceptOnly(mix: LineMix, n: Long): Double = {
    val opts = new java.util.HashMap[String, String]()
    opts.put("tcp.port", "-1"); opts.put("udp.port", "0")
    opts.put("tcp.host", "127.0.0.1"); opts.put("maxBufferedRows", Queue.toString)
    graft.sources.SyslogState.lastTcpPort = -1
    val stream = new graft.sources.SyslogMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    @volatile var drained = 0L
    @volatile var lastDrainMs = 0.0
    @volatile var stop = false
    val drainer = new Thread(() => {
      var cur = stream.initialOffset()
      val lim = org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(1 << 20)
      val factory = stream.createReaderFactory()
      while (!stop) {
        val end = stream.latestOffset(cur, lim)
        if (end.json() != cur.json()) {
          var got = 0L
          stream.planInputPartitions(cur, end).foreach { p =>
            val r = factory.createReader(p)
            while (r.next()) got += 1
            r.close()
          }
          stream.commit(end)
          drained += got
          lastDrainMs = Clock.ms()
          cur = end
        } else Thread.sleep(1)
      }
    }, "accept-drain")
    drainer.start()
    val t0 = Clock.ms()
    Senders.flood(graft.sources.SyslogState.lastTcpPort, mix, 0, n, Conns)
    val deadline = System.nanoTime() + 60000000000L
    while (drained < n && System.nanoTime() < deadline) Thread.sleep(2)
    stop = true
    drainer.join()
    stream.stop()
    require(drained == n, s"accept-only drive lost rows: sent $n, drained $drained")
    n / ((lastDrainMs - t0) / 1000.0)
  }

  private def lineFrame(spark: SparkSession, mix: LineMix, n: Long): DataFrame = {
    import spark.implicits._
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val df = spark.range(n).as[Long]
      .map(k => (mix.line(k), "bench-host", now))
      .toDF("message", "hostname", "timestamp").cache()
    df.count()
    df
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Receive-time enrich + Avro encode over an in-memory batch of the
    * workload's lines, to the noop sink. Median of 3, rows/s.
    */
  private def encode(spark: SparkSession, mix: LineMix, n: Long): Double = {
    val lines = lineFrame(spark, mix, n)
    val enc = graft.ingest.Transformers.fromSyslog(lines)
      .select(graft.ingest.Transformers.avro(Seq("dc" -> "dc1", "env" -> "bench"), Some(7L), 42))
    val r = median(Seq.fill(3) {
      val t = Clock.ms()
      enc.write.format("noop").mode("overwrite").save()
      n / ((Clock.ms() - t) / 1000.0)
    })
    lines.unpersist()
    r
  }

  /** Parquet write of values that are already encoded. Median of 3, rows/s. */
  private def sinkWrite(spark: SparkSession, mix: LineMix, n: Long, dir: String): Double = {
    val lines = lineFrame(spark, mix, n)
    val values = graft.ingest.Transformers.fromSyslog(lines)
      .select(graft.ingest.Transformers.avro(Seq("dc" -> "dc1", "env" -> "bench"), Some(7L), 42))
      .cache()
    values.count()
    val r = median((0 until 3).map { i =>
      val t = Clock.ms()
      values.coalesce(1).write.parquet(s"$dir/$i")
      n / ((Clock.ms() - t) / 1000.0)
    })
    values.unpersist(); lines.unpersist()
    r
  }
}
