package graft

import java.io.PrintWriter
import java.net.{DatagramPacket, DatagramSocket, InetAddress, Socket}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** End-to-end drive of the syslog listening source: a real TCP client and
  * a real UDP datagram against the bound sockets, through a streaming
  * query into a memory sink.
  */
class SyslogSourceSpec extends AnyFunSuite with Eventually {
  private val spark = TestSpark.spark

  test("TCP + UDP lines flow end-to-end with server hostname + receive ts") {
    val df = spark.readStream.format("graft-syslog")
      .option("tcp.port", "-1") // ephemeral
      .option("udp.port", "-1")
      .option("tcp.host", "127.0.0.1")
      .option("udp.host", "127.0.0.1")
      .load()
    assert(df.isStreaming)
    val query = df.writeStream.format("memory").queryName("syslog_e2e")
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      eventually(timeout(Span(20, Seconds))) {
        assert(sources.SyslogState.lastTcpPort > 0)
        assert(sources.SyslogState.lastUdpPort > 0)
      }
      val t0 = System.currentTimeMillis()
      // TCP sender: three lines, one empty (scanner emits empty record)
      val sock = new Socket("127.0.0.1", sources.SyslogState.lastTcpPort)
      val out = new PrintWriter(sock.getOutputStream, true)
      out.print("<34>1 tcp line one\n")
      out.print("\n")
      out.print("tcp line two\n")
      out.flush()
      sock.close()
      // UDP sender: one datagram, no trailing newline
      val udp = new DatagramSocket()
      val payload = "udp datagram line".getBytes("UTF-8")
      udp.send(new DatagramPacket(payload, payload.length,
        InetAddress.getByName("127.0.0.1"), sources.SyslogState.lastUdpPort))
      udp.close()

      eventually(timeout(Span(30, Seconds))) {
        query.processAllAvailable()
        val rows = spark.table("syslog_e2e").collect()
        val msgs = rows.map(_.getString(0)).toSet
        assert(msgs === Set("<34>1 tcp line one", "", "tcp line two",
          "udp datagram line"))
        // enrichment: server hostname + receive time in [t0, now]
        val host = java.net.InetAddress.getLocalHost.getHostName
        assert(rows.map(_.getString(1)).toSet === Set(host))
        rows.foreach { r =>
          val ts = r.getTimestamp(2).getTime
          assert(ts >= t0 - 1000 && ts <= System.currentTimeMillis() + 1000)
        }
      }
    } finally query.stop()
  }

  // ---- direct MicroBatchStream drives: deterministic concurrency and
  // backpressure semantics, no streaming-query timing in the way --------

  private def newStream(maxBuffered: Int,
      extra: (String, String)*): sources.SyslogMicroBatchStream = {
    val opts = new java.util.HashMap[String, String]()
    opts.put("tcp.port", "-1"); opts.put("udp.port", "-1")
    opts.put("tcp.host", "127.0.0.1"); opts.put("udp.host", "127.0.0.1")
    opts.put("maxBufferedRows", maxBuffered.toString)
    extra.foreach { case (k, v) => opts.put(k, v) }
    new sources.SyslogMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
  }

  private def latest(s: sources.SyslogMicroBatchStream): Long =
    s.latestOffset().json().toLong

  private def readRange(s: sources.SyslogMicroBatchStream,
      from: Long, to: Long): Seq[String] = {
    val parts = s.planInputPartitions(
      s.deserializeOffset(from.toString), s.deserializeOffset(to.toString))
    val factory = s.createReaderFactory()
    parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      while (r.next()) out += r.get().getUTF8String(0).toString
      out.toSeq
    }
  }

  test("8 concurrent TCP senders: every line exactly once, per-connection order kept") {
    val s = newStream(100000)
    try {
      val port = sources.SyslogState.lastTcpPort
      assert(port > 0)
      val threads = (0 until 8).map { k =>
        new Thread(() => {
          val sock = new Socket("127.0.0.1", port)
          val w = new PrintWriter(sock.getOutputStream)
          (0 until 1000).foreach(i => w.print(s"s$k-$i\n"))
          w.flush(); sock.close()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 8000L))
      val lines = readRange(s, 0, 8000)
      assert(lines.length === 8000, "rows lost or duplicated")
      assert(lines.toSet.size === 8000)
      // each sender's lines appear in send order (one reader thread per
      // connection enqueues them)
      for (k <- 0 until 8) {
        val mine = lines.filter(_.startsWith(s"s$k-"))
          .map(_.split("-")(1).toInt)
        assert(mine === mine.sorted, s"sender $k's lines reordered")
      }
      // commit trims the buffer; the committed range can't be replanned
      s.commit(s.deserializeOffset("8000"))
      assert(readRange(s, 0, 8000).isEmpty)
    } finally s.stop()
  }

  test("inline-row transport (local.transport=false): rows ride the partitions, exactly once, per-connection order kept") {
    val s = newStream(100000, "local.transport" -> "false")
    try {
      val port = sources.SyslogState.lastTcpPort
      assert(port > 0)
      val (conns, perConn) = (4, 20000)
      val threads = (0 until conns).map { k =>
        new Thread(() => {
          val sock = new Socket("127.0.0.1", port)
          val w = new PrintWriter(sock.getOutputStream)
          (0 until perConn).foreach(i => w.print(s"s$k-$i\n"))
          w.flush(); sock.close()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val total = conns * perConn
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === total))
      val parts = s.planInputPartitions(s.initialOffset(),
        s.deserializeOffset(total.toString))
      // 80,000 rows: two 65,536-row chunks, each carrying its rows
      assert(parts.length === 2)
      assert(parts.forall(_.isInstanceOf[sources.SyslogPartition]),
        s"expected inline partitions: ${parts.map(_.getClass.getSimpleName).toSeq}")
      // a partition is read where it is deserialized, after the commit
      // has trimmed the receiver's buffer: the rows travel with it
      s.commit(s.deserializeOffset(total.toString))
      def shipped(p: AnyRef): org.apache.spark.sql.connector.read.InputPartition = {
        val bytes = new java.io.ByteArrayOutputStream()
        val out = new java.io.ObjectOutputStream(bytes)
        out.writeObject(p); out.close()
        new java.io.ObjectInputStream(
          new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
          .asInstanceOf[org.apache.spark.sql.connector.read.InputPartition]
      }
      val factory = s.createReaderFactory()
      val lines = parts.toSeq.flatMap { p =>
        val r = factory.createReader(shipped(p))
        val out = scala.collection.mutable.ArrayBuffer[String]()
        while (r.next()) out += r.get().getUTF8String(0).toString
        out.toSeq
      }
      assert(lines.length === total, "rows lost or duplicated")
      assert(lines.toSet.size === total)
      for (k <- 0 until conns) {
        val mine = lines.filter(_.startsWith(s"s$k-"))
          .map(_.split("-")(1).toInt)
        assert(mine === (0 until perConn), s"sender $k's lines reordered")
      }
    } finally s.stop()
  }

  test("a full buffer never livelocks the deferred-commit cycle (half-capacity cap)") {
    // Spark commits batch n only when it constructs batch n+1, which needs
    // new offsets, which need the trim the commit performs. A batch that
    // plans the entire full buffer would freeze the stream; the half cap
    // must leave unplanned rows visible so the drive below always
    // progresses to a full drain.
    val s = newStream(1000)
    try {
      val port = sources.SyslogState.lastTcpPort
      val total = 5000 // 5x the buffer's capacity through one connection
      val sender = new Thread(() => {
        val sock = new Socket("127.0.0.1", port)
        val w = new PrintWriter(sock.getOutputStream)
        (0 until total).foreach(i => w.print(s"line-$i\n"))
        w.flush(); sock.close()
      })
      sender.start()
      // the first batch is planned against a full buffer
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 1000))
      // deferred-commit drive: plan against CURRENT offsets, but commit
      // batch n only when constructing batch n+1 — the engine's timing
      var drained = 0L
      var pendingCommit: Option[org.apache.spark.sql.connector.read.streaming.Offset] = None
      var cur = s.initialOffset()
      val lim = org.apache.spark.sql.connector.read.streaming.ReadLimit
        .maxRows(1 << 20)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      val factory = s.createReaderFactory()
      while (drained < total && System.nanoTime() < deadline) {
        val end = s.latestOffset(cur, lim)
        if (end.json() != cur.json()) {
          pendingCommit.foreach(s.commit) // the DEFERRED commit fires here
          val parts = s.planInputPartitions(cur, end)
          parts.foreach { p =>
            val r = factory.createReader(p)
            while (r.next()) drained += 1
          }
          pendingCommit = Some(end)
          cur = end
        } else Thread.sleep(5)
      }
      sender.join(2000)
      assert(drained === total,
        s"livelock: drained $drained of $total through a full buffer")
    } finally s.stop()
  }

  test("a long-lived TCP connection never blocks other senders") {
    // the reference scans one connection inside its accept loop
    // (syslog_producer.go:138-143), so sender A parks sender B until A
    // disconnects; our thread-per-connection source must interleave them
    val s = newStream(100000)
    try {
      val a = new Socket("127.0.0.1", sources.SyslogState.lastTcpPort)
      val aw = new PrintWriter(a.getOutputStream, true)
      aw.print("from-a-1\n"); aw.flush()
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 1))
      // A stays connected and idle; B must still get through
      val b = new Socket("127.0.0.1", sources.SyslogState.lastTcpPort)
      val bw = new PrintWriter(b.getOutputStream, true)
      bw.print("from-b-1\n"); bw.flush()
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 2))
      // ... and A's later lines interleave fine
      aw.print("from-a-2\n"); aw.flush()
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 3))
      assert(readRange(s, 0, 3).toSet ===
        Set("from-a-1", "from-b-1", "from-a-2"))
      a.close(); b.close()
    } finally s.stop()
  }

  test("UDP datagrams are framed per-datagram, never merged") {
    val s = newStream(100000)
    try {
      val udp = new DatagramSocket()
      val addr = InetAddress.getByName("127.0.0.1")
      def send(text: String): Unit = {
        val bytes = text.getBytes("UTF-8")
        udp.send(new DatagramPacket(bytes, bytes.length, addr,
          sources.SyslogState.lastUdpPort))
      }
      send("multi-1\nmulti-2\n") // multi-line datagram: two records
      send("plain-no-newline")   // unterminated datagram: one record
      send("terminated\n")       // trailing newline: one record, no empty
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 4))
      assert(readRange(s, 0, 4).toSet ===
        Set("multi-1", "multi-2", "plain-no-newline", "terminated"))
      udp.close()
    } finally s.stop()
  }

  test("full buffer blocks TCP senders (zero loss) and drains on commit") {
    val s = newStream(3)
    try {
      val sock = new Socket("127.0.0.1", sources.SyslogState.lastTcpPort)
      val out = new PrintWriter(sock.getOutputStream, true)
      (1 to 10).foreach(i => out.print(s"line-$i\n"))
      out.flush()
      // connection reader parks at maxBufferedRows — offset plateaus at 3
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 3))
      Thread.sleep(500)
      assert(latest(s) === 3, "buffer must not grow past maxBufferedRows")
      // draining via commits releases the reader; nothing is lost
      val seen = scala.collection.mutable.ArrayBuffer[String]()
      var committed = 0L
      eventually(timeout(Span(20, Seconds))) {
        val l = latest(s)
        if (l > committed) {
          seen ++= readRange(s, committed, l)
          s.commit(s.deserializeOffset(l.toString))
          committed = l
        }
        assert(seen.size === 10)
      }
      assert(seen.toSet === (1 to 10).map(i => s"line-$i").toSet)
      sock.close()
    } finally s.stop()
  }

  test("stopping a stream with a full buffer ends its TCP readers and disconnects senders") {
    def connThreads: Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName == "graft-syslog-conn").toSet
    }
    val before = connThreads
    val s = newStream(3)
    val sock = new Socket("127.0.0.1", sources.SyslogState.lastTcpPort)
    try {
      val out = new PrintWriter(sock.getOutputStream, true)
      (1 to 10).foreach(i => out.print(s"line-$i\n"))
      out.flush()
      // the connection's reader parks on the full 3-row buffer
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 3))
      val readers = connThreads -- before
      assert(readers.size === 1)
      s.stop()
      eventually(timeout(Span(10, Seconds))) {
        assert(!readers.head.isAlive, "reader thread outlived the stream")
      }
      sock.setSoTimeout(10000)
      val seen =
        try sock.getInputStream.read()
        catch { case _: java.net.SocketException => -1 } // reset
      assert(seen === -1, "sender's connection stayed open")
    } finally {
      sock.close()
      s.stop()
    }
  }

  test("Trigger.AvailableNow: the rows buffered at query start bound the run") {
    val s = newStream(100000)
    try {
      val sock = new Socket("127.0.0.1", sources.SyslogState.lastTcpPort)
      val out = new PrintWriter(sock.getOutputStream, true)
      (1 to 10).foreach(i => out.print(s"before-$i\n"))
      out.flush()
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 10))
      s.prepareForTriggerAvailableNow()
      (1 to 5).foreach(i => out.print(s"after-$i\n"))
      out.flush()
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 15))
      val all = org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
      assert(s.latestOffset(s.initialOffset(), all).json() === "10")
      // batches of the run still respect the read limit
      val four = org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(4)
      assert(s.latestOffset(s.deserializeOffset("8"), four).json() === "10")
      sock.close()
    } finally s.stop()
  }

  test("full buffer drops UDP datagrams, counts them, and drains") {
    val s = newStream(2)
    try {
      val drop0 = s.udpDropped.get()
      val udp = new DatagramSocket()
      val addr = InetAddress.getByName("127.0.0.1")
      def send(text: String): Unit = {
        val bytes = text.getBytes("UTF-8")
        udp.send(new DatagramPacket(bytes, bytes.length, addr,
          sources.SyslogState.lastUdpPort))
      }
      (1 to 20).foreach(i => send(s"d-$i\n"))
      eventually(timeout(Span(10, Seconds))) {
        assert(latest(s) === 2) // buffer capped
        val dropped = s.udpDropped.get() - drop0
        assert(dropped >= 15 && dropped + latest(s) <= 20,
          s"drop accounting off: dropped=$dropped")
      }
      // commit frees the buffer: new datagrams are accepted again
      s.commit(s.deserializeOffset("2"))
      send("after-drain\n")
      eventually(timeout(Span(10, Seconds)))(assert(latest(s) === 3))
      assert(readRange(s, 2, 3) === Seq("after-drain"))
      udp.close()
    } finally s.stop()
  }

  test("progress reports the buffer, the backlog and UDP drops as source metrics") {
    import scala.jdk.CollectionConverters._
    val name = s"metrics_${System.nanoTime()}"
    val opts = Map("tcp.port" -> "0", "udp.port" -> "-1",
      "udp.host" -> "127.0.0.1", "receiver.name" -> name,
      "maxBufferedRows" -> "4")
    // a named receiver fills before any query runs: nothing commits, so
    // every datagram past the fourth is dropped
    val recv = sources.SyslogReceivers.getOrCreate(name,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts.asJava))
    try {
      val udp = new DatagramSocket()
      val addr = InetAddress.getByName("127.0.0.1")
      (1 to 20).foreach { i =>
        val bytes = s"m-$i".getBytes("UTF-8")
        udp.send(new DatagramPacket(bytes, bytes.length, addr, recv.udpPort))
      }
      udp.close()
      eventually(timeout(Span(10, Seconds))) {
        assert(recv.nextOffset === 4L)
        assert(recv.udpDropped.get() >= 15L)
      }
      val q = spark.readStream.format("graft-syslog").options(opts).load()
        .writeStream.format("memory").queryName("syslog_metrics")
        .trigger(Trigger.ProcessingTime(50)).start()
      try {
        eventually(timeout(Span(30, Seconds))) {
          q.processAllAvailable()
          assert(spark.table("syslog_metrics").count() === 4L)
        }
        def metricsOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
          p.sources(0).metrics.asScala.toMap
        // a batch plans at most half the buffer: batch 0 reads rows
        // [0, 2) and leaves 2 of the 4 buffered rows behind it
        val first = metricsOf(q.recentProgress.find(_.batchId == 0).get)
        assert(first === Map("bufferedRows" -> "4", "backlogRows" -> "2",
          "udpDropped" -> recv.udpDropped.get().toString, "capacity" -> "4"))
        val last = metricsOf(q.lastProgress)
        assert(last("backlogRows") === "0")
        assert(last("udpDropped").toLong >= 15L)
      } finally q.stop()
    } finally sources.SyslogReceivers.close(name)
  }
}
