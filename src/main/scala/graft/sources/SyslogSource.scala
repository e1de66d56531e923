package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Syslog *server* streaming source (DataSourceV2) — the reference's O1-O3
  * re-expressed as a MicroBatchStream. The built-in `socket` source
  * connects OUT as a client; the reference LISTENS (TCP accept loop +
  * UDP datagrams, /root/reference/syslog/syslog_producer.go:117-183), so a
  * custom source is required (SURVEY §4.3).
  *
  * Semantics preserved from the reference:
  *  - no syslog parsing: every '\n'-terminated line is an opaque record;
  *  - hostname = the *server's own* hostname, captured once
  *    (syslog_producer.go:66-76);
  *  - timestamp = receive time, epoch millis (syslog_producer.go:180).
  *
  * Documented deviations (all improvements):
  *  - each TCP connection is served on its own thread — the reference
  *    scans a connection inside the accept loop, so one long-lived sender
  *    blocks all others (syslog_producer.go:138-143);
  *  - UDP datagrams are framed per-datagram (the reference wraps the UDP
  *    socket in one bufio.Scanner, which can merge datagrams, SURVEY §3.3).
  *
  * Like the reference's one `incoming` channel (syslog_producer.go:86-91,
  * 177-183), every TCP and UDP line goes into one buffer. Delivery: the
  * buffer is volatile memory, offsets are buffer indices;
  * replay is possible within the uncommitted window — and with a NAMED
  * receiver (`receiver.name`, [[SyslogReceivers]]) that window survives
  * query restarts in-process, so checkpoint recovery after an ungraceful
  * stop is exactly-once into the file sink (StreamingSinkSpec proves it).
  * Across JVM restarts delivery degrades to at-most-once — matching the
  * reference's contract (SURVEY §2.2), whose buffer is a Go channel.
  * Backpressure: a full buffer (maxBufferedRows) blocks TCP
  * readers (propagates to senders) and drops UDP datagrams, mirroring the
  * reference's bounded-channel behavior.
  *
  * Options: tcp.port, udp.port (0 = disabled; -1 = ephemeral, for tests),
  * tcp.host/udp.host, maxBufferedRows.
  * `graft.sources.SyslogState` exposes bound ports for tests. Each
  * progress report carries the buffer's state and drop count
  * ([[SyslogMicroBatchStream.metrics]]).
  */
class SyslogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-syslog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyslogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SyslogTable(new CaseInsensitiveStringMap(properties))
}

object SyslogSource {
  val schema: StructType = StructType(Seq(
    StructField("message", StringType, nullable = false),
    StructField("hostname", StringType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false)))
}

class SyslogTable(options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {
  override def name(): String = "graft-syslog"
  override def schema(): StructType = SyslogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = SyslogSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new SyslogMicroBatchStream(options)
        override def toBatch: Batch =
          throw new UnsupportedOperationException("streaming only")
      }
    }
}

/** One enqueued record: (line, receive-time epoch millis). */
private[sources] final case class SyslogRecord(line: String, tsMillis: Long)

/** Test hook: bound ports of the most recently started receiver (drops
  * are counted per receiver, see [[SyslogMicroBatchStream.udpDropped]]).
  */
object SyslogState {
  @volatile var lastTcpPort: Int = -1
  @volatile var lastUdpPort: Int = -1
}

/** The socket listeners + line buffer, extracted from the stream so its
  * lifetime can OUTLIVE a single streaming query: a named receiver
  * (option `receiver.name`, see [[SyslogReceivers]]) keeps accepting and
  * buffering across query restarts, which is what makes checkpoint
  * recovery real — a batch that was planned but never committed before a
  * crash is still in the buffer (commit is the only trim), so the
  * restarted query replays exactly those rows. An unnamed receiver is
  * owned by its stream and closed with it (the pre-round-5 behavior).
  * This mirrors production topology: the syslog daemon's buffer belongs
  * to the receiving endpoint, not to whichever consumer is currently
  * attached.
  */
/** JVM-global registry for ZERO-COPY local transport: partitions carry a
  * (receiverId, range) reference instead of their rows, and the
  * reader resolves the rows through this map at task start. In local
  * mode (the shipping shape) driver and executors share the JVM, so the
  * per-batch task binaries stop carrying the row payload — measured 2.6×
  * e2e (BASELINE.md round 12); on a real cluster the receiver would live
  * in an executor-side service and the same reference scheme applies
  * node-locally, while `local.transport=false` falls back to inline rows.
  */
private[sources] object SyslogLocalTransport {
  private[sources] val receivers =
    new java.util.concurrent.ConcurrentHashMap[String, SyslogReceiver]()
}

private[sources] class SyslogReceiver(options: CaseInsensitiveStringMap) {

  /** Identity for [[SyslogLocalTransport]] lookups. */
  private[sources] val transportId: String =
    java.util.UUID.randomUUID().toString

  val hostname: String = // server's own hostname, captured once
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "localhost" }

  /** Buffer capacity, at least 2 rows: the livelock guard in
    * [[SyslogMicroBatchStream.latestOffset]] plans at most half the
    * buffer, and a 1-row buffer would make "half" the whole buffer,
    * re-opening the deferred-commit livelock the guard exists to close.
    */
  private[sources] val capacity: Int =
    math.max(2, options.getInt("maxBufferedRows", 100000))
  private val buffer = new ArrayBuffer[SyslogRecord]()
  private var base = 0L // offset of buffer(0)
  private val lock = new Object

  /** Insert a batch of lines under ONE lock acquisition; returns how
    * many were inserted. Per-line locking capped acceptance at ~285k
    * lines/s with 8 senders (BASELINE.md round-4 measurement) — the
    * lock, not the codec, was the ingest ceiling. Blocking mode waits
    * for space and inserts in chunks (receive time stamped per chunk,
    * after any wait, like the per-line path did); non-blocking mode
    * (UDP) inserts what fits and reports the rest as dropped.
    */
  private def enqueueBatch(lines: scala.collection.IndexedSeq[String],
      blockWhenFull: Boolean): Int =
    lock.synchronized {
      var inserted = 0
      while (inserted < lines.length) {
        if (buffer.size >= capacity) {
          // UDP drops the remainder; a closed receiver stops waiting
          if (!blockWhenFull || closed) return inserted
          lock.wait(100) // TCP: block the reader -> sender backpressure
        } else {
          val take = math.min(capacity - buffer.size,
            lines.length - inserted)
          val ts = System.currentTimeMillis()
          var i = 0
          while (i < take) {
            buffer += SyslogRecord(lines(inserted + i), ts)
            i += 1
          }
          inserted += take
        }
      }
      inserted
    }

  /** Next offset to be assigned (base + buffered rows). */
  def nextOffset: Long = lock.synchronized(base + buffer.size)

  /** (offset of the first uncommitted row, rows buffered), read together. */
  def window: (Long, Int) = lock.synchronized((base, buffer.size))

  /** Rows [s, e) — still present for any uncommitted range. */
  def slice(s: Long, e: Long): Array[SyslogRecord] = lock.synchronized {
    val from = math.max(0L, s - base).toInt
    val to = math.max(0L, e - base).toInt
    buffer.slice(from, to).toArray
  }

  /** Retention trim on commit: committed rows can never be replanned. */
  def commitUpTo(e: Long): Unit = lock.synchronized {
    val drop = math.max(0L, e - base).toInt
    if (drop > 0) {
      buffer.remove(0, math.min(drop, buffer.size))
      base = math.max(base, e)
      lock.notifyAll()
    }
  }

  /** Datagrams discarded because the buffer was full — the metric a
    * production deployment alerts on (TCP senders are blocked instead
    * and never lose lines). Per-stream state: concurrent queries must
    * not conflate their drop accounting.
    */
  val udpDropped = new java.util.concurrent.atomic.AtomicLong(0)

  // --- listeners -----------------------------------------------------
  @volatile private var closed = false
  private var tcpServer: ServerSocket = _
  /** Accepted connections, closed with the receiver. */
  private val connections = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  private var udpSocket: DatagramSocket = _

  private def startTcp(host: String, port: Int): Unit = {
    tcpServer = new ServerSocket()
    tcpServer.bind(new InetSocketAddress(host, if (port == -1) 0 else port))
    SyslogState.lastTcpPort = tcpServer.getLocalPort
    val acceptor = new Thread(() => {
      while (!closed) {
        try {
          val sock = tcpServer.accept()
          connections.add(sock)
          if (closed) sock.close() // accepted while close() was running
          val t = new Thread(() => serveTcp(sock), "graft-syslog-conn")
          t.setDaemon(true)
          t.start()
        } catch { case _: Exception => /* socket closed */ }
      }
    }, "graft-syslog-tcp-accept")
    acceptor.setDaemon(true)
    acceptor.start()
  }

  /** Per-connection read loop: raw 64 KiB byte chunks scanned for '\n'
    * in place — ONE read syscall per chunk (~1.5k lines of typical
    * syslog), one UTF-8 decode per line, one enqueue lock per chunk.
    * The round-4 BufferedReader.readLine path ran the whole stream
    * through a CharsetDecoder and re-entered the lock every ≤256 lines;
    * reads were the measured ceiling (BASELINE.md round 4). Line
    * framing matches the reference's bufio.ScanLines: split on '\n',
    * strip one trailing '\r', emit empty records for empty lines; a
    * partial line at a chunk boundary is carried into the next chunk.
    */
  private def serveTcp(sock: Socket): Unit = {
    val in = sock.getInputStream
    val buf = new Array[Byte](65536)
    val batch = new ArrayBuffer[String](2048)
    var carry = Array.emptyByteArray
    def lineOf(bytes: Array[Byte], from: Int, until: Int): String = {
      val end = // ScanLines semantics: one trailing \r is dropped
        if (until > from && bytes(until - 1) == '\r') until - 1 else until
      new String(bytes, from, end - from, StandardCharsets.UTF_8)
    }
    try {
      var n = in.read(buf)
      while (n > 0 && !closed) {
        batch.clear()
        var start = 0
        var i = 0
        while (i < n) {
          if (buf(i) == '\n') {
            if (carry.length > 0) {
              val full = new Array[Byte](carry.length + (i - start))
              System.arraycopy(carry, 0, full, 0, carry.length)
              System.arraycopy(buf, start, full, carry.length, i - start)
              batch += lineOf(full, 0, full.length)
              carry = Array.emptyByteArray
            } else batch += lineOf(buf, start, i)
            start = i + 1
          }
          i += 1
        }
        if (start < n) { // partial trailing line: carry to next chunk
          val rem = new Array[Byte](carry.length + (n - start))
          System.arraycopy(carry, 0, rem, 0, carry.length)
          System.arraycopy(buf, start, rem, carry.length, n - start)
          carry = rem
        }
        if (batch.nonEmpty) enqueueBatch(batch, blockWhenFull = true)
        n = in.read(buf)
      }
      if (carry.length > 0) // unterminated final line at EOF, like ScanLines
        enqueueBatch(ArrayBuffer(lineOf(carry, 0, carry.length)),
          blockWhenFull = true)
    } catch { case _: Exception => } finally {
      sock.close()
      connections.remove(sock)
    }
  }

  private def startUdp(host: String, port: Int): Unit = {
    udpSocket = new DatagramSocket(
      new InetSocketAddress(host, if (port == -1) 0 else port))
    SyslogState.lastUdpPort = udpSocket.getLocalPort
    val t = new Thread(() => {
      val buf = new Array[Byte](65536)
      while (!closed) {
        try {
          val pkt = new DatagramPacket(buf, buf.length)
          udpSocket.receive(pkt)
          val text = new String(pkt.getData, pkt.getOffset, pkt.getLength,
            StandardCharsets.UTF_8)
          // per-datagram framing; split multi-line datagrams on '\n'
          val lines = text.split("\n", -1).filter(_.nonEmpty)
          if (lines.nonEmpty) {
            val inserted = enqueueBatch(
              scala.collection.immutable.ArraySeq.unsafeWrapArray(lines),
              blockWhenFull = false)
            if (inserted < lines.length)
              udpDropped.addAndGet(lines.length - inserted)
          }
        } catch { case _: Exception => }
      }
    }, "graft-syslog-udp")
    t.setDaemon(true)
    t.start()
  }

  locally {
    val tcpPort = options.getInt("tcp.port", 5140)
    val udpPort = options.getInt("udp.port", 5141)
    if (tcpPort != 0) startTcp(options.getOrDefault("tcp.host", "0.0.0.0"), tcpPort)
    if (udpPort != 0) startUdp(options.getOrDefault("udp.host", "0.0.0.0"), udpPort)
    // publish LAST: a concurrent registry reader must never observe a
    // partially-constructed receiver (unsafe this-escape — round-12
    // review); the ConcurrentHashMap put is the release fence for every
    // field assigned above
    SyslogLocalTransport.receivers.put(transportId, this)
  }

  /** This receiver's bound TCP port (-1 if TCP disabled) — per-instance,
    * unlike the global [[SyslogState.lastTcpPort]], which parallel test
    * suites overwrite on every receiver start.
    */
  def tcpPort: Int = if (tcpServer != null) tcpServer.getLocalPort else -1

  /** This receiver's bound UDP port (-1 if UDP disabled). */
  def udpPort: Int = if (udpSocket != null) udpSocket.getLocalPort else -1

  def close(): Unit = {
    closed = true
    SyslogLocalTransport.receivers.remove(transportId)
    if (tcpServer != null) try tcpServer.close() catch { case _: Exception => }
    if (udpSocket != null) try udpSocket.close() catch { case _: Exception => }
    // readers parked on a full buffer see `closed` when woken; readers
    // blocked in read() see their socket closed
    lock.synchronized(lock.notifyAll())
    connections.forEach(sock => try sock.close() catch { case _: Exception => })
  }
}

/** Registry of named receivers (option `receiver.name`): one receiver per
  * name per JVM, created on first use, surviving query stop/restart so
  * checkpoint recovery can replay the uncommitted window. Closed only via
  * [[close]] (tests) or JVM exit — like any daemon listening on a port.
  */
object SyslogReceivers {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, SyslogReceiver]()
  private val createdWith =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()
  private def snapshot(options: CaseInsensitiveStringMap): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    options.asCaseSensitiveMap().asScala.toMap
  }
  def getOrCreate(name: String, options: CaseInsensitiveStringMap): SyslogReceiver = {
    val r = registry.computeIfAbsent(name, _ => {
      createdWith.put(name, snapshot(options))
      new SyslogReceiver(options)
    })
    // a reused name keeps its creation-time configuration: a restarted
    // query passing different ports/buffer options would SILENTLY run on
    // the old ones — surface the mismatch instead of surprising recovery
    val orig = createdWith.get(name)
    val now = snapshot(options)
    if (orig != null && orig != now)
      System.err.println(
        s"[graft-syslog] WARNING: receiver '$name' reused with different " +
          s"options; keeping creation-time config. created=$orig now=$now")
    r
  }
  def get(name: String): Option[SyslogReceiver] = Option(registry.get(name))
  def close(name: String): Unit = {
    val r = registry.remove(name)
    if (r != null) r.close()
  }
}

class SyslogMicroBatchStream(options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  private val receiverName = Option(options.get("receiver.name"))
  private val receiver = receiverName match {
    case Some(n) => SyslogReceivers.getOrCreate(n, options)
    case None    => new SyslogReceiver(options)
  }

  /** Test/metric hook (per-receiver; aliased for existing callers). */
  val udpDropped: java.util.concurrent.atomic.AtomicLong = receiver.udpDropped

  // --- MicroBatchStream ----------------------------------------------
  // The offset is the buffer index, serialized as a bare number.
  private case class SyslogOffset(v: Long) extends Offset {
    override def json(): String = v.toString
  }

  override def initialOffset(): Offset = SyslogOffset(0L)
  override def deserializeOffset(json: String): Offset =
    SyslogOffset(json.trim.toLong)
  override def latestOffset(): Offset = SyslogOffset(receiver.nextOffset)

  // Admission control: cap rows per micro-batch (maxRowsPerBatch,
  // default 1M) so an ingest burst becomes a sequence of bounded
  // batches instead of one giant one — bounded task memory, steady
  // commit cadence, and the backpressure window (buffer trim on commit)
  // opens sooner for blocked TCP senders.
  private val maxPerBatch = options.getLong("maxRowsPerBatch", 1000000L)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerBatch)

  /** Trigger.AvailableNow: the rows buffered at query start bound every
    * batch of the run. Without this Spark falls back to one batch, and a
    * restart that replays an uncommitted batch stops after that batch.
    */
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(receiver.nextOffset)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val avail = availableNowEnd.getOrElse(receiver.nextOffset)
    val s = start.asInstanceOf[SyslogOffset].v
    // Progress guarantee under the engine's DEFERRED source commit:
    // Spark calls commit(batch n) only when batch n+1 is constructed, and
    // batch n+1 needs NEW offsets. A batch that plans the ENTIRE buffer
    // while its senders are blocked on it therefore livelocks — no space
    // frees until commit, no commit until new data, no new data until
    // space frees (reproduced with maxRowsPerBatch >= buffer capacity).
    // A batch therefore never plans more than half the buffer's
    // capacity, so a full buffer always keeps unplanned rows visible,
    // the next trigger constructs, the deferred commit fires, and the
    // buffer trims.
    val maxRows = limit match {
      case mr: ReadMaxRows => mr.maxRows()
      case _ => Long.MaxValue
    }
    SyslogOffset(s + Seq(math.max(0L, avail - s),
      receiver.capacity / 2L, maxRows).min)
  }

  /** Zero-copy range-reference transport requires the receiver and the
    * executors to share one JVM, so the DEFAULT follows the master URL:
    * true under local[*] (the zero-copy fast path), false on a cluster
    * (rows ride the task binary — the documented fallback) — a cluster
    * deployment must not fail at reader creation because a local-mode
    * default leaked through. Explicit `local.transport` always wins.
    */
  private val localTransport = options.getBoolean("local.transport",
    scala.util.Try(org.apache.spark.sql.SparkSession.active
      .sparkContext.isLocal).getOrElse(true))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SyslogOffset].v
    val e = end.asInstanceOf[SyslogOffset].v
    // 64k-row chunks let a large batch use several cores, but only up to
    // the next narrowing: with the CLI's default one-producer pool
    // (`repartition(1)`) a batch is one encode-and-write task either way.
    // A batch of at most 65,536 rows is one partition, and then
    // graft.plans.OnePartitionRepartition drops that repartition's
    // exchange, so the batch runs as one job. With local transport
    // (default) the partition is a RANGE REFERENCE — the rows never ride
    // the task binary (see [[SyslogLocalTransport]]).
    if (localTransport)
      (s until e by 65536L).map { o =>
        SyslogLocalPartition(receiver.transportId, o,
          math.min(o + 65536L, e), receiver.hostname): InputPartition
      }.toArray
    else receiver.slice(s, e).grouped(65536)
      .map(SyslogPartition(_, receiver.hostname): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val (rows, hostname) = partition match {
        case lp: SyslogLocalPartition =>
          val recv = SyslogLocalTransport.receivers.get(lp.recvId)
          if (recv == null) throw new IllegalStateException(
            "graft-syslog local.transport=true requires the receiver and " +
              "executors to share one JVM (local mode); on a cluster set " +
              "local.transport=false")
          (recv.slice(lp.from, lp.until), lp.hostname)
        case p: SyslogPartition => (p.rows, p.hostname)
      }
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = {
          val r = rows(i)
          InternalRow(UTF8String.fromString(r.line),
            UTF8String.fromString(hostname),
            r.tsMillis * 1000L) // micros for TimestampType
        }
        override def close(): Unit = ()
      }
    }

  override def commit(end: Offset): Unit =
    receiver.commitUpTo(end.asInstanceOf[SyslogOffset].v)

  /** How far behind ingest is and what it dropped, in every progress
    * report (`lastProgress.sources(i).metrics`):
    *  - `bufferedRows`: rows received and not yet committed;
    *  - `backlogRows`: rows received after the last batch's end offset
    *    (all buffered rows before the first batch);
    *  - `udpDropped`: datagram lines dropped on a full buffer;
    *  - `capacity`: the buffer's size in rows (`maxBufferedRows`).
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val (base, buffered) = receiver.window
    val consumed =
      if (latestConsumedOffset.isPresent) latestConsumedOffset.get.json().trim.toLong
      else base
    Map(
      "bufferedRows" -> buffered.toString,
      "backlogRows" -> (base + buffered - consumed).toString,
      "udpDropped" -> udpDropped.get().toString,
      "capacity" -> receiver.capacity.toString).asJava
  }

  override def stop(): Unit =
    // a NAMED receiver outlives the query (checkpoint recovery replays
    // its uncommitted window on restart); an unnamed one dies with it
    if (receiverName.isEmpty) receiver.close()
}

/** Serializable slice of the driver-side buffer shipped to the executor
  * (the `local.transport=false` cluster fallback).
  */
private[graft] final case class SyslogPartition(
  rows: Array[SyslogRecord], hostname: String) extends InputPartition

/** Zero-copy range reference resolved through [[SyslogLocalTransport]] at
  * task start — the task binary carries ~100 bytes, not the rows.
  */
private[sources] final case class SyslogLocalPartition(
  recvId: String, from: Long, until: Long, hostname: String)
  extends InputPartition
