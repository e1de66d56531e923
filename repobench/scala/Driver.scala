package repobench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark driver: runs one workload against the program in this JVM and
  * writes its raw observations as one JSON object to `out=`. The Python
  * side (`run.py`) turns them into metrics and checks.
  *
  * Usage: Driver mode=ingest|query|gen key=value ...
  */
object Driver {
  def main(args: Array[String]): Unit = {
    val o = Opts(args)
    val result = o("mode") match {
      case "ingest" => IngestWorkload.run(o)
      case "query" => QueryWorkload.run(o)
      case "gen" => LineMix.digest(o.long("seed"), o.long("rows"))
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    val json = Json(result)
    o.get("out") match {
      case Some(p) => Files.writeString(Paths.get(p), json, UTF_8)
      case None => println(json)
    }
    // Spark leaves non-daemon threads behind; the run is over
    sys.exit(0)
  }
}

final case class Opts(m: Map[String, String]) {
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing option $k"))
  def get(k: String): Option[String] = m.get(k)
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
  def flag(k: String): Boolean = m.get(k).contains("1")
}

object Opts {
  def apply(args: Array[String]): Opts = Opts(args.map { a =>
    val i = a.indexOf('=')
    require(i > 0, s"expected key=value, got '$a'")
    a.substring(0, i) -> a.substring(i + 1)
  }.toMap)
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case t: Product if t.getClass.getName.startsWith("scala.Tuple") =>
      apply(t.productIterator.toSeq)
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms with sub-ms resolution. */
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  /** When this JVM was started, in epoch ms. */
  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
}

/** Sessions for one run: the program's own session builder at `local[4]`,
  * with every directory it writes pointed into the run's tmp root.
  */
object Session {
  val Cpus = 4

  def create(tmp: String): SparkSession = {
    val s = graft.Sessions.builder(Cpus.toString)
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def jvm(): Map[String, Any] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val hwmKb = scala.util.Try(scala.io.Source.fromFile("/proc/self/status")
      .getLines().find(_.startsWith("VmHWM:")).get
      .split("\\s+")(1).toLong).getOrElse(0L)
    Map("gc_ms" -> gcMs, "peak_rss_kb" -> hwmKb)
  }
}

/** Streaming progress of every query in a session, kept in memory. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val committed = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    events.add(Map(
      "query" -> p.id.toString,
      "batch" -> p.batchId,
      "rows" -> p.numInputRows,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
      "start_offset" -> src.map(_.startOffset),
      "end_offset" -> src.map(_.endOffset)))
    committed.merge(p.id.toString, p.numInputRows, (a, b) => a + b)
  }

  def committedRows(query: String): Long =
    Option(committed.get(query)).map(_.longValue()).getOrElse(0L)
  def all: Seq[Map[String, Any]] = events.asScala.toSeq
}

/** Per-layer observations of the engine, recorded while tracing is on:
  * SQL executions, planning (analysis + optimisation + physical planning
  * from `QueryExecution.tracker`), jobs, and task metrics, each stamped
  * with its wall time so a caller can attribute them to the row execution
  * whose window holds them.
  */
final class EngineTrace extends SparkListener with QueryExecutionListener {
  val executions = new ConcurrentLinkedQueue[Long]() // start ms
  val plans = new ConcurrentLinkedQueue[(Long, Long)]() // (start ms, planning ms)
  val jobs = new ConcurrentLinkedQueue[Long]() // start ms
  // (finish ms, cpu ns, gc ms, shuffle bytes, spill bytes)
  val tasks = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executions.add(s.time)
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add((e.taskInfo.finishTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = planned(qe)

  def register(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }

  private def size: Int = executions.size + jobs.size + tasks.size + plans.size

  /** The listener bus is asynchronous: wait until it has gone quiet. */
  def settle(): Unit = {
    var last = -1
    val deadline = System.nanoTime() + 10000000000L
    while (size != last && System.nanoTime() < deadline) {
      last = size
      Thread.sleep(300)
    }
  }

  /** Engine counts inside [from, to] (epoch ms). Event times are whole
    * milliseconds, rounded down.
    */
  def window(from: Double, to: Double): Map[String, Any] = {
    def in(t: Long) = t >= math.floor(from) && t <= to
    val ts = tasks.asScala.filter(x => in(x._1)).toSeq
    Map(
      "executions" -> executions.asScala.count(in),
      "plan_ms" -> plans.asScala.filter(x => in(x._1)).map(_._2).sum,
      "jobs" -> jobs.asScala.count(in),
      "tasks" -> ts.size,
      "cpu_ns" -> ts.map(_._2).sum,
      "gc_ms" -> ts.map(_._3).sum,
      "shuffle_bytes" -> ts.map(_._4).sum,
      "spill_bytes" -> ts.map(_._5).sum)
  }
}
