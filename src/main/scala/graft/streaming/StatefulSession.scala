package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Q42 — sessionization through the *custom-state* streaming API
  * (`KeyValueGroupedDataset.flatMapGroupsWithState`), the escape hatch for
  * stateful logic `session_window` can't express (per-session custom
  * payloads, conditional session splits, enrichment against state).
  *
  * The state function buffers nothing across batches here (AvailableNow
  * delivers the whole replay in one batch; the GroupState plumbing is
  * still exercised end-to-end through the state store). Events inside a
  * group arrive unordered — the function sorts by (ts, event_id) before
  * gap-splitting, and sums through BigDecimal so the emitted values match
  * the decimal-exact DuckDB oracle.
  *
  * Scale posture: groups are hash-partitioned by user_id across the
  * state store; per-group work is O(events-per-user · log). The in-memory
  * sort bounds per-user batch size — the production variant for unbounded
  * users/batches keeps an open-session accumulator in GroupState instead.
  */
object StatefulSession {

  case class SessEvent(user_id: Long, event_id: Long, us: Long, value: Double)
  case class Session(user_id: Long, session_id: Long, n_events: Long,
                     start_us: Long, end_us: Long, sum_value: Double)

  private val GapUs = 1800000000L

  def sessionize(key: Long, events: Iterator[SessEvent],
                 state: GroupState[Long]): Iterator[Session] = {
    val sorted = events.toArray.sortBy(e => (e.us, e.event_id))
    if (sorted.isEmpty) return Iterator.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Session]
    var sid = 0L
    var start = 0
    def emit(endIdx: Int): Unit = { // [start, endIdx] inclusive
      val slice = sorted.slice(start, endIdx + 1)
      // setScale(10) mirrors the oracle's CAST(value AS DECIMAL(38,10))
      val sum = slice.foldLeft(BigDecimal(0)) { (acc, e) =>
        acc + BigDecimal(e.value).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }
      out += Session(key, sid, slice.length.toLong, slice.head.us,
        slice.last.us,
        sum.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    var i = 1
    while (i < sorted.length) {
      if (sorted(i).us - sorted(i - 1).us > GapUs) {
        emit(i - 1); sid += 1; start = i
      }
      i += 1
    }
    emit(sorted.length - 1)
    state.update(state.getOption.getOrElse(0L) + sorted.length) // exercise state
    out.iterator
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q42_stream_session_state" -> ((s, d) => {
      import s.implicits._
      val stage = StreamingQueries.stageEventsDir(s, d)
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val ds = s.readStream.schema(schema).parquet(stage)
        .select(col("user_id"), col("event_id"),
          graft.Tables.tsMicros(schema).as("us"), col("value"))
        .as[SessEvent]
      val sessions = ds.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(sessionize)
      StreamingQueries.drain(s, sessions.toDF(), "q42_mem", "append")
        .orderBy(col("user_id"), col("session_id"))
    })
  )

  // Same semantics as q23 (gap > 30 min), emitted via the state function.
  // session_id CAST to BIGINT: DuckDB SUM(int) is HUGEINT — see q23 note.
  def oracleSql: Map[String, String] = Map(
    "q42_stream_session_state" ->
      s"""WITH e AS (SELECT user_id, event_id, value,
         |             epoch_ns(ts) // 1000 AS us FROM events),
         |     g AS (SELECT *, CASE WHEN us - LAG(us) OVER w > $GapUs
         |                          THEN 1 ELSE 0 END AS gap
         |           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |     ss AS (SELECT *, CAST(SUM(gap) OVER (PARTITION BY user_id
         |              ORDER BY us, event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) AS session_id FROM g)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(us) AS start_us, MAX(us) AS end_us,
         |  ROUND(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 4)
         |    AS sum_value
         |FROM ss GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin
  )
}
