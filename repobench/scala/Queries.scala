package repobench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The query mix: serving rows and fold rows, each called through
  * `SparkEntry.queries`. Every execution collects its result to the driver
  * and then writes it as parquet, outside its timed window, so the result
  * of every execution can be checked against the oracle.
  */
object QueryWorkload {
  val Serving = Seq("q04_join_agg_topk", "q23_sessionize", "q96_containment")
  val Folds = Seq("q124_stream_incremental_labels")

  def run(o: Opts): Map[String, Any] = {
    val tmp = o("tmp")
    val data = o("data")
    val rows = Serving ++ Folds
    val fns = graft.SparkEntry.queries
    val execs = new ArrayBuffer[Map[String, Any]]()

    /** Runs `names` once each; each result goes to results/<row>/<pass>. */
    def pass(spark: SparkSession, names: Seq[String], id: Int): Unit =
      names.foreach { name =>
        val t0 = Clock.ms()
        var t1, t2 = 0.0
        val dir = s"$tmp/results/$name/$id"
        val error = try {
          val df = fns(name)(spark, data)
          t1 = Clock.ms()
          val result = df.collect()
          t2 = Clock.ms()
          spark.createDataFrame(result.toSeq.asJava, df.schema).write.parquet(dir)
          None
        } catch {
          case e: Throwable =>
            if (t2 == 0) t2 = Clock.ms()
            Some(s"${e.getClass.getName}: ${e.getMessage}")
        }
        execs += Map("row" -> name, "pass" -> id, "start_ms" -> t0, "end_ms" -> t2,
          "call_ms" -> (math.max(t1, t0) - t0), "result" -> dir, "error" -> error)
      }

    // Set-up, once: JVM and session start, then a cold pass over every
    // row, which compiles it and builds the staged stores it reads on
    // first use. A second set-up would cost as much again.
    val spark = Session.create(tmp)
    val log = new ProgressLog
    spark.streams.addListener(log)
    pass(spark, rows, -1)
    val setupMs = Seq(Clock.ms() - Clock.jvmStartMs)

    val engine = if (o.flag("trace")) {
      val e = new EngineTrace
      e.register(spark)
      Some(e)
    } else None
    // Timed: the fold rows once (one takes longer than `seconds` here),
    // then the serving rows pass after pass for `seconds`, at least twice
    // so that each serving row has a median.
    val timedFrom = execs.size
    pass(spark, Folds, 0)
    val start = Clock.ms()
    var passes = 0
    while (passes < 2 || Clock.ms() - start < o.double("seconds") * 1000) {
      pass(spark, Serving, passes)
      passes += 1
    }
    engine.foreach(_.settle())
    val timed = execs.drop(timedFrom).map { x =>
      engine.fold(x)(e => x ++ e.window(
        x("start_ms").asInstanceOf[Double], x("end_ms").asInstanceOf[Double]))
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => rows.contains(k) }
    Map("setup_ms" -> setupMs, "rows" -> rows, "serving" -> Serving, "folds" -> Folds,
      "setup_execs" -> execs.take(timedFrom), "execs" -> timed,
      "progress" -> log.all, "oracle" -> oracle, "jvm" -> Session.jvm())
  }
}
