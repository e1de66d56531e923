package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SQLExecution

/** Dev diagnostic: run named queries, print each one's wall time and
  * per-stage breakdown for a first and a second pass, then its formatted
  * AQE-final physical plan.
  * `runMain graft.Explain <sfDir> <query> [query...]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <query> [query...]")
    val spark = Sessions.local()
    val stages = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        stages += ((si.stageId, si.numTasks, wall,
          si.taskMetrics.executorRunTime))
      }
    })
    for (name <- args.drop(1)) {
      val df = SparkEntry.queries(name)(spark, args(0))
      def pass(label: String)(run: => Unit): Unit = {
        stages.clear()
        val t0 = System.nanoTime()
        run
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // listener drain
        println(f"[explain] $name $label=$sec%.2fs")
        stages.sortBy(-_._3).take(8).foreach { case (id, n, wall, cpu) =>
          println(f"[explain]   stage=$id%-4d tasks=$n%-3d wall=${wall / 1e3}%8.2fs taskCpuSum=${cpu / 1e3}%8.2fs")
        }
      }
      pass("first")(df.write.format("noop").mode("overwrite").save())
      // a write plans afresh; running df's own plan lets AQE finalize the
      // plan printed below
      val qe = df.queryExecution
      pass("second")(SQLExecution.withNewExecutionId(qe, Some(name))(
        qe.toRdd.foreach(_ => ())))
      df.explain("formatted")
    }
    spark.stop()
  }
}
