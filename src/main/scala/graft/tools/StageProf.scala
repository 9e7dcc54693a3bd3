package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable

/** Stage-level profile of one declared query (guide §7.1 without a UI):
  * run it through the noop sink with a listener and print, per stage,
  * task count, total executor run time, shuffle read/write bytes, and
  * the stage's name/callsite — the empirical "where does the time go" —
  * and, per rep, the codegen compiles.
  *
  * Usage: runMain graft.tools.StageProf [reps] <query...>
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val (reps, names) = args.headOption.flatMap(_.toIntOption) match {
      case Some(r) => (r, args.drop(1).toSeq)
      case None    => (2, args.toSeq)
    }
    require(names.nonEmpty, "usage: StageProf [reps] <query...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    case class St(name: String, tasks: Int, runMs: Long, cpuMs: Long,
        shRead: Long, shWrite: Long, input: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        stages += St(e.stageInfo.name.takeWhile(_ != '\n'),
          e.stageInfo.numTasks, m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead)
      }
    }
    graft.SparkEntry.allQueries("q_stream_counts")(spark, sfDir)
      .write.format("noop").mode("overwrite").save() // warm
    for (name <- names) {
      for (rep <- 1 to reps) {
        stages.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        val (df, compiles) = Compiles.around {
          val df = graft.SparkEntry.allQueries(name)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          df
        }
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"REP $name rep$rep wall=$wall%.2fs $compiles")
        Thread.sleep(300) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        graft.ops.Dedup.releaseCheckpoints(df)
        val keep = graft.SparkEntry.sharedFixtureRddIds
        spark.sparkContext.getPersistentRDDs.values
          .filterNot(r => keep(r.id)).foreach(_.unpersist(blocking = true))
        if (rep == reps) { // print the warmest rep only
          println(f"==== $name rep$rep wall=$wall%.2fs stages=${stages.size} " +
            f"sumRun=${stages.map(_.runMs).sum}ms")
          stages.sortBy(-_.runMs).take(18).foreach { s =>
            println(f"[stage] run=${s.runMs}%6dms cpu=${s.cpuMs}%6dms " +
              f"tasks=${s.tasks}%3d shR=${s.shRead / 1024}%8dK " +
              f"shW=${s.shWrite / 1024}%8dK in=${s.input / 1024}%8dK  ${s.name}%.70s")
          }
        }
      }
    }
    spark.stop()
  }
}
