package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/** Job-level timeline of one declared query (guide §1/§7.3): per Spark
  * job, wall time, description, and the DRIVER GAP since the previous
  * job ended — the number that separates "stages are slow" from
  * "driver pacing / filesystem / planning between jobs is slow"
  * (micro-batch commit protocols, meta collects, plan compilation).
  *
  * Usage: runMain graft.tools.JobProf [reps] <query...>
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val (reps, names) = args.headOption.flatMap(_.toIntOption) match {
      case Some(r) => (r, args.drop(1).toSeq)
      case None    => (2, args.toSeq)
    }
    require(names.nonEmpty, "usage: JobProf [reps] <query...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    case class J(id: Int, desc: String, startMs: Long, var endMs: Long = -1L)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs(e.jobId) = J(e.jobId,
          d.replaceAll("\\s+", " ").take(90), e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.endMs = e.time)
      }
    }
    graft.SparkEntry.allQueries("q_stream_counts")(spark, sfDir)
      .write.format("noop").mode("overwrite").save() // warm
    for (name <- names; rep <- 1 to reps) {
      jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis() // job times are epoch millis
      val df = graft.SparkEntry.allQueries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      graft.ops.Dedup.releaseCheckpoints(df)
      val keep = graft.SparkEntry.sharedFixtureRddIds
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => keep(r.id)).foreach(_.unpersist(blocking = true))
      val js = jobs.values.toSeq.sortBy(_.startMs)
      var prevEnd = t0Ms
      var jobMs = 0L; var gapMs = 0L
      println(f"== JOBPROF $name rep$rep total=$sec%.2fs jobs=${js.size} ==")
      js.foreach { j =>
        val dur = if (j.endMs > 0) j.endMs - j.startMs else -1L
        val gap = j.startMs - prevEnd
        if (dur >= 0) { jobMs += dur; gapMs += math.max(0L, gap) }
        if (dur >= 80 || gap >= 80)
          println(f"  job ${j.id}%4d dur=${dur}%6dms gap=${gap}%6dms  ${j.desc}")
        prevEnd = if (j.endMs > 0) j.endMs else j.startMs
      }
      println(f"  [sum] job_ms=$jobMs gap_ms=$gapMs wall=${(sec * 1000).toLong}ms")
    }
    spark.stop()
  }
}
