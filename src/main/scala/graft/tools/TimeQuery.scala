package graft.tools

/** Time individual declared queries: `runMain graft.tools.TimeQuery
  * <reps> <query...>` against `SPARK_GRAFT_SF_DIR` (default sf0.1),
  * materializing through the noop sink like Bench. Prints per-rep wall
  * and codegen compiles, then best times — the bench-noise antidote for
  * A/B-ing one operator.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    // first arg is the rep count only when numeric; all other args are
    // query names (so `TimeQuery q_topk` works without a count)
    val (reps, names) = args.headOption.flatMap(a => a.toIntOption) match {
      case Some(r) => (r, args.drop(1).toSeq)
      case None    => (3, args.toSeq)
    }
    require(names.nonEmpty, "usage: TimeQuery [reps] <query...>")
    require(reps > 0, s"reps must be positive, got $reps")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm codegen/file listing
    graft.SparkEntry.allQueries("q_stream_counts")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    for (name <- names) {
      val times = (1 to reps).map { rep =>
        val t0 = System.nanoTime()
        val (df, compiles) = Compiles.around {
          val df = graft.SparkEntry.allQueries(name)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          df
        }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"REP $name rep$rep wall=$sec%.2f $compiles")
        // release pinned checkpoints + sweep residue between reps
        // (the Bench.execOnce hygiene) — checkpointing queries would
        // otherwise accumulate pins across reps and skew later ones
        graft.ops.Dedup.releaseCheckpoints(df)
        val keep = graft.SparkEntry.sharedFixtureRddIds
        spark.sparkContext.getPersistentRDDs.values
          .filterNot(r => keep(r.id)).foreach(_.unpersist(blocking = true))
        sec
      }
      println(f"TIME $name best=${times.min}%.2f reps=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
