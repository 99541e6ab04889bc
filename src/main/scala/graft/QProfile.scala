package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall-clock profile of one declared query — optimization-round
  * measurement tooling (guide §1: find where the time goes before
  * changing anything). Runs the query `iters` times (same
  * clearCache-per-iteration discipline as Bench) and prints one line per
  * Spark job of the LAST iteration (warm JIT), plus construction time
  * (driver-side planning + any jobs run while building the DataFrame).
  * Usage: runMain graft.QProfile <query> [iters]
  */
object QProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_scan_parquet")
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    case class J(id: Int, start: Long, var end: Long = 0L, desc: String = "")
    val jobs = scala.collection.mutable.LinkedHashMap[Int, J]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs(e.jobId) = J(e.jobId, e.time,
          desc = Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (i <- 1 to iters) {
      spark.catalog.clearCache()
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      Thread.sleep(300) // let the listener bus drain
      println(f"[qprofile] iter $i: construct ${(t1 - t0) / 1e3}%.0f us, " +
        f"count ${(t2 - t1) / 1e3}%.0f us, rows $n")
      if (i == iters) {
        var prevEnd = 0L
        jobs.synchronized(jobs.values.toSeq).sortBy(_.start).foreach { j =>
          val gap = if (prevEnd == 0) 0 else j.start - prevEnd
          prevEnd = math.max(prevEnd, j.end)
          println(f"[qprofile]   job ${j.id}%3d  ${j.end - j.start}%6d ms  (gap $gap%5d ms)  ${j.desc.take(80)}")
        }
      }
    }
    spark.stop()
  }
}
