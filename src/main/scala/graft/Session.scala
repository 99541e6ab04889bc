package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point (Bench, Verify, QProfile,
  * PlanSnap, PlanDump, AnnLadder) and the test suites run in:
  * `local[cores]` with one shuffle partition per core, UTC session time,
  * no UI, the graft SQL extensions and WARN logging. */
object Session {
  /** Cores of the local session: `SPARK_GRAFT_CPUS`, default 4. */
  private def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  /** Get or create the local session; `conf` adds settings on top of the
    * shared ones. */
  def local(cores: Int = cpus,
            conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
