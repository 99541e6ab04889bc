package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.sources.ShardedLog
import graft.streaming.KinesisEngine

/** JVM side of the benchmark. It drives the program only through public
  * entry points, records raw observations (operation timings, spans, Spark
  * jobs, streaming progress) and writes them as one JSON document; the
  * metrics are computed from it by `perfbench/run.py` and `stats.py`.
  *
  * Usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <nproc>
  *                  <dataDir> <workDir> <outFile>
  */
object PerfBench {

  /** Epoch milliseconds with sub-millisecond digits, on one monotonic base. */
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  /** CPU time this JVM has used, in milliseconds (all threads; time the
    * host steals from the VM is not in it). */
  def cpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  // ---------------------------------------------------------------- tracing

  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)

  /** In-memory span recorder; disabled in untraced runs (a no-op wrapper). */
  final class Tracer(val enabled: Boolean) {
    val spans = new ConcurrentLinkedQueue[Span]()
    private val ids = new AtomicLong(0L)
    private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
    def current: Long = stack.get.headOption.getOrElse(0L)

    def apply[T](name: String)(body: => T): T =
      if (!enabled) body
      else {
        val id = ids.incrementAndGet()
        val parent = current
        stack.set(id :: stack.get)
        val t0 = nowMs
        try body
        finally {
          spans.add(Span(id, parent, name, t0, nowMs))
          stack.set(stack.get.tail)
        }
      }
  }

  /** Spark jobs and streaming progress, collected from the public listener
    * APIs. Jobs carry the span id that was current on the submitting thread
    * (a local property) or, for micro-batch jobs, the query id and batch
    * id, so run.py can hang them under the right span or trigger. */
  final class Listeners(spark: SparkSession) extends SparkListener {
    final case class Job(id: Int, span: String, queryId: String, batchId: String,
                         start: Double, var end: Double, stages: Seq[Int])
    final case class StageAgg(shuffleRead: Long, shuffleWrite: Long, spill: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    val progress = new ConcurrentLinkedQueue[String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, prop("perfbench.span"),
        prop("sql.streaming.queryId"), prop("streaming.sql.batchId"), nowMs, -1.0,
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = nowMs)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null)
        stages.put(e.stageInfo.stageId, StageAgg(m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }

    val streaming: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    /** Streaming progress is collected in every run (the backfill's
      * visibility latency is made from it); Spark jobs only when traced. */
    def install(jobs: Boolean): Unit = {
      if (jobs) spark.sparkContext.addSparkListener(this)
      spark.streams.addListener(streaming)
    }

    def jobsJson: Seq[String] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val agg = j.stages.flatMap(s => Option(stages.get(s)))
      Json.arr(Seq(j.id.toString, Json.str(j.span), Json.str(j.queryId), Json.str(j.batchId),
        Json.num(j.start), Json.num(j.end), j.stages.size.toString,
        agg.map(_.shuffleRead).sum.toString, agg.map(_.shuffleWrite).sum.toString,
        agg.map(_.spill).sum.toString))
    }
  }

  /** Runs `body` with `perfbench.span` set to the current span id, so jobs
    * it launches are attributed to that span. */
  def attributed[T](spark: SparkSession, tr: Tracer)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", tr.current.toString)
    try body finally sc.setLocalProperty("perfbench.span", prev)
  }

  // ------------------------------------------------------------------ json

  object Json {
    def str(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  }

  // ------------------------------------------------------------- inputs

  val Shards = 4
  val BatchSize = 1000L
  val Keys = 50000
  val Types = 8
  val GroupSize = 100

  val StreamSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("type", StringType),
    StructField("value", LongType), StructField("group", LongType)))

  /** Seeded record generator: Zipf(1.0)-skewed key ranks over [[Keys]]
    * keys, uniform types and values. Key names are fixed per rank, so the
    * shard loads (routing is by key) do not depend on the seed. */
  final class Gen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(Keys)(r => 1.0 / (r + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def key(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, Keys - 1)
    }
    def record(group: Long): Rec = Rec(key(), rnd.nextInt(Types), rnd.nextInt(1000), group)
  }

  final case class Rec(key: Int, tpe: Int, value: Int, group: Long) {
    def pk: String = f"k$key%05d"
    def csv: Array[Byte] =
      s"$pk,t$tpe,$value,$group".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  def put(logDir: String, recs: Seq[Rec]): Unit =
    ShardedLog.putRecords(logDir, Shards, recs.map(r => (r.pk, r.csv)))

  /** Engine, endpoint, stream and views over a fresh metadata directory. */
  def newEngine(spark: SparkSession, dir: Path): KinesisEngine = {
    val eng = new KinesisEngine(spark, dir.resolve("meta").toString)
    eng.addEndpoint("ep", "local", url = dir.resolve("log").toString)
    eng.createStream("events", StreamSchema)
    eng.createContinuousView("v_key", "events",
      _.groupBy("key").agg(count(lit(1)).as("n"), sum("value").as("total")),
      keys = Seq("key"))
    eng.createContinuousView("v_type", "events",
      _.groupBy("type").agg(count(lit(1)).as("n")), keys = Seq("type"))
    eng.createContinuousView("v_group", "events",
        _.groupBy("group").agg(count(lit(1)).as("n")), keys = Seq("group"))
    eng
  }

  def consume(eng: KinesisEngine, backfill: Boolean): Unit =
    if (backfill)
      eng.consumeBackfill("ep", "log", "events", format = "csv", delimiter = ",",
        batchsize = BatchSize, parallelism = Shards)
    else
      eng.consumeBegin("ep", "log", "events", format = "csv", delimiter = ",",
        batchsize = BatchSize, parallelism = Shards, pollMs = LivePollMs)

  /** Output check of the key and type views and the stream table against
    * the records put. Returns mismatch messages. */
  def checkIngest(eng: KinesisEngine, recs: Seq[Rec]): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    val wantKey = recs.groupBy(_.pk).view.mapValues(rs => (rs.size.toLong, rs.map(_.value.toLong).sum)).toMap
    val gotKey = eng.viewTable("v_key").collect().map(r =>
      r.getString(r.fieldIndex("key")) ->
        (r.getLong(r.fieldIndex("n")), r.getLong(r.fieldIndex("total")))).toMap
    if (gotKey != wantKey) {
      val diff = (wantKey.keySet ++ gotKey.keySet).count(k => wantKey.get(k) != gotKey.get(k))
      bad += s"v_key: $diff of ${wantKey.size} keys differ"
    }
    val wantType = recs.groupBy(r => s"t${r.tpe}").view.mapValues(_.size.toLong).toMap
    val gotType = eng.viewTable("v_type").collect().map(r =>
      r.getString(r.fieldIndex("type")) -> r.getLong(r.fieldIndex("n"))).toMap
    if (gotType != wantType) bad += s"v_type: got $gotType want $wantType"
    val rows = eng.streamTable("events").count()
    if (rows != recs.size) bad += s"stream table: $rows rows, ${recs.size} put"
    bad.toSeq
  }

  // --------------------------------------------------------------- workloads

  final class Ctx(val spark: SparkSession, val tr: Tracer, val seed: Long,
                  val seconds: Int, val dataDir: String, val work: Path) {
    val fields = mutable.LinkedHashMap[String, String]()
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()
    def fail(msg: String): Unit = { failed += 1; if (errors.size < 20) errors += msg }
  }

  /** Repeats a set-up step and keeps the last result; the durations (s)
    * land in `setup_reps_s`, whose median stats.py adds to the launch time. */
  def setupReps[T](c: Ctx, reps: Int)(step: Int => T): T = {
    var last: Option[T] = None
    val ds = (0 until reps).map { i =>
      val t0 = nowMs
      last = Some(c.tr("setup.rep")(step(i)))
      (nowMs - t0) / 1000.0
    }
    c.fields("setup_reps_s") = Json.arr(ds.map(Json.num))
    last.get
  }

  /** One `viewTable(v).collect()`; None when the view has no committed
    * delta yet, which the engine reports as PATH_NOT_FOUND (no delta
    * directory) or UNABLE_TO_INFER_SCHEMA (directory without files). */
  def readView(c: Ctx, eng: KinesisEngine, v: String): Option[Array[org.apache.spark.sql.Row]] =
    try Some(c.tr("engine.viewTable")(attributed(c.spark, c.tr)(eng.viewTable(v).collect())))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" || e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        None
    }

  /** Traced runs only: polls `seqnums` every 500 ms until `stop`, recording
    * (time, records behind, max millis behind, call ms); `join()` waits for
    * the poller and stores the polls as `lag_polls`. */
  def lagPoller(c: Ctx, eng: KinesisEngine, stop: AtomicBoolean): () => Unit =
    if (!c.tr.enabled) () => ()
    else {
      val polls = new ConcurrentLinkedQueue[String]()
      val t = new Thread(() => {
        while (!stop.get()) {
          val t0 = nowMs
          try {
            val rows = eng.seqnums.collect()
            val recs = rows.filterNot(_.isNullAt(3)).map(_.getLong(3)).sum
            val ms = (0L +: rows.filterNot(_.isNullAt(4)).map(_.getLong(4)).toSeq).max
            polls.add(Json.arr(Seq(Json.num(t0), recs.toString, ms.toString, Json.num(nowMs - t0))))
          } catch { case _: Throwable => () } // checkpoint files mid-write
          Thread.sleep(500)
        }
      }, "perfbench-lag")
      t.start()
      () => { t.join(); c.fields("lag_polls") = Json.arr(polls.asScala) }
    }

  /** File counts under the view and table stores (per-layer facts). */
  def viewStoreFacts(c: Ctx, eng: KinesisEngine, views: Seq[String]): Unit = {
    def files(p: String): Long = {
      val f = Paths.get(p)
      if (!Files.exists(f)) 0L
      else {
        val s = Files.walk(f)
        try s.iterator().asScala.count(x => Files.isRegularFile(x) &&
          x.getFileName.toString.endsWith(".parquet")).toLong
        finally s.close()
      }
    }
    c.fields("view_delta_files") = views.map(v => files(eng.viewDeltaDir(v))).sum.toString
    c.fields("view_delta_version") =
      views.map(v => Paths.get(eng.viewDeltaDir(v)).getFileName.toString
        .stripPrefix("delta-").toLong).sum.toString
    c.fields("table_files") = files(eng.tableDataDir("events")).toString
  }

  /** Records in the backfill log. Routing by key puts 32.3% of them on the
    * hot shard of the key skew: 6,456 records, seven triggers at batchsize
    * 1000, far enough from a trigger boundary that no seed adds one. */
  val BackfillRecords: Int = 20000

  /** Trigger interval of the live consumer (`consumeBegin`'s pollMs, the
    * engine's analog of the reference's GetRecords pacing). Unpaced, the
    * four queries trigger back to back and keep every core busy, so the
    * live figures would measure CPU contention more than the engine. */
  val LivePollMs: Long = 2500L

  /** The `ingest` workload, in two timed phases on one engine.
    *
    * Backfill: set-up puts a seeded log of [[BackfillRecords]] records and
    * drains a copy of its first 8,000 on a second engine (warm-up); the
    * timed part is one `consumeBackfill` that drains the log.
    *
    * Live: a `consumeBegin` consumer follows the log while one producer
    * thread puts a group of [[GroupSize]] records every 100 ms on a fixed
    * schedule (open loop, 1,000 records/s) and one reader thread calls
    * `viewTable` back to back (closed loop). The window lasts `seconds`.
    *
    * Checks: every group is visible whole in `v_group`, the key and type
    * views equal the generator's counts and sums, and the stream table holds
    * every record put; the backlog at the end of the window is at most one
    * trigger's worth of records. */
  def ingest(c: Ctx): Unit = {
    def seeded(dir: Path, recs: Seq[Rec]): KinesisEngine = {
      c.tr("log.put")(recs.grouped(1000).foreach(put(dir.resolve("log/log").toString, _)))
      c.tr("engine.setup")(newEngine(c.spark, dir))
    }
    val (eng, backlog) = setupReps(c, 3) { i =>
      val gen = new Gen(c.seed)
      val recs = (0 until BackfillRecords).map(j => gen.record(j / GroupSize))
      (seeded(c.work.resolve(s"ingest-$i"), recs), recs)
    }
    // one read of each view before its first trigger: counts the reads that
    // fail because no delta is committed yet (see NOTES.md)
    val notReady = new AtomicLong(0L)
    Seq("v_key", "v_type", "v_group").foreach(v =>
      if (!readView(c, eng, v).isDefined) notReady.incrementAndGet())
    // untimed warm-up: drain two triggers' worth of the log on an engine of
    // its own, so the timed drain measures the write path rather than
    // first-use query planning, code generation and JIT compilation
    val tw = nowMs
    val warmLog = backlog.take(2 * BatchSize.toInt * Shards)
    c.tr("warmup")(consume(seeded(c.work.resolve("ingest-warm"), warmLog), backfill = true))
    c.fields("warmup_ms") = Json.num(nowMs - tw)
    val logDir = c.work.resolve("ingest-2/log/log").toString
    val putRecs = new ConcurrentLinkedQueue[Rec](backlog.asJava)
    c.fields("records") = backlog.size.toString
    c.fields("shards") = Shards.toString
    c.fields("batchsize") = BatchSize.toString
    c.fields("group_size") = GroupSize.toString
    val stop = new AtomicBoolean(false)
    val joinPoller = lagPoller(c, eng, stop)
    val scanned0 = ShardedLog.bytesScanned.get()

    // --- backfill phase
    val t0 = nowMs
    c.fields("begin_start_ms") = Json.num(t0)
    c.attempted += 1
    val cpu0 = cpuMs
    try c.tr("engine.consumeBackfill")(consume(eng, backfill = true))
    catch { case e: Throwable => c.fail(s"drain: $e") }
    c.fields("drain_ms") = Json.num(nowMs - t0)
    c.fields("drain_cpu_ms") = Json.num(cpuMs - cpu0)

    // --- live phase
    val gen = new Gen(c.seed + 1)
    val puts = new ConcurrentLinkedQueue[String]() // [group, due, put start, put end]
    val reads = new ConcurrentLinkedQueue[String]() // [start, end, outcome, [[group, n]]]
    val readErrors = new ConcurrentLinkedQueue[String]()
    def putGroup(g: Long, due: Double): Unit = {
      val recs = (0 until GroupSize).map(_ => gen.record(g))
      val t0 = nowMs
      c.tr("log.put")(put(logDir, recs))
      puts.add(Json.arr(Seq(g.toString, Json.num(due), Json.num(t0), Json.num(nowMs))))
      recs.foreach(putRecs.add)
    }
    // the first live group is in the log before the consumer starts, so every
    // query has data for its first trigger; the window opens when every
    // query has reported that trigger's progress
    val firstGroup = (BackfillRecords + GroupSize - 1) / GroupSize
    putGroup(firstGroup, nowMs)
    val tBegin = nowMs
    c.fields("live_begin_start_ms") = Json.num(tBegin)
    c.tr("engine.consumeBegin")(consume(eng, backfill = false))
    val lastComplete = new AtomicLong(0L)
    val reader = new Thread(() => {
      while (!stop.get()) {
        val t0 = nowMs
        try readView(c, eng, "v_group") match {
          case Some(rows) =>
            val t1 = nowMs
            val pairs = rows.map(r =>
              (r.getLong(r.fieldIndex("group")), r.getLong(r.fieldIndex("n"))))
            reads.add(Json.arr(Seq(Json.num(t0), Json.num(t1), "\"ok\"",
              Json.arr(pairs.map { case (g, n) => s"[$g,$n]" }))))
            lastComplete.set(pairs.count(_._2 == GroupSize).toLong)
          case None =>
            notReady.incrementAndGet()
            reads.add(Json.arr(Seq(Json.num(t0), Json.num(nowMs), "\"not_ready\"", "[]")))
        } catch {
          case e: Throwable =>
            readErrors.add(e.toString.take(300))
            reads.add(Json.arr(Seq(Json.num(t0), Json.num(nowMs), "\"error\"", "[]")))
        }
      }
    }, "perfbench-reader")
    reader.start()
    val firstDeadline = nowMs + 90000.0
    while (nowMs < firstDeadline && !eng.activeQueries.forall(_.lastProgress != null))
      Thread.sleep(5)
    c.fields("live_begin_ms") = Json.num(nowMs - tBegin)
    val windowStart = nowMs
    val windowEnd = windowStart + c.seconds * 1000.0
    c.fields("window_start_ms") = Json.num(windowStart)
    c.fields("timed_end_ms") = Json.num(windowEnd)
    // open loop: group firstGroup + k (k >= 1) is due at windowStart + (k - 1) * 100 ms
    val producer = new Thread(() => {
      var k = 1L
      while (windowStart + (k - 1) * 100.0 < windowEnd) {
        val due = windowStart + (k - 1) * 100.0
        val wait = due - nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
        putGroup(firstGroup + k, due)
        k += 1
      }
    }, "perfbench-producer")
    producer.start()
    producer.join()

    // window end: record the backlog, then let the reader see the last groups
    val lag = c.tr("engine.seqnums")(eng.seqnums.collect())
    c.fields("backlog_records") = lag.map(r =>
      if (r.isNullAt(3)) Long.MaxValue / 8 else r.getLong(3)).sum.toString
    val nGroups = firstGroup + puts.size
    val deadline = nowMs + 60000.0
    while (nowMs < deadline && lastComplete.get() < nGroups) Thread.sleep(20)
    stop.set(true)
    reader.join()
    joinPoller()
    c.fields("bytes_scanned") = (ShardedLog.bytesScanned.get() - scanned0).toString
    c.fields("puts") = Json.arr(puts.asScala)
    c.fields("reads") = Json.arr(reads.asScala)
    c.fields("read_not_ready") = notReady.get().toString

    // final drain (the queries wait on their own trigger clocks, so drain
    // them side by side), then the full output check
    c.tr("engine.processAllAvailable") {
      val ts = eng.activeQueries.map(q => new Thread(() => q.processAllAvailable()))
      ts.foreach(_.start())
      ts.foreach(_.join())
    }
    val groups = eng.viewTable("v_group").collect().map(r =>
      r.getLong(r.fieldIndex("group")) -> r.getLong(r.fieldIndex("n"))).toMap
    val recs = putRecs.asScala.toSeq
    val want = recs.groupBy(_.group).view.mapValues(_.size.toLong).toMap
    val missing = want.count { case (g, n) => !groups.get(g).contains(n) }
    c.attempted += puts.size + reads.size
    if (missing > 0) c.fail(s"v_group: $missing of ${want.size} groups incomplete after drain")
    readErrors.asScala.foreach(c.fail)
    checkIngest(eng, recs).foreach(c.fail)
    viewStoreFacts(c, eng, Seq("v_key", "v_type", "v_group"))
    eng.consumeEndAll()
  }

  val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = {
    import graft.queries._
    Seq("Relational" -> Relational.queries, "Relational2" -> Relational2.queries,
      "Relational3" -> Relational3.queries, "Joins" -> Joins.queries,
      "Aggregates" -> Aggregates.queries, "TimeWindows" -> TimeWindows.queries,
      "Analytics" -> Analytics.queries, "TextAnalysis" -> TextAnalysis.queries,
      "Pipeline" -> Pipeline.queries, "Dedup" -> Dedup.queries,
      "Similarity" -> Similarity.queries, "Media" -> Media.queries)
  }

  /** The batch suite: the middle declared query by name of each module, so
    * that the warm-up and several timed passes fit in one run (the
    * streaming-ingest query is in no module here). */
  lazy val suite: Seq[(String, String, (SparkSession, String) => DataFrame)] =
    Modules.map { case (m, qs) =>
      val all = qs.toSeq.filter(q => graft.SparkEntry.queries.contains(q._1)).sortBy(_._1)
      val (n, f) = all(all.size / 2)
      (m, n, f)
    }

  /** Untimed passes before the timed ones. The first fills the per-JVM
    * `Prebuilt` index memo (one ANN index build takes most of it) and runs
    * 4–6 times as long as a warm pass; the second still runs about 25%
    * slower than the passes after it, which keep speeding up a little as
    * the JIT goes on compiling. */
  val WarmupPasses = 2

  def batchSuite(c: Ctx): Unit = {
    val spark = c.spark
    val resolve = mutable.ArrayBuffer[String]()
    setupReps(c, 3) { _ =>
      graft.Tables.ALL.foreach { t =>
        val t0 = nowMs
        c.tr("tables.resolve")(attributed(spark, c.tr)(graft.Tables(spark, c.dataDir, t)))
        resolve += Json.arr(Seq(Json.str(t), Json.num(nowMs - t0)))
      }
    }
    c.fields("tables_resolve") = Json.arr(resolve)
    def runOne(m: String, n: String, f: (SparkSession, String) => DataFrame): String = c.tr(s"query:$m") {
      spark.catalog.clearCache()
      val t0 = nowMs
      var t1 = t0
      try {
        val df = c.tr(s"construct:$m")(attributed(spark, c.tr)(f(spark, c.dataDir)))
        t1 = nowMs
        val rows = c.tr(s"exec:$m")(attributed(spark, c.tr)(df.count()))
        val t2 = nowMs
        Json.arr(Seq(Json.str(m), Json.str(n), Json.num(t1 - t0), Json.num(t2 - t1),
          rows.toString, "null"))
      } catch {
        case e: Throwable =>
          Json.arr(Seq(Json.str(m), Json.str(n), Json.num(t1 - t0), Json.num(nowMs - t1),
            "-1", Json.str(e.toString.take(300))))
      }
    }
    val t0 = nowMs
    val warm = (1 to WarmupPasses).flatMap(_ =>
      c.tr("warmup")(suite.map { case (m, n, f) => runOne(m, n, f) }))
    c.fields("warmup_ms") = Json.num(nowMs - t0)
    c.fields("warmup_queries") = Json.arr(warm)
    // timed passes fill `seconds`, and there are at least two
    val timedStart = nowMs
    c.fields("timed_start_ms") = Json.num(timedStart)
    val cpu0 = cpuMs
    val jit0 = jitMs
    val gc0 = gcMs
    val out = mutable.ArrayBuffer[String]()
    while (out.size < 2 * suite.size || nowMs - timedStart < c.seconds * 1000.0)
      out ++= c.tr("suite")(suite.map { case (m, n, f) => runOne(m, n, f) })
    c.fields("timed_cpu_ms") = Json.num(cpuMs - cpu0)
    c.fields("timed_jit_ms") = (jitMs - jit0).toString
    c.fields("timed_gc_ms") = (gcMs - gc0).toString
    c.attempted = out.size
    c.fields("timed_end_ms") = Json.num(nowMs)
    c.fields("queries") = Json.arr(out)
  }

  // ------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("oracle-sql")) {
      Files.writeString(Paths.get(args(1)), Json.obj(graft.SparkEntry.oracleSql.toSeq
        .filter(kv => suite.exists(_._2 == kv._1)).sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }))
      return
    }
    val Array(workload, seedS, secondsS, traceS, nprocS, dataDir, workDir, outFile) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = nprocS.toInt
    val work = Paths.get(workDir)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = nowMs
    val tr = new Tracer(traceS == "1")
    val ls = new Listeners(spark)
    ls.install(jobs = tr.enabled)
    val c = new Ctx(spark, tr, seedS.toLong, secondsS.toInt, dataDir, work)
    val gcBefore = gcMs
    try workload match {
      case "ingest" => ingest(c)
      case "batch_suite" => batchSuite(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable => c.attempted = math.max(c.attempted, 1); c.fail(s"workload: $e")
    }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "jvm_start_ms" -> Json.num(jvmStart.toDouble),
      "session_ready_ms" -> Json.num(sessionReady),
      "attempted" -> c.attempted.toString,
      "failed" -> c.failed.toString,
      "errors" -> Json.arr(c.errors.map(Json.str)),
      "gc_ms" -> (gcMs - gcBefore).toString,
      "rss_peak_kb" -> rssPeakKb.toString,
      "spans" -> Json.arr(tr.spans.asScala.toSeq.sortBy(_.id).map(s =>
        Json.arr(Seq(s.id.toString, s.parent.toString, Json.str(s.name),
          Json.num(s.start), Json.num(s.end))))),
      "jobs" -> Json.arr(ls.jobsJson),
      "progress" -> Json.arr(ls.progress.asScala)
    ) ++ c.fields)
    Files.writeString(Paths.get(outFile), doc)
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in KiB. */
  private def rssPeakKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Time the JIT compiler threads have spent compiling, in ms. */
  private def jitMs: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
}
