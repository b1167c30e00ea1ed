package graft.perfbench

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import graft.{Downgrades, GraftSession, QueryState, SparkEntry}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set-up, timed passes over a workload's
  * queries, and the correctness-gate dumps. `perfbench/run.py` writes the
  * properties file named by the only argument and reads back the JSON
  * written to its `out` key; all metric arithmetic happens there.
  *
  * Timed passes call only the engine's public entry points
  * (`SparkEntry.queries(name)(spark, dir)` and a forced `noop` write). With
  * `trace=1` the even passes (the cold one included) also run with Spark's
  * public listeners attached and record spans; the odd passes run bare, so
  * the traced-minus-bare pass time is the tracing overhead.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  final case class Span(kind: String, name: String, pass: Int, start: Double, end: Double)

  /** Stored-layout builds, stamped with the time they were seen. The
    * engine's BuildLog carries only name and duration; in trace mode a
    * poller drains it every few milliseconds so a build's span can be
    * placed in time.
    */
  object Builds {
    final case class Item(name: String, sec: Double, endMs: Double)
    private val items = ArrayBuffer[Item]()
    def poll(): Int = synchronized {
      graft.sources.BuildLog.drain().foreach(i => items += Item(i.name, i.sec, nowMs))
      items.size
    }
    def since(mark: Int): Seq[Item] = synchronized { poll(); items.drop(mark).toSeq }
  }

  /** Exact Janino compile-time sum: CodegenMetrics keeps only a sampled
    * histogram, so its reservoir is wrapped to also add every update.
    */
  object Janino {
    val sumMs = new LongAdder
    private var installed = false
    def install(): Unit = synchronized {
      if (!installed) {
        val h = CodegenMetrics.METRIC_COMPILATION_TIME
        val f = classOf[Histogram].getDeclaredField("reservoir")
        f.setAccessible(true)
        val orig = f.get(h).asInstanceOf[Reservoir]
        f.set(h, new Reservoir {
          override def size(): Int = orig.size()
          override def update(v: Long): Unit = { sumMs.add(v); orig.update(v) }
          override def getSnapshot(): Snapshot = orig.getSnapshot()
        })
        installed = true
      }
    }
    def classes: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  private def hotspotMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  /** Spark listeners for one traced pass: jobs, stages, tasks, Catalyst
    * phases and micro-batches, as counters and spans.
    */
  final class Tracer(spark: SparkSession) {
    val spans = new ConcurrentLinkedQueue[Span]()
    @volatile var pass = -1
    private val c = scala.collection.concurrent.TrieMap[String, LongAdder]()
    private def add(k: String, v: Long): Unit = c.getOrElseUpdate(k, new LongAdder).add(v)
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

    private val sparkL = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { s =>
          add("jobs", 1)
          spans.add(Span("job", s"job ${e.jobId}", pass, s.toDouble, e.time.toDouble))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("task_cpu_ns", m.executorCpuTime)
          add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
          add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
          add("spill_b", m.diskBytesSpilled)
          add("input_b", m.inputMetrics.bytesRead)
          add("input_rows", m.inputMetrics.recordsRead)
        }
      }
    }
    private val qeL = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
      private def phases(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (name, ph) =>
          add(s"catalyst_${name}_ms", ph.endTimeMs - ph.startTimeMs)
          spans.add(Span(s"catalyst.$name", name, pass, ph.startTimeMs.toDouble, ph.endTimeMs.toDouble))
        }
    }
    private val streamL = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        add("microbatches", 1)
        add("microbatch_planning_ms", d.getOrElse("queryPlanning", 0L))
        add("microbatch_addbatch_ms", d.getOrElse("addBatch", 0L))
        spans.add(Span("microbatch", s"batch ${p.batchId}", pass, start,
          start + d.getOrElse("triggerExecution", 0L)))
      }
    }

    def attach(p: Int): Unit = {
      pass = p
      c.clear()
      spark.sparkContext.addSparkListener(sparkL)
      spark.listenerManager.register(qeL)
      spark.streams.addListener(streamL)
    }

    /** Waits for queued events, detaches, and returns the pass's counters. */
    def detach(): Map[String, Long] = {
      BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkL)
      spark.listenerManager.unregister(qeL)
      spark.streams.removeListener(streamL)
      c.map { case (k, v) => k -> v.sum }.toMap
    }
  }

  final case class Exec(
      pass: Int, query: String, ok: Boolean, error: String,
      constructS: Double, executeS: Double, releaseS: Double,
      ckptRdds: Int, downgrade: Boolean, builds: Seq[Builds.Item]) {
    def json: Map[String, Any] = Map(
      "pass" -> pass, "query" -> query, "ok" -> ok, "error" -> error,
      "construct_s" -> (if (ok) constructS else null),
      "execute_s" -> (if (ok) executeS else null),
      "release_s" -> releaseS, "ckpt_rdds" -> ckptRdds, "downgrade" -> downgrade,
      "builds" -> builds.size, "build_s" -> builds.map(_.sec).sum)
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try props.load(in) finally in.close()
    def str(k: String): String =
      Option(props.getProperty(k)).getOrElse(sys.error(s"missing property $k"))
    def list(k: String): Seq[String] = str(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val trace     = str("trace") == "1"
    val cores     = str("cores").toInt
    val queries   = list("queries")
    val snapshot  = str("snapshot")
    val seconds   = str("seconds").toDouble
    val minPasses = str("passes.min").toInt
    val root      = str("root")

    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    val sessionReadyMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    val registry = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    def fn(q: String): Query =
      registry.getOrElse(q, (_: SparkSession, _: String) =>
        throw new NoSuchElementException(s"no registered query $q"))
    def msg(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

    // Set-up: warm-up queries outside the workload, then the queries that
    // build the stored layouts the workload reads, each repetition under a
    // fresh cache root so its builds really run. The timed passes use the
    // last repetition's root.
    val setupErrors = ArrayBuffer[String]()
    val reps = (0 until str("setup.reps").toInt).map { r =>
      val cacheRoot = s"$root/cache$r"
      new java.io.File(cacheRoot).mkdirs()
      System.setProperty("java.io.tmpdir", cacheRoot)
      val mark = Builds.poll()
      val t0 = nowMs
      (list("warmup") ++ list("prebuild")).foreach { q =>
        try force(fn(q)(spark, snapshot))
        catch { case e: Throwable => setupErrors += s"$q: ${msg(e)}" }
        QueryState.release(spark)
      }
      val sec = (nowMs - t0) / 1e3
      val built = Builds.since(mark)
      if (r > 0) deleteTree(new java.io.File(s"$root/cache${r - 1}"))
      Map("s" -> sec, "builds" -> built.size, "build_s" -> built.map(_.sec).sum)
    }

    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_ => Janino.install())
    @volatile var polling = trace
    val poller = new Thread(() => while (polling) { Builds.poll(); Thread.sleep(5) })
    poller.setDaemon(true)
    if (trace) poller.start()

    val execs = ArrayBuffer[Exec]()
    val passes = ArrayBuffer[Map[String, Any]]()
    val harnessSpans = ArrayBuffer[Span]()

    /** One pass over the workload's queries; returns its wall seconds. */
    def runPass(p: Int): Double = {
      val traced = tracer.isDefined && p % 2 == 0
      if (traced) tracer.get.attach(p)
      val gc0 = gcMs; val hs0 = hotspotMs
      val jan0 = Janino.sumMs.sum; val cls0 = Janino.classes
      val ps = nowMs
      queries.foreach { q =>
        val mark = Builds.poll()
        val rdd0 = if (traced) sc.getPersistentRDDs.size else 0
        if (traced) Downgrades.last = None
        val qs = nowMs
        var cEnd = qs; var eEnd = qs; var rdds = 0
        val err =
          try {
            val df = fn(q)(spark, snapshot)
            cEnd = nowMs
            if (traced) rdds = sc.getPersistentRDDs.size - rdd0
            force(df)
            eEnd = nowMs
            null
          } catch { case e: Throwable => msg(e) }
        QueryState.release(spark)
        val rEnd = nowMs
        val ok = err == null
        if (!ok) { cEnd = rEnd; eEnd = rEnd }
        execs += Exec(p, q, ok, err, (cEnd - qs) / 1e3, (eEnd - cEnd) / 1e3,
          (rEnd - eEnd) / 1e3, rdds, traced && Downgrades.last.nonEmpty, Builds.since(mark))
        if (traced) harnessSpans ++= Seq(
          Span("query", q, p, qs, rEnd), Span("construct", q, p, qs, cEnd),
          Span("execute", q, p, cEnd, eEnd), Span("release", q, p, eEnd, rEnd))
      }
      val pe = nowMs
      val layers = tracer.filter(_ => traced).map { t =>
        harnessSpans += Span("pass", s"pass $p", p, ps, pe)
        t.detach() ++ Map(
          "gc_ms" -> (gcMs - gc0), "hotspot_compile_ms" -> (hotspotMs - hs0),
          "janino_ms" -> (Janino.sumMs.sum - jan0), "janino_classes" -> (Janino.classes - cls0))
      }
      passes += Map("pass" -> p, "wall_s" -> (pe - ps) / 1e3, "traced" -> traced,
        "start_ms" -> ps, "end_ms" -> pe, "layers" -> layers.orNull)
      (pe - ps) / 1e3
    }

    // Correctness gate, untimed, between the cold pass and the warm ones
    // (so it also evens out the JIT state the warm passes start from):
    // every query's result is written once; a query with no oracle, or one
    // that fired a guard downgrade, is written a second time so run.py can
    // check it is non-empty and repeatable. Oracle SQL goes beside the
    // dumps for the DuckDB compare. Part files are read back in name
    // order, which keeps a sorted result's order without funnelling it
    // through one task.
    val gateDir = str("gate.dir")
    def runGate(): Seq[Map[String, Any]] = queries.map { q =>
      Downgrades.last = None
      def dump(sub: String): Unit = {
        fn(q)(spark, snapshot).write.mode("overwrite").parquet(s"$gateDir/$sub/$q")
        QueryState.release(spark)
      }
      try {
        dump("first")
        val downgrade = Downgrades.last.nonEmpty
        val oracle = oracles.contains(q) && !downgrade
        if (!oracle) dump("second")
        Map("query" -> q, "ok" -> true, "downgrade" -> downgrade, "oracle" -> oracle)
      } catch {
        case e: Throwable =>
          QueryState.release(spark)
          Map("query" -> q, "ok" -> false, "error" -> msg(e))
      }
    }

    val timedStart = nowMs
    var timedS = runPass(0)
    val gateStart = nowMs
    val gate = runGate()
    val gateS = (nowMs - gateStart) / 1e3
    val checked = gate.filter(_.getOrElse("oracle", false) == true).map(_("query").toString)
    write(s"$gateDir/first/oracle_sql.json", Json(checked.map(q => q -> oracles(q)).toMap))
    while (passes.size < minPasses || timedS < seconds) timedS += runPass(passes.size)
    polling = false
    val cacheRoot = new java.io.File(sys.props("java.io.tmpdir"))
    val layoutBytes = Option(cacheRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft-")).map(sizeOf).sum

    val spans = harnessSpans.toSeq ++
      tracer.toSeq.flatMap(_.spans.asScala) ++
      Builds.since(0).filter(b => b.endMs >= timedStart).map(b =>
        Span("layout_build", b.name, -1, b.endMs - b.sec * 1e3, b.endMs))
    spark.stop()
    write(str("out"), Json(Map(
      "session_ready_ms" -> sessionReadyMs,
      "setup_reps" -> reps,
      "setup_errors" -> setupErrors.toSeq,
      "passes" -> passes.toSeq,
      "execs" -> execs.toSeq.map(_.json),
      "layout_bytes" -> layoutBytes,
      "gate" -> gate,
      "gate_s" -> gateS,
      "spans" -> spans.map(s => Map("kind" -> s.kind, "name" -> s.name,
        "pass" -> s.pass, "start" -> s.start, "end" -> s.end)))))
  }

  private def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def sizeOf(f: java.io.File): Long =
    if (f.isFile) f.length else Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf).sum

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  private def write(path: String, s: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)
    ()
  }
}

/** Minimal JSON encoder for the harness's output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None       => "null"
    case Some(x)           => apply(x)
    case s: String         => quote(s)
    case b: Boolean        => b.toString
    case i: Int            => i.toString
    case l: Long           => l.toString
    case d: Double         => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]    => s.map(apply).mkString("[", ",", "]")
    case other             => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c            => c.toString
  } + "\""
}
