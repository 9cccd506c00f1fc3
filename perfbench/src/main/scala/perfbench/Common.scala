package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Command-line arguments of one benchmark run (see run.py). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, fixture: String, cpus: Int, mem: String,
    scale: String, fault: String) {
  def tiny: Boolean = scale == "tiny"
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("work"), m.getOrElse("fixture", ""),
      get("cpus").toInt, get("mem"), m.getOrElse("scale", "full"),
      m.getOrElse("fault", "none"))
  }
}

/** Output protocol: every line the wrapper reads starts with `PERFBENCH `
  * and carries one JSON object.
  */
object Out {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => q(o.toString)
  }

  def emit(kind: String, fields: (String, Any)*): Unit = {
    println("PERFBENCH " + json(mutable.LinkedHashMap(("kind" -> kind) +: fields: _*)))
    Console.flush()
  }

  def log(msg: String): Unit = { System.err.println(s"[perfbench] $msg"); System.err.flush() }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)
}

/** Peak resident set of this JVM, from /proc (VmHWM). */
object Rss {
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

object Session {
  /** The pinned session: local[cpus], shuffle partitions = cpus, UTC,
    * every scratch directory inside the run's work directory.
    */
  def build(a: Args, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def settings(a: Args, cpus: Int): Seq[(String, Any)] = Seq(
    "master" -> s"local[$cpus]", "shuffle_partitions" -> cpus,
    "time_zone" -> "UTC", "driver_heap" -> a.mem, "seed" -> a.seed)
}

/** Listener-side counters, attributed to a label: the `perfbench.label`
  * local property the benchmark sets around each layer or query (inherited
  * by streaming query threads started under it), else a
  * `graft.chain <stage>` job description, else "unlabeled".
  */
final class LabelCounters {
  var jobs = 0L
  var tasksFailed = 0L
  var runNs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var outputRecords = 0L
}

/** A recorded span: trigger or query → Spark job, sharing `id`. */
final case class Span(id: String, name: String, parent: String,
    startMs: Long, endMs: Long)

final class Tracer extends SparkListener {
  val byLabel = mutable.LinkedHashMap.empty[String, LabelCounters]
  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val jobLabel = mutable.HashMap.empty[Int, (String, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var parentSpan: String = "none"
  /** Time spent inside this listener's callbacks: the tracing cost. */
  var callbackNs = 0L

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    callbackNs += System.nanoTime() - t0
  }

  private def labelOf(p: java.util.Properties): String = {
    val l = Option(p).flatMap(x => Option(x.getProperty("perfbench.label")))
    val d = Option(p).flatMap(x => Option(x.getProperty("spark.job.description")))
    d.filter(_.startsWith("graft.chain ")).map(_.stripPrefix("graft.chain ")).map { s =>
      if (s.startsWith("stage-")) "chain.staging"
      else if (s.startsWith("admit-checkpoint")) "chain.admit-checkpoint"
      else "chain." + s
    }.orElse(l).getOrElse("unlabeled")
  }

  private def counters(l: String) = byLabel.getOrElseUpdate(l, new LabelCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val l = labelOf(e.properties)
    counters(l).jobs += 1
    e.stageIds.foreach(stageLabel(_) = l)
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .getOrElse(parentSpan)
    jobLabel(e.jobId) = (l + "|" + parent, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobLabel.remove(e.jobId).foreach { case (lp, t0) =>
      val Array(l, parent) = lp.split("\\|", 2)
      spans += Span(s"job-${e.jobId}", l, parent, t0, e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val c = counters(stageLabel.getOrElse(e.stageId, "unlabeled"))
    e.reason match {
      case org.apache.spark.Success => ()
      case _ => c.tasksFailed += 1
    }
    val m = e.taskMetrics
    if (m != null) {
      c.runNs += m.executorRunTime * 1000000L
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  def get(l: String): LabelCounters = synchronized(byLabel.getOrElse(l, new LabelCounters))

  def reset(): Unit = synchronized { byLabel.clear(); spans.clear(); callbackNs = 0 }

  def totalTasksFailed: Long = synchronized(byLabel.values.map(_.tasksFailed).sum)
}

/** Streaming-progress totals across all queries of a run. */
final class Progress extends StreamingQueryListener {
  var addBatchMs = 0L
  var walCommitMs = 0L
  var planningMs = 0L
  var queueWaitMs = 0L
  val stateCommitMs = mutable.HashMap.empty[java.util.UUID, Long]
  val lastStateRows = mutable.HashMap.empty[java.util.UUID, Long]
  private val observedSums = mutable.HashMap.empty[String, Long]
  var callbackNs = 0L
  private val adds = mutable.ArrayBuffer.empty[Long]

  /** Records the moment new input became available to the queries. */
  def noteAdd(): Unit = synchronized { adds += System.currentTimeMillis() }

  def observed(name: String): Long = synchronized(observedSums.getOrElse(name, 0L))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val t0 = System.nanoTime()
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      addBatchMs += ms("addBatch")
      walCommitMs += ms("walCommit")
      planningMs += ms("queryPlanning")
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      adds.filter(_ <= start).lastOption.foreach(t => queueWaitMs += start - t)
      lastStateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
      stateCommitMs(p.id) = stateCommitMs.getOrElse(p.id, 0L) +
        p.stateOperators.map(_.commitTimeMs).sum
      p.observedMetrics.forEach { (k, row) =>
        observedSums(k) = observedSums.getOrElse(k, 0L) + row.getLong(0)
      }
    }
    callbackNs += System.nanoTime() - t0
  }

  def reset(): Unit = synchronized {
    addBatchMs = 0; walCommitMs = 0; planningMs = 0
    queueWaitMs = 0; callbackNs = 0
    stateCommitMs.clear(); lastStateRows.clear(); observedSums.clear(); adds.clear()
  }
}

/** Tracing hooks for one run: a no-op unless the run is traced. */
final class Trace(val on: Boolean, spark: SparkSession) {
  val tracer = new Tracer
  val progress = new Progress
  if (on) {
    spark.sparkContext.addSparkListener(tracer)
    spark.streams.addListener(progress)
  }

  def drain(): Unit =
    if (!spark.sparkContext.isStopped) PerfbenchBus.drain(spark.sparkContext)

  /** The tracing cost of traced work that took `wallS` seconds: the time
    * the listeners spent in their callbacks, as a share of it.
    */
  def overheadRatio(wallS: Double): Double = {
    drain()
    (tracer.callbackNs + progress.callbackNs) / 1e9 / wallS
  }

  def label[T](l: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.label")
    sc.setLocalProperty("perfbench.label", l)
    try f finally sc.setLocalProperty("perfbench.label", prev)
  }

  /** A named span around `f`; Spark jobs it starts record it as parent. */
  def span[T](id: String, name: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.span", id)
    tracer.parentSpan = id
    try f finally {
      sc.setLocalProperty("perfbench.span", null)
      tracer.parentSpan = "none"
      if (on) tracer.synchronized {
        tracer.spans += Span(id, name, "run", t0, System.currentTimeMillis())
      }
    }
  }

  /** Writes the in-memory spans as JSON lines at the end of the run. */
  def writeSpans(path: String): Unit = if (on) {
    drain()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try tracer.synchronized {
      tracer.spans.foreach { s =>
        w.println(Out.json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      }
    } finally w.close()
  }
}

/** Timing helpers. */
object Clock {
  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
