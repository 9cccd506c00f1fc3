package perfbench

import org.apache.spark.sql.SparkSession

/** A benchmark workload: `setup` starts what a user would start before
  * the first input arrives (its streaming queries, or the fixture scan)
  * and returns the matching stop; `run` measures and checks.
  */
trait Workload {
  def setup(spark: SparkSession, a: Args): () => Unit
  def run(spark: SparkSession, a: Args, tr: Trace): Result
}

object Main {
  val SetupReps = 9

  def workload(name: String): Workload = name match {
    case "cdc-bulk" => CdcBulk
    case "corpus-chain" => CorpusChain
    case "query-mix" => QueryMix
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val w = workload(a.workload)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Out.emit("settings", Session.settings(a, a.cpus) :+ ("workload" -> a.workload): _*)
    // set-up is measured SetupReps times: session up and the workload's
    // queries started; all but the last session are stopped again
    var spark: SparkSession = null
    var firstReady = 0.0
    val phase0 = System.nanoTime()
    val setupTimes = (1 to SetupReps).map { rep =>
      val (stop, s) = Clock.secs {
        spark = Session.build(a, a.cpus)
        w.setup(spark, a)
      }
      if (rep == 1) firstReady = (System.currentTimeMillis() - jvmStart) / 1e3
      stop()
      if (rep < SetupReps) spark.stop()
      s
    }
    val setupPhase = (System.nanoTime() - phase0) / 1e9
    val tr = new Trace(a.trace, spark)
    val res = try w.run(spark, a, tr) finally {
      tr.writeSpans(s"${a.work}/spans.jsonl")
    }
    val rss = Rss.peakMb()
    val e2e = Seq("setup_s" -> (Stats.median(setupTimes), "s"),
      "peak_rss_mb" -> (rss, "MB")) ++ res.e2e
    val layers = if (!a.trace) Nil else res.layers :+
      ("spark.tasks_failed" -> (tr.tracer.totalTasksFailed.toDouble, "count"))
    Out.emit("inputs", res.inputs: _*)
    Out.emit("result",
      "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> (e2e ++ layers).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "checks" -> res.checks.toMap,
      "setup_samples_s" -> setupTimes, "process_to_ready_s" -> firstReady,
      "setup_phase_s" -> setupPhase)
    spark.stop()
    sys.exit(0)
  }
}
