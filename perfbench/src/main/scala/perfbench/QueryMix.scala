package perfbench

import graft.{Q, SparkEntry}
import org.apache.spark.sql.SparkSession

/** `query-mix`: one closed-loop client over the fixed fixture, one pass
  * over the twelve queries in a fixed order, `clearCache` between
  * queries as `graft.Bench` does. The pass is the process's first
  * execution of every query, and the order is fixed, not drawn from the
  * seed: an earlier query pays for warming code later ones share (the two
  * WordPiece queries differ by 5 s on which of them comes first), and a
  * varying order moved that cost between queries from run to run. Each query is timed materialising its
  * whole result as parquet — the output the checks read — rather than
  * into `noop`: a pass costs about three times a run's seconds on four
  * cores, so the run times one pass and checks that same pass instead
  * of paying for a second one.
  */
object QueryMix extends Workload {
  val Names: Seq[String] = Seq("q04_join_inner", "q11_agg_tpch_q1",
    "q17_window_ranks", "q118_cdc_merge_fastpath", "q132_binlog_txn_payload",
    "q41_dedup_jaccard", "q79_dedup_components", "q247_pipeline_curation_v3",
    "q211_wordpiece_vocab", "q212_wordpiece_encode", "q178_graph_pagerank",
    "q226_image_dedup")

  def queries: Seq[Q] = {
    val byName = SparkEntry.corpus.map(q => q.name -> q).toMap
    Names.map(n => byName.getOrElse(n, sys.error(s"query $n is not declared")))
  }

  def setup(spark: SparkSession, a: Args): () => Unit = {
    graft.Tables.names.foreach(t => spark.read.parquet(s"${a.fixture}/$t.parquet").schema)
    () => ()
  }

  /** One pass: per-query seconds (None when the query failed). */
  private def pass(spark: SparkSession, a: Args, tr: Trace, order: Seq[Q], dir: String)
      : Seq[(String, Option[Double])] = order.map { q =>
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    sc.setJobDescription(q.name)
    try {
      val (_, s) = tr.label(s"q.${q.name}")(tr.span(q.name, q.name)(Clock.secs(
        q.fn(spark, a.fixture).write.mode("overwrite").parquet(s"$dir/${q.name}"))))
      q.name -> Some(s)
    } catch { case e: Throwable =>
      Out.log(s"${q.name} failed: $e"); q.name -> None
    } finally sc.setJobDescription(null)
  }

  def run(spark: SparkSession, a: Args, tr: Trace): Result = {
    val verifyDir = s"${a.work}/verify"
    val (times, wall) = Clock.secs(pass(spark, a, tr, queries, verifyDir))
    val oracle = queries.flatMap(q => q.oracle.map(q.name -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$verifyDir/oracle_sql.json"),
      Out.json(oracle))
    val ok = times.collect { case (n, Some(t)) => n -> t }.toMap
    val total = ok.values.sum
    val geo = if (ok.isEmpty) Double.NaN else Stats.geomean(ok.values.toSeq)
    val perLayer = if (!a.trace) Nil else {
      val overhead = tr.overheadRatio(wall)
      Names.flatMap { n =>
        val c = tr.tracer.get(s"q.$n")
        Seq(s"q.$n.s" -> (ok.getOrElse(n, Double.NaN), "s"),
          s"q.$n.jobs" -> (c.jobs.toDouble, "count"),
          s"q.$n.cpu_s" -> (c.cpuNs / 1e9, "s"),
          s"q.$n.shuffle_bytes" -> (c.shuffleWrite.toDouble, "B"))
      } :+ ("trace.overhead_ratio" -> (overhead, "ratio"))
    }
    Result(attempted = Names.size, failed = times.count(_._2.isEmpty).toLong,
      e2e = Seq(
        "work_per_s" -> (ok.size / total, "1/s"),
        "latency_s" -> (geo, "s"),
        "mix_total_s" -> (total, "s"),
        "mix_geomean_s" -> (geo, "s")),
      layers = perLayer,
      inputs = Seq("queries" -> Names.size, "order" -> Names,
        "query_s" -> times.map { case (n, t) => n -> t.getOrElse(Double.NaN) }.toMap,
        "measured_s" -> wall),
      checks = Seq.empty)
  }
}

/** One workload's measured outcome, before run.py adds its own checks. */
final case class Result(attempted: Long, failed: Long,
    e2e: Seq[(String, (Double, String))],
    layers: Seq[(String, (Double, String))],
    inputs: Seq[(String, Any)],
    checks: Seq[(String, Boolean)])
