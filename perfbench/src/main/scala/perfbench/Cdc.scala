package perfbench

import graft.cdc.{CdcConfig, InstanceCfg, MqCfg, MqDecl, RedisCfg}
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** The in-process queue client of the benchmark's MQ: counts pushes per
  * topic. `dropOne` plants a fault: one push is silently lost.
  */
object CountingQueue {
  val counts = new ConcurrentHashMap[String, AtomicLong]()
  @volatile var dropOne = false
  private val dropped = new AtomicBoolean(false)

  def reset(): Unit = { counts.clear(); dropped.set(false) }

  def total: Long = { var n = 0L; counts.values.forEach(c => n += c.get); n }

  def snapshot: Map[String, Long] = {
    val m = Map.newBuilder[String, Long]
    counts.forEach((k, v) => m += k -> v.get)
    m.result()
  }

  def client(m: MqDecl): () => (String, String) => Unit = () => (topic: String, _: String) =>
    if (!(dropOne && dropped.compareAndSet(false, true)))
      counts.computeIfAbsent(topic, _ => new AtomicLong()).incrementAndGet()
}

/** The composed CDC chain of the program, cut after any layer. */
object CdcChain {
  val Mq = "bench_mq"
  val Config: CdcConfig = CdcConfig(
    mqs = Seq(MqDecl(Mq, MqCfg(REDIS = Some(RedisCfg("in-process"))))),
    instances = Seq(
      InstanceCfg(mq = Mq, schemas = "shop", tables = "orders", topic = "orders"),
      InstanceCfg(mq = Mq, schemas = "sh*", tables = "*", topic = "shop_all"),
      InstanceCfg(mq = Mq, schemas = "audit*", tables = "*", topic = "audit")))
  /** Topics every row event reaches (the "audit" instance matches none). */
  val Topics: Seq[String] = Seq("orders", "shop_all")
  val Bootstrap = Map((Orders.Db, Orders.Table) -> Orders.Cols)
  val Layers: Seq[String] = Seq("reassembly", "session", "txn", "schema", "envelope",
    "route", "sink", "changes", "merge")
  val Stateful: Set[String] = Set("reassembly", "session", "txn", "schema")

  final case class Cut(packets: Dataset[WirePacket], events: Dataset[SessionEvent],
      txn: Dataset[TxnEvent], schema: Dataset[SchemaEvent], envelopes: DataFrame) {
    def routed: DataFrame = graft.streaming.Pipeline.routedRecords(envelopes, Config.routingInstances)
  }

  def cut(chunks: Dataset[ByteChunk]): Cut = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val packets = PacketReassembly.reassemble(chunks)
    val events = ReplicaStream.events(packets, Wire.Config)
    val txn = TxnStream.assembleCommitted(TxnStream.expandPayloads(events))
    val schema = SchemaStream.withSchema(
      txn.map(t => SessionEvent(t.session, t.ordinal, t.event)), Bootstrap)
    Cut(packets, events, txn, schema,
      graft.streaming.Pipeline.envelopesFromWire(schema, pkName = "o_orderkey"))
  }

  /** Change rows exploded from every image of every envelope. */
  def changes(envelopes: DataFrame): DataFrame =
    envelopes.select(col("id"), col("type"), posexplode(col("data")).as(Seq("pos", "m")))
      .select(Seq((col("id") * 4096L + col("pos")).as("cid"), col("type"),
        element_at(col("m"), "o_orderkey").cast("long").as("pk")) ++
        Orders.AllNames.map(n => element_at(col("m"), n).as(n)): _*)

  /** The two queries of the design: the configured MQ sink, and the
    * latest-image snapshot, each re-running the decode prefix.
    */
  final case class Running(sink: StreamingQuery, merge: StreamingQuery, snapDir: String) {
    def all: Seq[StreamingQuery] = Seq(sink, merge)
    def stop(): Unit = all.foreach(_.stop())
  }

  def startFull(feed: Feed, dir: String, observe: Boolean): Running = {
    val sink = graft.streaming.Pipeline.fromConfig(cut(feed.sink).envelopes, Config,
      s"$dir/mq", CountingQueue.client).queues.head._2
    val ch = changes(cut(feed.merge).envelopes)
    val ch2 = if (observe) ch.observe("changes", count(lit(1)).as("n")) else ch
    val merge = CdcSnapshot.start(ch2, Seq("pk"), "cid", s"$dir/snap", s"$dir/snap-ckpt",
      outputMode = "append")
    Running(sink, merge, s"$dir/snap")
  }

  /** (rows, checksum) of the published snapshot, hashed like the model. */
  def snapshotChecksum(spark: SparkSession, snapDir: String): (Long, Long) = {
    import spark.implicits._
    val names = Orders.AllNames
    CdcSnapshot.read(spark, snapDir).select(names.map(n => col(n).cast("string")): _*)
      .map(r => Orders.imageHash(names.indices.map(i => if (r.isNullAt(i)) null else r.getString(i))))
      .as[Long].rdd.aggregate((0L, 0L))({ case ((n, s), h) => (n + 1, s + h) },
        { case ((a, b), (c, d)) => (a + c, b + d) })
  }

  /** Output checks of one delivery against the generator's model. */
  def check(spark: SparkSession, r: Running, in: CdcInput, delivered: Int)
      : Seq[(String, Boolean)] = {
    val (n, sum) = snapshotChecksum(spark, r.snapDir)
    val (en, esum) = Orders.modelChecksum(in.modelAfter(delivered))
    val got = CountingQueue.snapshot
    val events = in.rowEventsAfter(delivered)
    val queueOk = Topics.forall(t => got.getOrElse(t, 0L) == events) && got.size == Topics.size
    if (n != en || sum != esum)
      Out.log(s"snapshot mismatch: $n rows (checksum $sum), model $en rows ($esum)")
    if (!queueOk)
      Out.log(s"queue counts $got, expected $events on each of ${Topics.mkString(",")}")
    Seq("snapshot.latest_image" -> (n == en && sum == esum), "queue.per_topic_counts" -> queueOk)
  }

  def deliver(feed: Feed, qs: Seq[StreamingQuery], chunks: Seq[ByteChunk],
      p: Progress): Double = {
    val (_, s) = Clock.secs {
      feed.add(chunks); p.noteAdd(); qs.foreach(_.processAllAvailable())
    }
    s
  }
}

/** The replica byte stream, delivered identically to the sink query and
  * to the merge query: each reads its own source (an in-memory source
  * serves one reader), fed the same chunks at the same moment.
  */
final class Feed(spark: SparkSession) {
  import spark.implicits._
  private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val a = MemoryStream[ByteChunk]
  private val b = MemoryStream[ByteChunk]
  def sink: Dataset[ByteChunk] = a.toDS()
  def merge: Dataset[ByteChunk] = b.toDS()

  /** Adds `chunks` to both sources; returns the new source offset. */
  def add(chunks: Seq[ByteChunk]): Long = {
    val o = a.addData(chunks)
    b.addData(chunks)
    o.json().toLong
  }
}

/** `cdc-bulk`: closed-loop bulk import over nproc sessions, one delivery
  * per trigger, until the run's seconds are spent.
  */
object CdcBulk extends Workload {
  /** Equal deliveries; the first is the untimed warm-up. */
  def input(a: Args): CdcInput =
    if (a.tiny) BulkGen(a.seed, 2, IndexedSeq.fill(3)(1000), txnRows = 500,
      eventRows = 50, corrupt = a.fault == "corrupt-image")
    else BulkGen(a.seed, a.cpus, IndexedSeq.fill(4)(6000), txnRows = 1000,
      eventRows = 100, corrupt = a.fault == "corrupt-image")

  private var seq = 0
  private def fresh(a: Args, what: String): String = { seq += 1; s"${a.work}/$what-$seq" }

  def setup(spark: SparkSession, a: Args): () => Unit = {
    val r = CdcChain.startFull(new Feed(spark), fresh(a, "setup"), observe = false)
    () => r.stop()
  }

  def run(spark: SparkSession, a: Args, tr: Trace): Result = {
    val (in, genS) = Clock.secs(input(a))
    CountingQueue.dropOne = a.fault == "drop-push"
    if (a.trace) return traced(spark, a, in, tr, genS)
    // tranche 0 is the untimed warm-up: the chain's first trigger generates
    // and compiles its code, a cost paid once per process; the timed
    // tranches follow until the run's seconds are spent
    val (ts, ck) = round(spark, a, in, tr, "cdc.full",
      done => done.size < 2 || done.tail.sum < a.seconds)
    val timed = ts.tail
    Result(attempted = timed.size, failed = 0,
      e2e = e2e(in.trancheRows.slice(1, ts.size).sum, in.trancheBytes.slice(1, ts.size).sum,
        timed),
      layers = Nil,
      inputs = in.describe(ts.size) ++ Seq("warmup_tranche_s" -> ts.head,
        "tranche_s" -> timed, "generate_s" -> genS),
      checks = ck)
  }

  private def e2e(rows: Long, bytes: Long, timed: Seq[Double]) = {
    val rowsPerS = rows / timed.sum
    Seq("work_per_s" -> (rowsPerS, "1/s"),
      "latency_s" -> (Stats.median(timed), "s"),
      "rows_per_s" -> (rowsPerS, "rows/s"),
      "binlog_mb_per_s" -> (bytes / 1e6 / timed.sum, "MB/s"))
  }

  /** One import into a fresh pair of queries: tranches are delivered in
    * order while `more(seconds of the tranches so far)` holds; returns the
    * per-tranche seconds and the output checks against the model of the
    * delivered prefix.
    */
  private def round(spark: SparkSession, a: Args, in: CdcInput, tr: Trace, label: String,
      more: Seq[Double] => Boolean): (IndexedSeq[Double], Seq[(String, Boolean)]) = {
    val ds = in.tranches
    CountingQueue.reset()
    val feed = new Feed(spark)
    val r = tr.label(label)(CdcChain.startFull(feed, fresh(a, "round"), observe = false))
    try {
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (times.size < ds.size && more(times.toSeq)) {
        val i = times.size
        times += tr.span(s"$label-tranche-$i", "tranche")(
          CdcChain.deliver(feed, r.all, ds(i), tr.progress))
      }
      (times.toIndexedSeq, CdcChain.check(spark, r, in, times.size))
    } finally r.stop()
  }

  /** The traced run: the ladder (its full-chain rung is checked), then the
    * single-thread baseline.
    */
  private def traced(spark: SparkSession, a: Args, in: CdcInput, tr: Trace, genS: Double)
      : Result = {
    val (lad, fullS, overhead, ck) = ladder(spark, a, in, tr)
    val p = tr.progress
    val stream = Seq("stream.addBatch_s" -> (p.addBatchMs / 1e3, "s"),
      "stream.walCommit_s" -> (p.walCommitMs / 1e3, "s"),
      "stream.planning_s" -> (p.planningMs / 1e3, "s"),
      "stream.queue_wait_s" -> (p.queueWaitMs / 1e3, "s"))
    val (single, singleCk) = singleThread(spark, a, in)
    Result(attempted = 1, failed = 0,
      e2e = e2e(in.trancheRows(1), in.trancheBytes(1), Seq(fullS)),
      layers = lad ++ stream ++ Seq(
        "trace.overhead_ratio" -> (overhead, "ratio"),
        "cdc.single_thread_rows_per_s" -> (single, "rows/s")),
      inputs = in.describe(2) ++ Seq("generate_s" -> genS),
      checks = ck ++ singleCk.map { case (k, v) => s"single_thread.$k" -> v })
  }

  /** The traced prefix ladder over the run's first two deliveries: each
    * rung adds one layer to the previous rung's queries and ends in a
    * `noop` sink, except where the real query is the rung. Up to `sink`
    * the rungs cut the sink query's chain; `changes` runs the real sink
    * query beside the merge query's own re-run of the prefix, exploded into
    * change rows; `merge` runs both real queries. A layer's self time is
    * its rung's time minus the previous rung's. Returns the layer metrics,
    * the full chain's timed seconds, the tracing overhead over the whole
    * ladder, and the full chain's output checks.
    */
  private def ladder(spark: SparkSession, a: Args, in: CdcInput, tr: Trace)
      : (Seq[(String, (Double, String))], Double, Double, Seq[(String, Boolean)]) = {
    final case class Rung(time: Double, rowsOut: Double, stateRows: Double, stateCommit: Double,
        cpu: Double, shuffle: Double, written: Double)
    def noop(df: DataFrame): StreamingQuery =
      df.observe("rows_out", count(lit(1)).as("n")).writeStream.format("noop")
        .outputMode("append").option("checkpointLocation", fresh(a, "ladder-ckpt")).start()
    def sinkQuery(c: CdcChain.Cut): StreamingQuery =
      graft.streaming.Pipeline.fromConfig(c.envelopes, CdcChain.Config,
        fresh(a, "ladder-mq"), CountingQueue.client).queues.head._2
    val deliveries = in.tranches.take(2)
    var checks = Seq.empty[(String, Boolean)]
    val (rungs, wall) = Clock.secs(CdcChain.Layers.map { layer =>
      val label = s"cdc.$layer"
      CountingQueue.reset()
      tr.progress.reset()
      val feed = new Feed(spark)
      val (qs, stop) = tr.label(label) {
        val c = CdcChain.cut(feed.sink)
        def one(q: StreamingQuery) = (Seq(q), () => q.stop())
        layer match {
          case "reassembly" => one(noop(c.packets.toDF()))
          case "session" => one(noop(c.events.toDF()))
          case "txn" => one(noop(c.txn.toDF()))
          case "schema" => one(noop(c.schema.toDF()))
          case "envelope" => one(noop(c.envelopes))
          case "route" => one(noop(c.routed))
          case "sink" => one(sinkQuery(c))
          case "changes" =>
            val qs = Seq(sinkQuery(c),
              noop(CdcChain.changes(CdcChain.cut(feed.merge).envelopes)))
            (qs, () => qs.foreach(_.stop()))
          case "merge" =>
            val r = CdcChain.startFull(feed, fresh(a, "ladder-full"), observe = true)
            (r.all, () => { checks = CdcChain.check(spark, r, in, deliveries.size); r.stop() })
        }
      }
      // delivery 0 warms the rung's own plan and is not counted
      val time = try deliveries.zipWithIndex.map { case (t, i) =>
        tr.span(s"$label-tranche-$i", "tranche")(CdcChain.deliver(feed, qs, t, tr.progress))
      }.tail.sum finally stop()
      tr.drain()
      val c = tr.tracer.get(label)
      val p = tr.progress
      val rowsOut = layer match {
        case "sink" => CountingQueue.total.toDouble
        case "merge" => p.observed("changes").toDouble
        case _ => p.observed("rows_out").toDouble
      }
      layer -> Rung(time, rowsOut, p.lastStateRows.values.sum.toDouble,
        p.stateCommitMs.values.sum / 1e3, c.cpuNs / 1e9, c.shuffleWrite.toDouble,
        c.outputRecords.toDouble)
    })
    val overhead = tr.overheadRatio(wall)
    val zero = Rung(0, 0, 0, 0, 0, 0, 0)
    val prevOf = CdcChain.Layers.zip(zero +: rungs.map(_._2)).toMap
    val metrics = rungs.flatMap { case (layer, r) =>
      val prev = prevOf(layer)
      val base = Seq(
        s"cdc.$layer.self_s" -> (r.time - prev.time, "s"),
        s"cdc.$layer.cpu_s" -> (r.cpu - prev.cpu, "s"),
        s"cdc.$layer.rows_out" -> (r.rowsOut, "count"),
        s"cdc.$layer.shuffle_bytes" -> (r.shuffle - prev.shuffle, "B"))
      val state = if (!CdcChain.Stateful(layer)) Nil else Seq(
        s"cdc.$layer.state_rows" -> (r.stateRows - prev.stateRows, "count"),
        s"cdc.$layer.state_commit_s" -> (r.stateCommit - prev.stateCommit, "s"))
      val amp = if (layer != "merge") Nil
        else Seq("cdc.merge.write_amp" -> (r.written / r.rowsOut.max(1), "ratio"))
      base ++ state ++ amp
    }
    (metrics, rungs.last._2.time, overhead, checks)
  }

  /** Rows/s of the timed delivery of the ladder's input on a local[1]
    * session, and its checks; it replaces the run's session, so it comes
    * last.
    */
  private def singleThread(spark: SparkSession, a: Args, in: CdcInput)
      : (Double, Seq[(String, Boolean)]) = {
    spark.stop()
    val one = Session.build(a, 1)
    try {
      val (ts, ck) = round(one, a, in, new Trace(false, one), "cdc.single", _.size < 2)
      (in.trancheRows(1) / ts(1), ck)
    } finally one.stop()
  }
}
