package perfbench

import graft.cdc.{BinlogRowCodec, BinlogSchema}
import graft.streaming.{ByteChunk, CdcCorpusChain, CurationChain}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Seeded documents for the corpus chain: ChainBench's synthetic families
  * with planted duplicates (exact re-offers, one-word edits, copies of an
  * admitted doc's embedding), plus a small UPDATE/DELETE share. The model
  * is the live admitted set after each trigger.
  */
object DocGen {
  val Columns: Seq[(String, String)] = Seq(
    "doc_id" -> "bigint", "text" -> "varchar(4096)", "embedding" -> "json")
  private val Schema = BinlogSchema.fromMysqlTypes(Columns)
  val Dim = 64
  private val Table = "documents"
  private val TableId = 201L

  def novelText(id: Long, version: Int): String =
    (0 until 60).map(j => if (version == 0) s"w${j}x$id" else s"u${j}x${id}r$version").mkString(" ")

  def editText(text: String, id: Long): String = {
    val w = text.split(" ")
    w(30) = s"edited$id"
    w.mkString(" ")
  }

  def embedding(rnd: scala.util.Random): String =
    (0 until Dim).map(_ => f"${rnd.nextGaussian()}%.6f").mkString("[", ",", "]")

  final case class Doc(text: String, emb: String)

  final case class Input(tranches: IndexedSeq[Seq[ByteChunk]],
      models: IndexedSeq[Map[Long, String]], offered: IndexedSeq[Int],
      eventBytes: Long, wireBytes: Long, kinds: Map[String, Int])

  /** Trigger 0 offers `founding` novel docs; every later trigger offers
    * `novel` novel docs plus the planted duplicates, UPDATEs and DELETEs.
    */
  def apply(seed: Long, triggers: Int, founding: Int, novel: Int, dups: Int, updates: Int,
      deletes: Int): Input = {
    val rnd = new scala.util.Random(seed)
    val w = new Wire.SessionWriter(1L)
    val tw = new TxnWriter(w, 9000000000L)
    val live = mutable.LinkedHashMap.empty[Long, Doc]
    var nextId = (seed % 1000 + 1) * 10000000L
    val kinds = mutable.LinkedHashMap("novel" -> 0, "exact" -> 0, "edit" -> 0,
      "semantic" -> 0, "update" -> 0, "delete" -> 0)
    val models = mutable.ArrayBuffer.empty[Map[Long, String]]
    val offered = mutable.ArrayBuffer.empty[Int]
    val tranches = (0 until triggers).map { t =>
      val inserts = mutable.ArrayBuffer.empty[(Long, Doc)]
      val admittedNow = mutable.LinkedHashMap.empty[Long, Doc]
      (0 until (if (t == 0) founding else novel)).foreach { _ =>
        val id = nextId; nextId += 1
        val d = Doc(novelText(id, 0), embedding(rnd))
        inserts += id -> d; admittedNow(id) = d; kinds("novel") += 1
      }
      // sources of this trigger's dups, updates and deletes: disjoint
      // docs admitted in earlier triggers
      val pool = rnd.shuffle(live.keys.toIndexedSeq)
      val srcs = if (t == 0) IndexedSeq.empty else pool.take(dups)
      val upd = if (t == 0) IndexedSeq.empty else pool.slice(dups, dups + updates)
      val del = if (t == 0) IndexedSeq.empty else pool.slice(dups + updates, dups + updates + deletes)
      srcs.zipWithIndex.foreach { case (src, i) =>
        val id = nextId; nextId += 1
        val s = live(src)
        val d = i % 3 match {
          case 0 => kinds("exact") += 1; Doc(s.text, s.emb)
          case 1 => kinds("edit") += 1; Doc(editText(s.text, id), s.emb)
          case _ => kinds("semantic") += 1; Doc(novelText(id, 0), s.emb)
        }
        inserts += id -> d
      }
      tw.begin()
      inserts.grouped(20).foreach { g =>
        tw.rowsEvent(BinlogRowCodec.WriteV2,
          g.map { case (id, d) => Seq[Any](id, d.text, d.emb) }.toSeq, Schema, Table, TableId)
      }
      if (upd.nonEmpty) {
        tw.rowsEvent(BinlogRowCodec.UpdateV2, upd.flatMap { id =>
          val before = live(id)
          val after = Doc(novelText(id, t), embedding(rnd))
          admittedNow(id) = after; kinds("update") += 1
          Seq(Seq[Any](id, before.text, before.emb), Seq[Any](id, after.text, after.emb))
        }, Schema, Table, TableId)
      }
      if (del.nonEmpty) {
        tw.rowsEvent(BinlogRowCodec.DeleteV2, del.map { id =>
          val before = live(id); live.remove(id); kinds("delete") += 1
          Seq[Any](id, before.text, before.emb)
        }, Schema, Table, TableId)
      }
      tw.commit()
      live ++= admittedNow
      models += live.map { case (id, d) => id -> d.text }.toMap
      offered += inserts.size + upd.size + del.size
      w.cut()
    }
    Input(tranches, models.toIndexedSeq, offered.toIndexedSeq, w.eventBytes, w.wireBytes,
      kinds.toMap)
  }
}

/** `corpus-chain`: closed-loop binlog bytes of a documents table through
  * `CdcCorpusChain.startCdc` with compaction on. A run is a fixed stretch
  * of two timed triggers: the first founds the stores, the second screens
  * against them, applies its tombstones and compacts. A trigger costs
  * about as long as a run's seconds (its ~100 jobs, not code generation,
  * dominate, so no warm-up trigger is needed), hence a fixed stretch
  * rather than a timed one.
  */
object CorpusChain extends Workload {
  val CompactEvery = 1
  val Triggers = 2

  private var seq = 0
  private def fresh(a: Args, what: String): String = { seq += 1; s"${a.work}/$what-$seq" }

  private def start(spark: SparkSession, a: Args) = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[ByteChunk]
    val root = fresh(a, "corpus")
    val q = CdcCorpusChain.startCdc(stream.toDS(), Wire.Config, DocGen.Columns,
      s"$root/root", s"$root/ckpt", compactEvery = CompactEvery,
      embeddingCol = Some("embedding"))
    (stream, q, s"$root/root")
  }

  def setup(spark: SparkSession, a: Args): () => Unit = {
    val (_, q, _) = start(spark, a)
    () => q.stop()
  }

  /** Delivers every trigger of `in` to a fresh chain; returns the trigger
    * seconds, the output check and the corpus root.
    */
  private def stretch(spark: SparkSession, a: Args, in: DocGen.Input, tr: Trace)
      : (IndexedSeq[Double], Seq[(String, Boolean)], String) = {
    val (stream, q, root) = tr.label("chain.unlabeled")(start(spark, a))
    try {
      val all = in.tranches.indices.map { i =>
        tr.span(s"trigger-$i", "trigger") {
          Clock.secs { stream.addData(in.tranches(i)); tr.progress.noteAdd(); q.processAllAvailable() }._2
        }
      }
      (all, check(spark, root, in.models.last), root)
    } finally q.stop()
  }

  def run(spark: SparkSession, a: Args, tr: Trace): Result = {
    val (in, genS) = Clock.secs(if (a.tiny) DocGen(a.seed, Triggers, 20, 20, 6, 2, 2)
      else DocGen(a.seed, Triggers, 60, 150, 45, 10, 5))
    val (times, ck, root) = stretch(spark, a, in, tr)
    tr.drain()
    val n = times.size
    val docs = in.offered.sum
    val compactIdx = (1 until n).filter(_ % CompactEvery == 0)
    val layers = if (!a.trace) Nil else {
      val overhead = tr.overheadRatio(times.sum)
      val stages = Seq("exact-screen", "sig-screen", "semantic-screen", "admit-checkpoint",
        "staging", "unlabeled")
      stages.flatMap { s =>
        val c = tr.tracer.get(s"chain.$s")
        Seq(s"chain.$s.jobs" -> (c.jobs.toDouble, "count"),
          s"chain.$s.cpu_s" -> (c.cpuNs / 1e9, "s"),
          s"chain.$s.run_s" -> (c.runNs / 1e9, "s"))
      } ++ Seq(
        "chain.store_bytes" -> (storeBytes(spark, root), "B"),
        "trace.overhead_ratio" -> (overhead, "ratio"),
        "chain.admit_ratio" -> (in.models.last.size.toDouble / in.offered.sum, "ratio"),
        "chain.compact_trigger_s" -> (compactIdx.map(times(_)).sum, "s"),
        "stream.addBatch_s" -> (tr.progress.addBatchMs / 1e3, "s"),
        "stream.walCommit_s" -> (tr.progress.walCommitMs / 1e3, "s"),
        "stream.planning_s" -> (tr.progress.planningMs / 1e3, "s"),
        "stream.queue_wait_s" -> (tr.progress.queueWaitMs / 1e3, "s"))
    }
    Result(attempted = times.size, failed = 0,
      e2e = Seq("work_per_s" -> (docs / times.sum, "1/s"),
        "latency_s" -> (Stats.median(times.toSeq), "s"),
        "docs_per_s" -> (docs / times.sum, "docs/s"),
        "trigger_p50_s" -> (Stats.median(times.toSeq), "s")),
      layers = layers,
      inputs = Seq("triggers" -> n, "docs_offered" -> docs,
        "binlog_bytes" -> in.eventBytes, "wire_bytes" -> in.wireBytes,
        "expected_live_admitted" -> in.models.last.size, "generate_s" -> genS,
        "trigger_s" -> times,
        "compaction_triggers" -> compactIdx.size) ++
        in.kinds.toSeq.map { case (k, v) => s"generated_$k" -> v },
      checks = ck)
  }

  /** The live admitted corpus must equal the model exactly. */
  private def check(spark: SparkSession, root: String, model: Map[Long, String])
      : Seq[(String, Boolean)] = {
    import spark.implicits._
    val got = CurationChain.readAdmitted(spark, root).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    val ok = got == model
    if (!ok) {
      val missing = model.keySet -- got.keySet
      val extra = got.keySet -- model.keySet
      val changed = (got.keySet & model.keySet).count(k => got(k) != model(k))
      Out.log(s"admitted set: ${got.size} docs, model ${model.size}; missing ${missing.size} " +
        s"(e.g. ${missing.take(3)}), extra ${extra.size} (e.g. ${extra.take(3)}), text differs $changed")
    }
    Seq("chain.admitted_set" -> ok)
  }

  private def storeBytes(spark: SparkSession, root: String): Double = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength.toDouble
  }
}
