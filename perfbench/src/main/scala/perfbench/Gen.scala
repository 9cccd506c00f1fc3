package perfbench

import graft.cdc.{BinlogColumn, BinlogRowCodec, BinlogSchema, BinlogTxnCodec, MysqlProtocolCodec, MysqlReplicaSession}
import graft.streaming.ByteChunk
import scala.collection.mutable

/** Seeded binlog input, built only through the program's public encoders
  * plus the replica bring-up fixture the repository's wire benches use.
  * Everything is encoded before any timing starts.
  */
object Wire {
  val Config: MysqlReplicaSession.Config =
    MysqlReplicaSession.Config("repl", "secret", serverId = 100L)
  val ChunkBytes = 1400

  private def hx(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def lenencStr(s: String): Array[Byte] = s.length.toByte +: s.getBytes("UTF-8")

  /** HandshakeV10 (classic protocol, mysql_native_password). */
  private def handshakeV10(seed: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(10); out.write("8.0.42-log".getBytes); out.write(0)
    out.write(Array[Byte](0x39, 0x30, 0, 0))
    out.write(seed, 0, 8); out.write(0)
    out.write(0xff); out.write(0xf7)
    out.write(0xff); out.write(Array[Byte](2, 0))
    out.write(0x08); out.write(0x00)
    out.write(21)
    for (_ <- 0 until 10) out.write(0)
    out.write(seed, 8, 12); out.write(0)
    out.write("mysql_native_password".getBytes); out.write(0)
    out.toByteArray
  }

  /** Server side of the bring-up conversation, up to the dump command. */
  val bringup: Seq[Array[Byte]] = {
    val seed = (1 to 20).map(_.toByte).toArray
    val ok = hx("00" + "00" + "00" + "0200" + "0000")
    val eof = hx("fe" + "0000" + "0200")
    Seq(handshakeV10(seed),
      (0xfe.toByte +: ("mysql_native_password".getBytes :+ 0.toByte)) ++ seed :+ 0.toByte,
      ok, ok, Array(2.toByte), hx("deadbeef"), hx("deadbeef"), eof,
      lenencStr("bin.000001") ++ lenencStr("4"), eof)
  }

  /** One replica session's server stream: packets framed with a running
    * sequence id and cut into ~1400-byte transport chunks, tranche by
    * tranche, with the chunk index continuing across tranches.
    */
  final class SessionWriter(val session: Long) {
    private var pktSeq = 0
    private var chunkIdx = 0L
    private var pending = new java.io.ByteArrayOutputStream()
    var eventBytes = 0L
    var wireBytes = 0L
    bringup.foreach(packet)

    private def packet(p: Array[Byte]): Unit = {
      pending.write(MysqlProtocolCodec.writePacket(pktSeq % 256, p))
      pktSeq += 1
    }

    def event(ev: Array[Byte]): Unit = { eventBytes += ev.length; packet(0.toByte +: ev) }

    /** Everything written since the last cut, as chunks. */
    def cut(): Seq[ByteChunk] = {
      val bytes = pending.toByteArray
      pending = new java.io.ByteArrayOutputStream()
      wireBytes += bytes.length
      bytes.grouped(ChunkBytes).map { bs =>
        val c = ByteChunk(session, chunkIdx, bs); chunkIdx += 1; c
      }.toSeq
    }
  }
}

/** The `orders`-shaped table the CDC workloads replicate, and the
  * generator's own model of its latest image.
  */
object Orders {
  val Db = "shop"
  val Table = "orders"
  val Cols: Seq[(String, String)] = Seq(
    "o_orderkey" -> "bigint", "o_custkey" -> "bigint", "o_orderstatus" -> "char(1)",
    "o_totalprice" -> "decimal(12,2)", "o_orderdate" -> "datetime",
    "o_comment" -> "varchar(79)")
  val AllNames: Seq[String] = Cols.map(_._1)
  val Schema: Array[BinlogColumn] = BinlogSchema.fromMysqlTypes(Cols)
  private val Words = Seq("quick", "final", "pending", "regular", "express",
    "special", "careful", "bold", "silent", "even", "ironic", "busy")

  /** A row image as the decoder renders it (strings), by column name. */
  def row(rnd: scala.util.Random, key: Long): Map[String, String] = {
    val cents = 100000L + rnd.nextInt(50000000)
    Map(
      "o_orderkey" -> key.toString,
      "o_custkey" -> (1 + rnd.nextInt(150000)).toString,
      "o_orderstatus" -> Seq("O", "F", "P")(rnd.nextInt(3)),
      "o_totalprice" -> f"${cents / 100}.${cents % 100}%02d",
      "o_orderdate" -> f"199${2 + rnd.nextInt(7)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d",
      "o_comment" -> (0 until 2 + rnd.nextInt(6)).map(_ => Words(rnd.nextInt(Words.size))).mkString(" "))
  }

  def values(r: Map[String, String], schema: Array[BinlogColumn]): Seq[Any] =
    schema.toSeq.map { c =>
      val v = r.getOrElse(c.name, null)
      if (v == null) null else if (c.tpe == BinlogRowCodec.BIGINT) v.toLong else v
    }

  /** Order-independent checksum of a set of latest images: the model side
    * and the snapshot side hash the same rendering.
    */
  def imageHash(values: Seq[String]): Long =
    scala.util.hashing.MurmurHash3.seqHash(values.map(v => if (v == null) "\u0000" else v)).toLong * 0x9E3779B97F4A7C15L

  def modelChecksum(model: collection.Map[Long, Map[String, String]]): (Long, Long) =
    (model.size.toLong, model.valuesIterator.map(r => imageHash(AllNames.map(r.getOrElse(_, null)))).sum)
}

/** One generated CDC input: per-tranche chunks of every session, and for
  * each tranche count the model after that many tranches (the latest
  * image per key) and the row events they carry.
  */
final case class CdcInput(tranches: IndexedSeq[Seq[ByteChunk]],
    trancheRows: IndexedSeq[Long], trancheBytes: IndexedSeq[Long],
    modelAfter: Int => Map[Long, Map[String, String]],
    rowEventsAfter: Int => Long, rows: Long, events: Long, txns: Long,
    wireBytes: Long, sessions: Int) {
  def describe(delivered: Int): Seq[(String, Any)] = Seq("sessions" -> sessions,
    "tranches_generated" -> tranches.size, "tranches_delivered" -> delivered,
    "transactions" -> txns, "events" -> events, "row_events" -> rowEventsAfter(tranches.size),
    "rows" -> rows, "binlog_bytes" -> trancheBytes.sum, "wire_bytes" -> wireBytes,
    "chunks" -> tranches.map(_.size).sum)
}

/** Event-level writer shared by the bulk and document generators. */
final class TxnWriter(w: Wire.SessionWriter, startXid: Long) {
  private var xid = startXid
  private var ts = 1767225600L
  var events = 0L
  var rowEvents = 0L
  var rows = 0L
  var txns = 0L

  private def ev(tpe: Int, body: Array[Byte]): Unit = {
    w.event(BinlogRowCodec.encodeEvent(tpe, body, timestamp = ts))
    events += 1
  }

  def begin(): Unit = { ts += 1; ev(BinlogTxnCodec.QueryType, BinlogTxnCodec.encodeQuery(Orders.Db, "BEGIN")) }

  def commit(): Unit = { xid += 1; txns += 1; ev(BinlogTxnCodec.XidType, BinlogTxnCodec.encodeXid(xid)) }

  /** One row event (TABLE_MAP first, as the server writes it); `orders`
    * unless another table is named.
    */
  def rowsEvent(tpe: Int, images: Seq[Seq[Any]], sch: Array[BinlogColumn] = Orders.Schema,
      table: String = Orders.Table, tid: Long = 101L): Unit = {
    ev(19, BinlogRowCodec.encodeTableMap(tid, Orders.Db, table, sch))
    ev(tpe, BinlogRowCodec.encodeRows(tpe, sch, images, tableId = tid))
    rowEvents += 1
    rows += (if (tpe == BinlogRowCodec.UpdateV2) images.size / 2 else images.size)
  }
}

object BulkGen {
  /** INSERTs of disjoint keys over `sessions` sessions: delivery `t`
    * carries `perSession(t)` rows of every session, in whole transactions
    * of `txnRows` rows and WRITE_ROWS events of `eventRows` rows. With
    * `corrupt`, one row's wire image differs from the model (a planted
    * fault).
    */
  def apply(seed: Long, sessions: Int, perSession: IndexedSeq[Int], txnRows: Int,
      eventRows: Int, corrupt: Boolean): CdcInput = {
    val rnd = new scala.util.Random(seed)
    val model = mutable.HashMap.empty[Long, Map[String, String]]
    val writers = (1 to sessions).map(s => new Wire.SessionWriter(s.toLong))
    val txw = writers.map(w => new TxnWriter(w, w.session * 1000000000L))
    require(perSession.forall(_ % txnRows == 0) && txnRows % eventRows == 0,
      "bulk sizes must split into whole transactions and events")
    var corrupted = !corrupt
    val parts = mutable.ArrayBuffer.empty[Map[Long, Map[String, String]]]
    val partEvents = mutable.ArrayBuffer.empty[Long]
    val bytes = mutable.ArrayBuffer.empty[Long]
    val out = perSession.indices.map { t =>
      val bytesBefore = writers.map(_.eventBytes).sum
      model.clear()
      val before = txw.map(_.rowEvents).sum
      val first = perSession.take(t).sum.toLong
      val chunks = writers.indices.flatMap { s =>
        val tw = txw(s)
        val keys = (0 until perSession(t)).map(i => (s.toLong + 1) * 100000000L + first + i)
        keys.grouped(txnRows).foreach { txn =>
          tw.begin()
          txn.grouped(eventRows).foreach { ev =>
            val images = ev.map { k =>
              val r = Orders.row(rnd, k)
              model(k) = r
              val wire = if (!corrupted) { corrupted = true; r + ("o_comment" -> "corrupted") } else r
              Orders.values(wire, Orders.Schema)
            }
            tw.rowsEvent(BinlogRowCodec.WriteV2, images)
          }
          tw.commit()
        }
        writers(s).cut()
      }
      parts += model.toMap
      partEvents += txw.map(_.rowEvents).sum - before
      bytes += writers.map(_.eventBytes).sum - bytesBefore
      chunks
    }
    CdcInput(out, perSession.map(_.toLong * sessions), bytes.toIndexedSeq,
      n => parts.take(n).foldLeft(Map.empty[Long, Map[String, String]])(_ ++ _),
      n => partEvents.take(n).sum, txw.map(_.rows).sum, txw.map(_.events).sum,
      txw.map(_.txns).sum, writers.map(_.wireBytes).sum, sessions)
  }
}
