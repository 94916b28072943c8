package perfbench

import java.util.{Base64, SplittableRandom}
import org.apache.spark.sql.Row

/** Seeded chain model: every block is a pure function of (seed, height), so
  * envelope parquet files, RPC JSON bodies served by the in-process transport,
  * and the expected per-table row counts all derive from one source.
  *
  * Shape (chosen so all 10 flattened tables receive rows):
  *  - 25 % empty blocks; otherwise 1 + a heavy-tailed tx count, capped at 40;
  *  - 1–4 events per tx, typed wasm / message / other;
  *  - 0–6 attributes per event (0 exercises the attribute-less skip);
  *  - 1–3 finalize-block events per block, 1–4 attributes each;
  *  - ~8 % failed txs (code != 0), gas as decimal strings.
  */
final case class Attr(key: String, value: String, index: Boolean)
final case class Event(tpe: String, attrs: IndexedSeq[Attr])
final case class Tx(raw: String, code: Int, gasWanted: Long, gasUsed: Long,
                    data: String, log: String, events: IndexedSeq[Event])
final case class Block(height: Long, time: String, epochSecs: Long, appHash: String,
                       txs: IndexedSeq[Tx], finalizeEvents: IndexedSeq[Event])

object Chain {
  /** 2025-06-01T00:00:00Z; one block per minute, so a few thousand heights
    * span several days and the daily MVs get several groups. */
  val GenesisSecs = 1748736000L
  val BlockSecs = 60L

  private val OtherTypes = Array("transfer", "coin_spent", "coin_received", "tx")
  private val FinalizeTypes = Array("commission", "rewards", "mint", "burn")
  private val Keys = Array("sender", "recipient", "amount", "module", "action",
    "_contract_address", "denom", "validator")

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def hex(rng: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Character.forDigit(rng.nextInt(16), 16)); i += 1 }
    sb.toString
  }

  private def attrs(rng: SplittableRandom, n: Int, height: Long): IndexedSeq[Attr] =
    (0 until n).map { i =>
      Attr(Keys(rng.nextInt(Keys.length)),
        s"v$height-$i-${hex(rng, 6)}", rng.nextInt(4) != 0)
    }

  def block(seed: Long, height: Long): Block = {
    val rng = new SplittableRandom(mix(seed, height))
    val secs = GenesisSecs + height * BlockSecs
    val nanos = rng.nextInt(1000000000)
    val time = java.time.Instant.ofEpochSecond(secs, nanos).toString
    val nTx =
      if (rng.nextInt(4) == 0) 0
      else math.min(40, 1 + (math.pow(rng.nextDouble(), -0.6) - 1.0).toInt)
    val txs = (0 until nTx).map { _ =>
      val raw = new Array[Byte](40 + rng.nextInt(80))
      rng.nextBytes(raw)
      val nEv = 1 + rng.nextInt(4)
      val events = (0 until nEv).map { _ =>
        val r = rng.nextInt(100)
        val tpe = if (r < 35) "wasm" else if (r < 70) "message"
          else OtherTypes(rng.nextInt(OtherTypes.length))
        Event(tpe, attrs(rng, rng.nextInt(7), height))
      }
      val gasWanted = 50000L + rng.nextInt(200000)
      val data = if (rng.nextInt(3) == 0) "" else {
        val d = new Array[Byte](8 + rng.nextInt(24)); rng.nextBytes(d)
        Base64.getEncoder.encodeToString(d)
      }
      Tx(Base64.getEncoder.encodeToString(raw),
        if (rng.nextInt(100) < 8) 1 + rng.nextInt(30) else 0,
        gasWanted, gasWanted - rng.nextInt(40000), data,
        s"log-${hex(rng, 8)}", events)
    }
    val fbe = (0 until 1 + rng.nextInt(3)).map { _ =>
      Event(FinalizeTypes(rng.nextInt(FinalizeTypes.length)),
        attrs(rng, 1 + rng.nextInt(4), height))
    }
    Block(height, time, secs, hex(rng, 64).toUpperCase, txs, fbe)
  }

  // ------------------------------------------------------------ envelopes --

  private def attrRow(a: Attr) = Row(a.key, a.value, a.index)
  private def eventRow(e: Event) = Row(e.tpe, e.attrs.map(attrRow))

  /** One row of `graft.schema.Schemas.envelope`. */
  def envelopeRow(b: Block): Row = Row(
    b.height, b.time, b.appHash,
    b.txs.map(_.raw),
    b.txs.map(t => Row(t.code, t.gasWanted.toString, t.gasUsed.toString,
      t.data, t.log, t.events.map(eventRow))),
    b.finalizeEvents.map(eventRow))

  // ------------------------------------------------------------- RPC JSON --

  private def q(s: String) = "\"" + s + "\"" // model strings need no escaping
  private def attrJson(a: Attr) =
    s"""{"key":${q(a.key)},"value":${q(a.value)},"index":${a.index}}"""
  private def eventJson(e: Event) =
    s"""{"type":${q(e.tpe)},"attributes":[${e.attrs.map(attrJson).mkString(",")}]}"""

  /** `/block?height=h` response body. */
  def blockJson(b: Block): String =
    s"""{"jsonrpc":"2.0","id":-1,"result":{"block_id":{"hash":${q(b.appHash)}},""" +
      s""""block":{"header":{"chain_id":"zigchain-1","height":"${b.height}",""" +
      s""""time":${q(b.time)},"app_hash":${q(b.appHash)}},""" +
      s""""data":{"txs":[${b.txs.map(t => q(t.raw)).mkString(",")}]}}}}"""

  /** `/block_results?height=h` response body. */
  def blockResultsJson(b: Block): String = {
    val txr = b.txs.map { t =>
      s"""{"code":${t.code},"data":${q(t.data)},"log":${q(t.log)},""" +
        s""""gas_wanted":"${t.gasWanted}","gas_used":"${t.gasUsed}",""" +
        s""""events":[${t.events.map(eventJson).mkString(",")}]}"""
    }
    s"""{"jsonrpc":"2.0","id":-1,"result":{"height":"${b.height}",""" +
      s""""txs_results":[${txr.mkString(",")}],""" +
      s""""finalize_block_events":[${b.finalizeEvents.map(eventJson).mkString(",")}]}}"""
  }

  /** Body a pruned node returns for a height it cannot serve. */
  def unavailableJson(h: Long): String =
    s"""{"jsonrpc":"2.0","id":-1,"error":{"code":-32603,"message":"height $h is not available"}}"""

  // ------------------------------------------------------- expected counts --

  val Tables: Seq[String] = Seq("blocks", "txs", "tx_events", "tx_event_attrs_json",
    "type_wasm", "type_wasm_attrs", "type_message", "type_message_attrs",
    "block_events", "block_event_attrs")

  /** Expected flattened row counts and MV sums over a set of blocks. */
  final class Expect {
    val rows = scala.collection.mutable.LinkedHashMap(Tables.map(_ -> 0L): _*)
    /** date -> (blocks, txs, finalize events) — MV1 */
    val mvBlocks = scala.collection.mutable.TreeMap.empty[String, (Long, Long, Long)]
    /** date -> (tx count, gas used, failed txs) — MV2 */
    val mvTxs = scala.collection.mutable.TreeMap.empty[String, (Long, Long, Long)]
    /** (date, type) -> event count — MV3 */
    val mvEvents = scala.collection.mutable.TreeMap.empty[(String, String), Long]

    def add(b: Block): this.type = {
      def inc(t: String, n: Long): Unit = rows(t) = rows(t) + n
      val date = java.time.LocalDate.ofEpochDay(Math.floorDiv(b.epochSecs, 86400L)).toString
      inc("blocks", 1); inc("txs", b.txs.size)
      val evs = b.txs.flatMap(_.events)
      inc("tx_events", evs.size)
      inc("tx_event_attrs_json", evs.count(_.attrs.nonEmpty))
      for (t <- Seq("wasm", "message")) {
        val typed = evs.filter(e => e.tpe == t && e.attrs.nonEmpty)
        inc(s"type_$t", typed.size); inc(s"type_${t}_attrs", typed.map(_.attrs.size).sum)
      }
      inc("block_events", b.finalizeEvents.size)
      inc("block_event_attrs", b.finalizeEvents.map(_.attrs.size).sum)
      val (nb, nt, ne) = mvBlocks.getOrElse(date, (0L, 0L, 0L))
      mvBlocks(date) = (nb + 1, nt + b.txs.size, ne + b.finalizeEvents.size)
      if (b.txs.nonEmpty) {
        val (c, g, f) = mvTxs.getOrElse(date, (0L, 0L, 0L))
        mvTxs(date) = (c + b.txs.size, g + b.txs.map(_.gasUsed).sum,
          f + b.txs.count(_.code != 0))
      }
      evs.foreach(e => mvEvents((date, e.tpe)) = mvEvents.getOrElse((date, e.tpe), 0L) + 1)
      this
    }
  }

  /** Upper-case sha256 hex of a raw base64 tx — the program's tx_hash. */
  def txHash(rawB64: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Base64.getDecoder.decode(rawB64))
    d.map(b => f"${b & 0xff}%02X").mkString
  }
}
