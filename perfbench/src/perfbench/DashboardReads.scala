package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.queries.{Monitor, Mvs}
import graft.schema.Schemas
import graft.sources.RpcSource
import graft.store.Store

/** dashboard_reads: a seeded, closed-loop read mix over a warehouse that
  * set-up lands through the exactly-once ingest stream in several batches
  * (several files per table and MV partials): MV aggregate-on-read, MV
  * recompute, FINAL/latest views, tx-hash point lookups, height-range scans,
  * gap reports and Monitor queries. The stream's cost shows in `setup_s`, and
  * a traced run splits a stream batch into its layers (`StreamProbes`), so a
  * layout change that helps writes but hurts reads shows on both sides. The
  * warehouse is a few MB and stays in the page cache: this measures
  * planning, listing, decode and compute, not disk. */
object DashboardReads {
  val Heights = 300L
  val Batches = 3
  val ItemRange = 50L
  val Now = 1767225600L
  val Window = 50L
  val GapEvery = 75L

  /** One height in every `GapEvery` (at a seeded offset) is never ingested:
    * the gaps the reports must find. */
  def missing(seed: Long, h: Long): Boolean =
    Math.floorMod(h, GapEvery) == Math.floorMod(Chain.mix(seed, 5L), GapEvery)

  final class Model(val seed: Long) {
    val present: IndexedSeq[Long] = (1L to Heights).filterNot(missing(seed, _))
    val blocks: Map[Long, Block] = present.map(h => h -> Chain.block(seed, h)).toMap
    val expect: Chain.Expect = { val e = new Chain.Expect; present.foreach(h => e.add(blocks(h))); e }
    val gaps: IndexedSeq[Long] = (1L to Heights).filter(missing(seed, _))
    /** (height, tx_index, hash) of every tx. */
    val txs: IndexedSeq[(Long, Int, String)] =
      present.flatMap(h => blocks(h).txs.zipWithIndex.map { case (t, i) => (h, i, t.raw) })
    def txIn(a: Long, b: Long) = present.filter(h => h >= a && h <= b).map(blocks)
    /** Work items: done, or failed where they hold a gap; three pending past the tip. */
    val items: IndexedSeq[(Long, Long, Long, String)] =
      (0L until Heights / ItemRange + 3).map { k =>
        val (s, e) = (k * ItemRange + 1, (k + 1) * ItemRange)
        val st = if (s > Heights) "pending" else if ((s to e).exists(missing(seed, _))) "failed" else "done"
        (k + 1, s, e, st)
      }
  }

  private def ts(secs: Long) = new java.sql.Timestamp(secs * 1000L)

  /** Ingest the model's blocks into `wh`, which must be `<dir>/wh` of a
    * directory set-up owns, and write the state tables. */
  def setup(spark: SparkSession, m: Model, wh: String): Unit = {
    // the blocks land through the exactly-once ingest stream, one file per
    // micro-batch
    val dir = Common.fresh(new java.io.File(wh).getParent)
    val per = Heights / Batches
    val files = Common.stageFiles(spark, m.seed, s"$dir/staged",
      (0 until Batches).map(b => (b * per + 1 to (b + 1) * per).filterNot(m.gaps.toSet)))
    Log("staged")
    val q = Common.startStream(spark, dir)
    try files.zipWithIndex.foreach { case (f, i) => Common.deliver(spark, q, dir, f, i) }
    finally q.stop()
    Log("landed")
    // state tables: each item queued, then finished (two versions per key)
    val wq = m.items.flatMap { case (id, s, e, st) =>
      val t = Now - 3600 * 5 + id * 60
      Seq(Row(id, s, e, "pending", null, null, ts(t), ts(t))) ++
        (if (st == "pending") Nil else Seq(Row(id, s, e, st, "w1", null, ts(t), ts(t + 30))))
    }
    val fb = m.gaps.map(h => Row(h, h, "missing", "gap after ingest", "worker-1", 0, 10, "pending",
      ts(Now + 300), ts(Now - 600)))
    def write(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType, table: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("append").parquet(s"$wh/$table")
    write(wq, Schemas.workQueue, "work_queue")
    write(fb, Schemas.failedBlocks, "failed_blocks")
    write(Seq(Row("main_indexer", Heights, ts(Now - 60))), Schemas.indexState, "index_state")
  }

  val Kinds = Seq("mv", "mv_recompute", "final", "point", "range", "gap", "monitor")
  /** The mix: reads per kind in every block of 20, in `Kinds` order. */
  val PerBlock = Seq(4, 2, 3, 4, 4, 1, 2)

  /** Variants with a plan of their own, per kind (the rest reuse variant 0's). */
  val Variants = Map("mv" -> 3, "mv_recompute" -> 3, "final" -> 2, "point" -> 1,
    "range" -> 1, "gap" -> 1, "monitor" -> 3)

  final case class Op(kind: String, variant: Int, a: Long, b: Long, tx: Int)

  /** Blocks of 20 reads, each a seeded shuffle of the same mix, so a run of
    * whole blocks reads the same kinds and variants whatever the seed; the
    * heights and txs read are seeded per read. */
  def ops(seed: Long, m: Model, blocks: Int): IndexedSeq[Op] = {
    val rng = new SplittableRandom(Chain.mix(seed, 0xda5L))
    (0 until blocks).flatMap { b =>
      // the variants (which MV, which Monitor query) rotate by block, not seed
      val order = Kinds.zip(PerBlock).flatMap { case (k, n) =>
        (0 until n).map(j => (k, (b * n + j) % 3)) }.toArray
      for (i <- order.indices.reverse) {
        val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
      }
      order.toSeq.map { case (kind, variant) =>
        val a = 1 + rng.nextLong(Heights - Window)
        Op(kind, variant, a, a + Window - 1, rng.nextInt(m.txs.size))
      }
    }
  }

  /** Run one read and check its answer. Returns the problem, if any, the
    * DataFrame that ran and its result row count (for scan statistics). */
  def read(spark: SparkSession, wh: String, m: Model, mon: Monitor, op: Op): (Option[String], DataFrame, Long) = {
    var nOut = 0L
    def t(name: String) = spark.read.parquet(s"$wh/$name")
    def partials(name: String) = t(name).drop("ingest_batch")
    def rows(df: DataFrame) = { val a = df.collect(); nOut = a.length; a }
    val (problem, df) = answer(op, m, mon, t, partials, rows)
    (problem, df, nOut)
  }

  private def answer(op: Op, m: Model, mon: Monitor, t: String => DataFrame,
                     partials: String => DataFrame,
                     rows: DataFrame => Array[Row]): (Option[String], DataFrame) = {
    def expectEq(what: String, got: Any, want: Any) =
      if (got == want) None else Some(s"${op.kind}/$what: got $got, expected $want")
    op.kind match {
      case "mv" =>
        val df = op.variant match {
          case 0 => Mvs.readMv(partials("mv_daily_block_stats"), Seq("date"))
          case 1 => Mvs.readDailyTxStats(partials("mv_daily_tx_stats"))
          case _ => Mvs.readMv(partials("mv_event_type_stats"), Seq("date", "type"))
        }
        (Common.checkMv(op.variant + 1, rows(df), m.expect), df)
      case "mv_recompute" =>
        val blocks = t("blocks")
        val df = op.variant match {
          case 0 => Mvs.dailyBlockStatsRecompute(blocks)
          case 1 => Mvs.dailyTxStatsRecompute(t("txs"), blocks)
          case _ => Mvs.eventTypeStatsRecompute(t("tx_events"), blocks)
        }
        (Common.checkMv(op.variant + 1, rows(df), m.expect), df)
      case "final" =>
        val view = if (op.variant == 0) t("blocks").hint("FINAL")
          else Store.latest(t("blocks"), Seq("height"), "created_at")
        val df = view.filter(col("height").between(op.a, op.b))
          .agg(count(lit(1)), coalesce(sum("txs_results_count"), lit(0L)))
        val r = rows(df).head
        val bs = m.txIn(op.a, op.b)
        (expectEq("count,txs", (r.getLong(0), r.getLong(1)), (bs.size.toLong, bs.map(_.txs.size.toLong).sum)), df)
      case "point" =>
        val (h, i, raw) = m.txs(op.tx)
        val df = RpcSource.txByHash(t("txs"), Chain.txHash(raw)).select("height", "tx_index")
        (expectEq("hit", rows(df).map(r => (r.getLong(0), r.getInt(1))).toSeq, Seq((h, i))), df)
      case "range" =>
        val df = t("txs").filter(col("height").between(op.a, op.b))
          .agg(count(lit(1)), coalesce(sum("gas_used"), lit(0L)))
        val r = rows(df).head
        val txs = m.txIn(op.a, op.b).flatMap(_.txs)
        (expectEq("count,gas", (r.getLong(0), r.getLong(1)), (txs.size.toLong, txs.map(_.gasUsed).sum)), df)
      case "gap" =>
        val df = mon.gapReport(op.a, op.b)
        val r = rows(df).head
        val g = m.gaps.filter(h => h >= op.a && h <= op.b)
        (expectEq("gaps", (r.getLong(0), r.getLong(1), r.getLong(2)),
          (g.size.toLong, g.headOption.getOrElse(0L), g.lastOption.getOrElse(0L))), df)
      case _ =>
        op.variant match {
          case 0 =>
            val df = mon.queueStatus()
            val got = rows(df).map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
            val want = m.items.groupBy(_._4).toSeq.sortBy(_._1).map { case (st, is) =>
              (st, is.size.toLong, is.map(_._2).min, is.map(_._3).max) }
            (expectEq("queue", got, want), df)
          case 1 =>
            val df = mon.failureReport()
            val got = rows(df).map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
            (expectEq("failures", got, Seq(("pending", "missing", m.gaps.size.toLong, m.gaps.min, m.gaps.max))), df)
          case _ =>
            val df = mon.summary()
            val r = rows(df).head
            (expectEq("summary", (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)),
              (m.present.size.toLong, m.present.head, m.present.last, 3L)), df)
        }
    }
  }

  def run(spark: SparkSession, o: Main.Opts, r: Result): Unit = {
    val m = new Model(o.seed)
    var wh = ""
    Common.setups(r, 2) { i =>
      wh = s"${o.work}/reads$i/wh"
      setup(spark, m, wh)
      Common.tune(spark, wh)
    }
    val p = new Pipeline(spark, PipelineConfig(wh, now = () => Now))
    val mon = new Monitor(spark, p, () => Now)
    val plan = ops(o.seed, m, 500)
    var next = 0
    // untimed warm-up: every plan once
    for (k <- Kinds; v <- 0 until Variants(k)) read(spark, wh, m, mon, plan(0).copy(kind = k, variant = v))
    Log("warm")

    val kindSecs = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    // whole blocks of the mix, so every run reads the same composition; a
    // traced pass runs at least 100 reads, so read.p90_s has ten beyond it
    def measure(t: Option[Tracer]): Seq[Double] =
      Common.closedLoop(o.seconds, minOps = if (t.isEmpty) 20 else 100, multipleOf = PerBlock.sum) {
        val op = plan(next)
        next += 1
        val t0 = System.nanoTime()
        val (problem, df, nOut) = t match {
          case Some(tr) => tr.span(s"read.${op.kind}", "queries")(read(spark, wh, m, mon, op))
          case None => read(spark, wh, m, mon, op)
        }
        kindSecs(op.kind) = kindSecs(op.kind) :+ (System.nanoTime() - t0) / 1e9
        r.op(problem)
        t.foreach(_.recordScans(op.kind, df, nOut))
      }

    if (!o.trace) {
      val secs = measure(None)
      r.put("op_p50_s", Stats.median(secs), "s")
      r.put("items_per_s", secs.size / secs.sum, "1/s")
    } else {
      PerLayer.init(r)
      PerLayer.tracedRun(spark, r, t => { kindSecs.clear(); measure(t) }) { (t, _, _) =>
        Kinds.foreach(k => r.put(s"read.${k}_p50_s", Stats.median(kindSecs(k)), "s"))
        val all = kindSecs.values.flatten.toSeq
        if (all.size >= 100) r.put("read.p90_s", Stats.percentile(all, 0.9), "s")
        val scans = t.scans()
        val point = scans.filter(_._1 == "point").map(_._2.toDouble)
        r.put("read.files_per_point", Stats.median(point), "count")
        r.put("read.rows_scanned_per_row",
          scans.map(_._3).sum.toDouble / math.max(1L, scans.map(_._4).sum), "ratio")
        val (bytes, files) = Common.parquetFootprint(wh)
        r.put("store.bytes_written", bytes, "bytes")
        r.put("store.bytes_per_block", bytes.toDouble / m.present.size, "bytes")
        r.put("store.files_per_batch", files.toDouble / Batches, "count")
      }
    }
    Log(s"$next reads")
    if (o.trace) StreamProbes.run(spark, o.seed, s"${o.work}/probe", Heights + 1, r)
  }
}
