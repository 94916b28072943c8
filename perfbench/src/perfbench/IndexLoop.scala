package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.plans.Iv
import graft.schema.Schemas
import graft.sources.{RpcClient, RpcConfig, RpcSource}
import graft.streaming.StreamingIngest

/** In-process RPC node serving the chain model as RPC JSON. It plants
  * transient failures (the first call of some paths throws, `RpcClient`
  * retries) and missing heights (a pruned-node error body until the injected
  * clock passes the height's recovery time). State is JVM-global so the
  * serialized transport reaches it from Spark tasks in local mode. */
object Node {
  @volatile var seed = 0L
  @volatile var history = 0L
  @volatile var range = 1L
  @volatile var t0 = 0L
  @volatile var step = 1L
  val clock = new AtomicLong(0L)
  val calls = new LongAdder
  val failures = new LongAdder
  val transportNs = new LongAdder
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Heights past the history that the node cannot serve at first: one in
    * every other work item (the even ones, counting from the first item past
    * the history) at a seeded offset, never the item's last height (its gap
    * would shift the resume point the next item is seeded from). So cycles
    * alternate between the two branches of `runOnce`: an even item takes the
    * gap path and is left failed; the next, odd, item completes and advances
    * index_state, and that cycle's retry pass recovers the even item's
    * height. */
  def missing(h: Long): Boolean = h > history && {
    val item = (h - history - 1) / range
    item % 2 == 0 &&
      (h - history - 1) % range == Math.floorMod(Chain.mix(seed, item * 3 + 1), range - 1)
  }

  /** The clock value from which a missing height is served: the cycle after
    * the one that first claims it. */
  def availableAt(h: Long): Long = t0 + ((h - history - 1) / range + 1) * step

  def transient(path: String): Boolean =
    Math.floorMod(Chain.mix(seed, path.hashCode.toLong * 7 + 2), 40L) == 0

  def reset(): Unit = { seen.clear(); calls.reset(); failures.reset(); transportNs.reset() }

  def serve(path: String): String = {
    val t = System.nanoTime()
    try {
      calls.increment()
      if (transient(path) && seen.add(path)) {
        failures.increment()
        throw new java.io.IOException(s"connection reset serving $path")
      }
      val h = path.substring(path.indexOf('=') + 1).toLong
      if (missing(h) && clock.get < availableAt(h)) Chain.unavailableJson(h)
      else {
        val b = Chain.block(seed, h)
        if (path.startsWith("/block_results")) Chain.blockResultsJson(b) else Chain.blockJson(b)
      }
    } finally transportNs.add(System.nanoTime() - t)
  }
}

final class NodeTransport extends ((String, String) => String) with Serializable {
  def apply(endpoint: String, path: String): String = Node.serve(path)
}

/** index_loop: repeated `Pipeline.runOnce` plus a `retryFailedBlocks` pass
  * per cycle over a warehouse that set-up pre-grows with a block history and
  * its state rows. Cycles alternate between a failed item (planted gap) and a
  * done one, and a run times whole pairs, so both branches are measured.
  * Work items are small, so cycle time is dominated by many small jobs,
  * state-table appends, `latest()` reads and gap scans that grow with
  * history; flatten cost barely shows. */
object IndexLoop {
  val History = 500L
  val Range = 50L
  val Workers = 4
  val Step = 600L
  val T0 = 1767225600L // 2026-01-01: after every block time in the history
  val Component = "main_indexer"

  def cfg(wh: String) = PipelineConfig(wh, component = Component, assignRange = Range,
    numWorkers = Workers, now = () => Node.clock.get)

  private def ts(secs: Long) = new java.sql.Timestamp(secs * 1000L)

  /** A fresh warehouse holding heights 1..History, in the append layout the
    * pipeline's own ingest writes, plus the state rows a loop would have left behind: three
    * work_queue versions and one index_state row per item, and a retried-then-
    * recovered failed_blocks pair for 1 in 100 heights. */
  def setup(spark: SparkSession, o: Main.Opts, wh: String): Pipeline = {
    Common.fresh(wh)
    Node.clock.set(T0)
    val p = new Pipeline(spark, cfg(wh))
    // the same append layout Pipeline.ingest writes, with the writes concurrent
    StreamingIngest.ingestBatch(wh, Common.envelopes(spark, o.seed, 1L to History))
    val items = (0L until History / Range).map(k => (k + 1, k * Range + 1, (k + 1) * Range))
    def itemTime(k: Long) = T0 - (History / Range - k + 1) * Step
    val wq = items.flatMap { case (id, s, e) =>
      val t = itemTime(id)
      Seq(("pending", t), ("processing", t + 1), ("done", t + 2)).map { case (st, u) =>
        Row(id, s, e, st, if (st == "pending") null else "w1", null, ts(t), ts(u)) }
    }
    val is = items.map { case (id, _, e) => Row(Component, e, ts(itemTime(id) + 2)) }
    val fb = (1L to History).filter(h => Math.floorMod(Chain.mix(o.seed, h * 5 + 3), 100L) == 0)
      .flatMap { h =>
        val t = itemTime((h - 1) / Range + 1)
        Seq(Row(h, t * 1000000L + h, "missing", "gap after ingest", "worker-1", 0, 10, "pending", ts(t + 300), ts(t)),
          Row(h, t * 1000000L + h + 1, "resolved", "", "worker-1", 0, 10, "recovered", ts(t + 1), ts(t + 1)))
      }
    def write(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType, table: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .write.mode("append").parquet(s"$wh/$table")
    write(wq, Schemas.workQueue, "work_queue")
    write(is, Schemas.indexState, "index_state")
    write(fb, Schemas.failedBlocks, "failed_blocks")
    p
  }

  /** The phase of `Pipeline` a job ran in: the method `runOnce` called, or
    * the retry pass. */
  def phase(callLong: String): String = {
    val methods = callLong.split("\n").iterator.map(_.trim)
      .filter(_.startsWith("graft.pipeline.Pipeline."))
      .map(f => f.stripPrefix("graft.pipeline.Pipeline.").takeWhile(_ != '(')
        .replaceAll("^\\$anonfun\\$", "").replaceAll("\\$.*$", ""))
      .toSeq.distinct
    if (methods.contains("retryFailedBlocks")) "retry"
    else methods.takeWhile(_ != "runOnce").lastOption match {
      case Some("lastIndexedHeight") => "resume"
      case Some("seedWorkQueue") => "seed"
      case Some("claimNext") => "claim"
      case Some("ingest") => "ingest"
      case Some("isRangeComplete" | "findGaps") => "verify"
      case Some(_) => "state_write"
      case None => "other"
    }
  }

  def run(spark: SparkSession, o: Main.Opts, r: Result): Unit = {
    Node.seed = o.seed; Node.history = History; Node.range = Range
    Node.t0 = T0; Node.step = Step
    val cores = spark.sparkContext.defaultParallelism
    var p: Pipeline = null
    var wh = ""
    Common.setups(r, 3) { i =>
      wh = s"${o.work}/loop$i"
      p = setup(spark, o, wh)
      Common.tune(spark, wh)
    }
    Node.reset()
    val client = new RpcClient(RpcConfig(Seq("http://node-a:26657", "http://node-b:26657"),
      backoffMs = 0, sleeper = _ => ()), new NodeTransport)
    val fetch: Iv => DataFrame = iv =>
      RpcSource.fetchEnvelopes(spark, client, iv.start, iv.end, cores)
        .filter(col("time").isNotNull)
    // retry fetch: one RpcSource range per contiguous run of heights
    val fetchList: Seq[Long] => DataFrame = hs => {
      val runs = hs.sorted.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, h) if h == e + 1 => (s, h) :: rest
        case (acc, h) => (h, h) :: acc
      }
      runs.map { case (s, e) => RpcSource.fetchEnvelopes(spark, client, s, e, 1) }
        .reduce(_ unionByName _).filter(col("time").isNotNull)
    }
    val tip = History + 100000L
    val claimed = scala.collection.mutable.ArrayBuffer.empty[Option[Iv]]
    def cycle(): Unit = {
      claimed += p.runOnce(tip, fetch)
      p.retryFailedBlocks(fetchList)
      Node.clock.addAndGet(Step)
    }
    // untimed warm-up: the first cycle (a failed item) pays class loading
    // and codegen
    cycle()
    val firstTimed = claimed.size
    Log("warm")

    def measure(t: Option[Tracer]): Seq[Double] =
      // whole pairs: a done cycle, then a failed one
      Common.closedLoop(o.seconds, minOps = 2, multipleOf = 2) {
        t match {
          case Some(tr) => tr.span(s"cycle${claimed.size}", "pipeline")(cycle())
          case None => cycle()
        }
      }

    if (!o.trace) {
      val secs = measure(None)
      r.put("op_p50_s", Stats.median(secs), "s")
      r.put("items_per_s", secs.size * Range / secs.sum, "1/s")
    } else {
      PerLayer.init(r)
      var first = 0
      var calls0, fails0, ns0 = 0L
      PerLayer.tracedRun(spark, r, t => {
        first = claimed.size
        calls0 = Node.calls.sum; fails0 = Node.failures.sum; ns0 = Node.transportNs.sum
        measure(t)
      }) { (t, from, to) =>
        val n = (claimed.size - first).toDouble
        r.put("sources.rpc_calls", (Node.calls.sum - calls0) / n, "count")
        r.put("sources.rpc_retries", (Node.failures.sum - fails0) / n, "count")
        r.put("sources.transport_s", (Node.transportNs.sum - ns0) / 1e9 / n, "s")
        val js = t.jobsIn(from, to)
        r.put("pipeline.jobs_per_cycle", js.size / n, "count")
        val byPhase = js.groupBy(j => phase(j.callLong))
          .map { case (ph, jj) => ph -> jj.map(j => j.end - j.start).sum / 1000.0 / n }
        Seq("resume", "seed", "claim", "ingest", "verify", "state_write", "retry")
          .foreach(ph => r.put(s"pipeline.${ph}_s", byPhase.getOrElse(ph, 0.0), "s"))
      }
    }
    Log(s"${claimed.size} cycles")

    if (o.trace) {
      val raw = p.readTableRaw("work_queue").count() + p.readTableRaw("failed_blocks").count()
      val latest = p.readTable("work_queue").count() + p.readTable("failed_blocks").count()
      r.put("pipeline.state_rows_per_key", raw.toDouble / latest, "ratio")
    }
    check(spark, o, r, p, wh, claimed.toSeq, firstTimed)
    Log("checked")
  }

  def check(spark: SparkSession, o: Main.Opts, r: Result, p: Pipeline, wh: String,
            claimed: Seq[Option[Iv]], firstTimed: Int): Unit = {
    val items = claimed.indices.map(c => Iv(History + c * Range + 1, History + (c + 1) * Range))
    val lastEnd = items.last.end
    val wq = p.readTable("work_queue")
      .filter(col("start_height") > History)
      .select("start_height", "status").collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    // even items hold a planted gap, so runOnce leaves them failed; odd
    // items complete
    claimed.zip(items).zipWithIndex.foreach { case ((got, want), c) =>
      val status = wq.getOrElse(want.start, "absent")
      val expected = if (c % 2 == 0) "failed" else "done"
      val problem =
        if (!got.contains(want)) Some(s"cycle $c claimed $got, expected $want")
        else if (status != expected) Some(s"cycle $c item $want is $status, expected $expected")
        else None
      if (c >= firstTimed) r.op(problem) else problem.foreach(r.fail)
    }

    // warehouse-level checks. The last cycle took the gap path; its missing
    // height comes due only after the run, so it is still absent and pending.
    val planted = (History + 1 to lastEnd).filter(Node.missing)
    val lastGap = planted.last
    val heights = p.readTable("blocks").groupBy("height").count()
    val hs = heights.agg(count(lit(1)), max("count"), min("height"), max("height")).head()
    if (hs.getLong(0) != lastEnd - 1 || hs.getLong(1) != 1L || hs.getLong(2) != 1L || hs.getLong(3) != lastEnd)
      r.fail(s"blocks heights ${hs.toSeq}, expected 1..$lastEnd once each but $lastGap")
    val counts = Common.tableCounts(spark, wh, byBatch = false)
    val e = Common.expect(o.seed, (1L to lastEnd).filter(_ != lastGap))
    Chain.Tables.foreach { t =>
      if (counts((t, -1L)) != e.rows(t)) r.fail(s"$t rows ${counts((t, -1L))} != ${e.rows(t)}")
    }
    // each done item appended one index_state row at the warehouse's top
    // height then, which is its own end: the items run in order
    val done = items.indices.filter(_ % 2 == 1).map(items)
    val idx = p.readTableRaw("index_state").filter(col("index_name") === Component)
      .select("last_processed_height").collect().map(_.getLong(0)).toSeq
    val idxWant = (1L to History / Range).map(_ * Range) ++ done.map(_.end)
    if (idx.sorted != idxWant.sorted)
      r.fail(s"index_state heights ${idx.sorted.takeRight(3)}, expected ${idxWant.takeRight(3)}")
    val latest = p.readTable("index_state").filter(col("index_name") === Component)
      .select("last_processed_height").collect().map(_.getLong(0)).toSeq
    if (latest != Seq(done.last.end)) r.fail(s"index_state $latest, expected ${done.last.end}")
    val fb = p.readTable("failed_blocks").filter(col("block_height") > History)
      .select("block_height", "status").collect().map(row => row.getLong(0) -> row.getString(1)).toMap
    val fbWant = planted.map(h => h -> (if (h == lastGap) "pending" else "recovered")).toMap
    if (fb != fbWant)
      r.fail(s"failed_blocks ${fb.toSeq.sorted.takeRight(3)}, expected ${fbWant.toSeq.sorted.takeRight(3)}")
    val transientPaths = (1L to lastEnd).flatMap(h => Seq(s"/block?height=$h", s"/block_results?height=$h"))
      .count(Node.transient)
    if (Node.failures.sum > transientPaths)
      r.fail(s"${Node.failures.sum} transport failures, at most $transientPaths planted")
  }
}
