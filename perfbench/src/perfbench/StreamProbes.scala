package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest.Flatten
import graft.queries.Mvs
import graft.schema.Schemas
import graft.streaming.StreamingIngest

/** Traced-run probes of the write path that lands the dashboard warehouse:
  * a few more envelope files of the same chain, each delivered into a fresh
  * exactly-once stream and drained with `processAllAvailable`, then the same
  * files flattened to a noop sink, written directly with
  * `ingestBatchExactlyOnce`, and written directly on `local[1]`. The
  * differences split a stream batch into flatten, write/commit and stream
  * overhead. The last step rebuilds the session, so this runs last. */
object StreamProbes {
  val Files = 4 // the first is an untimed warm-up
  val BlocksPerFile = 100L

  def run(spark: SparkSession, seed: Long, dir: String, firstHeight: Long, r: Result): Unit = {
    Common.fresh(dir)
    val heights = (0 until Files).map(f =>
      (firstHeight + f * BlocksPerFile) until (firstHeight + (f + 1) * BlocksPerFile))
    val files = Common.stageFiles(spark, seed, s"$dir/staged", heights)
    val timed = 1 until Files

    // the stream, traced
    val q = Common.startStream(spark, dir)
    val t = new Tracer(spark)
    val streamSecs = try {
      Common.deliver(spark, q, dir, files(0), 0)
      t.attach()
      val from = System.currentTimeMillis()
      val secs = timed.map(i => Stats.secs(Common.deliver(spark, q, dir, files(i), i))._2)
      val to = System.currentTimeMillis()
      t.detach()
      r.put("streaming.jobs_per_batch", t.jobsIn(from, to).size.toDouble / timed.size, "count")
      secs
    } finally q.stop()
    Log(s"stream batches ${streamSecs.map(s => f"$s%.2f").mkString(" ")}")
    def read(ss: SparkSession, f: String) = ss.read.schema(Schemas.envelope).parquet(f)
    // staged files moved into the stream's input; read them from there
    val inputs = files.indices.map(i => f"$dir/in/chunk-$i%05d.parquet")
    // planted redelivery of the last batch under its batch id: the partition
    // overwrite must absorb it, so every batch is there exactly once
    StreamingIngest.ingestBatchExactlyOnce(s"$dir/wh", read(spark, inputs.last), Files - 1L,
      cacheInput = false)
    val counts = Common.tableCounts(spark, s"$dir/wh", byBatch = false)
    val e = Common.expect(seed, heights.flatten)
    Chain.Tables.foreach { tb =>
      if (counts((tb, -1L)) != e.rows(tb)) r.fail(s"probe stream $tb rows ${counts((tb, -1L))} != ${e.rows(tb)}")
    }
    r.put("ingest.rows_per_block", e.rows.values.sum.toDouble / heights.flatten.size, "count")

    def flattenOnly(ss: SparkSession, f: String): Unit = {
      val tables = Flatten(read(ss, f))
      val outs: Seq[DataFrame] = tables.all.map(_._2) ++ Seq(Mvs.dailyBlockStatsDelta(tables.blocks),
        Mvs.dailyTxStatsDelta(tables.txs, tables.blocks), Mvs.eventTypeStatsDelta(tables.txEvents, tables.blocks))
      // concurrently, like the ingest writer's own fan-out
      val pool = java.util.concurrent.Executors.newFixedThreadPool(outs.size)
      try outs.map(df => pool.submit(new Runnable {
          def run(): Unit = df.write.format("noop").mode("overwrite").save() }))
        .foreach(_.get())
      finally pool.shutdown()
    }
    def direct(ss: SparkSession, f: String, id: Long, wh: String): Unit =
      StreamingIngest.ingestBatchExactlyOnce(wh, read(ss, f), id, cacheInput = false)
    val flat = timed.map(i => Stats.secs(flattenOnly(spark, inputs(i)))._2)
    val directN = timed.map(i => Stats.secs(direct(spark, inputs(i), i, s"$dir/direct"))._2)
    Log(s"flatten ${flat.map(s => f"$s%.2f").mkString(" ")}; direct ${directN.map(s => f"$s%.2f").mkString(" ")}")
    r.put("ingest.flatten_s", Stats.median(flat), "s")
    r.put("store.commit_s", Stats.median(directN) - Stats.median(flat), "s")
    r.put("streaming.overhead_s", Stats.median(streamSecs) - Stats.median(directN), "s")

    // the same direct writes on local[1]
    spark.stop()
    val one = Main.session(1)
    direct(one, inputs(0), 0, s"$dir/direct1") // warm the new context
    val direct1 = timed.map(i => Stats.secs(direct(one, inputs(i), i, s"$dir/direct1"))._2)
    r.put("spark.speedup_vs_1core", Stats.median(direct1) / Stats.median(directN), "ratio")
    one.stop()
  }
}
