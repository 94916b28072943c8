package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.schema.Schemas
import graft.streaming.StreamingIngest

object Common {
  /** Envelope rows for `heights`, generated on the executors. */
  def envelopes(spark: SparkSession, seed: Long, heights: Seq[Long]): DataFrame = {
    val rdd = spark.sparkContext.parallelize(heights, math.max(1, math.min(heights.size / 200, 16)))
      .map(h => Chain.envelopeRow(Chain.block(seed, h)))
    spark.createDataFrame(rdd, Schemas.envelope)
  }

  /** Envelope parquet files under `dir`, one per entry of `files` (which
    * lists each file's heights), in order; returns their paths. */
  def stageFiles(spark: SparkSession, seed: Long, dir: String, files: IndexedSeq[Seq[Long]]): IndexedSeq[String] = {
    val rdd = spark.sparkContext.parallelize(files, files.size)
      .flatMap(_.map(h => Chain.envelopeRow(Chain.block(seed, h))))
    // 1 MiB row groups: a landing file written for a parallel consumer
    spark.createDataFrame(rdd, Schemas.envelope)
      .write.option("parquet.block.size", 1L << 20).parquet(dir)
    val parts = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
      .map(n => s"$dir/$n").toIndexedSeq
    require(parts.size == files.size, s"staged ${parts.size} files, expected ${files.size}")
    parts
  }

  /** An exactly-once ingest stream over `dir/in` into `dir/wh`, one file per
    * micro-batch. */
  def startStream(spark: SparkSession, dir: String): StreamingQuery = {
    new java.io.File(s"$dir/in").mkdirs()
    StreamingIngest.startExactlyOnce(spark, s"$dir/in", s"$dir/wh", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime("0 seconds"), maxFilesPerTrigger = Some(1),
      format = "parquet")
  }

  /** Move staged file `file` into the stream's input as batch `i`
    * (atomically) and wait until its batch committed. */
  def deliver(spark: SparkSession, q: StreamingQuery, dir: String, file: String, i: Int): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.rename(new Path(file), new Path(f"$dir/in/chunk-$i%05d.parquet"))
    q.processAllAvailable()
  }

  def expect(seed: Long, heights: Iterable[Long]): Chain.Expect = {
    val e = new Chain.Expect
    heights.foreach(h => e.add(Chain.block(seed, h)))
    e
  }

  def fresh(dir: String): String = {
    deleteRecursively(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    dir
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Bytes and file count of the parquet files under `dir`. */
  def parquetFootprint(dir: String): (Long, Long) = {
    var bytes = 0L; var files = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet")) { bytes += f.length; files += 1 }
    walk(new java.io.File(dir))
    (bytes, files)
  }

  /** Table row counts of a warehouse, keyed by table, optionally per
    * `ingest_batch` partition. */
  def tableCounts(spark: SparkSession, wh: String, byBatch: Boolean): Map[(String, Long), Long] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Chain.Tables.size)
    try Chain.Tables.map { t =>
      pool.submit(new java.util.concurrent.Callable[Seq[((String, Long), Long)]] {
        def call() = {
          val df = spark.read.parquet(s"$wh/$t")
          if (byBatch)
            df.groupBy("ingest_batch").count().collect()
              .map(r => (t, long(r, 0)) -> r.getLong(1)).toSeq
          else Seq((t, -1L) -> df.count())
        }
      })
    }.flatMap(_.get()).toMap
    finally pool.shutdown()
  }

  /** First difference between expected and actual MV answers, if any. The
    * rows are MV1 (date, blocks, txs, events), MV2 (date, txs, gas, failed)
    * or MV3 (date, type, events). */
  def checkMv(which: Int, rows: Array[Row], e: Chain.Expect): Option[String] = {
    val got: Map[Any, Any] = which match {
      case 1 => rows.map(r => r.getAs[java.sql.Date]("date").toString ->
        (r.getAs[Long]("blocks_count"), r.getAs[Long]("total_txs"), r.getAs[Long]("total_events"))).toMap
      case 2 => rows.map(r => r.getAs[java.sql.Date]("date").toString ->
        (r.getAs[Long]("tx_count"), r.getAs[Long]("total_gas_used"), r.getAs[Long]("failed_txs"))).toMap
      case _ => rows.map(r => (r.getAs[java.sql.Date]("date").toString, r.getAs[String]("type")) ->
        r.getAs[Long]("event_count")).toMap
    }
    val want: Map[Any, Any] = which match {
      case 1 => e.mvBlocks.toMap
      case 2 => e.mvTxs.toMap
      case _ => e.mvEvents.toMap
    }
    if (got == want) None
    else Some(s"mv$which: ${(want.toSet diff got.toSet).take(2)} expected, got ${(got.toSet diff want.toSet).take(2)}")
  }

  /** A number column that partition discovery may type as int or long. */
  def long(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  /** Run `op` until `seconds` have passed, at least `minOps` times and a
    * whole multiple of `multipleOf` times; returns each op's wall time. */
  def closedLoop(seconds: Double, minOps: Int, maxOps: Int = Int.MaxValue, multipleOf: Int = 1)
                (op: => Unit): Seq[Double] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    while ((out.size < minOps || System.nanoTime() < deadline || out.size % multipleOf != 0) &&
      out.size < maxOps) {
      val t0 = System.nanoTime()
      op
      out += (System.nanoTime() - t0) / 1e9
    }
    Log(s"${out.size} ops, p50 ${Stats.median(out.toSeq)}: ${out.map(x => f"$x%.2f").mkString(" ")}")
    out.toSeq
  }

  /** Size shuffles from the workload's input the way the program's own
    * mains do (graft.Tune), instead of Spark's fixed 200. */
  def tune(spark: SparkSession, inputDir: String): Unit =
    spark.conf.set("spark.sql.shuffle.partitions", graft.Tune.shufflePartitions(inputDir).toString)

  /** One untimed set-up, which pays class loading and code generation, then
    * the median of `reps` timed ones. `build(i)` must leave a complete state;
    * the last one is the state the run uses. */
  def setups(r: Result, reps: Int)(build: Int => Unit): Unit = {
    val ts = (0 to reps).map(i => Stats.secs(build(i))._2)
    Log(s"setups ${ts.map(t => f"$t%.2f").mkString(" ")} (the first untimed)")
    r.put("setup_s", Stats.median(ts.tail), "s")
  }
}

/** The per-layer metric catalogue of the listed workloads. A traced run
  * reports every name; a layer a workload does not use reads 0. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "store.files_per_batch" -> "count", "store.bytes_written" -> "bytes",
    "store.bytes_per_block" -> "bytes",
    "sources.rpc_calls" -> "count", "sources.rpc_retries" -> "count",
    "sources.transport_s" -> "s",
    "pipeline.resume_s" -> "s", "pipeline.seed_s" -> "s", "pipeline.claim_s" -> "s",
    "pipeline.ingest_s" -> "s", "pipeline.verify_s" -> "s",
    "pipeline.state_write_s" -> "s", "pipeline.retry_s" -> "s",
    "pipeline.jobs_per_cycle" -> "count", "pipeline.state_rows_per_key" -> "ratio",
    "read.mv_p50_s" -> "s", "read.mv_recompute_p50_s" -> "s", "read.final_p50_s" -> "s",
    "read.point_p50_s" -> "s", "read.range_p50_s" -> "s", "read.gap_p50_s" -> "s",
    "read.monitor_p50_s" -> "s", "read.p90_s" -> "s", "read.files_per_point" -> "count",
    "read.rows_scanned_per_row" -> "ratio",
    "ingest.flatten_s" -> "s", "ingest.rows_per_block" -> "count", "store.commit_s" -> "s",
    "streaming.overhead_s" -> "s", "streaming.jobs_per_batch" -> "count",
    "spark.speedup_vs_1core" -> "ratio") ++
    CurationJobs.Queries.map(q => s"curate.${q}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.driver_only_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes", "spark.task_skew" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB") ++
    Tracer.Layers.map(l => s"self.${l}_s" -> "s") ++ Seq(
    "trace.wall_s" -> "s", "trace.overhead_frac" -> "ratio")

  /** Zero every per-layer metric, then let the workload fill its own. */
  def init(r: Result): Unit = all.foreach { case (n, u) => r.put(n, 0.0, u) }

  /** Engine counters and layer self times over a traced window. */
  def engine(r: Result, t: Tracer, from: Long, to: Long, gc0: Double): Unit = {
    val js = t.jobsIn(from, to)
    r.put("spark.jobs", js.size, "count")
    r.put("spark.tasks", js.map(_.tasks).sum, "count")
    r.put("spark.executor_cpu_s", js.map(_.cpuNs).sum / 1e9, "s")
    r.put("spark.executor_run_s", js.map(_.runMs).sum / 1e3, "s")
    r.put("spark.shuffle_write_bytes", js.map(_.shuffleWrite).sum, "bytes")
    r.put("spark.shuffle_read_bytes", js.map(_.shuffleRead).sum, "bytes")
    r.put("spark.spill_bytes", js.map(_.spill).sum, "bytes")
    r.put("spark.input_bytes", js.map(_.input).sum, "bytes")
    r.put("spark.output_bytes", js.map(_.output).sum, "bytes")
    val tasks = t.taskRunTimes().map(_.toDouble)
    val med = Stats.median(tasks)
    r.put("spark.task_skew", if (tasks.nonEmpty && med > 0) tasks.max / med else 0.0, "ratio")
    r.put("jvm.gc_s", Tracer.gcSeconds() - gc0, "s")
    r.put("jvm.heap_peak_mb", Tracer.heapPeakMb(), "MB")
    val (self, noJob) = t.selfTimes(from, to)
    Tracer.Layers.foreach(l => r.put(s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
    // self.* + spark.driver_only_s = trace.wall_s only if no job was booked
    // to a layer outside Tracer.Layers
    (self -- Tracer.Layers).foreach { case (l, secs) =>
      Log(f"WARNING: $secs%.3f s of traced jobs in layer $l, which has no self metric") }
    r.put("spark.driver_only_s", noJob, "s")
    r.put("trace.wall_s", (to - from) / 1000.0, "s")
  }

  /** Run the measured loop untraced, traced, and untraced again; report the
    * per-layer metrics of the traced pass and its median op time against the
    * mean of the two untraced ones (bracketing cancels steady warm-up). */
  def tracedRun(spark: SparkSession, r: Result, measure: Option[Tracer] => Seq[Double])
               (layerMetrics: (Tracer, Long, Long) => Unit): Unit = {
    val before = Stats.median(measure(None))
    val t = new Tracer(spark)
    t.attach()
    Tracer.resetHeapPeak()
    val gc0 = Tracer.gcSeconds()
    val from = System.currentTimeMillis()
    val traced = Stats.median(t.span("measure", "bench")(measure(Some(t))))
    val to = System.currentTimeMillis()
    t.detach()
    engine(r, t, from, to, gc0)
    // where the traced window went, by call site, for the run log
    t.jobsIn(from, to).groupBy(j => s"${t.layerOf(j)} ${j.callShort}").toSeq
      .map { case (k, js) => (k, js.size, js.map(j => j.end - j.start).sum / 1000.0, js.map(_.tasks).sum) }
      .sortBy(-_._3).take(25)
      .foreach { case (k, n, secs, tasks) => Log(f"jobs $n%4d $secs%8.3f s $tasks%6d tasks  $k") }
    layerMetrics(t, from, to)
    val after = Stats.median(measure(None))
    r.put("trace.overhead_frac", traced / ((before + after) / 2) - 1.0, "ratio")
  }
}
