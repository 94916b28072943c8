package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.SparkEntry

/** curation_jobs: one fixed list of `ext` queries from `SparkEntry.queries`
  * (the pair/dedup heavy tail plus the streaming near-dup replay and the
  * curation funnel) over a seeded document corpus, run as whole passes from
  * input to all results. `ext` is most of the program and nothing else
  * measures it; the store, pipeline and sources layers stay idle. Every
  * result is checked against DuckDB running that query's own oracle SQL
  * (done by the runner after the JVM exits). */
object CurationJobs {
  /** The pair/dedup heavy tail, the streaming near-dup replay and the funnel. */
  val Queries: Seq[String] = Seq("x_winnow_pairs", "x_prefix_pairs",
    "x_containment_pairs", "x_near_dup", "x_lsh_pairs", "x_incr_near_dup",
    "x_source_overlap", "x_semdedup", "x_jaccard_pairs", "x_fingerprint",
    "x_stream_neardup_eq", "x_curation_funnel")
  val Docs = 300
  val Dim = 64
  private val Words = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  /** Corpus shaped like the shipped test documents: 10–100 words from a
    * 30-word vocabulary, 20 sources, and 5 % near-duplicates (another doc's
    * text plus a trailing "dup"); 64-d unit embeddings with 10 labels. */
  def generate(spark: SparkSession, seed: Long, dir: String, docs: Int): Unit = {
    Common.fresh(dir)
    val rng = new SplittableRandom(Chain.mix(seed, 0xd0c5L))
    val base = Array.fill(docs)(Array.fill(10 + rng.nextInt(91))(Words(rng.nextInt(Words.length))).mkString(" "))
    val texts = base.indices.map { i =>
      if (rng.nextInt(20) == 0) base((i + 1 + rng.nextInt(docs - 1)) % docs) + " dup" else base(i)
    }
    val docRows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Langs(rng.nextInt(Langs.length)), s"src${i % 20}", t.length.toLong) }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    val vecs = (0 until docs / 5).map { i =>
      val v = Array.fill(Dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, rng.nextInt(10))
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    single(spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema), s"$dir/documents.parquet")
    single(spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1), vecSchema), s"$dir/embeddings.parquet")
  }

  /** Write `df` as one parquet file at `path`. */
  private def single(df: DataFrame, path: String): Unit = {
    val tmp = path + ".d"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    require(part.renameTo(new java.io.File(path)), s"cannot place $path")
    Common.deleteRecursively(new java.io.File(tmp))
  }

  def run(spark: SparkSession, o: Main.Opts, r: Result): Unit = {
    var dir = ""
    // the corpus takes well under a second to write: more reps steady the median
    Common.setups(r, 6) { i =>
      dir = s"${o.work}/docs$i"
      generate(spark, o.seed, dir, Docs)
      Common.tune(spark, dir)
    }
    val queries = Queries.map(q => q -> SparkEntry.queries(q))
    val sql = (SparkEntry.oracleSql ++ SparkEntry.dynamicOracleSql(spark, dir))
      .filter { case (q, _) => Queries.contains(q) }
      .map { case (q, s) => q -> s.replace("{{SF}}", dir) }
    require(sql.size == queries.size, s"oracle SQL for ${sql.keySet}, expected ${queries.map(_._1)}")

    // untimed warm-up pass over the same corpus, the queries side by side,
    // one per core: class loading, code generation and the JIT's compiles
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    try queries.map { case (_, f) => pool.submit(new Runnable {
        def run(): Unit = f(spark, dir).write.format("noop").mode("overwrite").save() })
      }.foreach(_.get())
    finally pool.shutdown()
    Log("warm")

    val outputs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val querySecs = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    var next = 0
    // one op is one query; a run is whole passes over the list, in order
    def measure(t: Option[Tracer]): Seq[Double] =
      Common.closedLoop(o.seconds, minOps = queries.size, multipleOf = queries.size) {
        val (q, f) = queries(next % queries.size)
        val out = s"${o.work}/out/op$next-$q"
        def go(): Unit = f(spark, dir).write.parquet(out)
        val secs = Stats.secs(t match {
          case Some(tr) => tr.span(q, "ext")(go())
          case None => go()
        })._2
        querySecs(q) = querySecs(q) :+ secs
        outputs += (q -> out)
        next += 1
      }

    if (!o.trace) {
      val secs = measure(None)
      r.put("op_p50_s", Stats.median(secs), "s")
      // documents through the whole list per second: 1 / pass time, in docs
      r.put("items_per_s", secs.size / queries.size * Docs / secs.sum, "1/s")
    } else {
      PerLayer.init(r)
      PerLayer.tracedRun(spark, r, t => { querySecs.clear(); measure(t) }) { (_, _, _) =>
        Queries.foreach(q => r.put(s"curate.${q}_s", Stats.median(querySecs(q)), "s"))
      }
    }
    Log(s"${next / queries.size} passes")
    // each output is one op; the runner checks it against the oracle
    r.attempted += outputs.size
    import Result.{str => js}
    r.extra("oracle") = "{" + s""""dir": ${js(dir)}, "sql": {""" +
      sql.map { case (q, s) => s"${js(q)}: ${js(s)}" }.mkString(", ") + "}, \"outputs\": [" +
      outputs.map { case (q, p) => s"[${js(q)}, ${js(p)}]" }.mkString(", ") + "]}"
  }
}
