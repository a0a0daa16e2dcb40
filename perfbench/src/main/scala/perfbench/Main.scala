package perfbench

import java.io.File

/**
 * Benchmark main, launched by `perfbench/run.py`:
 *
 *   --workload build|ingest  --seed N  --seconds S  --trace 0|1
 *   --work DIR (fresh, deleted by the caller)  --cores N
 *
 * Set-up runs three times, each into its own directory; the last one
 * serves the run and `setup_s` takes the median. A fixed number of
 * warm-up ops runs on the first set-up's stores, so the JIT is warm
 * for the later set-ups and the timed ops. Untraced, a closed loop of
 * one client runs the workload's ops for S seconds and the end-to-end
 * metrics are printed. Traced, a fixed number of ops (about S/2 seconds' worth)
 * runs untraced, then as many further ops under the span recorder and
 * job listener, and the per-layer metrics are printed.
 * The last stdout line is the result object; the line before it
 * records the host sizing and sample counts.
 */
object Main {
  val SetupReps = 3
  /** Op indices of the warm-up: a stream apart from the timed ops. */
  val WarmUpFirst = 1000000L

  /** Run op `i`, then release what it left pinned. */
  private def runOp(ctx: Ctx, w: Workload)(i: Long): Unit = {
    w.op(i)
    ctx.release()
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work"))
    val cores = args("cores").toInt

    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(spark.sparkContext)
    val ctx = new Ctx(spark, work, seed, trace)
    val w = Workload(workload, ctx)
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def setUp(rep: Int): Unit = {
      val s0 = System.nanoTime()
      w.setup(new File(work, s"setup-$rep"))
      setupS += (System.nanoTime() - s0) / 1e9
      if (rep > 1) Files.delete(new File(work, s"setup-${rep - 1}"))
      ctx.release()
    }
    // the warm-up runs on the first set-up's stores, so the later
    // set-ups (and their builds) run on a warm JVM
    setUp(1)
    Loop.run(seconds * 100, first = WarmUpFirst, count = w.warmUpOps)(runOp(ctx, w))
    (2 to SetupReps).foreach(setUp)
    w.prepare()
    ctx.release()
    ctx.rec.clear()

    val metrics =
      if (!traced) {
        val r = Loop.run(seconds)(runOp(ctx, w))
        w.finish()
        endToEnd(ctx, w, sessionS + Stats.median(setupS.toSeq), r)
      } else {
        // an untraced pass, then as many ops again traced
        val n = w.cycle * math.max(1L, math.round(seconds / 2 * w.nominalRate / w.cycle))
        val plain = Loop.run(seconds * 100, first = 0, count = n)(runOp(ctx, w))
        trace.start()
        val (root, traced) = trace.span("run") { s =>
          (s, Loop.run(seconds * 100, first = n, count = n) { i =>
            trace.nextRequest()
            runOp(ctx, w)(i)
          })
        }
        trace.stop()
        w.finish()
        Layers.metrics(trace, w, ctx.rec, root, overhead = traced.wallS / plain.wallS)
      }

    val rec = ctx.rec
    val kinds = Seq("index.term_query", "search.request", "index.pushdown_lookup",
      "index.facet_field", "index.range_facet", "ops.ivf_query", "ops.hnsw_query",
      "index.upsert", "ops.ivf_add")
    val env = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "cores" -> cores.toString,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "jvm" -> s""""${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"""",
      "spark" -> s""""${spark.version}"""",
      "session_s" -> sessionS.toString,
      "setup_reps_s" -> setupS.map(_.toString).mkString("[", ",", "]"),
      "samples" -> kinds.map(k => s""""$k":${rec.values(k).size}""").mkString("{", ",", "}"),
      "build_rates" -> w.buildRates.map(math.round(_)).mkString("[", ",", "]"),
      "p50_ms" -> kinds.map(k => s""""$k":${Stats.median(rec.values(k))}""").mkString("{", ",", "}"))
    println(env.map { case (k, v) => s""""$k":$v""" }.mkString("""{"env":{""", ",", "}}"))
    val body = metrics.map { case (name, v, unit) =>
      require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
      s""""$name":{"value":$v,"unit":"$unit"}"""
    }.mkString(",")
    val attempted = rec.attempted
    val failed = rec.failed
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    spark.stop()
  }

  def endToEnd(ctx: Ctx, w: Workload, setupS: Double,
               r: Loop.Result): Seq[(String, Double, String)] = {
    val rec = ctx.rec
    val attempted = rec.attempted.toDouble
    Seq(
      ("setup_s", setupS, "s"),
      ("success_ratio", (attempted - rec.failed) / attempted, "1"),
      ("ops_per_s", r.ops / r.wallS, "1/s"),
      ("store_bytes_per_doc", w.bytesPerDoc, "B"),
      ("term_p50_ms", Stats.median(rec.values("index.term_query")), "ms"),
      ("search_p50_ms", Stats.median(rec.values("search.request")), "ms"),
      ("lookup_p50_ms", Stats.median(rec.values("index.pushdown_lookup")), "ms"))
  }
}
