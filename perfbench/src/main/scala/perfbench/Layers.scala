package perfbench

/** Per-layer metrics of a traced run, named `<module>.<span>.<measure>`.
  * Per-call measures are means over the spans of that name; a layer the
  * workload never entered reports 0. */
object Layers {
  /** The request layers: each reports latency, jobs, tasks, task time
    * and driver time per call. */
  val Requests = Seq("index.term_query", "search.request", "index.facet_field",
    "index.range_facet", "index.pushdown_lookup", "ops.ivf_query", "ops.hnsw_query")

  def metrics(tr: Trace, w: Workload, rec: Recorder, root: Span,
              overhead: Double): Seq[(String, Double, String)] = {
    def spans(name: String) = tr.spans.filter(_.name == name).toSeq
    def perCall(name: String)(f: Span => Double) = Stats.mean(spans(name).map(f))
    def count(s: Span, k: String) = s.counts.getOrElse(k, 0.0)
    def jobs(s: Span) = tr.jobsOf(s).size.toDouble
    def tasks(s: Span) = tr.stagesOf(s).map(_.tasks).sum.toDouble
    def taskMs(s: Span) = tr.stagesOf(s).map(_.taskMs).sum.toDouble
    def p50(name: String) = Stats.median(spans(name).map(_.wallMs))
    // the write job's shuffle-map stages are the route+dedup exchange;
    // the stages that write no shuffle are the segment writer
    def mapStages(s: Span) = tr.stagesOf(s).filter(_.shuffleWriteBytes > 0)
    def writerStages(s: Span) = tr.stagesOf(s).filter(_.shuffleWriteBytes == 0)

    val requests = Requests.flatMap { n => Seq(
      (s"$n.p50_ms", p50(n), "ms"),
      (s"$n.jobs", perCall(n)(jobs), "count"),
      (s"$n.tasks", perCall(n)(tasks), "count"),
      (s"$n.task_ms", perCall(n)(taskMs), "ms"),
      (s"$n.driver_ms", perCall(n)(tr.driverMs), "ms"))
    }
    val readTaskS = perCall("sources.avro_read")(taskMs) / 1000
    val upsertUserBytes = spans("index.upsert").map(count(_, "user_bytes")).sum
    val selfSum = tr.spans.map(tr.selfMs).sum
    Seq(
      ("sources.avro_read.task_s", readTaskS, "s"),
      ("sources.avro_read.input_bytes",
        perCall("sources.avro_read")(s => tr.stagesOf(s).map(_.inputBytes).sum.toDouble), "B"),
      // read + morphline into a no-op sink: the ETL stage as a whole
      ("etl.morphline.task_s", perCall("etl.morphline")(taskMs) / 1000, "s"),
      ("route.exchange.task_s", perCall("index.write")(s => mapStages(s).map(_.taskMs).sum / 1000.0), "s"),
      ("route.exchange.shuffle_bytes",
        perCall("index.write")(s => mapStages(s).map(_.shuffleWriteBytes).sum.toDouble), "B"),
      ("index.write.wall_s", perCall("index.write")(_.wallMs / 1000), "s"),
      ("index.write.task_s", perCall("index.write")(s => writerStages(s).map(_.taskMs).sum / 1000.0), "s"),
      ("index.write.max_task_s",
        perCall("index.write")(s => writerStages(s).map(_.maxTaskMs).foldLeft(0L)(math.max) / 1000.0), "s"),
      ("index.write.spill_bytes",
        perCall("index.write")(s => tr.stagesOf(s).map(_.spillBytes).sum.toDouble), "B"),
      ("index.write.gc_s", perCall("index.write")(s => tr.stagesOf(s).map(_.gcMs).sum / 1000.0), "s"),
      ("index.write.bytes_written", perCall("index.write")(count(_, "bytes_written")), "B"),
      ("index.write.micro_shards", perCall("index.write")(count(_, "micro_shards")), "count"),
      ("index.merge_tree.wall_s", perCall("index.merge_tree")(_.wallMs / 1000), "s"),
      ("index.merge_tree.bytes_written", perCall("index.merge_tree")(count(_, "bytes_written")), "B"),
      ("index.optimize.wall_s", perCall("index.optimize")(_.wallMs / 1000), "s"),
      ("index.optimize.task_s", perCall("index.optimize")(taskMs) / 1000, "s"),
      ("index.optimize.bytes_written", perCall("index.optimize")(count(_, "bytes_written")), "B"),
      ("index.optimize.segments_in", perCall("index.optimize")(count(_, "segments_in")), "count"),
      ("index.doc_counts.wall_s", perCall("index.doc_counts")(_.wallMs / 1000), "s"),
      ("build.docs_per_s", Stats.median(w.buildRates.toSeq), "docs/s"),
      ("build.jobs", perCall("build")(jobs), "count"),
      ("build.driver_s", perCall("build")(tr.driverMs) / 1000, "s"),
      ("search.parse.p50_us", p50("search.parse") * 1000, "us"),
    ) ++ requests ++ Seq(
      ("ops.ivf_query.recall_at_10", Stats.mean(rec.values("ops.ivf_query.recall_at_10")), "1"),
      ("ops.hnsw_query.recall_at_10", Stats.mean(rec.values("ops.hnsw_query.recall_at_10")), "1"),
      ("index.upsert.p50_ms", p50("index.upsert"), "ms"),
      ("index.upsert.jobs", perCall("index.upsert")(jobs), "count"),
      ("index.upsert.task_ms", perCall("index.upsert")(taskMs), "ms"),
      ("index.upsert.driver_ms", perCall("index.upsert")(tr.driverMs), "ms"),
      ("index.upsert.bytes_written_per_user_byte",
        if (upsertUserBytes == 0) 0.0
        else spans("index.upsert").map(count(_, "bytes_written")).sum / upsertUserBytes, "1"),
      ("index.upsert.merges", spans("index.upsert").map(count(_, "merges")).sum, "count"),
      ("index.segments_per_part", w.segmentsPerPart, "count"),
      ("ops.ivf_add.p50_ms", p50("ops.ivf_add"), "ms"),
      ("ops.ivf_add.jobs", perCall("ops.ivf_add")(jobs), "count"),
      ("ops.ivf_add.driver_ms", perCall("ops.ivf_add")(tr.driverMs), "ms"),
      ("ops.ivf_add.bytes_written", perCall("ops.ivf_add")(count(_, "bytes_written")), "B"),
      ("ops.ivf_add.compactions", spans("ops.ivf_add").map(count(_, "compactions")).sum, "count"),
      ("trace.overhead_ratio", overhead, "1"),
      ("trace.self_sum_ratio", selfSum / root.wallMs, "1"),
      ("trace.driver_ratio", tr.driverMs(root) / root.wallMs, "1"),
      ("trace.spans", tr.spans.size.toDouble, "count"))
  }


}
