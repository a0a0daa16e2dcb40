package graft

import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape regression tests: lock in the physical properties the
 * 100 TB posture depends on (README "100 TB posture"). A code change
 * that silently turns a broadcast join into a shuffle join, or stops
 * a filter from reaching the scan, fails HERE, not in production.
 */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, TestSpark.sf).queryExecution.executedPlan.toString

  test("q11 term query: predicate pushed to the parquet scan") {
    val p = plan("q11_term_query")
    assert(p.contains("PushedFilters") && p.contains("StringContains"), p.take(1500))
  }

  test("q02 aggregation: map-side partial aggregation before the exchange") {
    val p = plan("q02_pricing_summary")
    assert(p.contains("partial_sum"), p.take(1500))
  }

  test("q14 join: both dimensions broadcast, no shuffle join") {
    val p = plan("q14_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q12 shard counts: custom shard expression aggregated before exchange") {
    val p = plan("q12_shard_counts")
    assert(p.contains("solr_shard"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
  }

  test("q25 ANN: fused array_dot in the plan, query side broadcast") {
    val p = plan("q25_cosine_topk")
    assert(p.contains("array_dot"), p.take(2000))
    assert(p.contains("Broadcast"), p.take(2000))
  }

  test("q01 match-all: scan reads no data columns (count pushdown shape)") {
    val p = plan("q01_match_all")
    assert(p.contains("ReadSchema: struct<>"), p.take(1500))
  }

  test("q16 top-k: rank zipped post-collect — final frame is local, no window/exchange") {
    // the corpus-side top-k (TakeOrderedAndProject) runs inside
    // rankCollected's bounded collect; the returned frame is the
    // 10-row local relation with ranks — NO WindowExec, no exchange,
    // no "No Partition Defined" warning source anywhere
    val p = plan("q16_topk_orders")
    assert(p.contains("LocalTableScan"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
    // and the inner bounded frame takes the top-k path, not a global sort
    val inner = graft.Tables.orders(spark, TestSpark.sf)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
    val ip = inner.queryExecution.executedPlan.toString
    assert(ip.contains("TakeOrderedAndProject"), ip.take(2000))
  }

  test("whole-stage codegen present in scan-heavy queries") {
    for (q <- Seq("q11_term_query", "q07_convert_timestamp", "q20_fingerprint")) {
      assert(plan(q).contains("*(1)"), q) // codegen stages render as *(n)
    }
  }

  test("fused kernels appear in plans (no interpreted HOF fallbacks)") {
    assert(plan("q23_simhash").contains("solr_hash"), "q23 token hashing")
    val p26 = plan("q26_lsh_ann")
    assert(p26.contains("hyperplane_sig"), p26.take(2000))
    val p22 = plan("q22_minhash_pairs")
    assert(p22.contains("minhash_sig") && p22.contains("poly_shingles"),
      p22.take(2000))
    val p48 = plan("q48_winnowing")
    assert(p48.contains("winnow_minima"), p48.take(2000))
    val p24 = plan("q24_ngram_jaccard")
    assert(p24.contains("string_shingles"), p24.take(2000))
  }

  test("q46 IVF: fused centroid kernel, corpus side never broadcast") {
    val p = plan("q46_ivf_ann")
    assert(p.contains("centroid_neg_cosines"), p.take(2000))
  }

  test("q67 decontamination: benchmark grams broadcast, corpus never shuffled for the join") {
    val p = plan("q67_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q70 as-of join: one union+window plan — NO join operator at all") {
    val p = plan("q70_asof_join")
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("Union") && p.contains("Window"), p.take(3000))
  }

  test("asofJoin operator in isolation: exactly ONE hash exchange") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val left = Seq((1L, 10L, 100L)).toDF("event_id", "k", "t")
    val right = Seq((10L, 90L, 1.5)).toDF("k", "t", "v")
    val p = graft.ops.Joins.asofJoin(left, right, "k", "t", "t", Seq("v"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly 1 hash exchange, got $exchanges:\n${p.take(3000)}")
  }

  test("q71 range join: bin equi-join, no broadcast-nested-loop / cartesian") {
    val p = plan("q71_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q63/q64 text scrubbing: pure map pipelines, zero exchanges") {
    for (q <- Seq("q63_pii_redact", "q64_url_canonical")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should be shuffle-free:\n${p.take(2000)}")
      assert(p.contains("*(1)"), s"$q should be whole-stage codegen'd")
    }
  }

  test("q56 self-join: no persisted-block race — broadcast side explicit, no InMemoryRelation") {
    val p = plan("q56_neardup_discovery")
    assert(!p.contains("InMemoryTableScan"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000)) // bounded by design
  }

  test("q73 TF-IDF: doc filter prunes the tf branch but idf still sees the whole corpus") {
    val p = plan("q73_tfidf")
    // the tf-side parquet scan must carry the doc_id pushdown...
    assert(p.contains("LessThan(doc_id,100)"), p.take(3000))
    // ...while the doc-frequency/corpus-count branches scan unfiltered
    // (three scans of documents: tf-filtered, docFreq, nDocs)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans >= 3, s"expected >=3 scans, got $scans")
  }

  test("q74 BM25: corpus stats and doc-freq attach via broadcast, term filter pushed down") {
    val p = plan("q74_bm25")
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000)) // top-20 distributed
  }

  test("build dataflow: dedup fuses into the route shuffle (ONE exchange)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(("doc1", "a", 10L), ("doc1", "b", 20L), ("doc2", "c", 5L))
      .toDF("id", "v", "ts")
    val routed = graft.index.ShardIndex.routedForWrite(
      docs, "id", shards = 2, splits = 2, dedupOrder = Some(col("ts")))
    val p = routed.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly 1 exchange, plan:\n${p.take(3000)}")
    assert(p.contains("row_number"), p.take(3000))
    // survivors match the standalone retain-most-recent operator
    val got = routed.select("id", "v").as[(String, String)].collect().toSet
    assert(got === Set(("doc1", "b"), ("doc2", "c")))
  }

  test("q102 join qparser: from-side broadcast left-semi, no shuffle of the to-side") {
    val p = plan("q102_join_qparser")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q101 block join: child filter + aggregation run BEFORE the parent join") {
    val p = plan("q101_block_join")
    // partial agg on the child side proves the groupBy shrinks the
    // probe before the join, not after
    assert(p.contains("partial_count"), p.take(2000))
  }

  test("q108 DSv2 index scan: term pushed into the scan, columns pruned") {
    val p = plan("q108_index_dsv2")
    assert(p.contains("pushedTerm=p_brand:Brand#23"), p.take(2000))
    // the filter column itself is pruned away (IsNotNull absorbed)
    val cols = "columns=([a-z_,]+)".r.findFirstMatchIn(p).map(_.group(1)).get
    assert(cols.split(",").toSet === Set("id", "p_name", "p_size"), p.take(2000))
  }

  test("q119 index range: bounds pushed as one term-dictionary range, nothing residual") {
    val p = plan("q119_index_range")
    assert(p.contains("pushedRange=p_name:[m TO q}"), p.take(2000))
    // both bounds absorbed exactly — no residual Filter re-evaluates them
    assert(!p.contains("Filter ("), p.take(2000))
  }

  test("Graft.search: exactly two scatter jobs, one task per part, and no part " +
    "ships more than topK rows even when 500 docs tie at score 0") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_search_jobs_").toString
    // 500 lang:en docs, none holding the ranked term: every hit scores 0
    graft.index.SegmentShardSink.write(
      (0 until 600).map(i => (f"d$i%04d", s"words number $i", if (i < 500) "en" else "de"))
        .toDF("id", "text", "lang"),
      "id", out, shards = 4, analyzedFields = Set("text"))
    val q = "text:zzz OR lang:en"
    val sc = spark.sparkContext
    val group = s"search-jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "Graft.search job-count lock", interruptOnCancel = false)
    val rows = try Graft.search(spark, out, q, topK = 10).collect()
    finally sc.clearJobGroup()
    org.apache.spark.TestListenerBus.drain(sc)
    assert(rows.map(_.getAs[String]("id")).toSeq === (0 until 10).map(i => f"d$i%04d"))
    assert(rows.forall(_.getAs[Double]("score_r") == 0.0))
    val jobs = sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted
    assert(jobs.length === 2, s"jobs: $jobs") // stats scatter + query scatter
    val tasks = jobs.map(j => sc.statusTracker.getJobInfo(j).get.stageIds()
      .map(st => sc.statusTracker.getStageInfo(st).get.numTasks()).sum)
    assert(tasks === Seq(4, 4)) // one task per part dir in each job
    // the bounded driver collect, by construction: each part ships its
    // local top-K, never its 125 tied hits
    val (_, _, parts) = graft.index.RankedSearch.scatter(spark, out, q, 10, None, None)
    assert(parts.length === 4 && parts.map(_.length).sum === 40, parts.map(_.length).toSeq)
  }

  test("q120 index TopN: term + sort + rows all pushed, global merge stays in Spark") {
    val p = plan("q120_index_topn")
    assert(p.contains("pushedTerm=p_brand:Brand#23"), p.take(2000))
    assert(p.contains("pushedTopN=[p_name DESC,id ASC] rows=15"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000)) // partial: Spark merges
  }

  test("q288 index limit: both legs' scans carry pushedLimit beside the pushed term") {
    val p = plan("q288_index_limit")
    assert(p.contains("pushedTerm=p_brand:Brand#23"), p.take(3000))
    assert(p.contains("pushedLimit=50"), p.take(3000))
    assert(p.contains("pushedTerm=p_brand:Brand#11"), p.take(3000))
    assert(p.contains("pushedLimit=1000000"), p.take(3000))
  }

  test("q121 index facet: grouped count answered from postings, no stored-doc scan") {
    val p = plan("q121_index_facet")
    assert(p.contains("pushedAgg=count(*)") && p.contains("pushedGroupBy=p_brand"),
      p.take(2000))
  }

  test("q136 unique(): outer distinct-count rides the pushed pivot, stored docs never read") {
    val p = plan("q136_index_unique")
    // inner GROUP BY (brand,size) + prefix fq all land in the scan
    assert(p.contains("pushedGroupBy=p_brand,p_size") &&
      p.contains("pushedRange=p_brand:[Brand#1 TO Brand#2}"), p.take(2000))
    assert(!p.contains("Filter ("), p.take(2000))
  }

  test("q141 JSON Facet API: avg rewrites to pushed sum+count, child rides the pivot, " +
    "parent broadcast") {
    val p = plan("q141_json_facet_api")
    assert(p.contains("pushedAgg=count(*),sum(p_size),count(p_size)") &&
      p.contains("pushedGroupBy=p_brand,"), p.take(3000))
    assert(p.contains("pushedGroupBy=p_brand,p_type"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(3000))
  }

  test("q138 grouped sum: GROUP BY + SUM/COUNT(field) + numeric fq all land in the scan") {
    val p = plan("q138_index_group_sum")
    assert(p.contains("pushedGroupBy=p_brand") &&
      p.contains("sum(p_size)") && p.contains("count(p_size)"), p.take(2000))
    assert(!p.contains("Filter ("), p.take(2000))
  }

  test("q123 index stats: min/max/count all pushed, no stored-field columns in the scan") {
    val p = plan("q123_index_stats")
    assert(p.contains("pushedAgg=min(p_name),max(p_name),count(*)"), p.take(2000))
  }

  test("q124 fq+facet: range filter AND grouped count both land in the scan") {
    val p = plan("q124_index_fq_facet")
    assert(p.contains("pushedRange=p_name:[m TO q}") && p.contains("pushedGroupBy=p_brand"),
      p.take(2000))
  }

  test("q125 boolean query: the whole OR lands in the scan, nothing residual") {
    val p = plan("q125_index_bool")
    assert(p.contains("pushedOr=(p_brand:Brand#23 OR p_name:[m TO n})"), p.take(2000))
    assert(!p.contains("Filter ("), p.take(2000))
  }

  test("q126 boolean MUST: nested (OR) AND range pushed whole, nothing residual") {
    val p = plan("q126_index_must")
    assert(p.contains(
      "pushedAnd=((p_brand:Brand#23 OR p_brand:Brand#34) AND p_name:[a TO n})"),
      p.take(2000))
    assert(!p.contains("Filter ("), p.take(2000))
  }

  test("q114 bucketed join: ZERO exchanges — co-located buckets join in place") {
    val p = plan("q114_bucketed_join")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q115 dataset split: shuffle-free projection feeding one aggregation") {
    val p = plan("q115_dataset_split")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, p.take(3000)) // only the final groupBy
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("q107 graph walk: both hops broadcast the frontier") {
    val p = plan("q107_graph_walk")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q144 substring dedup: fused kernels, gram-key window reuses its own exchange") {
    val p = plan("q144_substring_dedup")
    // map-side fused shingles + the span-cut rebuild kernel
    assert(p.contains("string_shingles"), p.take(3000))
    assert(p.contains("span_cut"), p.take(3000))
    // exactly two hash exchanges: gram-key window count + per-doc
    // start collection; the dup-starts frame comes BACK as a
    // broadcast, never a third shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 2, p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q145 semantic dedup: bucket-key equi-join, no cross join, no corpus broadcast") {
    val p = plan("q145_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("array_dot"), p.take(3000))
  }

  test("q167 canonicalization: shuffle-free codegen projection") {
    val p = plan("q167_canonical_text")
    assert(p.contains("unicode_normalize"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("q184 DSIR: weight table broadcast onto the gram stream, TakeOrdered select") {
    val p = plan("q184_dsir_select")
    // the corpus-sized join (grams × weights) must be broadcast; the
    // full-outer between the two ≤buckets-row count frames may
    // sort-merge — it is bounded by the bucket count, not the corpus
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // selection is TakeOrdered over the per-doc aggregate, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q185 contamination fraction: bench grams broadcast, corpus text never shuffled") {
    val p = plan("q185_contamination_frac")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // two hash exchanges: the BENCH side's distinct (small by
    // definition) and the per-doc aggregation; the corpus gram stream
    // itself joins map-side
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 2, p.take(3000))
  }

  test("q186 C4 cleaning + q192 curriculum: shuffle-free projections") {
    Seq("q186_c4_clean", "q192_curriculum").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q: ${p.take(2000)}")
    }
  }

  test("q202 knn: fused dot product, TakeOrdered cut, no window/broadcast") {
    val p = plan("q202_knn_qparser")
    assert(p.contains("array_dot"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q204 proximity + q206 dup-ngram + q224 verdicts: shuffle-free scans") {
    Seq("q204_proximity_search", "q206_dup_ngram_cov", "q224_gopher_verdict")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("Exchange"), s"$q: ${p.take(2000)}")
      }
  }

  test("q230 partitioned export: lang predicate prunes to partition dirs") {
    val p = SparkEntry.queries("q230_partitioned_export")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    // the filter must land in PartitionFilters (directory pruning),
    // not in the data filters of a full scan
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"), p.take(2500))
  }

  test("q226 sentence chunks: one exchange — aggregate reuses the window partitioning") {
    val p = plan("q226_sentence_chunks")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p.take(2500))
  }

  test("q236 pref pairs: ONE exchange — both windows and the aggregate share the prompt partitioning") {
    val p = plan("q236_pref_pairs")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p.take(2500))
  }

  test("q237 lexical diversity: shuffle-free kernel, one aggregation exchange") {
    val p = plan("q237_lexical_diversity")
    assert(p.contains("array_distinct"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p.take(2500))
  }

  test("thresholdSweep in isolation: ONE scan — thresholds never re-scan the corpus") {
    import spark.implicits._
    val scored = (1 to 50).map(i => (i.toLong, i * 10L, i % 3 == 0))
      .toDF("id", "s", "lab")
    val p = graft.ops.QualityClassifier.thresholdSweep(scored, col("s"), col("lab"),
        Seq(0L, 100L, 200L, 300L))
      .queryExecution.executedPlan.toString
    assert("LocalTableScan|Scan".r.findAllIn(p).length === 1, p.take(2500))
    assert(!p.contains("Union"), p.take(2500)) // rows come from explode, not N legs
  }

  test("q241 cartesianProduct: explode is map-side — no exchange before the rollup") {
    val p = plan("q241_stream_cartesian")
    // generate (explode) must sit under the partial aggregate, with the
    // single exchange being the rollup's group-by
    assert(p.contains("Generate explode"), p.take(2500))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p.take(2500))
  }

  test("live sink dataflow: ONE exchange (the shard repartition), codegen'd route+serialize") {
    val docs = Tables.part(spark, TestSpark.sf)
      .select(col("p_partkey").as("id"), col("p_name").as("v"))
    val p = graft.index.LiveSolrSink.routedFrame(docs, "id", 4)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).length === 1, p.take(2500))
    assert(p.contains("solr_shard"), p.take(2500))
    assert(p.contains("StructsToJson"), p.take(2500)) // to_json, codegen'd
  }

  test("bloom newRows: definite-new path joins NOTHING — one join total, probe in both branches") {
    import spark.implicits._
    val corpus = spark.range(0, 100)
      .select(functions.concat(functions.lit("k"), col("id")).as("k")).as[String]
    val incoming = spark.range(0, 100).select(col("id"),
      functions.concat(functions.lit("k"), col("id")).as("k"))
    val p = graft.ops.BloomDedup.newRows(incoming, "k", corpus, 100)
      .queryExecution.executedPlan.toString
    assert("Join".r.findAllIn(p).length === 1,
      s"the bloom-miss branch must bypass the join entirely:\n${p.take(2500)}")
    assert("bloom_might_contain".r.findAllIn(p).length >= 2, p.take(2500))
  }

  test("zorder interleave: built-in shift/mask fold stays in whole-stage codegen") {
    val df = spark.range(0, 100)
      .select(col("id").cast("int").as("x"), (col("id") % 7).cast("int").as("y"))
      .select(graft.ops.ZOrder.zorderCol(8, col("x"), col("y")).as("z"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project"), p.take(2000)) // the codegen-span marker
    assert(p.contains("shiftleft"), p.take(2000))
    assert(!p.contains("BatchEvalPython") && !p.contains("Invoke"), p.take(2000))
  }

  test("q275 zorder layout: box predicate pushed to the clustered scan on BOTH columns") {
    val p = plan("q275_zorder_layout")
    // toString elides the tail of long filter lists — assert the
    // user_id pair plus day's presence in the pushed set, and the
    // full day range in DataFilters
    assert(p.contains("PushedFilters: [IsNotNull(user_id), IsNotNull(day), " +
      "GreaterThanOrEqual(user_id,4)"), p.take(2500))
    assert(p.contains("(day#") && p.contains(">= 7"), p.take(2500))
  }
}
