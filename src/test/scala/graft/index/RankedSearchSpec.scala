package graft.index

import graft.{Graft, TestSpark}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, lit, round}
import org.scalatest.funsuite.AnyFunSuite

/**
 * `Graft.search` (the two-scatter-job shard-local top-K of
 * [[RankedSearch]]) against the relational plan it replaced, kept here
 * as the reference oracle: the index-table filter, a left join with
 * the distributed BM25 scores, then a global sort and limit. Every
 * column, type, position and `score_r` double must agree.
 */
class RankedSearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The former `Graft.search` plan, verbatim. */
  private def oracle(store: String, q: String, topK: Int,
                     rankField: Option[String], boost: Option[String]): DataFrame = {
    val marker = SegmentShardSink.readMarker(spark.sessionState.newHadoopConf(), store)
    val idx = Graft.openSegmentIndex(spark, store)
    val textFields = marker.analyzed
    val default = rankField.orElse(textFields.toSeq.sorted.headOption)
      .getOrElse(marker.idCol)
    val (pred, terms) = graft.search.SolrQueryString.compileWithTerms(
      q, idx.schema, default, textFields)
    val hits = idx.filter(pred)
    val id = marker.idCol
    val boostCol = boost.map(graft.search.FunctionQuery.compile(_, idx.schema))
    if (terms.isEmpty || !textFields.contains(default))
      hits
        .withColumn("score_r", boostCol.map(b => round(b, 6)).getOrElse(lit(0.0)))
        .orderBy(col("score_r").desc, col(id)).limit(topK)
    else {
      val scored = SegmentSearch.bm25Scores(spark, store, default, terms)
        .withColumnRenamed("doc_id", "__sid")
      val base = coalesce(col("score"), lit(0.0))
      hits.join(scored, col(id) === col("__sid"), "left")
        .drop("__sid")
        .withColumn("score_r", round(boostCol.map(base * _).getOrElse(base), 6))
        .drop("score")
        .orderBy(col("score_r").desc, col(id))
        .limit(topK)
    }
  }

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "spark", "query",
    "engine", "shard", "index", "merge", "score", "token")
  private val langs = Seq("en", "en", "en", "de", "fr")

  private type Doc = (String, String, String, String, Long, Seq[String])
  private val cols = Seq("id", "text", "title", "lang", "freshness", "tags")

  /** Seeded docs: Zipf-ish text (some with non-ASCII case folds), a
    * second analyzed field, a numeric boost field, a multivalued tag
    * field, and 40 identical "tie" docs whose scores are equal (they
    * straddle any small K across shards). */
  private def docs(seed: Long, n: Int, from: Int = 0): Seq[Doc] = {
    val rng = new scala.util.Random(seed)
    (from until from + n).map { i =>
      val text =
        if (i % 15 == 0) "tie words here"
        else Seq.fill(3 + rng.nextInt(8))(vocab(
          math.min(vocab.length - 1, (rng.nextDouble() * rng.nextDouble() * vocab.length).toInt)))
          .mkString(" ") + (if (i % 97 == 0) " rareword" else "") +
          (if (i % 31 == 0) " Straße İNDEX SPARK-Ωmega" else "")
      val title = Seq.fill(1 + rng.nextInt(3))(vocab(rng.nextInt(vocab.length))).mkString(" ")
      val tags = Seq.fill(rng.nextInt(3))(Seq("red", "green", "blue")(rng.nextInt(3)))
      (f"d$i%04d", text, title, langs(rng.nextInt(langs.length)), rng.nextInt(1000).toLong,
        tags)
    }
  }

  private def write(rows: Seq[Doc], shards: Int): String = {
    import spark.implicits._
    val out = tmp("graft_ranked_")
    SegmentShardSink.write(rows.toDF(cols: _*),
      "id", out, shards = shards, analyzedFields = Set("text", "title"))
    out
  }

  private lazy val twoShard = write(docs(11L, 600), shards = 2)

  /** 4 shards, then two upserts: rewritten ids leave tombstones and
    * every touched part gains segments. */
  private lazy val fourShardUpserted = {
    import spark.implicits._
    val out = write(docs(23L, 600), shards = 4)
    Graft.upsertIndex(spark, out,
      docs(29L, 120, from = 300).toDF(cols: _*))
    Graft.upsertIndex(spark, out,
      docs(31L, 150, from = 520).toDF(cols: _*))
    out
  }

  private val requests: Seq[(String, Int, Option[String], Option[String])] = Seq(
    ("text:alpha", 10, None, None),                            // single term
    ("text:spark AND lang:en", 10, None, None),                // term AND filter
    ("text:zzz OR lang:en", 10, None, None),                   // no ranked term occurs
    ("lang:de", 10, None, None),                               // pure filter: id order
    ("text:spark", 10, None, Some("linear(freshness, 1, 0)")), // LtrSpec's boost shape
    ("id:[* TO *]", 7, None, Some("linear(freshness, 1, 0)")), // boost alone
    ("title:gamma AND text:alpha", 10, Some("title"), None),   // rankField
    ("text:rareword", 50, None, None),                         // topK > matches
    ("text:tie", 5, None, None),                               // ties straddle K
    ("text:tie OR text:rareword", 12, None, None),
    ("text:alpha AND text:\"alpha beta\"", 10, None, None),    // phrase: residual
    ("text:spark AND lang:e*", 10, None, None),                // wildcard: residual
    ("text:alph~1 OR text:query", 10, None, None),             // fuzzy OR: residual
    ("text:query -lang:en", 10, None, None),                   // pushed MUST_NOT
    ("text:merge AND freshness:[100 TO 600]", 10, None, None), // numeric range
    ("text:index AND tags:red", 10, None, None),               // multivalued: residual
    ("text:spark OR text:index", 15, None, None),              // non-ASCII neighbours
    ("text:score", 0, None, None))

  private def assertParity(store: String): Unit =
    requests.foreach { case (q, k, rankField, boost) =>
      val got = Graft.search(spark, store, q, k, rankField, boost)
      val want = oracle(store, q, k, rankField, boost)
      val clue = s"q='$q' topK=$k rankField=$rankField boost=$boost"
      assert(got.schema === want.schema, clue)
      val g = got.collect().toSeq
      val w = want.collect().toSeq
      assert(g === w, clue)
      // the doubles themselves, bit for bit
      assert(g.map(r => java.lang.Double.doubleToLongBits(r.getAs[Double]("score_r"))) ===
        w.map(r => java.lang.Double.doubleToLongBits(r.getAs[Double]("score_r"))), clue)
    }

  test("2-shard store: identical rows to the join/sort/limit plan on every request shape") {
    assertParity(twoShard)
    // the fixture exercises what it claims: a tie band wider than K
    val ties = Graft.search(spark, twoShard, "text:tie", topK = 100)
    assert(ties.select("score_r").distinct().count() === 1L && ties.count() === 40L)
  }

  test("4-shard store with tombstones and multi-segment parts after upserts: identical rows") {
    val store = fourShardUpserted
    val conf = spark.sessionState.newHadoopConf()
    val segs = SegmentShardSink.partIndexDirs(spark, store).map { d =>
      val p = new Path(d)
      new SegmentIndex.Reader(p.getFileSystem(conf), p).commit.segments
    }
    assert(segs.exists(_.length > 1), "fixture must have multi-segment parts")
    assert(segs.flatten.exists(_.dels > 0), "fixture must have tombstones")
    assertParity(store)
  }

  test("the returned frame is local: no scan runs after the call") {
    val got = Graft.search(spark, twoShard, "text:alpha AND lang:en", topK = 10)
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") && !p.contains("GraftIndexScan"), p)
  }

  test("pushed form: token, filter and numeric-term clauses land in the posting query") {
    val (_, sq, _) = RankedSearch.scatter(spark, twoShard,
      "text:spark AND lang:en AND freshness:500", 3, None, None)
    assert(sq.residual.isEmpty, sq.query)
    assert(sq.query === AndQuery(Seq(TermQuery("text", Seq("spark")),
      TermQuery("lang", Seq("en")), TermQuery("freshness", Seq(NumericTerms.encodeLong(500L))))))
    // a phrase, and a range over cast(freshness as double), stay residual
    val (_, phrase, _) = RankedSearch.scatter(spark, twoShard,
      "text:spark AND text:\"alpha beta\" AND freshness:[100 TO 600]", 3, None, None)
    assert(phrase.query === TermQuery("text", Seq("spark")))
    assert(phrase.residual.map(_.toString)
      .exists(r => r.contains("alpha") && r.contains("600.0")), phrase.residual)
  }
}
