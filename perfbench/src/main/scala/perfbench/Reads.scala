package perfbench

import graft.Graft
import org.apache.spark.sql.functions.col

import java.util.SplittableRandom

/** The expected store content, derived from the generated rows only. */
final class Expect(init: Map[String, Doc]) {
  var docs: Map[String, Doc] = init
  /** Ids in a fixed order, for seeded picks. */
  var ids: Vector[String] = init.keys.toVector.sorted

  def put(batch: Seq[Doc]): Unit = {
    val fresh = batch.map(_.id).filterNot(docs.contains)
    docs = docs ++ batch.map(d => d.id -> d)
    ids = ids ++ fresh
  }

  def termIds(w: String): Set[String] =
    docs.valuesIterator.filter(_.tokens(w)).map(_.id).toSet
}

/**
 * The read requests the workloads issue, each checked against
 * [[Expect]]. Every engine call runs inside `ctx.timed`, so its latency
 * is one sample of (and its span is named after) the layer it enters.
 */
object Reads {
  type Check = String => Boolean => Unit

  val Strata = 8

  /** A Zipf-sampled vocabulary term (popular terms repeat), from
    * stratum `k` of [[Strata]]. */
  def term(rng: SplittableRandom, k: Long): String =
    Corpus.Vocab(Corpus.zipfRank(rng, k, Strata))

  def termQuery(ctx: Ctx, store: String, exp: Expect, w: String, check: Check): Unit = {
    val got = ctx.timed("index.term_query")(
      Graft.searchIndex(ctx.spark, store, "text", w, Seq("id")).collect()).map(_.getString(0))
    val want = exp.termIds(w)
    check(s"text:$w returned ${got.length} docs, expected ${want.size}")(
      got.length == want.size && got.toSet == want)
  }

  /** BM25 top-10 with a filter clause on `lang`. */
  def search(ctx: Ctx, store: String, exp: Expect, w: String, lang: String,
             check: Check): Unit = {
    val q = s"text:$w AND lang:$lang"
    if (ctx.trace.enabled) {
      val schema = Graft.openSegmentIndex(ctx.spark, store).schema
      ctx.trace("search.parse")(
        graft.search.SolrQueryString.compileWithTerms(q, schema, "text", Set("text")))
    }
    val rows = ctx.timed("search.request")(
      Graft.search(ctx.spark, store, q, topK = 10).select("id", "score_r").collect())
    val matching = exp.docs.valuesIterator
      .filter(d => d.lang == lang && d.tokens(w)).map(_.id).toSet
    val ids = rows.map(_.getString(0))
    val scores = rows.map(_.getDouble(1))
    check(s"search '$q' returned ${ids.length} of ${matching.size} matches")(
      ids.length == math.min(10, matching.size) && ids.forall(matching) &&
        ids.distinct.length == ids.length &&
        scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  /** Id lookup through the DSv2 table (id predicate pushed down). */
  def lookup(ctx: Ctx, store: String, exp: Expect, ids: Seq[String], check: Check): Unit = {
    val rows = ctx.timed("index.pushdown_lookup")(
      Graft.openSegmentIndex(ctx.spark, store).filter(col("id").isin(ids: _*))
        .select("id", "ts", "n").collect())
    val got = rows.map(r => r.getString(0) ->
      (r.getAs[Number](1).longValue, r.getAs[Number](2).longValue)).toMap
    val docs = exp.docs
    val want = ids.flatMap(docs.get).map(d => d.id -> (d.ts, d.n.toLong)).toMap
    check(s"lookup of ${ids.mkString(",")}: got $got, expected $want")(
      rows.length == want.size && got == want)
  }

  /** Seeded lookup ids: three stored ids and one that is absent. */
  def lookupIds(exp: Expect, rng: SplittableRandom): Seq[String] = {
    val ids = exp.ids
    Seq.fill(3)(ids(rng.nextInt(ids.size))).distinct :+ s"absent-${rng.nextInt(1000)}"
  }

  /** facet.field on `lang` and facet.range on `n`, both under a `source` filter. */
  def facet(ctx: Ctx, store: String, exp: Expect, source: String, check: Check): Unit = {
    val langs = ctx.timed("index.facet_field")(
      Graft.facetField(ctx.spark, store, "lang", Some("source" -> source)).collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ranges = ctx.timed("index.range_facet")(
      Graft.rangeFacet(ctx.spark, store, "n", 0, 10000, 1000, s"source:$source").collect())
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val rows = exp.docs.valuesIterator.filter(_.source == source).toSeq
    val wantLangs = rows.groupBy(_.lang).map { case (l, ds) => l -> ds.size.toLong }
    val wantRanges = (0 until 10).map { b =>
      (b * 1000.0) -> rows.count(d => d.n / 1000 == b).toLong }.toMap
    check(s"facet.field lang under source:$source: got $langs, expected $wantLangs")(
      langs == wantLangs)
    check(s"facet.range n under source:$source: got $ranges, expected $wantRanges")(
      ranges == wantRanges)
  }

  def knnRequest(v: Array[Double]): String = s"{!knn f=embedding topK=10}[${v.mkString(",")}]"

  /** `{!knn}` topK=10 served from a persisted ANN store; span `layer`. */
  def knn(ctx: Ctx, layer: String, store: String, v: Array[Double]): Seq[Long] =
    ctx.timed(layer)(
      Graft.knnServe(ctx.spark, store, Seq((0L, knnRequest(v))))
        .select("rank", "corpus_id").collect())
      .sortBy(_.getAs[Number](0).longValue).map(_.getAs[Number](1).longValue).toSeq
}
