package graft.index

import graft.util.SerializableHadoopConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, expressions}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.{BooleanType, DataType, DateType, DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util

/**
 * DataSourceV2 batch reader over a [[SegmentShardSink]] store —
 * `spark.read.format("graft-index").load(store)` — so a built index
 * participates in the engine's relational surface as a TABLE, with
 * Catalyst driving the two optimizations an index can actually serve:
 *
 *  - **exact-term filter pushdown** ([[SupportsPushDownFilters]]): one
 *    `EqualTo(field, value)` predicate is translated to a posting-list
 *    lookup per shard (`SegmentIndex.Reader.termDocs`) instead of a
 *    full stored-doc scan — the index analog of parquet predicate
 *    pushdown, and precisely what Solr does with a `fq=field:term`.
 *    Remaining predicates stay residual Spark filters.
 *  - **column pruning** ([[SupportsPushDownRequiredColumns]]): only
 *    requested stored fields are materialized into rows.
 *
 * Parallelism: one [[InputPartition]] per `part-NNNNN` shard dir — the
 * same task-per-shard shape as [[SegmentSearch]] (and as a Solr
 * distributed query), no shuffle. Schema comes from the store marker's
 * `columns` inventory (metadata-only; no segment open at plan time).
 * Columns are `StringType` per the declared strings-only divergence of
 * [[SegmentIndex]] — EXCEPT fields the sink recorded as numeric
 * (Solr's plong/pdouble analog): those surface TYPED (Long/Double),
 * their terms carry [[NumericTerms]]' sortable encoding inside the
 * index (so ranges, zone maps and TopN run in numeric order), bounds
 * encode on push and values decode on read. Multivalued fields
 * surface their FIRST value, matching [[SegmentSearch]] — or, with
 * `.option("multivalued", "array")`, as `array<string>` carrying
 * every stored occurrence in order (Solr's multiValued=true response
 * shape; such fields are already excluded from every pushdown).
 *
 * Reference trace: the reference never reads its indexes back into the
 * engine (its product ENDS at the go-live dirs) — this source is the
 * Spark-native closing of that loop, letting downstream pipelines join
 * index contents against anything else the session can read.
 */
class IndexDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-index"

  private def storePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-index requires .load(<store path>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IndexDataSource.schemaOf(
      SegmentShardSink.readMarker(
        SparkSession.active.sessionState.newHadoopConf(), storePath(options)),
      "array".equalsIgnoreCase(options.get("multivalued")))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new IndexTable(schema, properties.get("path"))

  override def supportsExternalMetadata(): Boolean = true
}

object IndexDataSource {

  /** The index table's schema from the store marker's `columns`
    * inventory (metadata only; no segment opened). Numeric fields
    * surface TYPED (the Solr plong/pdouble analog); their terms carry
    * the sortable encoding, decoded on read. `multivaluedAsArray`
    * surfaces multivalued fields as array<string> with ALL stored
    * values in order — Solr's multiValued=true response shape; the
    * default keeps the first-value scalar contract (and its pushdown
    * exclusions). */
  private[graft] def schemaOf(marker: SegmentShardSink.StoreMarker,
                              multivaluedAsArray: Boolean): StructType = {
    require(marker.columns.nonEmpty,
      "no column inventory in the store marker — not a graft segment store?")
    StructType(marker.columns.map { c =>
      val dt =
        if (multivaluedAsArray && marker.multivalued.contains(c))
          org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
        else marker.kindOf(c) match {
          case 'l' => LongType
          case 'd' => DoubleType
          case 't' => TimestampType
          case 'u' => TimestampNTZType
          case 'a' => DateType
          case _ => StringType
        }
      StructField(c, dt, nullable = true)
    })
  }

  /** Numeric-term kind of every typed field (absent = string). */
  private[index] def numericOf(marker: SegmentShardSink.StoreMarker): Map[String, Char] =
    (marker.numericLong ++ marker.numericDouble ++ marker.numericTs ++
      marker.numericDate ++ marker.numericTsNtz).iterator.map(f => f -> marker.kindOf(f)).toMap
}

private[index] class IndexTable(tableSchema: StructType, store: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft-index `$store`"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** Store marker, read once (driver-side metadata) — shared by scan
    * building and by [[TermFilterPushdown]]'s eligibility check. */
  private[index] lazy val marker: SegmentShardSink.StoreMarker =
    SegmentShardSink.readMarker(
      SparkSession.active.sessionState.newHadoopConf(), store)

  /** Fields whose `array_contains(f, lit)` is EXACTLY a posting
    * lookup: multivalued (array surfacing carries every stored
    * occurrence, and postings index every occurrence) and NOT
    * analyzed (analyzed postings hold tokens, not verbatim values).
    * Used by [[TermFilterPushdown]]. */
  private[index] def termPushableArrays: Set[String] =
    marker.multivalued -- marker.analyzed

  /** Fields whose `graft_term_match(f, lit)` is EXACTLY a posting
    * lookup: analyzed (postings hold the analyzer's tokens, and the
    * expression re-runs the same analyzer residually) and NOT
    * multivalued (the scalar surface shows only the first value while
    * postings index every value). Used by [[TermFilterPushdown]]. */
  private[index] def termPushableAnalyzed: Set[String] =
    marker.analyzed -- marker.multivalued

  /** Fields whose `exists(f, t -> graft_term_match(t, lit))` is EXACTLY
    * a posting lookup: analyzed AND multivalued — the surfaced array
    * carries every stored value, postings index the tokens of every
    * value, and the lambda asks "any value's token stream contains the
    * term". Array surfacing required (gated at the rule). */
  private[index] def termPushableAnalyzedArrays: Set[String] =
    marker.analyzed intersect marker.multivalued

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // two field classes are excluded from DIRECT filter pushdown:
    //  - MULTIVALUED: the relational surface shows their FIRST value,
    //    but a posting lookup matches ANY value — pushing would return
    //    rows that visibly violate the predicate (under
    //    `multivalued=array` surfacing, `array_contains` IS any-value
    //    semantics — [[TermFilterPushdown]] routes those here via the
    //    `termFilter` option, since Spark's V2 filter translation
    //    never surfaces ArrayContains to pushFilters);
    //  - ANALYZED: postings hold TOKENS, the relational surface the
    //    VERBATIM stored value — a pushed whole-value lookup would
    //    silently miss (`text = "Spark"` vs token `spark`).
    // Residual Spark evaluation keeps the table honest for both.
    val numeric = IndexDataSource.numericOf(marker)
    // array surfacing (see inferSchema): the affected fields were
    // already excluded from filter/TopN/aggregate pushdown as
    // multivalued, so only row materialization changes shape
    val arrayFields =
      if ("array".equalsIgnoreCase(options.get("multivalued"))) marker.multivalued
      else Set.empty[String]
    // `.option("snapshot", token)` — time-travel read (Delta
    // `versionAsOf` analog): the token from [[Graft.indexSnapshot]]
    // pins every part to the commit generation it carried when the
    // token was taken; the scan reads that immutable snapshot
    // regardless of commits landing afterwards (as long as the
    // writer's retention policy keeps it — see
    // SegmentIndex.Writer.retainGenerations)
    val snapshot: Option[Map[String, Int]] =
      Option(options.get("snapshot")).map { tok =>
        tok.split(",").iterator.filter(_.nonEmpty).map { e =>
          val i = e.lastIndexOf(':')
          require(i > 0, s"malformed snapshot token entry '$e'")
          e.substring(0, i) -> e.substring(i + 1).toInt
        }.toMap
      }
    // `.option("columnar", "off")` — A/B escape hatch: force the
    // stored-doc row path even where the .dvd columnar assembly is
    // eligible (results identical; used to measure the columnar win
    // and as a fallback knob). "on" bypasses the projection-width
    // gate too (measurement aid).
    val columnar = Option(options.get("columnar")).map(_.toLowerCase).orNull
    // `.option("termFilter", "f:t[|f2:t2][,!g:u…]")` (URL-encoded
    // halves) — injected by [[TermFilterPushdown]] for term predicates
    // (`array_contains` on array-surfaced multivalued fields,
    // `graft_term_match` on analyzed scalars): ','-separated clauses
    // AND into the pushed query, '|'-separated branches inside a
    // clause union (posting-list OR), a leading '!' negates a clause
    // (field presence minus the match — MUST_NOT). The Catalyst Filter
    // stays in the plan (residual re-eval — exact, cheap), so
    // correctness never depends on this option.
    val optionTerms: Seq[(Boolean, Seq[(String, String)])] =
      Option(options.get("termfilter")).toSeq.flatMap { s =>
        s.split(",").iterator.filter(_.nonEmpty).map { cl0 =>
          val neg = cl0.startsWith("!")
          val cl = if (neg) cl0.substring(1) else cl0
          neg -> cl.split("\\|").iterator.filter(_.nonEmpty).map { e =>
            val i = e.indexOf(':')
            require(i > 0, s"malformed termFilter entry '$e'")
            (java.net.URLDecoder.decode(e.substring(0, i), "UTF-8"),
              java.net.URLDecoder.decode(e.substring(i + 1), "UTF-8"))
          }.toSeq
        }.toSeq
      }
    new IndexScanBuilder(tableSchema, store, marker.multivalued, marker.analyzed,
      numeric, arrayFields, snapshot, columnar, optionTerms)
  }
}

/** What the scan will ask the index for — the pushed query shape. */
private[index] sealed trait PushedQuery extends Serializable
private[index] case object MatchAll extends PushedQuery
private[index] final case class TermQuery(field: String, terms: Seq[String]) extends PushedQuery
/** `[lower TO upper]` with per-bound inclusivity (None = unbounded);
  * a pushed prefix is the range `[p, nextAfterPrefix(p))`. */
private[index] final case class RangeQuery(field: String,
                                           lower: Option[String], lowerInc: Boolean,
                                           upper: Option[String], upperInc: Boolean) extends PushedQuery
/** Boolean SHOULD (Lucene BooleanQuery): union of term/range branches,
  * served by posting-list unions with per-segment ordinal dedup. */
private[index] final case class OrQuery(branches: Seq[PushedQuery]) extends PushedQuery
/** Boolean MUST (Lucene BooleanQuery +clauses): intersection of
  * term/range/or branches — posting-set intersections per segment. */
private[index] final case class AndQuery(branches: Seq[PushedQuery]) extends PushedQuery
/** Boolean MUST_NOT (Lucene -clause): docs in `base` minus docs
  * matching `inner`. `base = Some(f)` is field PRESENCE — SQL's
  * `f <> v` is only true where f is non-null, i.e. Lucene's
  * `+f:[* TO *] -f:v`; `base = None` is every doc in the segment
  * (`f IS NULL` = docs not holding the field at all). */
private[index] final case class NotQuery(inner: PushedQuery, base: Option[String]) extends PushedQuery

/** One pushed sort key: stored field, descending?, nulls first? —
  * compared on the surfaced (first) value in code-point order, i.e.
  * exactly Spark's UTF8String sort on the same column. */
private[index] final case class SortKey(field: String, desc: Boolean, nullsFirst: Boolean)
  extends Serializable

/** One pushed ungrouped aggregate (partial: shards emit, Spark merges). */
private[index] sealed trait PushedAgg extends Serializable
private[index] case object CountStarAgg extends PushedAgg
private[index] final case class MinAgg(field: String) extends PushedAgg
private[index] final case class MaxAgg(field: String) extends PushedAgg
/** SUM of a typed integral field — served as Σ decoded-term × live
  * match count from postings, exact integer math. */
private[index] final case class SumAgg(field: String) extends PushedAgg
/** COUNT(field) — non-null count among the match set, from postings. */
private[index] final case class CountFieldAgg(field: String) extends PushedAgg

private[index] class IndexScanBuilder(full: StructType, store: String,
                                      multivalued: Set[String],
                                      analyzed: Set[String],
                                      numeric: Map[String, Char] = Map.empty,
                                      arrayFields: Set[String] = Set.empty,
                                      snapshot: Option[Map[String, Int]] = None,
                                      columnar: String = null,
                                      optionTerms: Seq[(Boolean, Seq[(String, String)])] = Nil)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private val translator = new PushTranslator(full.fieldNames.toSet, multivalued, analyzed,
    numeric)

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  private def fieldType(f: String): DataType =
    full.fields.find(_.name == f).map(_.dataType).getOrElse(StringType)
  private var query: PushedQuery = MatchAll
  private var countPushed = false
  private var aggs: Seq[PushedAgg] = Nil
  private var facetFields: Seq[String] = Nil
  private var limit: Option[Int] = None
  private var topN: Option[(Seq[SortKey], Int)] = None

  /** LIMIT n: each shard stops materializing after n hits (Spark still
    * applies the global limit over the union — partial pushdown, like
    * a per-shard `rows=n`). Never combined with a pushed count. */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true
  }

  /** ORDER BY + LIMIT n — Solr's distributed `sort=...&rows=n`: each
    * shard answers its LOCAL top-n through a bounded heap (never
    * materializing the full match set), Spark merges the per-shard
    * candidates with its global TakeOrderedAndProject — partial
    * pushdown, exactly the scatter-gather a Solr coordinator runs.
    * Accepted when every sort key is a direct stored column: values
    * are strings compared in code-point order on the surfaced (first)
    * value, so local order == Spark's global order. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (countPushed) return false
    val keys = orders.toSeq.map { o =>
      o.expression() match {
        case ref: NamedReference if ref.fieldNames().length == 1 &&
            full.fieldNames.contains(ref.fieldNames()(0)) &&
            !arrayFields.contains(ref.fieldNames()(0)) =>
          Some(SortKey(ref.fieldNames()(0),
            o.direction() == SortDirection.DESCENDING,
            o.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (keys.isEmpty || keys.exists(_.isEmpty)) false
    else {
      topN = Some((keys.flatten, n))
      true
    }
  }

  // one override serves both SupportsPushDownLimit and
  // SupportsPushDownTopN: every pushdown here is per-shard partial
  override def isPartiallyPushed(): Boolean = true

  /** Aggregates answered from the index, not from stored docs:
    *
    *  - UNGROUPED COUNT(*): match-all counts come from the commit's
    *    live-doc counts, term-filtered counts from posting-list
    *    lengths, range-filtered counts from the zone-map range path
    *    (Solr's numFound-without-fetch).
    *  - UNGROUPED MIN/MAX of a pushable string field (the stats
    *    component): deletion-free segments answer from commit-
    *    recorded zone-map stats — METADATA ONLY, no segment file
    *    opened — the rest from live postings.
    *  - GROUPED by ONE pushable field (facet.field) with COUNT(*):
    *    each shard answers from its per-term live doc frequencies —
    *    postings only — plus a null bucket for docs missing the
    *    field. Composes with a pushed term/range filter (Solr's `fq`
    *    + facet) via posting-set intersections; Spark only offers
    *    aggregate pushdown when NO residual filter remains, so the
    *    pushed query IS the complete filter.
    *  - GROUPED by TWO pushable fields (facet.pivot) with COUNT(*):
    *    each shard inverts both fields' postings into transient
    *    forward (docvalues-style) ord→term views — one O(docs) pass
    *    per field — and counts (a, b) pairs over the match set, null
    *    buckets on both axes. Still postings only.
    *  - GROUPED by ONE pushable field with any COUNT(*)/MIN/MAX mix
    *    (the JSON facet API's nested stats — `{type: terms, facet:
    *    {m: "min(f)"}}`): the group's forward view plus a streaming
    *    walk of each stat field's postings over the match set.
    *  - UNGROUPED MIN/MAX *under a pushed filter* (stats.field + fq):
    *    the stat field's postings ∩ the match set per segment; the
    *    unfiltered case keeps the metadata-only zone-map path.
    *
    * Partial pushdown throughout: shards return partials, Spark
    * merges (sum / min / max) — the scatter half of Solr's
    * distributed stats and faceting. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    def pushableField(a: String) = full.fieldNames.contains(a) &&
      !multivalued.contains(a) && !analyzed.contains(a)
    def singleRef(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames().length == 1 &&
          pushableField(r.fieldNames()(0)) => Some(r.fieldNames()(0))
        case _ => None
      }
    val specs: Seq[Option[PushedAgg]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(CountStarAgg)
      case m: Min => singleRef(m.column).map(MinAgg)
      case m: Max => singleRef(m.column).map(MaxAgg)
      // SUM only for integral typed fields: the postings sum is exact
      // integer math; double sums are order-sensitive and stay in Spark
      case s: Sum if !s.isDistinct =>
        singleRef(s.column).filter(f => numeric.getOrElse(f, 's') == 'l').map(SumAgg)
      case c: Count if !c.isDistinct => singleRef(c.column).map(CountFieldAgg)
      case _ => None
    }
    if (specs.isEmpty || specs.exists(_.isEmpty)) return false
    val resolved = specs.flatten
    def statSchema(a: PushedAgg): StructField = a match {
      case CountStarAgg => StructField("count(*)", LongType, nullable = false)
      case MinAgg(f) => StructField(s"min($f)", fieldType(f), nullable = true)
      case MaxAgg(f) => StructField(s"max($f)", fieldType(f), nullable = true)
      case SumAgg(f) => StructField(s"sum($f)", LongType, nullable = true)
      case CountFieldAgg(f) => StructField(s"count($f)", LongType, nullable = false)
    }
    agg.groupByExpressions.toSeq match {
      case Nil =>
        countPushed = true
        aggs = resolved
        required = StructType(resolved.map(statSchema))
        true
      case groups if groups.nonEmpty && groups.length <= 2 &&
          // grouped: COUNT(*)/MIN/MAX/SUM/COUNT(f) — the JSON-facet
          // nested-stats walk serves all of them per bucket
          resolved.forall {
            case CountStarAgg | _: MinAgg | _: MaxAgg |
                 _: SumAgg | _: CountFieldAgg => true
            case _ => false
          } &&
          (groups.length == 1 || resolved == Seq(CountStarAgg)) &&
          groups.forall {
            case r: NamedReference =>
              r.fieldNames().length == 1 && pushableField(r.fieldNames()(0))
            case _ => false
          } =>
        countPushed = true
        aggs = resolved
        facetFields = groups.map(_.asInstanceOf[NamedReference].fieldNames()(0))
        required = StructType(
          facetFields.map(f => StructField(f, fieldType(f), nullable = true)) ++
            resolved.map(statSchema))
        true
      case _ => false
    }
  }

  /** Accept EVERY index-serviceable conjunct, the rest residual:
    *  - string equality / IN → a posting lookup per term;
    *  - `>=`/`>`/`<`/`<=`/`StartsWith` → a sorted-term-dictionary
    *    range scan with zone-map segment skipping (prefix rewrites to
    *    `[p, nextAfterPrefix(p))`; bounds on one field merge);
    *  - `<>` / `NOT IN` / `NOT LIKE 'p%'` → field presence minus the
    *    negated match (BooleanQuery MUST_NOT: `+f:[* TO *] -f:v`);
    *    `IS NULL` → whole-segment complement of presence; a standalone
    *    `IS NOT NULL` → a presence dictionary walk;
    *  - an OR tree whose leaves are all of the above (any fields) →
    *    posting-list unions (Lucene BooleanQuery SHOULD);
    *  - several pushable conjuncts → posting-set intersections
    *    (BooleanQuery MUST), or/not branches nested freely.
    * Pushed filters are exact — terms match whole values and range
    * order is code-point order, identical to Catalyst's UTF8String
    * comparison — so they are NOT returned for re-evaluation. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    import translator.{leafOf, pushable}
    // absorb EVERY pushable conjunct (Spark hands the predicate as an
    // AND of filters): one leaf pushes alone, several push as a MUST
    // intersection (Lucene BooleanQuery +clauses). Non-pushable
    // conjuncts stay residual.
    val leaves0 = filters.zipWithIndex.flatMap { case (f, i) => leafOf(f).map(i -> _) }.toSeq
    // a doc matching a top-level term/range/not conjunct necessarily
    // HAS that field — absorb Catalyst's companion IsNotNull for those
    // fields (an OR branch implies nothing: its field may be absent)
    val implied: Set[String] = leaves0.map(_._2).collect {
      case TermQuery(f, _) => f
      case RangeQuery(f, _, _, _, _) => f
      case NotQuery(_, Some(f)) => f
    }.toSet
    // a standalone IS NOT NULL pushes as field presence (`f:[* TO *]`,
    // one dictionary walk of the field); implied ones ride for free
    val presence = filters.zipWithIndex.collect {
      case (IsNotNull(a), i) if pushable(a) && !implied.contains(a) =>
        i -> (RangeQuery(a, None, lowerInc = true, None, upperInc = true): PushedQuery)
    }.toSeq
    val leaves = leaves0 ++ presence
    val leafIdx = leaves.map(_._1).toSet
    val merged = PushTranslator.mergeRanges(leaves.map(_._2))
    val q: PushedQuery =
      if (merged.isEmpty) MatchAll
      else if (merged.length == 1) merged.head
      else AndQuery(merged)
    val (acc, residual) =
      if (leafIdx.isEmpty) (Array.empty[Filter], filters)
      else filters.zipWithIndex.partition { case (f, i) =>
        leafIdx.contains(i) || (f match {
          case IsNotNull(a) => implied.contains(a)
          case _ => false
        })
      } match { case (a, r) => (a.map(_._1), r.map(_._1)) }
    pushed = acc
    query = q
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep only index-known fields; Spark may append metadata structs.
    // After aggregate pushdown the schema IS the agg schema — pruning
    // against the table fields would empty it
    if (!countPushed)
      required = StructType(requiredSchema.fields.filter(f => full.fieldNames.contains(f.name)))

  override def build(): Scan = {
    // PROJECTION-WIDTH gate: the columnar win is the stored bytes it
    // does NOT read, so it only engages when the projection prunes at
    // least half the table's columns. A same-width read (a 2-column
    // export of a 2-column edge table) pays dict indirection for zero
    // skipped bytes — measurably slower on narrow stores (q272's BFS
    // regressed 27→37 s at sf1 before this gate). option("columnar",
    // "on") forces it regardless (A/B aid); "off" disables entirely.
    val useColumnar = columnar match {
      case "off" => false
      case "on" => true
      case _ => !countPushed && aggs.isEmpty &&
        required.fields.length * 2 <= full.fields.length
    }
    // AND the option-injected term clauses (TermFilterPushdown's
    // array_contains / graft_term_match routing) into whatever
    // pushFilters accepted; multi-branch clauses union (BooleanQuery
    // SHOULD — posting-list OR with per-segment ordinal dedup),
    // negated clauses subtract from field presence (MUST_NOT)
    val fullQuery = {
      val termQs: Seq[PushedQuery] = optionTerms.map { case (neg, branches) =>
        // same-field branches collapse into one multi-term lookup
        val q0 =
          if (branches.length == 1) TermQuery(branches.head._1, Seq(branches.head._2))
          else if (branches.map(_._1).distinct.length == 1)
            TermQuery(branches.head._1, branches.map(_._2))
          else OrQuery(branches.map { case (f, t) => TermQuery(f, Seq(t)) })
        if (neg) NotQuery(q0, Some(branches.head._1)) else q0
      }
      if (termQs.isEmpty) query
      else query match {
        case MatchAll =>
          if (termQs.length == 1) termQs.head else AndQuery(termQs)
        case AndQuery(bs) => AndQuery(bs ++ termQs)
        case other => AndQuery(other +: termQs)
      }
    }
    new IndexScan(store, required, fullQuery, countPushed, limit, topN, facetFields, aggs,
      numeric, arrayFields, snapshot, useColumnar)
  }
}

/**
 * Predicate → [[PushedQuery]] translation, shared by the DSv2 scan
 * builder (Spark's translated `sources.Filter`s) and
 * [[RankedSearch]] (resolved Catalyst predicates). Only EXACT
 * translations are produced — terms match whole values and ranges
 * compare in code-point order, identical to Catalyst's UTF8String
 * comparison — so a translated predicate needs no re-evaluation;
 * anything else stays residual.
 *
 * Two field classes never push directly:
 *  - MULTIVALUED: the relational surface shows their FIRST value, but
 *    a posting lookup matches ANY value;
 *  - ANALYZED: postings hold TOKENS, the relational surface the
 *    VERBATIM stored value (`text = "Spark"` vs token `spark`) — except
 *    the query-string whole-token match, which asks token membership
 *    under the index's own analyzer (scalar analyzed fields only).
 */
private[index] final class PushTranslator(fields: Set[String], multivalued: Set[String],
                                          analyzed: Set[String],
                                          numeric: Map[String, Char]) {

  def pushable(a: String): Boolean =
    fields.contains(a) && !multivalued.contains(a) && !analyzed.contains(a)

  /** A pushed comparison value as the INDEXED term: strings verbatim,
    * numeric fields through the sortable encoding (so the dictionary
    * range scan runs in numeric order). None = not translatable →
    * that filter stays residual. */
  private def termOf(field: String, v: Any): Option[String] =
    numeric.getOrElse(field, 's') match {
      case 'l' => v match {
        case n @ (_: java.lang.Long | _: java.lang.Integer |
                  _: java.lang.Short | _: java.lang.Byte) =>
          Some(NumericTerms.encodeLong(n.asInstanceOf[java.lang.Number].longValue()))
        case _ => None
      }
      case 'd' => v match {
        case n @ (_: java.lang.Double | _: java.lang.Float) =>
          Some(NumericTerms.encodeDouble(n.asInstanceOf[java.lang.Number].doubleValue()))
        case _ => None
      }
      case 't' => v match {
        // java.sql vs java.time depends on spark.sql.datetime.java8API
        case ts: java.sql.Timestamp =>
          Some(NumericTerms.encodeLong(NumericTerms.microsOf(ts)))
        case i: java.time.Instant =>
          Some(NumericTerms.encodeLong(NumericTerms.microsOf(i)))
        case _ => None
      }
      case 'a' => v match {
        case d: java.sql.Date =>
          Some(NumericTerms.encodeLong(d.toLocalDate.toEpochDay))
        case d: java.time.LocalDate =>
          Some(NumericTerms.encodeLong(d.toEpochDay))
        case _ => None
      }
      case 'u' => v match {
        case l: java.time.LocalDateTime =>
          Some(NumericTerms.encodeLong(NumericTerms.microsOfNtz(l)))
        case _ => None
      }
      case _ => v match {
        case s: String => Some(s)
        case _ => None
      }
    }

  // a single filter as a pushable leaf (or a whole OR tree of them)
  def leafOf(f: Filter): Option[PushedQuery] = f match {
    case EqualTo(a, v) if pushable(a) && v != null =>
      termOf(a, v).map(t => TermQuery(a, Seq(t)))
    case In(a, vs) if pushable(a) && vs.nonEmpty && vs.forall(_ != null) =>
      val ts = vs.toSeq.map(termOf(a, _))
      if (ts.forall(_.isDefined)) Some(TermQuery(a, ts.flatten)) else None
    case GreaterThan(a, v) if pushable(a) && v != null =>
      termOf(a, v).map(t => RangeQuery(a, Some(t), lowerInc = false, None, upperInc = true))
    case GreaterThanOrEqual(a, v) if pushable(a) && v != null =>
      termOf(a, v).map(t => RangeQuery(a, Some(t), lowerInc = true, None, upperInc = true))
    case LessThan(a, v) if pushable(a) && v != null =>
      termOf(a, v).map(t => RangeQuery(a, None, lowerInc = true, Some(t), upperInc = false))
    case LessThanOrEqual(a, v) if pushable(a) && v != null =>
      termOf(a, v).map(t => RangeQuery(a, None, lowerInc = true, Some(t), upperInc = true))
    case StringStartsWith(a, p) if pushable(a) && p != null =>
      Some(RangeQuery(a, Some(p), lowerInc = true,
        SegmentIndex.nextAfterPrefix(p), upperInc = false))
    case IsNull(a) if pushable(a) =>
      // docs NOT holding the field: whole-segment complement of
      // field presence
      Some(NotQuery(RangeQuery(a, None, lowerInc = true, None, upperInc = true), None))
    case org.apache.spark.sql.sources.Not(inner) =>
      // MUST_NOT over a single-field term/range leaf: SQL `f <> v` /
      // `NOT f LIKE 'p%'` is true only where f is non-null, so the
      // base is field presence. A Not over an OR/IsNull stays
      // residual (Catalyst pushes NOT inward before we see it).
      leafOf(inner).collect {
        case t @ TermQuery(f, _) => NotQuery(t, Some(f))
        case r @ RangeQuery(f, _, _, _, _) => NotQuery(r, Some(f))
      }
    case org.apache.spark.sql.sources.Or(l, r) =>
      for { a <- leafOf(l); b <- leafOf(r) } yield PushTranslator.or(a, b)
    case _ => None
  }

  /** A resolved Catalyst predicate as one exact pushed query: AND/OR
    * trees whose every leaf translates (a partially-translatable OR
    * must stay whole — dropping a branch would narrow the match set),
    * leaves through Spark's own `sources.Filter` translation, plus the
    * query-string whole-token match on a scalar analyzed field
    * ([[graft.search.SolrQueryString.analyzedTokenOf]]). */
  def exprOf(e: expressions.Expression): Option[PushedQuery] = e match {
    case expressions.Literal(true, BooleanType) => Some(MatchAll)
    case expressions.And(l, r) =>
      for { a <- exprOf(l); b <- exprOf(r) } yield PushTranslator.and(Seq(a, b))
    case expressions.Or(l, r) =>
      for { a <- exprOf(l); b <- exprOf(r) } yield PushTranslator.or(a, b)
    case expressions.RLike(expressions.Lower(a: expressions.AttributeReference),
                           expressions.Literal(p: UTF8String, StringType))
        if analyzed.contains(a.name) && !multivalued.contains(a.name) =>
      graft.search.SolrQueryString.analyzedTokenOf(p.toString)
        .map(t => TermQuery(a.name, Seq(t)))
    case other => org.apache.spark.sql.GraftBridge.translateFilter(other).flatMap(leafOf)
  }
}

private[index] object PushTranslator {

  // tighten range leaves on the same field into ONE range (both
  // bounds of a BETWEEN land in a single dictionary scan)
  def mergeRanges(ls: Seq[PushedQuery]): Seq[PushedQuery] = {
    val ranges = ls.collect { case r: RangeQuery => r }
    val rest = ls.filterNot(_.isInstanceOf[RangeQuery])
    val merged = ranges.groupBy(_.field).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.reduce { (a, b) =>
        val (lo, loInc) = (a.lower, b.lower) match {
          case (None, x) => (x, b.lowerInc)
          case (x, None) => (x, a.lowerInc)
          case (Some(x), Some(y)) =>
            val c = SegmentIndex.cpCompare(x, y)
            if (c > 0) (Some(x), a.lowerInc)
            else if (c < 0) (Some(y), b.lowerInc)
            else (Some(x), a.lowerInc && b.lowerInc)
        }
        val (hi, hiInc) = (a.upper, b.upper) match {
          case (None, x) => (x, b.upperInc)
          case (x, None) => (x, a.upperInc)
          case (Some(x), Some(y)) =>
            val c = SegmentIndex.cpCompare(x, y)
            if (c < 0) (Some(x), a.upperInc)
            else if (c > 0) (Some(y), b.upperInc)
            else (Some(x), a.upperInc && b.upperInc)
        }
        RangeQuery(a.field, lo, loInc, hi, hiInc)
      }
    }
    rest ++ merged
  }


  /** SHOULD union of two exact pushed queries (a match-all branch
    * absorbs the union). */
  def or(a: PushedQuery, b: PushedQuery): PushedQuery = (a, b) match {
    case (MatchAll, _) | (_, MatchAll) => MatchAll
    case _ =>
      def flat(q: PushedQuery): Seq[PushedQuery] = q match {
        case OrQuery(bs) => bs
        case other => Seq(other)
      }
      OrQuery(flat(a) ++ flat(b))
  }

  /** MUST conjunction of exact pushed queries: match-all branches drop
    * out (the posting algebra has no match-all branch), same-field
    * ranges tighten into one. */
  def and(qs: Seq[PushedQuery]): PushedQuery =
    mergeRanges(qs.flatMap {
      case MatchAll => Nil
      case AndQuery(bs) => bs
      case other => Seq(other)
    }) match {
      case Seq() => MatchAll
      case Seq(one) => one
      case bs => AndQuery(bs)
    }
}

private[index] class IndexScan(store: String, required: StructType,
                               query: PushedQuery,
                               countOnly: Boolean = false,
                               limit: Option[Int] = None,
                               topN: Option[(Seq[SortKey], Int)] = None,
                               facetFields: Seq[String] = Nil,
                               aggs: Seq[PushedAgg] = Nil,
                               numeric: Map[String, Char] = Map.empty,
                               arrayFields: Set[String] = Set.empty,
                               snapshot: Option[Map[String, Int]] = None,
                               columnar: Boolean = true)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String = {
    // numeric terms display decoded (the plan reader wants `p_size:15`,
    // not the sortable hex the dictionary actually holds)
    def disp(f: String, t: String): String = numeric.getOrElse(f, 's') match {
      case 'l' => NumericTerms.decodeLong(t).toString
      case 'd' => NumericTerms.decodeDouble(t).toString
      case 't' => NumericTerms.instantOf(NumericTerms.decodeLong(t)).toString
      case 'u' => NumericTerms.ntzOf(NumericTerms.decodeLong(t)).toString
      case 'a' => java.time.LocalDate.ofEpochDay(NumericTerms.decodeLong(t)).toString
      case _ => t
    }
    def render(pq: PushedQuery): String = pq match {
      case MatchAll => "*:*"
      case TermQuery(f, ts) => s"$f:${ts.map(disp(f, _)).mkString("|")}"
      case RangeQuery(f, lo, loInc, hi, hiInc) =>
        val l = lo.map(v => (if (loInc) "[" else "{") + disp(f, v)).getOrElse("[*")
        val u = hi.map(v => disp(f, v) + (if (hiInc) "]" else "}")).getOrElse("*]")
        s"$f:$l TO $u"
      case OrQuery(bs) => bs.map(render).mkString("(", " OR ", ")")
      case AndQuery(bs) => bs.map(render).mkString("(", " AND ", ")")
      case NotQuery(inner, base) =>
        s"(${base.map(f => s"$f:[* TO *]").getOrElse("*:*")} NOT ${render(inner)})"
    }
    val q = query match {
      case MatchAll => "pushedTerm=*:*"
      case t: TermQuery => s"pushedTerm=${render(t)}"
      case r: RangeQuery => s"pushedRange=${render(r)}"
      case o: OrQuery => s"pushedOr=${render(o)}"
      case a: AndQuery => s"pushedAnd=${render(a)}"
      case n: NotQuery => s"pushedNot=${render(n)}"
    }
    val aggDesc =
      if (!countOnly) ""
      else if (aggs.isEmpty) "pushedAgg=count(*) " // facet groupBy
      else "pushedAgg=" + aggs.map {
        case CountStarAgg => "count(*)"
        case MinAgg(f) => s"min($f)"
        case MaxAgg(f) => s"max($f)"
        case SumAgg(f) => s"sum($f)"
        case CountFieldAgg(f) => s"count($f)"
      }.mkString(",") + " "
    s"GraftIndexScan store=$store $q " +
      aggDesc +
      (if (facetFields.nonEmpty) s"pushedGroupBy=${facetFields.mkString(",")} " else "") +
      snapshot.map(_ => "snapshot=pinned ").getOrElse("") +
      limit.map(n => s"pushedLimit=$n ").getOrElse("") +
      topN.map { case (ks, n) =>
        val o = ks.map(k => s"${k.field} ${if (k.desc) "DESC" else "ASC"}").mkString(",")
        s"pushedTopN=[$o] rows=$n "
      }.getOrElse("") +
      s"columns=${required.fieldNames.mkString(",")}"
  }
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val dirs = SegmentShardSink.partIndexDirs(spark, store)
    // segment-split parallelism: a multi-segment shard (the bounded
    // auto-flush writes one segment per maxBufferedDocs) fans out to
    // one partition per segment — segments are independent (per-
    // segment ordinals/deletes/zone-maps), partials combine exactly,
    // and a corpus-scale scan is no longer throttled to one task per
    // shard dir. Commit reads here are driver-side metadata (one tiny
    // file per shard). Single-segment shards keep one partition.
    val hconf = spark.sessionState.newHadoopConf()
    dirs.flatMap { d =>
      val p = new Path(d)
      // the planned GENERATION rides in every partition: readers open
      // exactly that commit snapshot, so a commit landing between
      // planning and execution never mixes generations across shards
      // (and, when the writer retains generations, doesn't even fail
      // the scan — it keeps reading its snapshot). A snapshot token
      // pins each part to the generation recorded when the token was
      // taken (time travel) instead of the planning-time latest.
      val cp = snapshot match {
        case Some(pins) =>
          val part = p.getParent.getParent.getName
          val g = pins.getOrElse(part, throw new IllegalStateException(
            s"snapshot token has no entry for part '$part' of $store — " +
              "the store's part layout changed since the token was taken"))
          Some(SegmentIndex.commitAt(p.getFileSystem(hconf), p, g).getOrElse(
            throw new IllegalStateException(
              s"snapshot generation $g of $d is not available — reclaimed " +
                "by the retention policy (Writer.retainGenerations)")))
        case None => scala.util.Try(
          SegmentIndex.latestCommit(p.getFileSystem(hconf), p)).toOption.flatten
      }
      val gen = cp.map(_.gen)
      val segs = cp.map(_.segments.map(_.name)).getOrElse(Nil)
      if (segs.length <= 1) Seq(IndexInputPartition(d, None, gen): InputPartition)
      else segs.map(s =>
        IndexInputPartition(d, Some(Seq(s)), gen): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableHadoopConf(
      SparkSession.active.sessionState.newHadoopConf())
    new IndexReaderFactory(conf, required.fieldNames, query, countOnly, limit, topN,
      facetFields, aggs, numeric, arrayFields, columnar)
  }
}

private[index] case class IndexInputPartition(
    dir: String, segments: Option[Seq[String]] = None,
    gen: Option[Int] = None) extends InputPartition

private[index] class IndexReaderFactory(conf: SerializableHadoopConf,
                                        fields: Array[String],
                                        query: PushedQuery,
                                        countOnly: Boolean = false,
                                        limit: Option[Int] = None,
                                        topN: Option[(Seq[SortKey], Int)] = None,
                                        facetFields: Seq[String] = Nil,
                                        aggs: Seq[PushedAgg] = Nil,
                                        numeric: Map[String, Char] = Map.empty,
                                        arrayFields: Set[String] = Set.empty,
                                        columnar: Boolean = true)
    extends PartitionReaderFactory {

  private def conv(field: String): String => Any = DocRows.conv(numeric, field)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    if (facetFields.nonEmpty) new PartitionReader[InternalRow] {
      // facet.field / facet.pivot from postings: one partial row per
      // group of this shard — (term[, term2], live doc count among
      // docs matching the pushed filter) — plus null buckets for
      // matching docs missing the field(s). Stored docs never read.
      private val dir = new Path(partition.asInstanceOf[IndexInputPartition].dir)
      private val segs = partition.asInstanceOf[IndexInputPartition].segments.map(_.toSet)
      private val gen = partition.asInstanceOf[IndexInputPartition].gen
      private lazy val rows: Iterator[InternalRow] = {
        val reader = new SegmentIndex.Reader(dir.getFileSystem(conf.value), dir, segs, gen)
        facetFields match {
          case Seq(f) if aggs.isEmpty || aggs == Seq(CountStarAgg) =>
            val cf = conv(f)
            val (stats, nullBucket) = reader.facetCounts(f, query)
            val termRows = stats.iterator.map { case (t, n) =>
              InternalRow(cf(t), n)
            }
            if (nullBucket > 0) termRows ++ Iterator(InternalRow(null, nullBucket))
            else termRows
          case Seq(f) =>
            // JSON-facet nested stats: count/min/max/sum per bucket
            val cf = conv(f)
            val statFields = aggs.collect {
              case MinAgg(x) => x
              case MaxAgg(x) => x
            }.distinct
            val sumFields = aggs.collect {
              case SumAgg(x) => x
              case CountFieldAgg(x) => x
            }.distinct
            reader.groupedStats(f, statFields, query, sumFields,
              x => if (numeric.getOrElse(x, 's') == 'l') NumericTerms.decodeLong
                   else _ => 0L).iterator.map {
              case (g, (n, mm, sc)) =>
                InternalRow.fromSeq(
                  (g.map(cf).orNull: Any) +: aggs.map {
                    case CountStarAgg => n
                    case MinAgg(x) =>
                      mm.get(x).map(v => conv(x)(v._1)).orNull
                    case MaxAgg(x) =>
                      mm.get(x).map(v => conv(x)(v._2)).orNull
                    case SumAgg(x) =>
                      sc.get(x).map(v => java.lang.Long.valueOf(v._1)).orNull
                    case CountFieldAgg(x) =>
                      sc.get(x).map(_._2).getOrElse(0L)
                  })
            }
          case Seq(a, b) =>
            val (ca, cb) = (conv(a), conv(b))
            reader.pivotCounts(a, b, query).iterator.map { case ((va, vb), n) =>
              InternalRow(va.map(ca).orNull, vb.map(cb).orNull, n)
            }
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (!rows.hasNext) false
        else { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
    else if (countOnly) new PartitionReader[InternalRow] {
      // one partial row per shard: counts from commit metadata /
      // posting cardinality / zone-map range counting; min/max from
      // zone-map stats (deletion-free segments never open a file) or
      // live postings — stored fields never read
      private val dir = new Path(partition.asInstanceOf[IndexInputPartition].dir)
      private val segs = partition.asInstanceOf[IndexInputPartition].segments.map(_.toSet)
      private val gen = partition.asInstanceOf[IndexInputPartition].gen
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false
        else {
          val reader = new SegmentIndex.Reader(dir.getFileSystem(conf.value), dir, segs, gen)
          lazy val count = query match {
            case TermQuery(f, ts) => reader.termCountIn(f, ts)
            case RangeQuery(f, lo, loInc, hi, hiInc) =>
              reader.rangeCount(f, lo, loInc, hi, hiInc)
            case q @ (_: OrQuery | _: AndQuery | _: NotQuery) => reader.queryCount(q)
            case MatchAll => reader.matchAllCount
          }
          val mmCache = scala.collection.mutable.HashMap.empty[String, Option[(String, String)]]
          // unfiltered → metadata-only zone maps; filtered → postings ∩ match set
          def mm(f: String) = mmCache.getOrElseUpdate(f, reader.filteredMinMax(f, query))
          // sum/count(field) from one postings walk per field (cached:
          // sum(f) + count(f) in the same query share the walk)
          val scCache = scala.collection.mutable.HashMap.empty[String, (Option[Long], Long)]
          def sc(f: String) = scCache.getOrElseUpdate(f,
            reader.fieldSumCount(f, query,
              if (numeric.getOrElse(f, 's') == 'l') NumericTerms.decodeLong else _ => 0L))
          val values: Seq[Any] = aggs.map {
            case CountStarAgg => count
            case MinAgg(f) => mm(f).map(x => conv(f)(x._1)).orNull
            case MaxAgg(f) => mm(f).map(x => conv(f)(x._2)).orNull
            case SumAgg(f) => sc(f)._1.map(java.lang.Long.valueOf).orNull
            case CountFieldAgg(f) => sc(f)._2
          }
          currentRow = InternalRow.fromSeq(values)
          emitted = true
          true
        }
      private var currentRow: InternalRow = _
      override def get(): InternalRow = currentRow
      override def close(): Unit = ()
    }
    else new PartitionReader[InternalRow] {
      private val dir = new Path(partition.asInstanceOf[IndexInputPartition].dir)
      private val segs = partition.asInstanceOf[IndexInputPartition].segments.map(_.toSet)
      private val gen = partition.asInstanceOf[IndexInputPartition].gen

      /** Local top-n under the pushed sort keys via a bounded heap —
        * O(matches · log n) memory-bounded at n docs, the per-shard
        * half of a Solr coordinator's scatter-gather merge. */
      private def localTopN(it: Iterator[SegmentIndex.Doc],
                            keys: Seq[SortKey], n: Int): Iterator[SegmentIndex.Doc] = {
        if (n <= 0) return Iterator.empty
        val docOrd: Ordering[(Map[String, String], SegmentIndex.Doc)] =
          (a, b) => {
            var i = 0
            var c = 0
            while (c == 0 && i < keys.length) {
              val k = keys(i)
              c = (a._1.get(k.field), b._1.get(k.field)) match {
                case (None, None) => 0
                case (None, _) => if (k.nullsFirst) -1 else 1
                case (_, None) => if (k.nullsFirst) 1 else -1
                case (Some(x), Some(y)) =>
                  val r = SegmentIndex.cpCompare(x, y)
                  if (k.desc) -r else r
              }
              i += 1
            }
            c
          }
        // max-heap of the CURRENT WORST on top → poll evicts it
        val pq = new java.util.PriorityQueue[(Map[String, String], SegmentIndex.Doc)](
          n + 1, docOrd.reverse)
        it.foreach { d =>
          pq.add((SegmentIndex.firstValues(d), d))
          if (pq.size > n) pq.poll()
        }
        val out = new Array[SegmentIndex.Doc](pq.size)
        var i = pq.size - 1
        while (i >= 0) { out(i) = pq.poll()._2; i -= 1 }
        out.iterator
      }

      private lazy val rows: Iterator[InternalRow] = {
        val reader = new SegmentIndex.Reader(dir.getFileSystem(conf.value), dir, segs, gen)
        // COLUMNAR retrieval (Lucene docValues retrieval): when the
        // projection has no array-surfaced field and no pushed sort,
        // rows assemble from the `.dvd` forward columns of exactly the
        // projected fields — the `.fld` stored blocks (every field of
        // every doc, decompressed) never open, so a narrow projection
        // over a wide store reads I/O ∝ projected columns, not row
        // width. Segments lacking a column (legacy, or the field is
        // analyzed/multivalued there) fall back to stored fetch
        // per-segment; results are identical either way.
        if (columnar && topN.isEmpty && !fields.exists(arrayFields.contains)) {
          val base = reader.matchOrdsBySegment(query).flatMap { case (s, ords) =>
            if (ords.length == 0) Iterator.empty
            // SELECTIVITY GATE: a .dvd column costs O(segment docs)
            // to read (one varint per ordinal + the value dict)
            // regardless of how few ordinals matched, while the
            // stored path costs O(hits) block fetches — so sparse
            // match sets (a point lookup against a million-doc
            // segment) keep the per-hit seeks and only scans touching
            // a material fraction of the segment go columnar. 1/32
            // sits safely past the break-even (one ~16 KiB stored
            // block holds tens-to-hundreds of docs, so by 3% density
            // nearly every block gets decompressed anyway).
            else if (fields.nonEmpty && ords.length.toLong * 32 < s.docs)
              reader.storedDocsAt(s, ords).iterator.map(docToRow)
            else reader.docValuesCols(s, fields) match {
              case Some(cols) =>
                // dict converted ONCE per (segment, field) — per-row
                // work is two array reads per column
                val dicts = new Array[Array[Any]](cols.length)
                var i = 0
                while (i < cols.length) {
                  dicts(i) = cols(i)._1.map(docRows.convs(i))
                  i += 1
                }
                ords.iterator.map { o =>
                  val arr = new Array[Any](fields.length)
                  var j = 0
                  while (j < fields.length) {
                    val ti = cols(j)._2(o)
                    if (ti >= 0) arr(j) = dicts(j)(ti)
                    j += 1
                  }
                  new GenericInternalRow(arr)
                }
              case None => reader.storedDocsAt(s, ords).iterator.map(docToRow)
            }
          }
          limit.map(base.take).getOrElse(base) // per-shard early stop
        } else {
          val it = query match {
            case TermQuery(f, Seq(t)) => reader.termDocs(f, t).iterator
            case TermQuery(f, ts) => reader.termDocsIn(f, ts).iterator
            case RangeQuery(f, lo, loInc, hi, hiInc) =>
              reader.rangeDocs(f, lo, loInc, hi, hiInc).iterator
            case q @ (_: OrQuery | _: AndQuery | _: NotQuery) => reader.queryDocs(q).iterator
            case MatchAll => reader.allDocs()
          }
          (topN match {
            case Some((keys, n)) => localTopN(it, keys, n)
            case None => limit.map(it.take).getOrElse(it) // per-shard early stop
          }).map(docToRow)
        }
      }
      private var current: InternalRow = _
      private val docRows = new DocRows(fields, numeric, arrayFields)
      private def docToRow(doc: SegmentIndex.Doc): InternalRow = docRows(doc)

      override def next(): Boolean =
        if (!rows.hasNext) false
        else { current = rows.next(); true }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

/** Stored doc → typed [[InternalRow]] of `fields`, the index table's
  * row surface: numeric fields decode their sortable encoding,
  * multivalued fields surface their FIRST value — or, when in
  * `arrayFields`, all stored values in order — and absent fields are
  * null. `extra` trailing slots are left null for the caller. */
private[index] final class DocRows(fields: Array[String], numeric: Map[String, Char],
                                   arrayFields: Set[String] = Set.empty) {
  val convs: Array[String => Any] = fields.map(DocRows.conv(numeric, _))
  // field name → output position, primitive-friendly: the row loop
  // below runs once per STORED DOC of every scan — the Map + Option +
  // fromSeq form allocated ~6 objects per doc and was a visible slice
  // of corpus-scale index reads (q272's 1M-edge scan). First
  // occurrence wins (the multivalued surfacing contract, same as
  // SegmentIndex.firstValues).
  private val fieldIdx = {
    val m = new java.util.HashMap[String, Integer](fields.length * 2)
    fields.indices.foreach(i => m.put(fields(i), i))
    m
  }

  // output positions surfaced as array<string> (ALL stored values in
  // order — the Solr multiValued response shape, option-gated)
  private val isArray: Array[Boolean] = fields.map(arrayFields.contains)

  def apply(doc: SegmentIndex.Doc, extra: Int = 0): GenericInternalRow = {
    val arr = new Array[Any](fields.length + extra)
    val it = doc.iterator
    while (it.hasNext) {
      val kv = it.next()
      val i = fieldIdx.get(kv._1)
      if (i != null) {
        if (isArray(i)) {
          val buf = arr(i) match {
            case null =>
              val b = new scala.collection.mutable.ArrayBuffer[Any](4)
              arr(i) = b
              b
            case b: scala.collection.mutable.ArrayBuffer[Any @unchecked] => b
          }
          buf += UTF8String.fromString(kv._2)
        } else if (arr(i) == null) arr(i) = convs(i)(kv._2)
      }
    }
    var i = 0
    while (i < fields.length) {
      arr(i) match {
        case b: scala.collection.mutable.ArrayBuffer[Any @unchecked] =>
          arr(i) = new org.apache.spark.sql.catalyst.util.GenericArrayData(b.toArray)
        case _ =>
      }
      i += 1
    }
    new GenericInternalRow(arr)
  }
}

private[index] object DocRows {

  /** Stored/indexed term → the typed row value: numeric fields decode
    * the sortable encoding (timestamps surface as Spark's internal
    * epoch-micros Long, dates as epoch-days Int), the rest as UTF8
    * strings. */
  def conv(numeric: Map[String, Char], field: String): String => Any =
    numeric.getOrElse(field, 's') match {
      case 'l' | 't' | 'u' => s => NumericTerms.decodeLong(s)
      case 'a' => s => NumericTerms.decodeLong(s).toInt
      case 'd' => s => NumericTerms.decodeDouble(s)
      case _ => s => UTF8String.fromString(s)
    }
}
