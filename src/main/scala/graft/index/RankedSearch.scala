package graft.index

import graft.util.SerializableHadoopConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, AttributeSeq, BindReferences, BoundReference, Descending, Expression, GenericInternalRow, InterpretedOrdering, Predicate, SortOrder}
import org.apache.spark.sql.catalyst.optimizer.ConstantFolding
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project}
import org.apache.spark.sql.functions.{coalesce, col, lit, round}
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}

import scala.collection.mutable

/**
 * The Solr request loop ([[graft.Graft.search]]) served the way a
 * SolrCloud coordinator serves a ranked query — Solr's distributed
 * query phase as two scatter jobs over the part dirs, no shuffle, no
 * join, no global sort:
 *
 *  1. **stats** (ranked queries only): per-shard live doc count, field
 *     tokens and query-term document frequencies
 *     ([[SegmentIndex.Reader.bm25Stats]]), combined on the driver into
 *     GLOBAL N / avgdl / df — Solr's distributed-idf
 *     (`ShardRequest.PURPOSE_GET_TERM_STATS`);
 *  2. **query**: one task per part takes the live match ordinals of
 *     the query's pushed form from the postings, scores only those
 *     ordinals ([[SegmentIndex.Reader.bm25Segment]] under the global
 *     stats), keeps its local top-K on the full sort key and fetches
 *     stored fields for the rows it keeps. The driver merges the at
 *     most parts × K rows.
 *
 * Query clauses that do not translate to an exact pushed query
 * ([[PushTranslator]]) — and the `{!boost}` function — are evaluated
 * in the task on the typed stored row, through Catalyst's interpreted
 * predicate/expression bound to the index-table schema. The score is
 * the same Catalyst expression the relational form of the request
 * computes (`round(coalesce(bm25, 0) · boost, 6)`), so rounding is
 * Catalyst's own `Round`, and the merge order is Catalyst's ordering of
 * (`score_r` DESC, id ASC).
 */
object RankedSearch {

  /** BM25 parameters (Lucene's defaults). */
  private val K1 = 1.2
  private val B = 0.75

  /** The raw BM25 sum rides one slot past the table's fields while a
    * row is scored; the slot then holds `score_r`. */
  private val Bm25Col = "__bm25"

  /** Phase-1 result: the global statistics every shard scores under. */
  private[index] final case class Bm25Global(nDocs: Double, avgdl: Double,
                                             df: Map[String, Long])

  /**
   * One request, resolved on the driver into what every shard task
   * runs: the exact pushed query, the residual predicate and the score
   * expression (both bound to `fields :+ score slot`), the ranked field
   * and terms, and the output sort key.
   */
  private[index] final case class ShardQuery(fields: Array[String],
                                             numeric: Map[String, Char],
                                             idPos: Int, idType: DataType,
                                             query: PushedQuery,
                                             residual: Option[Expression],
                                             score: Expression,
                                             scoreReadsFields: Boolean,
                                             rank: Option[(String, Seq[String])],
                                             topK: Int) {

    /** (`score_r` DESC NULLS LAST, id ASC NULLS FIRST) over output rows —
      * `orderBy(col("score_r").desc, col(id))`. */
    def ordering: InterpretedOrdering = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(fields.length, score.dataType, score.nullable), Descending),
      SortOrder(BoundReference(idPos, idType, nullable = true), Ascending)))

    /** This shard's top-K output rows (fields, then `score_r`). */
    def answer(reader: SegmentIndex.Reader, stats: Option[Bm25Global]): Array[InternalRow] = {
      if (topK == 0) return Array.empty
      val nF = fields.length
      val docRows = new DocRows(fields, numeric)
      val keep = residual.map { e =>
        val p = Predicate.createInterpreted(e)
        p.initialize(0)
        p
      }
      def bm25Of(s: SegmentIndex.SegmentMeta): Int => Any = (stats, rank) match {
        case (Some(g), Some((field, terms))) =>
          val m = reader.bm25Segment(s, field, terms, K1, B, g.nDocs, g.avgdl, g.df)
          o => m.get(o) match {
            case Some(v) => v
            case None => null
          }
        case _ => _ => null
      }
      val outOrd = ordering
      val segs = reader.matchOrdsBySegment(query).filter(_._2.nonEmpty).toSeq
      if (keep.isDefined || scoreReadsFields) {
        // residual clauses or the boost read stored fields: every
        // candidate's typed row, through a bounded heap (worst on top)
        val heap = new java.util.PriorityQueue[InternalRow](topK + 1,
          (a: InternalRow, b: InternalRow) => outOrd.compare(b, a))
        segs.foreach { case (s, ords) =>
          val bm25 = bm25Of(s)
          val docs = reader.storedDocsAt(s, ords)
          var i = 0
          while (i < ords.length) {
            val row = docRows(docs(i), extra = 1)
            if (keep.forall(_.eval(row))) {
              row.update(nF, bm25(ords(i)))
              row.update(nF, score.eval(row))
              heap.add(row)
              if (heap.size > topK) heap.poll()
            }
            i += 1
          }
        }
        heap.toArray(Array.empty[InternalRow])
      } else {
        // the score comes from postings alone: rank the candidates on
        // it, settle ties straddling the K boundary by id, and fetch
        // stored fields only for those rows
        val cand = mutable.ArrayBuffer.empty[(SegmentIndex.SegmentMeta, Int, GenericInternalRow)]
        val probe = new GenericInternalRow(nF + 1)
        segs.foreach { case (s, ords) =>
          val bm25 = bm25Of(s)
          ords.foreach { o =>
            probe.update(nF, bm25(o))
            cand += ((s, o, new GenericInternalRow(Array[Any](score.eval(probe)))))
          }
        }
        val scoreOrd = new InterpretedOrdering(Seq(
          SortOrder(BoundReference(0, score.dataType, score.nullable), Descending)))
        val fetched = mutable.HashMap.empty[Int, GenericInternalRow]
        def fetch(is: Seq[Int]): Unit =
          is.filterNot(fetched.contains).groupBy(i => cand(i)._1.name).valuesIterator
            .foreach { group =>
              val sorted = group.sortBy(i => cand(i)._2).toArray
              val docs = reader.storedDocsAt(cand(sorted.head)._1, sorted.map(i => cand(i)._2))
              sorted.indices.foreach(j => fetched(sorted(j)) = docRows(docs(j), extra = 1))
            }
        val byScore = cand.indices.sortWith((x, y) =>
          scoreOrd.compare(cand(x)._3, cand(y)._3) < 0)
        val chosen =
          if (byScore.length <= topK) byScore
          else {
            val kth = cand(byScore(topK - 1))._3
            def tiesKth(i: Int) = scoreOrd.compare(cand(i)._3, kth) == 0
            val above = byScore.indexWhere(tiesKth)
            val tieEnd = byScore.indexWhere(i => !tiesKth(i), topK) match {
              case -1 => byScore.length
              case e => e
            }
            if (tieEnd == topK) byScore.take(topK)
            else {
              val tied = byScore.slice(above, tieEnd)
              fetch(tied)
              byScore.take(above) ++ tied.sortWith((x, y) =>
                outOrd.compare(fetched(x), fetched(y)) < 0).take(topK - above)
            }
          }
        fetch(chosen)
        chosen.map { i =>
          val row = fetched(i)
          row.update(nF, cand(i)._3.get(0, score.dataType))
          row: InternalRow
        }.toArray
      }
    }
  }

  /** MUST conjuncts of a predicate. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Resolve one request against the store's table schema on the
    * driver (Catalyst analysis over an empty local relation — no job)
    * and split its predicate into the exact pushed query and the
    * residual. Returns the output schema with the shard query. */
  private def resolve(spark: SparkSession, marker: SegmentShardSink.StoreMarker, q: String,
                      topK: Int, rankField: Option[String],
                      boost: Option[String]): (StructType, ShardQuery) = {
    val schema = IndexDataSource.schemaOf(marker, multivaluedAsArray = false)
    require(!schema.fieldNames.contains("score_r"),
      "the store has a 'score_r' field, which collides with the score column")
    val textFields = marker.analyzed
    // sorted: Set iteration order is hash-dependent above 4 elements —
    // the default/ranked field must not vary between runs
    val default = rankField.orElse(textFields.toSeq.sorted.headOption).getOrElse(marker.idCol)
    val (pred, terms) = graft.search.SolrQueryString.compileWithTerms(
      q, schema, default, textFields)
    // Solr's {!boost} / edismax boost= — a function query MULTIPLIED
    // into the relevance score (parity discipline per FunctionQuery's
    // scaladoc)
    val boostCol = boost.map(graft.search.FunctionQuery.compile(_, schema))
    val ranked = terms.nonEmpty && textFields.contains(default)
    val scoreCol =
      if (!ranked) boostCol.map(b => round(b, 6)).getOrElse(lit(0.0))
      else {
        val base = coalesce(col(Bm25Col), lit(0.0))
        round(boostCol.map(base * _).getOrElse(base), 6)
      }
    val table = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      schema.add(Bm25Col, DoubleType))
    val analyzed = table.filter(pred).withColumn("score_r", scoreCol).drop(Bm25Col)
      .queryExecution.analyzed
    val attrs = analyzed.collectFirst { case r: LocalRelation => r.output }.get
    val filter = analyzed.collectFirst { case f: Filter => f }.get
    // folded, so a coerced literal (`n:5` on a long field compares
    // against cast('5' as bigint)) reaches the translator as a literal
    val cond = ConstantFolding(filter).asInstanceOf[Filter].condition
    val score = analyzed.collect { case p: Project => p.projectList }.flatten
      .collectFirst { case a: Alias if a.name == "score_r" => a.child }.get
    val translator = new PushTranslator(schema.fieldNames.toSet, marker.multivalued,
      marker.analyzed, IndexDataSource.numericOf(marker))
    val split = conjuncts(cond).map(c => c -> translator.exprOf(c))
    val bind = (e: Expression) => BindReferences.bindReference(e, new AttributeSeq(attrs))
    val idPos = schema.fieldIndex(marker.idCol)
    (analyzed.schema, ShardQuery(
      fields = schema.fieldNames,
      numeric = IndexDataSource.numericOf(marker),
      idPos = idPos,
      idType = schema(idPos).dataType,
      query = PushTranslator.and(split.flatMap(_._2)),
      residual = split.collect { case (c, None) => c }.reduceOption(And).map(bind),
      score = bind(score),
      scoreReadsFields = score.references.exists(_.exprId != attrs.last.exprId),
      rank = if (ranked) Some(default -> terms) else None,
      topK = topK))
  }

  /** Both scatter phases: the output schema, the resolved request and
    * every part's local top-K (one array per part dir, in part order). */
  private[graft] def scatter(spark: SparkSession, store: String, q: String, topK: Int,
                             rankField: Option[String], boost: Option[String])
      : (StructType, ShardQuery, Array[Array[InternalRow]]) = {
    require(topK >= 0, s"topK must be >= 0, got $topK")
    val hconf = ShardIndex.hadoopConf(spark)
    val marker = SegmentShardSink.readMarker(hconf, store)
    val (schema, sq) = resolve(spark, marker, q, topK, rankField, boost)
    val dirs = SegmentShardSink.partIndexDirs(spark, store)
    require(dirs.nonEmpty, s"no part dirs under $store")
    val conf = new SerializableHadoopConf(hconf)
    val sc = spark.sparkContext
    // phase 1 — each part also reports the commit generation it read,
    // and phase 2 opens exactly that snapshot: stats and scores come
    // from one commit point per part
    val (gens, global) = sq.rank match {
      case None => (dirs.map(_ => Option.empty[Int]), None)
      case Some((field, terms)) =>
        val stats = sc.parallelize(dirs, dirs.size).map { d =>
          val p = new Path(d)
          val r = new SegmentIndex.Reader(p.getFileSystem(conf.value), p)
          (r.commit.gen, r.bm25Stats(field, terms))
        }.collect()
        val nDocs = stats.map(_._2._1).sum
        val df = stats.flatMap(_._2._3).groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
        val g =
          if (nDocs == 0L || df.isEmpty) None
          else Some(Bm25Global(nDocs.toDouble,
            stats.map(_._2._2).sum.toDouble / nDocs.toDouble, df))
        (stats.map(s => Option(s._1)).toSeq, g)
    }
    // phase 2
    val parts = sc.parallelize(dirs.zip(gens), dirs.size).map { case (d, gen) =>
      val p = new Path(d)
      sq.answer(new SegmentIndex.Reader(p.getFileSystem(conf.value), p, None, gen), global)
    }.collect()
    (schema, sq, parts)
  }

  /** The top-K of a Solr query string over a segment store as a LOCAL
    * frame: the table's fields plus `score_r`, ordered by (`score_r`
    * DESC, id ASC). Runs both scatter jobs eagerly. */
  def search(spark: SparkSession, store: String, q: String, topK: Int,
             rankField: Option[String], boost: Option[String]): DataFrame = {
    val (schema, sq, parts) = scatter(spark, store, q, topK, rankField, boost)
    val top = parts.flatten.sorted(sq.ordering).take(topK)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    spark.createDataFrame(
      java.util.Arrays.asList(top.map(r => toRow(r).asInstanceOf[Row]): _*), schema)
  }
}
