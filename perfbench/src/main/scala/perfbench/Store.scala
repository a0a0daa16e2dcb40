package perfbench

import graft.Graft
import graft.index.SegmentShardSink
import graft.schema.{IndexField, IndexSchema}
import graft.sources.AvroSource
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import java.io.File

/** The document store every workload builds: generated rows written as
  * Avro container files, read back through the engine's Avro source, a
  * compiled morphline, then the segment-store batch build. */
object Store {
  val Shards = 2

  val Schema: IndexSchema = IndexSchema("id", Seq(
    IndexField("id", StringType, required = true),
    IndexField("text", StringType),
    IndexField("lang", StringType),
    IndexField("source", StringType),
    IndexField("created", StringType),
    IndexField("ts", LongType),
    IndexField("n", IntegerType)))

  /** The reference's tutorial chain: read, convert the timestamp, drop
    * fields the schema does not know (`note`), load. */
  val Morphline: String =
    """morphlines : [ {
      |  id : perfbench
      |  commands : [
      |    { readAvroContainer { } }
      |    { convertTimestamp { field : created, inputFormats : ["yyyy-MM-dd'T'HH:mm:ss'Z'"], inputTimezone : UTC } }
      |    { sanitizeUnknownSolrFields { } }
      |    { loadSolr { } }
      |  ]
      |} ]""".stripMargin

  private lazy val compiled = Graft.morphline(Morphline, schema = Some(Schema))

  private val SourceType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("created", StringType),
    StructField("ts", LongType, nullable = false), StructField("n", IntegerType, nullable = false),
    StructField("note", StringType)))

  /** Generated rows as Avro container files, one per core. */
  def writeAvro(ctx: Ctx, docs: Array[Doc], out: File): String = {
    val sc = ctx.spark.sparkContext
    val rows = docs.toSeq.map(d => Row(d.id, d.text, d.lang, d.source, d.created, d.ts, d.n,
      s"ingest ${d.ts % 97}"))
    val df = ctx.spark.createDataFrame(sc.parallelize(rows, sc.defaultParallelism), SourceType)
    Graft.writeAvro(df, out.getPath)
    out.getPath
  }

  /** Rows in the store's post-ETL shape (what an upsert batch carries). */
  def etlRows(ctx: Ctx, docs: Seq[Doc]): DataFrame = {
    val rows = docs.map(d => Row(d.id, d.text, d.lang, d.source, d.createdOut, d.ts, d.n))
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 2),
      StructType(SourceType.fields.filter(_.name != "note")))
  }

  def etl(ctx: Ctx, avro: String): DataFrame = compiled.command(AvroSource.read(ctx.spark, avro))

  final case class PartCount(part: String, docs: Long, segments: Long)

  def partCounts(ctx: Ctx, store: File): Seq[PartCount] =
    SegmentShardSink.docCounts(ctx.spark, store.getPath).collect().toSeq
      .map(r => PartCount(r.getString(0), r.getLong(1), r.getLong(2)))

  /** One batch build with the user defaults of `Graft.buildSegmentIndex`.
    * Traced, the same phase sequence runs step by step so each phase
    * gets its own span, and the read and read+ETL prefixes run on
    * their own into a no-op sink. */
  def build(ctx: Ctx, avro: String, out: File): Seq[PartCount] = {
    val tr = ctx.trace
    if (!tr.enabled) {
      Graft.buildSegmentIndex(etl(ctx, avro), "id", out.getPath, Shards,
        orderBy = Some(col("ts")), analyzedFields = Set("text")).collect().toSeq
        .map(r => PartCount(r.getString(0), r.getLong(1), r.getLong(2)))
    } else {
      val spark = ctx.spark
      tr("sources.avro_read")(
        AvroSource.read(spark, avro).write.format("noop").mode("overwrite").save())
      tr("etl.morphline")(etl(ctx, avro).write.format("noop").mode("overwrite").save())
      tr("build") {
        val docs = etl(ctx, avro)
        val micro = graft.PerfbenchAccess.autoMicroShards(docs, Shards)
        writing(ctx, "index.write", out) { s =>
          s.counts("micro_shards") = micro
          SegmentShardSink.write(docs, "id", out.getPath, Shards, micro,
            dedupOrder = Some(col("ts")), analyzedFields = Set("text"))
        }
        if (micro > Shards)
          writing(ctx, "index.merge_tree", out)(_ =>
            SegmentShardSink.mergeTree(spark, out.getPath, Shards, 2))
        val segmentsIn = partCounts(ctx, out).map(_.segments).sum
        writing(ctx, "index.optimize", out) { s =>
          s.counts("segments_in") = segmentsIn
          SegmentShardSink.optimize(spark, out.getPath)
        }
        tr("index.doc_counts")(partCounts(ctx, out))
      }
    }
  }

  /** A span that also records the bytes of files appearing under `dir`. */
  def writing[T](ctx: Ctx, name: String, dir: File)(body: Span => T): T =
    ctx.trace.span(name) { s =>
      if (s == null) body(s)
      else {
        val before = Files.listing(dir)
        val r = body(s)
        s.counts("bytes_written") = Files.written(dir, before)
        r
      }
    }
}
