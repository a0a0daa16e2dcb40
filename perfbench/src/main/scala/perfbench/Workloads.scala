package perfbench

import graft.Graft
import graft.ops.{HnswIndex, IvfIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import java.io.File
import java.util.SplittableRandom

/** One benchmark workload: set-up, a seeded stream of ops, end checks. */
abstract class Workload(val ctx: Ctx) {
  /** Ops of the warm-up, run on the first set-up's stores. */
  def warmUpOps: Int
  /** Ops per second one client completes on a 4-core host, which sizes each
    * pass of the traced run (a fixed count, so its counts repeat). */
  def nominalRate: Double
  /** Ops after which the op stream repeats its pattern of kinds; a
    * traced pass is a whole number of cycles. */
  def cycle: Int = 1
  /** One complete set-up into `dir`; the last one serves the run. */
  def setup(dir: File): Unit
  /** Work after the last set-up that the timed ops rely on. */
  def prepare(): Unit = ()
  def op(i: Long): Unit
  /** End-of-run checks. */
  def finish(): Unit = ()

  /** Docs per second of each timed build (the ops of `build`, the
    * set-up builds elsewhere). */
  val buildRates = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** On-disk bytes per indexed doc of the built store. */
  var bytesPerDoc = 0.0
  /** Segments per part of the store at the end of the run. */
  var segmentsPerPart = 0.0

  protected def spark = ctx.spark

  /** Build the doc store from Avro files, timed, and check its counts. */
  protected def buildStore(avro: String, sourceRows: Int, out: File, exp: Expect,
                           check: Reads.Check): Unit = {
    val t0 = System.nanoTime()
    val parts = Store.build(ctx, avro, out)
    val s = (System.nanoTime() - t0) / 1e9
    // a traced build also runs its prefixes, so only plain builds count
    if (!ctx.trace.enabled) buildRates += sourceRows / s
    val docs = parts.map(_.docs).sum
    check(s"build holds $docs docs, expected ${exp.docs.size}")(docs == exp.docs.size)
    check(s"build has ${parts.size} parts, expected ${Store.Shards}")(parts.size == Store.Shards)
    check(s"segments per part after optimize: ${parts.map(_.segments)}")(
      parts.forall(_.segments == 1))
    bytesPerDoc = Files.bytes(out).toDouble / docs
    segmentsPerPart = parts.map(_.segments).sum.toDouble / parts.size
  }

  protected def vectorFrame(vs: Seq[(Long, Array[Double])],
                            partitions: Int = spark.sparkContext.defaultParallelism): DataFrame = {
    val rows = vs.map { case (id, v) => org.apache.spark.sql.Row(id, v.toSeq) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(DoubleType, containsNull = false)))))
  }

}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "build" => new BuildWorkload(ctx)
    case "ingest" => new IngestWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** One batch build per op, from the Avro corpus into a fresh directory,
  * then the built shards are queried (three term queries, two searches,
  * three id lookups) and checked. */
final class BuildWorkload(ctx: Ctx) extends Workload(ctx) {
  val Docs = 15000
  val warmUpOps = 3
  val nominalRate = 0.5
  private var avro: String = _
  private var exp: Expect = _

  def setup(dir: File): Unit = {
    val rows = Corpus.docs(ctx.seed, Docs)
    exp = new Expect(Corpus.latest(rows))
    avro = Store.writeAvro(ctx, rows, new File(dir, "avro"))
  }

  /** Only the timed ops count towards the build rate. */
  override def prepare(): Unit = buildRates.clear()

  def op(i: Long): Unit = ctx.rec.op(s"build op $i") { check =>
    val rng = ctx.opRng(i)
    val out = new File(ctx.dir, s"build-$i")
    buildStore(avro, Docs, out, exp, check)
    val store = out.getPath
    for (k <- 0 until 3) Reads.termQuery(ctx, store, exp, Reads.term(rng, 3 * i + k), check)
    for (k <- 0 until 2) Reads.search(ctx, store, exp, Reads.term(rng, 2 * i + k), "en", check)
    for (_ <- 0 until 3) Reads.lookup(ctx, store, exp, Reads.lookupIds(exp, rng), check)
    Files.delete(out)
  }
}

/** Writes and reads against one growing store. One client repeats a
  * cycle of two upsert batches and one IVF add; each write is checked
  * for read-your-writes, then two term queries, a search and one more
  * read run: a facet request after the first upsert, a `{!knn}` query
  * on the HNSW store after the second, one on the IVF store after the
  * add. */
final class IngestWorkload(ctx: Ctx) extends Workload(ctx) {
  val Docs = 12000
  val IvfVectors = 2000
  val HnswVectors = 1000
  val Queries = 4
  val Batch = 1000
  val VecBatch = 500
  val warmUpOps = 3
  val nominalRate = 0.6
  override val cycle = 3
  private var store: File = _
  private var ivf: String = _
  private var hnsw: String = _
  private var exp: Expect = _
  private var upserts = 0
  private var queries: Array[Array[Double]] = _
  /** Every vector the IVF store holds, for the exact top-10. */
  private val ivfVecs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
  private var hnswExact: Array[Set[Long]] = _

  def setup(dir: File): Unit = ctx.rec.op("ingest set-up") { check =>
    val rows = Corpus.docs(ctx.seed, Docs)
    exp = new Expect(Corpus.latest(rows))
    val avro = Store.writeAvro(ctx, rows, new File(dir, "avro"))
    store = new File(dir, "store")
    buildStore(avro, Docs, store, exp, check)
    val base = Corpus.vectors(ctx.seed, 1, 0L, IvfVectors)
    ivfVecs.clear()
    ivfVecs ++= base
    ivf = new File(dir, "ivf").getPath
    IvfIndex.build(vectorFrame(base), ivf, Corpus.Dim, nlist = 16)
    val hnswVecs = Corpus.vectors(ctx.seed, 2, 0L, HnswVectors)
    hnsw = new File(dir, "hnsw").getPath
    HnswIndex.build(vectorFrame(hnswVecs), hnsw, Corpus.Dim)
    queries = Corpus.vectors(ctx.seed, 3, 0L, Queries).map(_._2)
    hnswExact = queries.map(q => Corpus.exactTopK(hnswVecs, q, 10))
  }

  /** A pool query on `layer`, checked against the exact top-10; the pool
    * queries are taken in turn, so a fixed op count sees a fixed set. */
  private def poolQuery(i: Long, layer: String, store: String, exact: Int => Set[Long],
                        check: Reads.Check): Unit = {
    val q = Math.floorMod(i / cycle, Queries.toLong).toInt
    val got = Reads.knn(ctx, layer, store, queries(q))
    val r = got.count(exact(q)).toDouble / 10
    ctx.rec.sample(s"$layer.recall_at_10", r)
    check(s"$layer query $q: ${got.size} ids, recall@10 $r")(got.size == 10 && r >= 0.5)
  }

  /** About 80% rewrites of existing ids (skewed towards the low ranks,
    * so some ids are rewritten again and again), 20% new ids. */
  private def batch(i: Long, rng: SplittableRandom): Seq[Doc] = {
    val ids = exp.ids
    val rewrites = Iterator.continually {
      // log-uniform rank: P(rank) ~ 1/rank, a Zipf(1) skew
      ids(math.min(ids.size - 1, (math.pow(ids.size, rng.nextDouble()) - 1).toInt))
    }.distinct.take(Batch * 4 / 5).toSeq
    val fresh = (0 until Batch - rewrites.size).map(j => f"u$i%06d-$j%04d")
    (rewrites ++ fresh).zipWithIndex.map { case (id, j) =>
      Corpus.doc(rng, id, 1000000 + ((i + 10) * Batch + j).toInt) }
  }

  def op(i: Long): Unit = ctx.rec.op(s"ingest op $i") { check =>
    val rng = ctx.opRng(i)
    val slot = Math.floorMod(i, cycle.toLong)
    if (slot != 2) { // two upserts, then an IVF add
      val docs = batch(i, rng)
      val segsBefore = if (ctx.trace.enabled) Store.partCounts(ctx, store).map(_.segments).sum else 0L
      val span = Store.writing(ctx, "index.upsert", store) { s =>
        val t0 = System.nanoTime()
        Graft.upsertIndex(spark, store.getPath, Store.etlRows(ctx, docs))
        ctx.rec.sample("index.upsert", (System.nanoTime() - t0) / 1e6)
        s
      }
      exp.put(docs)
      upserts += 1
      if (span != null) {
        // each upsert adds one segment per part; fewer means merges ran
        val parts = Store.partCounts(ctx, store)
        span.counts("merges") = math.max(0L, segsBefore + parts.size - parts.map(_.segments).sum)
        span.counts("user_bytes") = docs.map(d =>
          (d.id + d.text + d.lang + d.source + d.createdOut).getBytes("UTF-8").length + 12L).sum
      }
      // read-your-writes: one rewritten and one new id
      Reads.lookup(ctx, store.getPath, exp, Seq(docs.head.id, docs.last.id), check)
    } else {
      val vecs = Corpus.vectors(ctx.seed, 100 + i, 10000000L + (i + 10) * VecBatch, VecBatch)
      val cellFiles = () => Files.listing(new File(ivf)).count(_._1.endsWith(".parquet"))
      val filesBefore = if (ctx.trace.enabled) cellFiles() else 0
      val applied = Store.writing(ctx, "ops.ivf_add", new File(ivf)) { s =>
        val t0 = System.nanoTime()
        val r = IvfIndex.addBatch(spark, ivf, vectorFrame(vecs, 1), batchId = i + 10)
        ctx.rec.sample("ops.ivf_add", (System.nanoTime() - t0) / 1e6)
        if (s != null) s.counts("compactions") = if (cellFiles() <= filesBefore) 1 else 0
        r
      }
      check(s"IVF batch $i was not applied")(applied)
      ivfVecs ++= vecs
      // read-your-writes: an added vector is its own nearest neighbour
      val (id, v) = vecs(rng.nextInt(VecBatch))
      val got = Reads.knn(ctx, "ops.ivf_query", ivf, v)
      check(s"added vector $id not first in its own {!knn} answer: $got")(got.headOption.contains(id))
    }
    Reads.termQuery(ctx, store.getPath, exp, Reads.term(rng, 2 * i), check)
    Reads.termQuery(ctx, store.getPath, exp, Reads.term(rng, 2 * i + 1), check)
    Reads.search(ctx, store.getPath, exp, Reads.term(rng, i), "en", check)
    slot match {
      case 0 => Reads.facet(ctx, store.getPath, exp,
        Corpus.Sources(rng.nextInt(Corpus.Sources.length)), check)
      case 1 => poolQuery(i, "ops.hnsw_query", hnsw, hnswExact, check)
      case _ => poolQuery(i, "ops.ivf_query", ivf,
        q => Corpus.exactTopK(ivfVecs.toArray, queries(q), 10), check)
    }
  }

  override def finish(): Unit = ctx.rec.op("ingest final count") { check =>
    val parts = Store.partCounts(ctx, store)
    val docs = parts.map(_.docs).sum
    check(s"store holds $docs docs after $upserts upserts, expected ${exp.docs.size}")(
      docs == exp.docs.size)
    segmentsPerPart = parts.map(_.segments).sum.toDouble / parts.size
  }
}
