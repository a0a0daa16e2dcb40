package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val dir: File, val seed: Long,
                val trace: Trace) {
  val rec = new Recorder

  /** The seeded random stream of op `i` (independent of thread timing). */
  def opRng(i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (i + 1) * 0xBF58476D1CE4E5B9L)

  /** Time `body` as one sample of `kind`, inside a span of the same name. */
  def timed[T](kind: String)(body: => T): T = trace(kind) {
    val t0 = System.nanoTime()
    val r = body
    rec.sample(kind, (System.nanoTime() - t0) / 1e6)
    r
  }

  /** Drop what a finished op can leave pinned (cached frames, persisted RDDs). */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** Latency samples by kind, plus attempted/failed op counts. */
final class Recorder {
  private val samples = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L

  def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v
  def values(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  def clear(): Unit = samples.clear()

  /** Run one op: any failed check or exception counts it failed. The
    * first 20 failures are reported on stderr. */
  def op(what: String)(body: (String => Boolean => Unit) => Unit): Unit = {
    attempted += 1
    var ok = true
    val check: String => Boolean => Unit = msg => cond => if (!cond) {
      ok = false
      report(s"$what: $msg")
    }
    try body(check)
    catch { case e: Throwable => ok = false; report(s"$what: ${e.getClass.getName}: ${e.getMessage}") }
    if (!ok) failed += 1
  }

  private var reported = 0
  private def report(msg: String): Unit = {
    reported += 1
    if (reported <= 20) System.err.println(s"perfbench: FAILED $msg")
  }
}

object Stats {
  /** Median (mean of the middle two for an even count); 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Files {
  /** path -> size of every regular file under `dir`. */
  def listing(dir: File): Map[String, Long] = {
    val out = mutable.HashMap.empty[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) out(f.getPath) = f.length()
    walk(dir)
    out.toMap
  }

  def bytes(dir: File): Long = listing(dir).values.sum

  /** Bytes of files that appeared (or changed size) since `before`. */
  def written(dir: File, before: Map[String, Long]): Long =
    listing(dir).iterator.collect {
      case (p, n) if !before.get(p).contains(n) => n
    }.sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** Closed-loop driver: one client runs the next op index as soon as
  * the previous op returns. */
object Loop {
  final case class Result(ops: Long, wallS: Double)

  /** Run ops `first`, `first + 1`, ... until `seconds` have passed or
    * `count` ops ran. The wall time ends when the last op returns, so a
    * run's op rate does not depend on where the deadline fell inside an
    * op. */
  def run(seconds: Double, first: Long = 0L, count: Long = Long.MaxValue)(op: Long => Unit): Result = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = first
    while (System.nanoTime() < deadline && i - first < count) {
      op(i)
      i += 1
    }
    Result(i - first, (System.nanoTime() - t0) / 1e9)
  }
}
