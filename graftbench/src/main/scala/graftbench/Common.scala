package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line options shared by every workload. */
final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, workDir: Path)

object Opts {
  val Workloads = Seq("lake_upsert", "corpus_prepare")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case t   => sys.error(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("--seconds").toInt
    require(seconds >= 1, s"--seconds must be >= 1, got $seconds")
    Opts(w, need("--seed").toLong, seconds, trace,
      java.nio.file.Paths.get(need("--work-dir")).toAbsolutePath)
  }
}

/** One workload run: `setup` builds inputs, engine and warm-up; `run`
  * drives the timed window and returns the result line's content. */
trait Workload {
  def setup(): Unit
  def run(): Result
}

final case class Metric(value: Double, unit: String)

final case class Result(attempted: Long, failed: Long, correct: Boolean,
                        metrics: Map[String, Metric])

object Session {
  /** Local session sized to the machine's cores (at most 4), with its
    * scratch directories inside the run's work directory. */
  def start(workDir: Path): SparkSession = {
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN for an empty sample
    * (every operation failed), which the result line writes as null. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Mean over classes of each class's median. For a mix of request
    * classes with distinct latencies drawn in fixed proportions, this
    * stays put where the pooled median jumps between the classes' modes
    * with the mix of the sample at hand. */
  def stratifiedMedian(xs: Seq[(Int, Double)]): Double = {
    val meds = xs.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq
    if (meds.isEmpty) Double.NaN else meds.sum / meds.size
  }

  /** Medians of the first and second halves of a time-ordered sample:
    * a leftover warm-up slope shows as a gap between the two. */
  def halves(xs: Seq[Double]): (Double, Double) = {
    val (a, b) = xs.splitAt(xs.length / 2)
    (median(a), median(b))
  }
  def stratifiedHalves(xs: Seq[(Int, Double)]): (Double, Double) = {
    val (a, b) = xs.splitAt(xs.length / 2)
    (stratifiedMedian(a), stratifiedMedian(b))
  }

  def ms(nanos: Long): Double = nanos / 1e6
}

/** One closed-loop timed window: `op` is called back to back from
  * `clients` threads until the deadline, each call with the next index of
  * the shared request sequence. It returns `Some(latencyMs)` for an
  * operation whose answer checked out and `None` for a wrong or failed
  * one, which never becomes a latency sample. */
object ClosedLoop {
  /** `samples` holds (completion time, request index, latency ms). */
  final case class Window(samples: Seq[(Long, Int, Double)], attempted: Long,
                          failed: Long, elapsedS: Double) {
    /** (request index, latency ms) in completion order. */
    def ordered: Seq[(Int, Double)] = samples.sortBy(_._1).map(s => (s._2, s._3))
  }

  def run(clients: Int, seconds: Double, maxOps: Int)
         (op: Int => Option[Double]): Window = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.atomic.AtomicLong(0)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Double)]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < maxOps && System.nanoTime() < deadline) {
          val r = try op(i) catch {
            case e: Throwable =>
              Log.err(s"operation $i failed: $e")
              None
          }
          r match {
            case Some(ms) => samples.add((System.nanoTime(), i, ms))
            case None     => failed.incrementAndGet()
          }
          i = next.getAndIncrement()
        }
      }, s"graftbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    val lat = samples.asScala.toSeq
    Window(lat, lat.size + failed.get, failed.get, elapsed)
  }
}

object Log {
  def err(msg: String): Unit = System.err.println(s"[graftbench] $msg")
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def result(r: Result): String = {
    val ms = r.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s"""${str(k)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}"""
    }.mkString(", ")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {$ms}}"""
  }

  def writeLines(p: Path, lines: Iterable[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Wall-clock set-up phases, kept for the log line. */
final class Phases {
  private val done = ArrayBuffer[(String, Double)]()
  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally done += name -> (System.nanoTime() - t0) / 1e9
  }
  def describe: String = done.map { case (n, s) => f"$n=$s%.2fs" }.mkString(" ")
}
