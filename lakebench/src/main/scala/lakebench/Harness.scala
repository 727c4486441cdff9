package lakebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the run report and the span dump. */
object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Options shared by the workloads. `smoke` shrinks every input to a
  * few seconds of work (the benchmark's own tests); `corrupt` makes the
  * first full-state check of the run see one row dropped from the
  * program's output, which that check must count as a failure. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, data: String,
                      t0Ms: Long, genS: Seq[Double], smoke: Boolean,
                      corrupt: Boolean)

/** One run's shared state: the session, the tracer, failure accounting,
  * latency samples, and the clock that excludes untimed work (input
  * mutation and correctness checks) from pass times. */
final class Harness(val spark: SparkSession, val opts: Opts) {
  val tracer = new Tracer(spark)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val sizes = mutable.LinkedHashMap[String, Any]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var excludedNs = 0L
  private var untimedDepth = 0
  private var corruptPending = opts.corrupt

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def samplesOf(name: String): Seq[Double] =
    samples.get(name).map(_.toSeq).getOrElse(Nil)
  /** Drop the warm-up's samples: figures describe timed passes only. */
  def clearSamples(): Unit = samples.clear()

  /** Run `body` outside the timed window; nested calls are excluded once. */
  def untimed[T](body: => T): T = {
    untimedDepth += 1
    val t0 = System.nanoTime()
    try body
    finally {
      untimedDepth -= 1
      if (untimedDepth == 0) excludedNs += System.nanoTime() - t0
    }
  }
  def excluded: Long = excludedNs

  /** One operation against the program: counted as attempted, and as
    * failed when it throws. Returns the result and its latency in ms. */
  def op[T](span: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(span)(body)
      Some((r, (System.nanoTime() - t0) / 1e6))
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        fail(s"$span threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += msg.take(400)
    System.err.println(s"[lakebench] FAIL $msg".take(600))
  }

  /** A correctness check (untimed); a mismatch counts one failure. */
  def check(what: String)(ok: => Boolean, detail: => String): Unit =
    untimed {
      val passed =
        try ok
        catch {
          case e: Throwable if scala.util.control.NonFatal(e) =>
            fail(s"$what: check threw ${e.getMessage}"); return
        }
      if (!passed) fail(s"$what: $detail")
    }

  /** The program's output as a check sees it: with `corrupt` set, the
    * first full-state check of the run gets one row dropped. */
  def observed[R](rows: Seq[R]): Seq[R] =
    if (corruptPending && rows.nonEmpty) { corruptPending = false; rows.tail }
    else rows
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Recursive byte size of a local directory tree. */
object Du {
  def bytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
