package lakebench

import scala.collection.mutable

import org.apache.spark.LakebenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One recorded span: a call from the benchmark into a layer. Times are
  * epoch milliseconds (fractional), so they line up with the Spark
  * listener's event times. `fsRead`/`fsWritten` are Hadoop FileSystem
  * byte counts over the span (inclusive of child spans). */
final case class Span(id: Int, name: String, parent: Int, op: Long,
                      start: Double, end: Double, fsRead: Long,
                      fsWritten: Long) {
  def ms: Double = end - start
}

/** Spans around the benchmark's own calls into the program, plus the
  * counts that attribute work to them: a `SparkListener` (job intervals,
  * per-task shuffle bytes) and Hadoop FileSystem statistics. When
  * disabled, `span` only runs its body. Spans stay in memory; the
  * caller writes them out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private var on = false
  private val overheadNs = new java.util.concurrent.atomic.AtomicLong()
  /** Time spent recording: span bookkeeping on the calling thread plus
    * listener callbacks on the listener bus. */
  def overheadMs: Double = overheadNs.get / 1e6
  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }
  private var nextId = 0
  private val stack = mutable.Stack[(Int, Int, Long, Double, Long, Long)]()
  val spans = mutable.ArrayBuffer[Span]()
  var op: Long = 0L

  private val jobs = mutable.Map[Int, (Long, Long)]()
  // (task finish time, shuffle read + write bytes)
  private val tasks = mutable.ArrayBuffer[(Long, Long)]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.synchronized { jobs(e.jobId) = (e.time, -1L) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.synchronized {
        jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      Option(e.taskMetrics).foreach { m =>
        val b = m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        tasks.synchronized { tasks += ((e.taskInfo.finishTime, b)) }
      }
    }
  }

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener); on = true
  }

  def disable(): Unit = if (on) {
    LakebenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener); on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      timed {
        val id = nextId; nextId += 1
        val parent = if (stack.isEmpty) -1 else stack.top._1
        val (r0, w0) = Tracer.fsBytes()
        stack.push((id, parent, op, nowMs, r0, w0))
      }
      try body
      finally timed {
        val end = nowMs
        val (id, parent, o, s, rs, ws) = stack.pop()
        val (r1, w1) = Tracer.fsBytes()
        spans += Span(id, name, parent, o, s, end, r1 - rs, w1 - ws)
      }
    }

  /** Per-span-name totals: summed time, jobs started inside, time not
    * covered by any job (driver-side work), shuffle and FS-write MB. */
  def summarize(): Map[String, Map[String, Double]] = {
    LakebenchBus.drain(spark.sparkContext)
    val js = jobs.synchronized(jobs.values.filter(_._2 >= 0).toSeq)
      .map { case (s, e) => (s.toDouble, e.toDouble) }.sortBy(_._1)
    val ts = tasks.synchronized(tasks.toSeq)
    spans.groupBy(_.name).map { case (name, ss) =>
      var ms, nJobs, gap, shuffle, fsW, fsR = 0.0
      ss.foreach { sp =>
        ms += sp.ms
        nJobs += js.count { case (s, _) => s >= sp.start && s <= sp.end }
        gap += sp.ms - Tracer.covered(js, sp.start, sp.end)
        shuffle += ts.collect { case (t, b) if t >= sp.start && t <= sp.end => b }.sum
        fsW += sp.fsWritten
        fsR += sp.fsRead
      }
      name -> Map("ms" -> ms, "jobs" -> nJobs, "gap_ms" -> gap,
        "shuffle_mb" -> shuffle / 1e6, "fs_write_mb" -> fsW / 1e6,
        "fs_read_mb" -> fsR / 1e6)
    }
  }

  /** Span time minus the time its child spans cover. */
  def selfMs(sp: Span): Double = {
    val kids = spans.filter(_.parent == sp.id).map(k => (k.start, k.end))
      .sortBy(_._1).toSeq
    sp.ms - Tracer.covered(kids, sp.start, sp.end)
  }

  def spansJson: String = spans.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end,
      "self_ms" -> selfMs(s), "fs_read_bytes" -> s.fsRead,
      "fs_written_bytes" -> s.fsWritten))
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  /** Bytes read and written through every Hadoop FileSystem so far (all
    * threads — local-mode executors run in this JVM). */
  def fsBytes(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** Length of [lo, hi] covered by the union of `iv` (sorted by start). */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (s0, e0) =>
      val s = math.max(s0, lo); val e = math.min(e0, hi)
      if (e > s) {
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
