package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable

/** In-memory span recorder. Spans are recorded only in a traced run, and
  * only around calls the benchmark makes into the engine's public
  * functions; nothing inside the engine is instrumented. Each span has a
  * name, start/end (ns since run start), the span that was open on the
  * same thread when it began, and a batch or request id.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, unit: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0)
      open.set(id :: stack)
      val s = System.nanoTime() - t0
      try body
      finally {
        val e = System.nanoTime() - t0
        open.set(stack)
        synchronized { spans += Span(id, name, s, e, parent, unit) }
      }
    }

  /** Record an interval measured elsewhere (e.g. a client-side request). */
  def record(name: String, startNs: Long, endNs: Long, unit: String): Unit =
    if (enabled) synchronized {
      nextId += 1
      spans += Span(nextId, name, startNs - t0, endNs - t0, 0, unit)
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self seconds per span name: each span's duration minus the part of
    * its interval its child spans cover.
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.filter(_.parent != 0).groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) {
          case ((acc, hi), (a, b)) =>
            val from = math.max(a, hi)
            (if (b > from) acc + (b - from) else acc, math.max(hi, b))
        }._1
      s.name -> (s.end - s.start - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[")
    all.sortBy(_.start).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"unit":"${s.unit}"}""")
    }
    sb.append("]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, start: Long, end: Long,
      parent: Int, unit: String)
}

/** Spark work counters from a benchmark-owned listener. Reads drain the
  * listener bus first, so every task-end event of finished jobs is
  * counted.
  */
final class WorkCounters(sc: SparkContext) extends SparkListener {
  @volatile var taskCpuNs = 0L
  @volatile var shuffleRead = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  sc.addSparkListener(this)

  def snapshot(): Map[String, Double] = {
    org.apache.spark.GraftListener.drain(sc, 30000L)
    synchronized(Map(
      "spark.task_cpu_s" -> taskCpuNs / 1e9,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "jvm.gc_s" -> Stats.gcSeconds(),
      "jvm.cpu_s" -> Stats.cpuSeconds()))
  }
}

object Stats {
  def now(): Long = System.nanoTime()
  def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t = now(); val r = body; (r, secs(t))
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** CPU seconds this JVM has used so far, all threads. Unlike wall time
    * it does not grow with the CPU time a shared host steals from the
    * guest, so it tells a change in work from host weather.
    */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** CPU seconds the calling thread has used so far. */
  def threadCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9

  /** `body`'s result and the CPU seconds the JVM used meanwhile. */
  def cpuTimed[T](body: => T): (T, Double) = {
    val c = cpuSeconds(); val r = body; (r, cpuSeconds() - c)
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  /** Heap in use after forced full collections, MiB. The pauses let
    * Spark's cleaner threads drop what the first collection released.
    */
  def heapLiveMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  /** Order-independent digest of a result: each row is rendered with its
    * columns in name order, hashed, and the 64-bit hashes are summed, so
    * row order does not matter but every row and every value does.
    */
  def digest(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    var acc = 0L
    rows.foreach { r =>
      val s = order.map(i => render(r.get(i))).mkString("\u0001")
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(h).getLong
    }
    f"$acc%016x"
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case a: scala.collection.Seq[_] => a.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case o => o.toString
  }

  /** Multiset equality of two frames, compared as canonical strings. */
  def sameRows(a: DataFrame, b: DataFrame, cols: Seq[String]): Boolean = {
    import org.apache.spark.sql.functions.col
    def canon(df: DataFrame): Array[String] =
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.mkString("\u0001")).sorted
    canon(a).sameElements(canon(b))
  }
}

/** What one workload hands back to [[Main]]: operation counts, output
  * checks, metrics, the JVM's CPU seconds when set-up ended, and the CPU
  * seconds spent preparing inputs, which set-up does not count.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean)],
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    setupEndCpuS: Double,
    inputCpuS: Double)
