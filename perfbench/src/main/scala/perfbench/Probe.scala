package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spans recorded around the harness's calls into the engine. Kept in
  * memory and written out at the end; a span's self time is its
  * duration minus the part of it that its child spans cover. A
  * disabled trace records nothing and only runs the body. */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, var endNs: Long = 0L)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.getOrElse(-1), name,
        System.nanoTime())
      spans += s
      open = s.id :: open
      try body
      finally { s.endNs = System.nanoTime(); open = open.tail }
    }

  /** Self seconds of span `s`: children are nested and sequential, so
    * their durations never overlap. */
  private def selfS(s: Span, kids: Map[Int, Seq[Span]]): Double =
    (s.endNs - s.startNs -
      kids.getOrElse(s.id, Nil).map(k => k.endNs - k.startNs).sum) / 1e9

  /** Writes one JSON line per span, then one line of `counters`. */
  def write(path: java.nio.file.Path, counters: collection.Map[String, Double])
      : Unit = {
    val kids = spans.toSeq.groupBy(_.parent)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,""" +
        f""""dur_s":${(s.endNs - s.startNs) / 1e9}%.6f,""" +
        f""""self_s":${selfS(s, kids)}%.6f}"""
    }
    val counterLine = counters.map { case (k, v) => s""""$k":$v""" }
      .mkString("""{"counters":{""", ",", "}}")
    java.nio.file.Files.write(path,
      ((lines :+ counterLine).mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Spark work counted between two [[SparkCounters.snapshot]]s. */
final case class SparkWork(jobs: Long = 0, stages: Long = 0,
    tasks: Long = 0, taskRunMs: Long = 0, taskGcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    compiles: Long = 0, compileNs: Long = 0) {
  def -(o: SparkWork): SparkWork = SparkWork(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs,
    taskGcMs - o.taskGcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill,
    compiles - o.compiles, compileNs - o.compileNs)
}

/** A listener counting jobs, stages and task metrics, plus the
  * intervals during which at least one job ran (for the driver gap),
  * and Spark's process-wide codegen counters. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private var w = SparkWork()
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    w = w.copy(jobs = w.jobs + 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { w = w.copy(stages = w.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    w = if (m == null) w.copy(tasks = w.tasks + 1)
    else w.copy(tasks = w.tasks + 1,
      taskRunMs = w.taskRunMs + m.executorRunTime,
      taskGcMs = w.taskGcMs + m.jvmGCTime,
      shuffleWrite = w.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = w.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = w.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def snapshot(): SparkWork = {
    BenchBus.drain(sc)
    synchronized(w).copy(
      compiles = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount,
      compileNs = org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime)
  }

  /** Seconds of [t0Ms, t1Ms] during which no job was running. */
  def gapS(t0Ms: Long, t1Ms: Long): Double = {
    BenchBus.drain(sc)
    val ivs = synchronized(jobSpans.toSeq)
      .map { case (s, e) => (math.max(s, t0Ms), math.min(e, t1Ms)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = t0Ms
    ivs.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    math.max(0L, t1Ms - t0Ms - covered) / 1e3
  }

  def close(): Unit = sc.removeSparkListener(this)
}

/** Heap in use right after a full collection, the largest sampled. The
  * harness samples once after each round, outside the timed spans, so
  * this is the most the program kept live at a round's end. (What a young
  * collection leaves behind depends on when it happens to run, so those
  * are not used.) */
object LiveHeap {
  private var peak = 0L

  def sample(sc: SparkContext): Unit = {
    // listener state is part of the live set; non-blocking unpersists
    // should have finished; and the blocks Spark's ContextCleaner frees
    // once a collection has cleared their handles need a second one
    BenchBus.drain(sc)
    Thread.sleep(200)
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    if (used > peak) peak = used
  }

  def reset(): Unit = peak = 0L
  def mb: Double = peak / 1048576.0
}

/** Elapsed time with the hypervisor's steal taken out. On a shared VM the
  * host runs other guests on the VM's CPUs in spells of seconds to many
  * minutes (the kernel reports it as steal time); wall time then grows by
  * half or more for the same work. [[seconds]] is the wall time times the
  * share of the VM's CPU time that was not stolen meanwhile; where the
  * kernel reports no steal it is the wall time. */
final class Stopwatch {
  private val t0 = System.nanoTime()
  private val j0 = Stopwatch.jiffies()
  def wallS: Double = (System.nanoTime() - t0) / 1e9
  def stealShare: Double = {
    val j1 = Stopwatch.jiffies()
    if (j1._2 > j0._2) (j1._1 - j0._1).toDouble / (j1._2 - j0._2) else 0.0
  }
  def seconds: Double = wallS * (1 - stealShare)
}

object Stopwatch {
  /** (steal, all) CPU time in jiffies, summed over CPUs; zeros where the
    * kernel's `/proc/stat` is not there. */
  def jiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).take(8).map(_.toLong)
      (if (f.length == 8) f(7) else 0L, f.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }
}
