package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's per-layer view, recorded from outside the program:
  * a span around each call the harness makes into a module (with a job
  * group of the same name), and Spark's own listeners for jobs, tasks,
  * query planning, cached blocks and micro-batch phases. Events are
  * attributed to the span whose wall-clock interval holds them, so
  * work done only to check outputs (outside every span) counts nowhere.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  /** `step` spans make up a pass; other spans time extra calls made
    * only for the per-layer view (they count toward no pass total). */
  private case class Span(pass: Int, name: String, startMs: Long, endMs: Long,
      wallS: Double, step: Boolean)
  private case class Job(start: Long, var end: Long)
  private case class Task(launch: Long, runMs: Long, cpuNs: Long, inBytes: Long,
      shuffleBytes: Long, spillBytes: Long)
  private case class Plan(startMs: Long, ms: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private val counts = mutable.ArrayBuffer[(Int, String, Double)]()
  private val jobs = mutable.HashMap[Int, Job]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val plans = mutable.ArrayBuffer[Plan]()
  private val executions = mutable.HashMap[Long, Job]() // SQL executions
  private val blocks = mutable.HashMap[String, Long]()
  private var cachePeak = 0L
  private val batches = mutable.ArrayBuffer[Map[String, Long]]()
  private var jobsEnded = 0
  private var pass = -1

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = Job(e.time, Long.MaxValue)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
      jobsEnded += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.taskInfo.launchTime, m.executorRunTime,
        m.executorCpuTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { executions(x.executionId) = Job(x.time, Long.MaxValue) }
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        Tracer.this.synchronized { executions.get(x.executionId).foreach(_.end = x.time) }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val bytes = info.memSize + info.diskSize
        if (bytes == 0) blocks.remove(info.blockId.name)
        else blocks(info.blockId.name) = bytes
        cachePeak = math.max(cachePeak, blocks.values.sum)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Tracer.this.synchronized {
        plans += Plan(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) Tracer.this.synchronized {
        batches += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  def beginPass(i: Int): Unit = pass = i
  def endPass(i: Int): Unit = pass = -1

  /** A span around one step of a pass: a call into a module, under a
    * job group of the same name. */
  def span[T](name: String)(f: => T): T = timed(name, step = true)(f)._1

  /** A span around an extra call made only for the per-layer view. */
  def timed[T](name: String, step: Boolean = false)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    val (m0, t0) = (System.currentTimeMillis(), System.nanoTime())
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      sc.clearJobGroup()
      val s = Span(pass, name, m0, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9, step)
      synchronized { spans += s }
    }
  }

  def count(name: String, v: Double): Unit = synchronized { counts += ((pass, name, v)) }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Union length (ms) of the intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Per-layer figures: medians over the measured passes of each
    * pass's totals inside its spans. */
  def summary(): Map[String, Any] = {
    // the listener bus delivers asynchronously: wait for every job end
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (synchronized(jobsEnded < jobs.size) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    synchronized {
      val warm = spans.map(_.pass).filter(_ >= Workload.WarmUpPasses).distinct.sorted.toSeq
      def perPass(f: Seq[Span] => Double): Double =
        median(warm.map(p => f(spans.filter(s => s.pass == p && s.step).toSeq)))
      def named(n: String)(f: Seq[Span] => Double): Double =
        median(warm.map(p => f(spans.filter(s => s.pass == p && s.name == n).toSeq)))
      def inSpans[T](ss: Seq[Span], t: T => Long, xs: Iterable[T]): Seq[T] =
        xs.filter(x => ss.exists(s => t(x) >= s.startMs && t(x) <= s.endMs)).toSeq
      val out = mutable.LinkedHashMap[String, Any]()
      out("spark.jobs") = perPass(ss => inSpans[Job](ss, _.start, jobs.values).size.toDouble)
      out("spark.tasks") = perPass(ss => inSpans[Task](ss, _.launch, tasks).size.toDouble)
      out("spark.exec_cpu_s") = perPass(ss => inSpans[Task](ss, _.launch, tasks).map(_.cpuNs).sum / 1e9)
      out("spark.core_util") = perPass { ss =>
        val run = inSpans[Task](ss, _.launch, tasks).map(_.runMs).sum / 1e3
        run / (ss.map(_.wallS).sum * cores)
      }
      def outside(ss: Seq[Span], iv: Seq[(Long, Long)]): Double =
        ss.map(s => math.max(0.0, s.wallS - covered(iv, s.startMs, s.endMs) / 1e3)).sum
      val jobIv = jobs.values.map(j => (j.start, j.end)).toSeq
      val execIv = executions.values.map(j => (j.start, j.end)).toSeq
      out("spark.driver_gap_s") = perPass(outside(_, jobIv))
      out("spark.input_mb") = perPass(ss => inSpans[Task](ss, _.launch, tasks).map(_.inBytes).sum / 1e6)
      out("spark.shuffle_mb") = perPass(ss => inSpans[Task](ss, _.launch, tasks).map(_.shuffleBytes).sum / 1e6)
      out("spark.spill_mb") = perPass(ss => inSpans[Task](ss, _.launch, tasks).map(_.spillBytes).sum / 1e6)
      out("spark.plan_ms") = perPass(ss => inSpans[Plan](ss, _.startMs, plans).map(_.ms).sum.toDouble)
      out("spark.cache_peak_mb") = cachePeak / 1e6
      out("trace.iter_s") = perPass(ss => ss.map(_.wallS).sum)
      spans.map(_.name).distinct.foreach { n =>
        out(n) = named(n)(_.map(_.wallS).sum)
      }
      // the eth jobs' time outside Spark executions: result rendering
      // and golden-file writes in Sinks, and the driver code around them
      out("Sinks.write_ms") = perPass(ss =>
        outside(ss.filter(_.name.startsWith("EthParity.")), execIv) * 1e3)
      out("SegSource.read_tasks") = named("SegSource.read_ms")(ss =>
        inSpans[Task](ss, _.launch, tasks).size.toDouble)
      counts.map(_._2).distinct.foreach { n =>
        out(n) = median(counts.filter(c => c._2 == n && c._1 >= Workload.WarmUpPasses)
          .map(_._3).toSeq)
      }
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").foreach { k =>
        out(s"streaming.${k}_ms") = median(batches.flatMap(_.get(k)).map(_.toDouble).toSeq)
      }
      out.toMap
    }
  }
}

object Tracer {
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Janino compile time so far, the sum behind Spark's CodegenMetrics
    * compilation-time histogram. */
  def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
