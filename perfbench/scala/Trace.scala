package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import graft.sinks.StatementWriter
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw records a run hands to the metric code in `run.py`: spans
  * (name, start, end in epoch ms, parent span, attributes) and flat
  * values. Spans stay in memory and are written once, at the end.
  *
  * Every span is recorded from the benchmark's own code around a call
  * into graft, or from Spark's public listener APIs; nothing inside the
  * program is instrumented. */
object Trace {
  final case class Span(name: String, t0: Double, t1: Double, parent: String,
      attrs: Map[String, Any])

  val spans = new ConcurrentLinkedQueue[Span]()

  def now(): Double = System.nanoTime() / 1e6 + epochOffsetMs
  // nanoTime is monotonic but has no epoch; listener events carry epoch
  // ms, so one offset maps the two onto the same axis
  private val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  def add(name: String, t0: Double, t1: Double, parent: String = "",
      attrs: Map[String, Any] = Map.empty): Unit =
    spans.add(Span(name, t0, t1, parent, attrs))

  /** Time `body`; record it as a span when `on`. */
  def span[T](on: Boolean, name: String, parent: String = "",
      attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = now()
    try body finally if (on) add(name, t0, now(), parent, attrs)
  }

  /** Jobs, stages and task totals from the scheduler's listener bus,
    * and Catalyst phase times from the query-execution listener. */
  final class Listeners extends SparkListener with QueryExecutionListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      add("spark.stage", i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble, attrs = Map(
          "tasks" -> i.numTasks,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "run_ms" -> m.executorRunTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_bytes" -> (m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten).toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
    }
    // job end carries no start time; pair it with the start event
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Option(jobStart.remove(e.jobId)).map(_.doubleValue).getOrElse(e.time.toDouble)
      add("spark.job", t0, e.time.toDouble)
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        add("catalyst." + phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
  }

  @volatile private var installed: Option[Listeners] = None

  def install(spark: SparkSession): Listeners = {
    val l = new Listeners
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    installed = Some(l)
    l
  }

  /** Catalyst phases of another session of the same context, too (a
    * new session starts with no query-execution listeners). */
  def watch(spark: SparkSession): Unit = installed.foreach(spark.listenerManager.register)

  /** Drain the listener bus so every event of the timed work is in. */
  def flush(spark: SparkSession): Unit = {
    // the bus has no public flush; a tiny job whose end event we wait
    // for is queued behind every earlier event
    val done = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = done.countDown()
    }
    spark.sparkContext.addSparkListener(marker)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    done.await(30, java.util.concurrent.TimeUnit.SECONDS)
    spark.sparkContext.removeSparkListener(marker)
  }

  /** Janino compile count and summed compile ms so far (the histogram's
    * reservoir holds every sample while a process compiles fewer than
    * 1028 classes, so the sum is exact in a benchmark run). */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }
}

/** [[StatementWriter]] wrapper that records one span per write call,
  * keyed by micro-batch, with statement, row and byte counts. Runs in
  * executor tasks; in local mode they share the driver JVM, so spans
  * land in the same in-memory buffer. */
final class TracingWriter(inner: StatementWriter) extends StatementWriter {
  override def write(batchId: Long, statements: Iterator[String]): Unit = {
    val chunk = statements.toIndexedSeq
    // one tuple per row: "INSERT … VALUES (…),(…),…"
    val rows = chunk.map(_.split("\\),\\(").length).sum
    val t0 = Trace.now()
    var ok = false
    try { inner.write(batchId, chunk.iterator); ok = true }
    finally Trace.add("sinks.write", t0, Trace.now(), attrs = Map(
      "batch" -> batchId, "statements" -> chunk.size, "rows" -> rows,
      "bytes" -> chunk.map(_.length.toLong).sum, "ok" -> ok))
  }
}
