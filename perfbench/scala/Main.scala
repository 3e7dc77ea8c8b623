package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark process: builds the session inside the run's own
  * directory, runs one workload phase, and writes the raw timings,
  * counts and (when tracing) spans as one JSON file. All metric maths
  * happens afterwards in `run.py`.
  *
  * usage: perfbench.Main --phase <ingest|query_mix|index>
  *   --run <dir> --data <dir> --out <file> --seconds <n> --seed <n>
  *   --cores <n> --trace <0|1> [--ops a,b,…] [--min-samples <n>] [--reps <n>]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    if (Runtime.getRuntime.availableProcessors < cores) {
      System.err.println(s"local[$cores] exceeds the ${Runtime.getRuntime.availableProcessors} " +
        "processors this JVM may use; refusing to start")
      sys.exit(3)
    }
    val run = a("run")
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.graft.index.store.dir", s"$run/store")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, a, a("trace") == "1", mutable.LinkedHashMap.empty)
    if (ctx.trace) Trace.install(spark)
    try {
      a("phase") match {
        case "ingest" => Workloads.ingest(ctx)
        case "query_mix" => Workloads.queryMix(ctx)
        case "index" => Workloads.index(ctx)
      }
      if (ctx.trace) Trace.flush(spark)
      ctx.out("rss_peak_mb") = vmHwmMb()
      // what the session still holds once its work is done; the second
      // collection takes what the context cleaner released after the first
      System.gc()
      Thread.sleep(1000)
      System.gc()
      ctx.out("heap_live_mb") = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
      ctx.out("spans") = Trace.spans.toArray.toSeq
      Files.writeString(Paths.get(a("out")), Json(ctx.out))
    } finally spark.stop()
  }

  /** Peak resident set of this process (Linux `VmHWM`), MiB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }
}

final case class Ctx(spark: SparkSession, args: Map[String, String], trace: Boolean,
    out: mutable.LinkedHashMap[String, Any]) {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Marks the start of the timed region: everything since the JVM
    * started (session, input staging, warm-up, settling) is set-up time. */
  def startClock(): Double = {
    out("settle_ms") = settle()
    val t = Trace.now()
    out("setup_s") = (t - jvmStartMs) / 1e3
    t
  }

  /** Let the JVM finish the work the set-up left behind before a clock
    * starts: collect the set-up's garbage, then wait (at most 5 s) until
    * the JIT compilers have gone quiet for 200 ms. Returns the ms waited. */
  private def settle(): Int = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var quiet = false
    var waited = 0
    while (!quiet && waited < 5000) {
      Thread.sleep(200)
      waited += 200
      val now = jit.getTotalCompilationTime
      quiet = now - last < 10
      last = now
    }
    waited
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => graft.JsonUtil.q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.JsonUtil.q(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Trace.Span =>
      apply(Map("name" -> s.name, "t0" -> s.t0, "t1" -> s.t1, "parent" -> s.parent) ++ s.attrs)
    case p: Product if p.productArity > 0 && !p.isInstanceOf[Iterable[_]] =>
      apply(p.productIterator.toSeq)
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case x => graft.JsonUtil.q(x.toString)
  }
}
