package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{CachedPlans, GraftOp, SparkEntry}
import graft.config.PipelineConfig
import graft.operators.SharedIndexes
import graft.sinks.{JdbcCatalogTypes, JdbcStatementWriter, SqlDialect}
import graft.sources.Tables
import graft.streaming.Pipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

object Workloads {

  // ---------------------------------------------------------------- ingest

  private val KafkaSchema = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("value", StringType)))

  private val Payload = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("ts", StringType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private val SinkDdl =
    """CREATE TABLE SINK (
      |  event_id BIGINT, user_id BIGINT, ts VARCHAR(19), event_type VARCHAR(30),
      |  value DOUBLE, topicName VARCHAR(20), topicPartition INTEGER,
      |  topicOffset BIGINT, topicGroupId VARCHAR(30),
      |  dayOfYear VARCHAR(10), sTime VARCHAR(19))""".stripMargin

  private def sql[T](url: String)(f: java.sql.Statement => T): T = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try f(st) finally st.close()
    } finally conn.close()
  }

  private def rows(rs: java.sql.ResultSet): Seq[Map[String, Any]] = {
    val md = rs.getMetaData
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (rs.next())
      out += (1 to md.getColumnCount).map(i => md.getColumnName(i) -> rs.getObject(i)).toMap
    out.toSeq
  }

  private def sortedFiles(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  /** The reference pipeline restarted on a backlog: an untimed warm-up
    * slice runs first, then the backlog files appear and a restarted
    * query drains them from its checkpoint, one file per micro-batch,
    * into in-memory Derby. */
  def ingest(c: Ctx): Unit = {
    val run = c.args("run")
    val data = c.args("data") + "/ingest"
    val url = "jdbc:derby:memory:perfbench;create=true"
    sql(url)(_.execute(SinkDdl))
    val src = Files.createDirectories(Paths.get(run, "stream"))
    def stage(part: String): Unit =
      sortedFiles(s"$data/$part").foreach(f => Files.move(f, src.resolve(f.getFileName)))

    val cfg = PipelineConfig(requiredFields = Seq("user_id", "ts"), windowSize = 20,
      triggerIntervalMs = 0L, sinkDatabase = "APP", sinkTable = "SINK")
    val jdbc = new JdbcStatementWriter(url)
    val writer = if (c.trace) new TracingWriter(jdbc) else jdbc
    val dirty = new ConcurrentHashMap[Long, Long]()
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    def start() = Pipeline.runFromSource(
      c.spark.readStream.schema(KafkaSchema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString),
      Payload, cfg, writer, tsField = "ts", keyField = "user_id",
      checkpoint = s"$run/checkpoint",
      dirtySink = Some((df, id) => dirty.merge(id, df.count(), _ + _)),
      targetTypes = () => {
        val t0 = Trace.now()
        try JdbcCatalogTypes.derby(url, "APP", "SINK")
        finally lookupMs.synchronized(lookupMs += Trace.now() - t0)
      },
      dialect = SqlDialect.Ansi)

    stage("warm")
    val warm = start()
    warm.processAllAvailable()
    warm.stop()
    val firstTimedBatch = warm.lastProgress.batchId + 1
    stage("backlog")

    val t0 = c.startClock()
    val q = start()
    q.processAllAvailable()
    val t1 = Trace.now()
    q.stop()
    if (c.trace) Trace.add("ingest.drain", t0, t1)
    q.exception.foreach(e => c.out("error") = e.toString)

    c.out("drain_ms") = t1 - t0
    c.out("first_timed_batch") = firstTimedBatch
    c.out("catalog_lookup_ms") = lookupMs.toSeq
    c.out("batches") = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      Map("batch" -> p.batchId, "rows" -> p.numInputRows, "duration_ms" -> p.batchDuration,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "phases" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue })
    }
    c.out("dirty_by_batch") = dirty.asScala.map { case (k, v) => k.toString -> v }
    // correctness evidence, read back outside the timed region
    val sample = Files.readString(Paths.get(data, "sample_offsets.txt")).trim
    sql(url) { st =>
      c.out("sink_rows") = rows(st.executeQuery("SELECT COUNT(*) AS n FROM SINK")).head("N")
      c.out("sink_distinct_offsets") =
        rows(st.executeQuery("SELECT COUNT(DISTINCT topicOffset) AS n FROM SINK")).head("N")
      c.out("sample_rows") =
        rows(st.executeQuery(s"SELECT * FROM SINK WHERE topicOffset IN ($sample)"))
    }
  }

  // ---------------------------------------------------------- query paths

  private def lookup(names: Seq[String]): Seq[GraftOp] = {
    val byName = SparkEntry.allOps.map(o => o.name -> o).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"op '$n' is not registered")))
  }

  private def save(c: Ctx, op: GraftOp, corpus: String, dir: String): Option[String] =
    try {
      op.run(c.spark, corpus).coalesce(1).write.mode("overwrite").parquet(s"$dir/${op.name}")
      None
    } catch { case e: Throwable => Some(s"${op.name}: $e") }

  /** Every op once, on `threads` threads, each result written as parquet
    * (the oracle check's input). Warms codegen and table metadata. */
  private def writeAll(c: Ctx, ops: Seq[GraftOp], corpus: String, dir: String,
      threads: Int): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = ops.map(op => pool.submit(() => save(c, op, corpus, dir)))
      fs.flatMap(_.get())
    } finally pool.shutdown()
  }

  /** Closed loop, one client: whole passes in seeded order until the
    * run has measured `seconds` and holds `minSamples` samples. */
  private def timedPasses(c: Ctx, spark: SparkSession, ops: Seq[GraftOp], corpus: String,
      t0: Double): Unit = {
    val rnd = new scala.util.Random(c.args("seed").toLong)
    val budgetMs = c.args("seconds").toDouble * 1e3
    val minSamples = c.args("min-samples").toInt
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    var pass = 0
    while (Trace.now() - t0 < budgetMs || samples.size < minSamples) {
      rnd.shuffle(ops).foreach { op =>
        val s0 = Trace.now()
        var built = s0
        val ok =
          try {
            val df = op.run(spark, corpus)
            built = Trace.now()
            df.write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable => failures += s"${op.name}: $e"; false }
        val s1 = Trace.now()
        if (c.trace) {
          Trace.add("operators.build", s0, built, op.name)
          Trace.add("operators.exec", built, s1, op.name)
        }
        samples += Map("op" -> op.name, "pass" -> pass, "t0" -> s0, "t1" -> s1, "ok" -> ok)
      }
      pass += 1
    }
    c.out("timed_ms") = Trace.now() - t0
    c.out("samples") = samples.toSeq
    c.out("failures") = failures.toSeq
  }

  private def persisted(c: Ctx): Set[Int] = c.spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cachedBytes(c: Ctx): Long =
    c.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** A warm analytics session: the op mix runs twice as warm-up, both
    * results kept (the oracle and pass-to-pass identity checks), then
    * timed passes through the noop sink. */
  def queryMix(c: Ctx): Unit = {
    val run = c.args("run")
    val corpus = c.args("data") + "/corpus"
    val ops = lookup(c.args("ops").split(",").toSeq)
    val cores = c.args("cores").toInt
    val (n0, ms0) = Trace.codegen()
    c.out("warmup_failures") =
      writeAll(c, ops, corpus, s"$run/first", cores) ++ writeAll(c, ops, corpus, s"$run/second", cores)
    val (n1, ms1) = Trace.codegen()
    c.out("codegen_compiles") = n1 - n0
    c.out("codegen_ms") = ms1 - ms0
    timedPasses(c, c.spark, ops, corpus, c.startClock())
    c.out("persisted_rdds") = persisted(c).size
    c.out("cached_bytes") = cachedBytes(c)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }
    Files.writeString(Paths.get(run, "first", "oracle_sql.json"), Json(oracle))
  }

  // -------------------------------------------------------- shared indexes

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** A session of its own for one build or load: an empty index
    * registry and table cache, reading and writing the store at `store`. */
  private def freshSession(c: Ctx, store: String): SparkSession = {
    val s = c.spark.newSession()
    s.conf.set("spark.graft.index.store.dir", store)
    if (c.trace) Trace.watch(s)
    s
  }

  private def release(s: SparkSession, corpus: String): Unit = {
    CachedPlans.clear(s)
    Tables.invalidate(s, corpus)
  }

  /** One build of every shared index from an empty registry into an
    * empty store (`materializeAll` builds, then saves), then a load of
    * that store in another fresh session (`materializeAll` is served
    * from the store). Returns the pair's timings and counts. */
  private def buildAndLoad(c: Ctx, corpus: String, store: String): Map[String, Any] = {
    val b = freshSession(c, store)
    SharedIndexes.drainBuildLog()
    val t0 = Trace.now()
    val built = Trace.span(c.trace, "SharedIndexes.build") {
      SharedIndexes.materializeAll(b, corpus)
    }
    val t1 = Trace.now()
    val log = SharedIndexes.drainBuildLog()
    val l = freshSession(c, store)
    val loaded = Trace.span(c.trace, "SharedIndexes.load") {
      SharedIndexes.materializeAll(l, corpus)
    }
    val t2 = Trace.now()
    SharedIndexes.drainBuildLog()
    release(b, corpus)
    release(l, corpus)
    Map("build_ms" -> (t1 - t0), "load_ms" -> (t2 - t1), "built" -> built,
      "loaded" -> loaded, "build_log" -> log, "store_bytes" -> dirBytes(store))
  }

  /** Shared indexes, built and loaded again and again in one JVM. Set-up
    * builds them once (cold) and serves the consumer ops once each from
    * that registry; then timed pairs, each from an empty registry and an
    * empty store of its own, run until `seconds` have passed and `reps`
    * pairs are done. */
  def index(c: Ctx): Unit = {
    val run = c.args("run")
    val corpus = c.args("data") + "/corpus"
    val ops = lookup(c.args("ops").split(",").toSeq)
    val budgetMs = c.args("seconds").toDouble * 1e3
    val minReps = c.args("reps").toInt
    val warm = freshSession(c, s"$run/store-warm")
    c.out("cold_build") = SharedIndexes.materializeAll(warm, corpus)
    SharedIndexes.drainBuildLog()
    val before = persisted(c)
    // consumers on the indexes just built, once each
    timedPasses(c, warm, ops, corpus, Trace.now() - budgetMs)
    c.out("serve_new_persists") = (persisted(c) -- before).size
    c.out("persisted_rdds") = persisted(c).size
    c.out("cached_bytes") = cachedBytes(c)
    release(warm, corpus)

    val t0 = c.startClock()
    val (n0, ms0) = Trace.codegen()
    val pairs = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (Trace.now() - t0 < budgetMs || pairs.size < minReps)
      pairs += buildAndLoad(c, corpus, s"$run/store-${pairs.size}")
    val (n1, ms1) = Trace.codegen()
    c.out("pairs") = pairs.toSeq
    c.out("codegen_compiles") = n1 - n0
    c.out("codegen_ms") = ms1 - ms0
  }
}
