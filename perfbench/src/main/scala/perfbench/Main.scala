package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Benchmark harness: runs one seeded workload against the engine's public
  * entry points and writes `result.json` (metrics, per-layer table, checks)
  * plus, for the oracle check, every verified answer as JSON lines under
  * `verify/`, listed with its DuckDB SQL in `result.json`.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *        <outDir> <cpus>
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, data, out, cpus) = args
    val conf = Conf(workload, seed.toLong, seconds.toInt, trace == "1",
      data, out, cpus.toInt)
    require(Files.isRegularFile(Paths.get(data, "plan.json")),
      s"missing input directory or plan: $data")
    val plan = mapper.readTree(Paths.get(data, "plan.json").toFile)
    plan.get("inputs").fieldNames().asScala.foreach { t =>
      require(Files.exists(Paths.get(data, s"$t.parquet")), s"missing input table $t under $data")
    }
    val runner = workload match {
      case "interactive_http" => new InteractiveHttp(conf, plan)
      case "analytics_batch" => new AnalyticsBatch(conf, plan)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try runner.run()
    finally runner.close()
  }
}

final case class Conf(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: String, out: String, cpus: Int)

/** One timed operation: its class, name and latency; failed ones carry
  * no latency. */
final case class OpTime(kind: String, name: String, ms: Double,
    traced: Boolean, rows: Long, pair: Long)

/** Answer of one operation: row count and an order-insensitive digest. */
final case class Answer(rows: Long, digest: Long)

object Answer {
  def of(rows: Seq[Row]): Answer = Answer(rows.size.toLong, rows.iterator.map { r =>
    scala.util.hashing.MurmurHash3.seqHash(r.toSeq).toLong & 0xffffffffL
  }.sum)
}

abstract class Workload(val conf: Conf, val plan: JsonNode) {
  val trace = new Trace
  val times = ArrayBuffer.empty[OpTime]
  private val failures = new java.util.concurrent.atomic.AtomicLong(0)
  private val attempts = new java.util.concurrent.atomic.AtomicLong(0)
  val checks = ArrayBuffer.empty[String]
  val expected = new java.util.concurrent.ConcurrentHashMap[String, Answer]()
  val oracle = scala.collection.mutable.LinkedHashMap.empty[String, String]
  val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  var exec: ExecStats = _
  /** Job group of each traced operation, for the execution counters. */
  val opGroups = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  /** CacheBook frames drained after traced operations, and how many. */
  val tracedFrames = new java.util.concurrent.atomic.AtomicLong(0)
  val tracedColdOps = new java.util.concurrent.atomic.AtomicLong(0)
  var spark: SparkSession = _
  val dataDir: String = Paths.get(conf.data).toAbsolutePath.toString
  val outDir: Path = Paths.get(conf.out).toAbsolutePath
  val work: Path = outDir.resolve("work")

  def usesServer: Boolean
  /** Work a set-up includes beyond session start, after table registration. */
  def setupExtra(): Unit = ()
  /** Untimed pass over every distinct operation: warms the JVM and the
    * engine, records each answer and writes it for the oracle check. */
  def verify(): Unit
  /** Untimed operations between the verification pass and the window. */
  def warmUp(): Unit = ()
  /** Timed operations until `deadline` (System.nanoTime). */
  def measure(deadlineNs: Long): Unit
  /** The workload's end-to-end metrics from `times` of untraced ops. */
  def endToEnd(): Seq[(String, Double, String)]
  /** Extra per-layer work of a traced run (in-process replays). */
  def tracedExtra(): Unit = ()
  def layerOps: Seq[String] = Nil

  // ---- helpers shared by the workloads

  def attempt(): Unit = attempts.incrementAndGet()
  def fail(what: String, e: Throwable): Unit = {
    failures.incrementAndGet()
    System.err.println(s"[perfbench] FAILED $what: $e")
    checks.synchronized { if (checks.size < 50) checks += s"failed $what: $e" }
  }

  /** Harrell-Davis estimate of the p-quantile: a beta-weighted mean of all
    * order statistics. HTTP latencies cluster on multiples of the client's
    * poll round trip, so the plain sample quantile jumps by a whole poll
    * from run to run; this estimate moves smoothly and varies less. */
  def quantile(xs: Iterable[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.toIndexedSeq.sorted
    val n = s.size
    val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
    def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
  }
  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.toIndexedSeq.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
    sessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sessionConf: Seq[(String, String)] = Nil

  def stopSession(): Unit = if (spark != null) {
    if (usesServer) graft.api.StatementServer.stop()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
    all.foreach(Files.delete)
  }

  var base: String = _

  /** Program set-up: session, table registration, the statement server
    * and the workload's extra set-up. Input generation is not set-up.
    * What the engine persists under the input directory (the TPC-DS
    * facts) is deleted first, so every set-up writes it again. */
  def setupOnce(): Double = {
    stopSession()
    deleteTree(work.resolve("warehouse"))
    deleteTree(Paths.get(dataDir, "_tpcds"))
    val t0 = System.nanoTime()
    spark = session()
    registerTables()
    if (usesServer) base = graft.api.StatementServer.ensureStarted(spark)
    setupExtra()
    (System.nanoTime() - t0) / 1e9
  }

  def registerTables(): Unit = graft.Tables.registerAll(spark, dataDir)

  /** Drop cached state after an operation, so each starts cold; returns
    * the number of frames CacheBook had persisted. */
  def cold(): Long = {
    val frames = graft.ops.CacheBook.drain().toLong
    spark.catalog.clearCache()
    frames
  }

  /** Build, plan and execute a DataFrame operation, each step traced. */
  def dfRun(op: Long, group: String, build: => DataFrame): (StructType, Seq[Row]) = {
    if (trace.on) opGroups.put(group, op)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val df = trace.span("build.df", op)(build)
      trace.span("plan.optimize", op)(df.queryExecution.optimizedPlan)
      trace.span("plan.physical", op)(df.queryExecution.executedPlan)
      val rows = trace.span("exec", op)(df.collect().toSeq)
      (df.schema, rows)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Check a timed answer against the verification pass. */
  def check(name: String, got: Answer): Unit = {
    val want = expected.get(name)
    if (want == null) throw new IllegalStateException(s"$name was not verified")
    if (want != got)
      throw new IllegalStateException(s"$name answered $got, verification pass $want")
  }

  private var verified = 0
  /** Record the verification answer and write its rows for the oracle: a
    * JSON array of column names, then one array per row, with dates,
    * timestamps and decimals as tagged text and floats widened to double. */
  def record(name: String, schema: StructType, rows: Seq[Row],
      oracleSql: Option[String]): Unit = {
    expected.put(name, Answer.of(rows))
    oracleSql.foreach { sql =>
      verified += 1
      val file = outDir.resolve("verify").resolve(f"op$verified%04d.jsonl")
      Files.createDirectories(file.getParent)
      val w = Files.newBufferedWriter(file)
      try (Iterator(Row.fromSeq(schema.fieldNames.toSeq)) ++ rows.iterator).foreach { r =>
        w.write(Main.mapper.writeValueAsString(Rows.plain(r)))
        w.newLine()
      }
      finally w.close()
      oracle(name) = s"""{"rows":${json(file.toString)},"sql":${json(sql)}}"""
    }
  }

  private val started = System.nanoTime()
  /** Run `f` over `items` on `threads` threads (untimed work only). */
  def parallel[A, B, R](items: Seq[(A, B)], threads: Int)(f: (A, B) => R): Seq[((A, B), R)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try items.map { case (a, b) => pool.submit(() => f(a, b)) }
      .map(_.get()).zip(items).map(_.swap)
    finally pool.shutdown()
  }

  private val pairs = new java.util.concurrent.atomic.AtomicLong(0)
  /** Set during warm-up: operations are checked but neither timed nor
    * traced. */
  @volatile var warming = false
  /** Names of traced operations, by operation id. */
  val opNames = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** Time one operation and check its answer (`run` returns the answer to
    * check, if any, and the row count). In a traced run the operation runs
    * twice back to back, traced and untraced in alternating order: the
    * pair's time ratio is the tracing overhead, and end-to-end figures use
    * only untraced runs. A failed run gets no time. */
  def timeOp(kind: String, name: String)(run: Long => (Option[Answer], Long)): Unit = {
    val pair = pairs.incrementAndGet()
    val modes = if (!conf.trace || warming) Seq(false) else Seq(pair % 2 == 0, pair % 2 != 0)
    modes.foreach { traced =>
      attempt()
      val op = trace.newOp()
      if (traced) opNames.put(op, name)
      try {
        val t0 = System.nanoTime()
        val (answer, rows) = trace.tracing(traced)(trace.span("op", op)(run(op)))
        val ms = (System.nanoTime() - t0) / 1e6
        answer.foreach(check(name, _))
        if (!warming) times.synchronized { times += OpTime(kind, name, ms, traced, rows, pair) }
      } catch { case e: Exception => fail(s"$kind $name", e) }
      val frames = cold()
      if (traced) { tracedFrames.addAndGet(frames); tracedColdOps.incrementAndGet() }
    }
  }

  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s $msg")

  def json(s: String): String = Main.mapper.writeValueAsString(s)

  // ---- run

  def run(): Unit = {
    Files.createDirectories(outDir)
    // set-up runs three times, each on a fresh Spark context
    val setups = (1 to 3).map(_ => setupOnce())
    detail("setup_runs_s") = setups
    log(s"set-up $setups")
    // the verification pass doubles as the explicit warm-up
    verify()
    cold()
    log("verification pass done")
    warming = true
    warmUp()
    warming = false
    log("warm-up done")
    if (conf.trace) {
      exec = ExecStats.install(spark.sparkContext)
      // a table scan from its memo miss on: file listing, footer read and
      // analysis, then every row of every column read
      trace.tracing(true)(layerOps.foreach { t =>
        graft.Tables.invalidate(s"$dataDir/$t.parquet")
        trace.span("tables.scan", trace.newOp())(
          graft.Tables(spark, dataDir, t).queryExecution.toRdd.count())
      })
    }
    measure(System.nanoTime() + conf.seconds * 1000000000L)
    if (conf.trace) {
      trace.tracing(true)(tracedExtra())
      val ratios = times.filter(_.traced).flatMap { t =>
        times.find(u => u.pair == t.pair && !u.traced).map(u => t.ms / u.ms)
      }
      // geometric mean: the pairs alternate which run goes first, so a
      // second-run advantage cancels out
      val gm = math.exp(ratios.map(math.log).sum / math.max(1, ratios.size))
      layer("trace.overhead_pct") = ((gm - 1) * 100, "%")
      detail("trace_overhead_pairs") = ratios.size
      perLayer()
      trace.writeSpans(outDir.resolve("spans.jsonl"))
      writeSelfTimes()
    }
    log("measured")
    val e2e = (("setup_s", median(setups), "s") +: endToEnd())
    val metrics = e2e.map { case (n, v, u) => s"${json(n)}:{\"value\":$v,\"unit\":${json(u)}}" }
    val layers = layer.map { case (n, (v, u)) => s"${json(n)}:{\"value\":$v,\"unit\":${json(u)}}" }
    val details = detail.map { case (k, v) => s"${json(k)}:${render(v)}" }
    val text =
      s"""{"workload":${json(conf.workload)},"seed":${conf.seed},""" +
        s""""attempted":${attempts.get},"failed":${failures.get},""" +
        s""""checks":[${checks.map(json).mkString(",")}],""" +
        s""""metrics":{${metrics.mkString(",")}},""" +
        s""""per_layer":{${layers.mkString(",")}},""" +
        s""""detail":{${details.mkString(",")}},""" +
        s""""oracle":{${oracle.map { case (k, v) => s"${json(k)}:$v" }.mkString(",")}}}"""
    Files.write(outDir.resolve("result.json"), text.getBytes("UTF-8"))
    Files.write(outDir.resolve("ops.tsv"), ("kind\tname\tms\ttraced\trows\n" +
      times.map(t => s"${t.kind}\t${t.name.replaceAll("\\s+", " ").take(120)}\t${t.ms}\t${t.traced}\t${t.rows}\n")
        .mkString).getBytes("UTF-8"))
  }

  def render(v: Any): String = v match {
    case d: Double => d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => json(s)
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${json(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case other => json(String.valueOf(other))
  }

  /** Per-layer metrics from the traced runs' spans and counters. */
  def perLayer(): Unit = {
    def med(name: String): Double = {
      val d = trace.durationsMs(name)
      if (d.isEmpty) 0.0 else median(d)
    }
    Seq("dialect.translate", "session.sql", "plan.optimize", "plan.physical",
      "build.df", "tables.scan", "http.submit", "http.get",
      "client.parse_json", "client.parse_binary")
      .foreach(n => layer(n + "_ms") = (med(n), "ms"))
    val hs = httpSeen.asScala.toSeq
    val rows = hs.map(_.rows.size.toLong).sum
    layer("http.first_data_ms") = (
      if (hs.exists(_.firstDataNs >= 0)) median(hs.filter(_.firstDataNs >= 0)
        .map(_.firstDataNs / 1e6)) else 0.0, "ms")
    layer("http.gets_per_query") =
      (if (hs.isEmpty) 0.0 else hs.map(_.gets).sum.toDouble / hs.size, "count")
    layer("http.useful_get_ratio") = (if (hs.isEmpty) 0.0
      else hs.map(_.usefulGets).sum.toDouble / math.max(1, hs.map(_.gets).sum), "ratio")
    layer("http.bytes_per_row") =
      (if (rows == 0) 0.0 else hs.map(_.bytes).sum.toDouble / rows, "bytes")
    val groups = opGroups.asScala.keys.toSeq.map(exec.of)
    val n = math.max(1, groups.size)
    def perOp(f: GroupStats => Double): Double = groups.map(f).sum / n
    val mib = 1024.0 * 1024.0
    layer("exec.ms") = (perOp(_.jobMs.toDouble), "ms")
    layer("exec.tasks") = (perOp(_.tasks.toDouble), "count")
    layer("exec.cpu_ms") = (perOp(_.cpuNs / 1e6), "ms")
    layer("exec.gc_ms") = (perOp(_.gcMs.toDouble), "ms")
    layer("exec.task_skew") =
      (if (groups.isEmpty) 0.0 else median(groups.map(_.skew)), "ratio")
    layer("exec.peak_mem_mib") =
      (groups.map(_.peakMem).foldLeft(0L)(math.max) / mib, "MiB")
    layer("shuffle.records") = (perOp(_.shuffleRecords.toDouble), "count")
    layer("shuffle.mib") = (perOp(_.shuffleBytes / mib), "MiB")
    layer("spill.mib") = (perOp(_.spillBytes / mib), "MiB")
    // per traced operation, so the figure does not grow with the passes
    // that fit in the window
    layer("cachebook.frames_persisted") =
      (tracedFrames.get.toDouble / math.max(1L, tracedColdOps.get), "count")
    curationLayers()
    detail("traced_ops") = opGroups.size
  }

  def curationLayers(): Unit =
    AnalyticsBatch.stages.keys.foreach { st =>
      layer(s"curation.${st}_s") = (0.0, "s")
      layer(s"curation.$st.shuffle_records_per_doc") = (0.0, "count")
    }

  /** HTTP statements seen while tracing. */
  val httpSeen = new java.util.concurrent.ConcurrentLinkedQueue[HttpResult]()

  def http(sql: String, binary: Boolean, op: Long): HttpResult = {
    val r = Http.run(base, sql, binary, trace, op)
    if (trace.on) { httpSeen.add(r); opGroups.put(r.queryId, op) }
    r
  }

  /** Replay a statement in-process, one span per layer it crosses: the
    * server-side split of an HTTP statement that a client cannot see. */
  def replay(name: String, sql: String): Unit = {
    val op = trace.newOp()
    val group = s"replay-$op"
    opGroups.put(group, op)
    spark.sparkContext.setJobGroup(group, name)
    try {
      trace.span("dialect.translate", op)(graft.api.Dialect.translate(sql))
      val df = trace.span("session.sql", op)(graft.api.SqlSession.wrap(spark).sql(sql))
      trace.span("plan.optimize", op)(df.queryExecution.optimizedPlan)
      trace.span("plan.physical", op)(df.queryExecution.executedPlan)
      trace.span("exec", op)(df.collect())
    } finally spark.sparkContext.clearJobGroup()
    cold()
  }

  def writeSelfTimes(): Unit = {
    val lines = "layer\tcalls\ttotal_ms\tself_ms" +: trace.selfTimes.map {
      case (n, c, t, s) => f"$n\t$c\t$t%.3f\t$s%.3f"
    }
    Files.write(outDir.resolve("layers.tsv"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def close(): Unit = stopSession()
}

/** Plain JSON-ready values of a result row. */
object Rows {
  private val ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def plain(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.map(plain).asJava
    case f: Float => f.toDouble
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: java.math.BigDecimal => java.util.Map.of("decimal", d.toPlainString)
    case d: scala.math.BigDecimal => java.util.Map.of("decimal", d.bigDecimal.toPlainString)
    case d: java.sql.Date => java.util.Map.of("date", d.toLocalDate.toString)
    case d: java.time.LocalDate => java.util.Map.of("date", d.toString)
    case t: java.sql.Timestamp => java.util.Map.of("ts", ts.format(t.toLocalDateTime))
    case t: java.time.LocalDateTime => java.util.Map.of("ts", ts.format(t))
    case t: java.time.Instant =>
      java.util.Map.of("ts", ts.format(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)))
    case xs: scala.collection.Seq[_] => xs.map(plain).asJava
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => java.util.Arrays.asList(plain(k), plain(x)) }.asJava
    case b: Array[Byte] => java.util.Map.of("bytes", java.util.HexFormat.of().formatHex(b))
    case other => other
  }
}
