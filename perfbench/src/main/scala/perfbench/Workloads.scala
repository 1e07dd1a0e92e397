package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

object Workloads {
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}
import Workloads.strings

/** Batch analytics, one client: TPC-H queries on the DataFrame path, the
  * same queries as SQL text over `POST /v1/statement`, TPC-DS queries over
  * facts materialized at set-up, and an LLM-curation pass (dedup, quality,
  * classifier and vector stages) whose sorters spill. Every operation runs
  * in seeded order and is checked. Spark execution does most of the work;
  * the HTTP-vs-DataFrame gap is the cost of the text path. */
final class AnalyticsBatch(conf: Conf, plan: JsonNode) extends Workload(conf, plan) {
  def usesServer = true
  private val suites: Map[String, Seq[String]] = Seq("tpch_df", "tpch_http", "tpcds", "curation")
    .map(k => k -> strings(plan.get("order").get(k))).toMap
  private val suiteOrder = strings(plan.get("suite_order"))
  private lazy val docs = plan.get("inputs").get("documents").get("rows").asLong

  override def sessionConf: Seq[(String, String)] = Seq(
    "spark.shuffle.spill.numElementsForceSpillThreshold" -> AnalyticsBatch.SpillRecords)
  override def setupExtra(): Unit = graft.tpcds.Tpcds.materializeFacts(spark, dataDir)
  override def layerOps: Seq[String] = graft.Tables.names

  private val ops: Seq[(String, String)] = suiteOrder.flatMap(k => suites(k).map(k -> _))

  private def runOp(kind: String, q: String, op: Long): (StructType, Seq[Row]) = kind match {
    case "tpch_df" => dfRun(op, s"op-$op", graft.tpch.Tpch.queries(q)(spark, dataDir))
    case "tpcds" => dfRun(op, s"op-$op", graft.tpcds.Tpcds.queries(q)(spark, dataDir))
    case "curation" => dfRun(op, s"op-$op", AnalyticsBatch.stages(q)._1(spark, dataDir))
    case "tpch_http" =>
      val r = http(graft.tpch.Tpch.oracle(q), binary = false, op)
      (r.schema, r.rows)
  }

  private def oracleOf(kind: String, q: String): Option[String] = kind match {
    case "tpcds" => graft.tpcds.Tpcds.oracle.get(q)
    case "curation" => graft.SparkEntry.oracleSql.get(AnalyticsBatch.stages(q)._2)
    case _ => graft.tpch.Tpch.oracle.get(q)
  }

  def verify(): Unit = parallel(ops, 3)(runOp(_, _, 0L))
    .foreach { case ((kind, q), (schema, rows)) =>
      record(s"$kind:$q", schema, rows, oracleOf(kind, q))
    }

  /** Operations in seeded order, cyclically until the deadline and for at
    * least two passes: one timed run of an operation varied by up to a
    * third, so each operation's time is the median of two or more. */
  def measure(deadline: Long): Unit = {
    var i = 0
    while (i < 2 * ops.size || System.nanoTime() < deadline) {
      val (kind, q) = ops(i % ops.size)
      i += 1
      timeOp(kind, s"$kind:$q") { op =>
        val (_, rows) = runOp(kind, q, op)
        (Some(Answer.of(rows)), rows.size.toLong)
      }
    }
  }

  /** Per operation, the median of its times. */
  private def perOp(kind: String, traced: Boolean = false): Map[String, Double] =
    times.filter(t => t.kind == kind && t.traced == traced).groupBy(_.name)
      .map { case (n, ts) => n.stripPrefix(kind + ":") -> median(ts.map(_.ms)) }

  def endToEnd(): Seq[(String, Double, String)] = {
    suites.keys.foreach(k => detail(s"${k}_s") = perOp(k).values.sum / 1000)
    detail("curation_docs_per_s") = docs / (perOp("curation").values.sum / 1000)
    val all = suites.keys.toSeq.flatMap(k => perOp(k).values)
    detail("operations") = all.size
    detail("timed_ops") = times.count(!_.traced)
    Seq(("latency_p50_ms", quantile(all, 0.5), "ms"),
      ("latency_p90_ms", quantile(all, 0.9), "ms"),
      ("throughput_per_s", all.size / (all.sum / 1000), "1/s"))
  }

  override def tracedExtra(): Unit =
    suites("tpch_http").foreach(q => replay(s"tpch_http:$q", graft.tpch.Tpch.oracle(q)))

  override def curationLayers(): Unit = {
    val st = perOp("curation", traced = true)
    AnalyticsBatch.stages.keys.foreach { name =>
      layer(s"curation.${name}_s") = (st.getOrElse(name, 0.0) / 1000, "s")
      val groups = opGroups.asScala.collect {
        case (g, op) if opNames.get(op) == s"curation:$name" => g
      }.toSeq
      val records = groups.map(g => exec.of(g).shuffleRecords).sum
      layer(s"curation.$name.shuffle_records_per_doc") =
        (if (groups.isEmpty) 0.0 else records.toDouble / groups.size / docs, "count")
    }
  }
}

object AnalyticsBatch {
  /** Sorters spill every this many records. At the benchmark's corpus size
    * the gram shuffles would fit in memory; spilling makes the corpus
    * behave as one larger than the program's memory. Lowering
    * spark.memory.fraction instead fails tasks with UNABLE_TO_ACQUIRE_MEMORY
    * before they spill. */
  val SpillRecords = "20000"

  /** Curation stages: the builder and its oracle-gated query name. */
  val stages: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "substring_dup" -> (graft.ops.Dedup.substringDup _, "dedup_substring"),
    "span_dedup" -> (graft.ops.Dedup.spanDedup _, "dedup_span_removal"),
    "gopher_quality" -> (graft.ops.TextAnalysis.gopherQuality _, "text_gopher_quality"),
    "hashed_classifier" -> (graft.ops.TextAnalysis.hashedClassifier _, "text_hashed_classifier"),
    "cluster_balance" -> (graft.ops.Similarity.clusterBalance _, "sim_cluster_balance"),
    "ivf_ann" -> (graft.ops.Similarity.ivfAnn _, "sim_ivf_ann"))
}

/** An interactive client over `POST /v1/statement`: one closed-loop
  * client issues short reads, INSERTs into a CTAS-created table (the
  * server's serialized shared-session lane) and large exports paged to
  * exhaustion, half of them as binary pages. One client, because with
  * three the clients' phases settle into a different pattern of overlaps
  * in each run, and the figures of whole runs spread past their bounds. */
final class InteractiveHttp(conf: Conf, plan: JsonNode) extends Workload(conf, plan) {
  def usesServer = true
  private val InitialRows = 1000L
  private val reads = strings(plan.get("reads"))
  private val exports = strings(plan.get("exports"))
  private val mix = plan.get("mix")
  private val acked = new java.util.concurrent.atomic.AtomicLong(0)

  override def layerOps: Seq[String] = graft.Tables.names.take(7)

  private def text(s: String): String =
    if (s.startsWith("@tpch:")) graft.tpch.Tpch.oracle(s.stripPrefix("@tpch:")) else s

  private def hasOracle(s: String) = !s.startsWith("SHOW") && !s.startsWith("DESCRIBE")

  override def setupExtra(): Unit =
    Http.run(base, "CREATE TABLE bench_writes AS SELECT o_orderkey AS k, " +
      s"o_custkey AS c, o_totalprice AS p FROM orders WHERE o_orderkey < $InitialRows",
      binary = false, trace, 0L)

  /** Every distinct statement once, on three threads; exports also as
    * binary pages, which must carry the same answer. */
  def verify(): Unit = {
    val stmts = (reads ++ exports).distinct.map(_ -> false) ++ exports.distinct.map(_ -> true)
    val results = parallel(stmts, 3)((s, binary) => http(text(s), binary, 0L))
    results.foreach { case ((s, binary), r) =>
      if (!binary) {
        record(s, r.schema, r.rows, if (hasOracle(s)) Some(text(s)) else None)
        if (!hasOracle(s) && r.rows.isEmpty) fail(s, new IllegalStateException("empty"))
      }
    }
    results.foreach { case ((s, binary), r) => if (binary) check(s, Answer.of(r.rows)) }
  }

  /** The client mix, untimed, before the window. The verification pass
    * runs each statement once, and latencies keep falling for a while
    * after it as the JIT compiles the server's paths. */
  override def warmUp(): Unit =
    client(System.nanoTime() + InteractiveHttp.WarmUpSeconds * 1000000000L)

  def measure(deadline: Long): Unit = {
    val t0 = System.nanoTime()
    client(deadline)
    detail("elapsed_s") = (System.nanoTime() - t0) / 1e9
  }

  /** The seeded INSERT values and the written batches carry over from the
    * warm-up to the window, so no INSERT repeats a key. */
  private val rnd = new scala.util.Random(plan.get("client_seed").asLong)
  private var batches = 0

  /** The closed loop: the next statement goes out when the last one has
    * returned its final page. The classes follow one evenly interleaved
    * cycle of the mix, so any stretch of a run carries close to the mix's
    * proportions, and each class's statements follow the plan's seeded
    * order. Each class has its own counter. Each export statement runs
    * twice in a row, as JSON pages and then as binary pages, so half the
    * exports are binary and every export statement is seen in both
    * formats. */
  private def client(deadline: Long): Unit = {
    val classes = InteractiveHttp.interleave(
      Seq("read", "write", "export").map(k => k -> mix.get(k).asInt))
    var n, r, e = 0
    while (System.nanoTime() < deadline) {
      val kind = classes(n % classes.size)
      val (sql, binary, key) = kind match {
        case "read" =>
          val s = reads(r % reads.size); r += 1; (text(s), false, s)
        case "write" =>
          val rows = 1 + rnd.nextInt(5)
          val values = (0 until rows).map { i =>
            s"(${1000000L + batches * 10 + i}, ${rnd.nextInt(1000)}, " +
              f"${rnd.nextInt(1000000) / 100.0}%.2f)"
          }.mkString(", ")
          batches += 1
          (s"INSERT INTO bench_writes VALUES $values", false, rows.toString)
        case _ =>
          val s = exports(e / 2 % exports.size)
          val binary = e % 2 == 1
          e += 1
          (text(s), binary, s)
      }
      n += 1
      timeOp(kind, key) { op =>
        val res = http(sql, binary, op)
        if (kind == "write") { acked.addAndGet(key.toLong); (None, 0L) }
        else (Some(Answer.of(res.rows)), res.rows.size.toLong)
      }
    }
  }

  def endToEnd(): Seq[(String, Double, String)] = {
    val untraced = times.filterNot(_.traced)
    def ms(kind: String) = untraced.filter(_.kind == kind).map(_.ms).toSeq
    val rd = ms("read")
    val exp = untraced.filter(_.kind == "export")
    detail("http_read_p50_ms") = quantile(rd, 0.5)
    detail("http_read_p90_ms") = quantile(rd, 0.9)
    detail("http_read_samples") = rd.size
    // the highest percentile that leaves at least ten samples beyond it
    detail("http_read_tail_pct") = math.max(0.0, 100.0 * (rd.size - 10) / rd.size)
    if (ms("write").nonEmpty) detail("http_write_p50_ms") = median(ms("write"))
    detail("http_export_rows_per_s") = exp.map(_.rows).sum / (exp.map(_.ms).sum / 1000)
    detail("class_counts") = untraced.groupBy(_.kind).map { case (k, v) => k -> v.size }
    // every acknowledged insert must be in the table
    val count = Http.run(base, "SELECT count(*) AS n FROM bench_writes",
      binary = false, trace, 0L).rows.head.getLong(0)
    val want = InitialRows + acked.get
    detail("writes_acknowledged_rows") = acked.get
    if (count != want)
      fail("write check", new IllegalStateException(s"bench_writes has $count rows, $want acknowledged"))
    val elapsed = detail("elapsed_s").asInstanceOf[Double]
    Seq(("latency_p50_ms", quantile(rd, 0.5), "ms"),
      ("latency_p90_ms", quantile(rd, 0.9), "ms"),
      ("throughput_per_s", untraced.size / elapsed, "1/s"))
  }

  override def tracedExtra(): Unit =
    (reads ++ exports).distinct.filter(hasOracle).foreach(s => replay(s, text(s)))
}

object InteractiveHttp {
  val WarmUpSeconds = 5

  /** One cycle of the class mix with each class spread evenly over it
    * (smooth weighted round robin): [a -> 2, b -> 1] gives a, b, a. */
  def interleave(counts: Seq[(String, Int)]): IndexedSeq[String] = {
    val total = counts.map(_._2).sum
    val credit = Array.fill(counts.size)(0)
    (0 until total).map { _ =>
      counts.indices.foreach(i => credit(i) += counts(i)._2)
      val i = credit.indices.maxBy(credit(_))
      credit(i) -= total
      counts(i)._1
    }
  }
}

