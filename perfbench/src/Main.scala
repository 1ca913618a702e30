package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.GraftSession

/** One measured operation: its kind (query key, statement kind), latency,
  * and whether its output checked out. Failed ops never count as timings. */
final case class Sample(kind: String, op: String, latNs: Long, ok: Boolean)

/** Shared state of one benchmark process. */
final class Ctx(val args: Args, val tracer: Tracer, val listener: ExecListener,
    val expected: com.fasterxml.jackson.databind.JsonNode) {
  val samples = new ConcurrentLinkedQueue[Sample]()
  /** Extra named figures a workload reports (durability, recalls, layer
    * timings the generic span roll-up does not cover). */
  val extra = new java.util.concurrent.ConcurrentHashMap[String, Any]()
  /** Plan shape per measured op, traced runs only. */
  val planShapes = new ConcurrentLinkedQueue[(Int, Int)]()
  /** Result rows per measured op, for rows-examined-per-result-row. */
  val resultRows = new java.util.concurrent.atomic.AtomicLong(0)
  /** Time spent checking outputs inside the setup phase, per thread. */
  val setupCheckNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val opSeq = new java.util.concurrent.atomic.AtomicLong(0)

  def nextOp(phase: String): String = s"${args.workload}-$phase-${opSeq.incrementAndGet()}"

  def addCheckNs(ns: Long): Unit =
    setupCheckNs.merge(Thread.currentThread().getId, ns, (a: Long, b: Long) => a + b)

  /** Run `body` as one operation tagged with a fresh job group, so the
    * listener can attribute its jobs. */
  def asOp[T](spark: SparkSession, phase: String, kind: String)(body: => T): (String, T) = {
    val op = nextOp(phase)
    spark.sparkContext.setJobGroup(op, kind, interruptOnCancel = false)
    tracer.setOp(op)
    try (op, tracer.span("op") { body })
    finally spark.sparkContext.clearJobGroup()
  }

  /** Force the physical plan inside a `plan.plan` span and, when tracing,
    * record its node and exchange counts. */
  def forcePlan(df: org.apache.spark.sql.DataFrame): Unit = {
    val p = tracer.span("plan.plan") { df.queryExecution.executedPlan }
    if (tracer.on) {
      val ns = Ctx.nodes(p)
      planShapes.add((ns.size, ns.count(_.isInstanceOf[Exchange])))
    }
  }
}

object Ctx {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: (p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, cpus: Int, out: String, spans: String, work: String, expected: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("data"), req("cpus").toInt, req("out"), req("spans"), req("work"), req("expected"))
  }
}

trait Workload {
  /** Client threads. */
  def clients: Int
  /** Latency percentile reported as `latency_tail_ms`; the run continues
    * until at least `minOps` ops completed so that ≥10 samples lie beyond it. */
  def tailPct: Double
  def minOps: Int
  /** Build client sessions and open inputs, then run every distinct
    * operation once (untimed) with its full output check. */
  def setup(spark: SparkSession): Unit
  /** Closed-loop measurement; returns the measured wall time in ns. */
  def measure(spark: SparkSession): Long
  /** Traced runs only: extra per-layer work outside the measured window. */
  def afterTrace(spark: SparkSession): Unit = ()
}

object Main {
  def rssHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap the engine still holds after a full collection, plus direct and
    * mapped buffers: what it keeps between ops (caches, catalogs, views).
    * The first collection lets Spark's ContextCleaner drop the broadcasts
    * and shuffles of finished queries; the second frees what it dropped. */
  def retainedMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[java.lang.management.BufferPoolMXBean])
      .asScala.map(_.getMemoryUsed max 0L).sum
    (heap + buffers) / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  def pct(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p * sorted.size).toInt - 1)))

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("oracles")) { Oracles.dump(argv(1)); return }
    val args = Args.parse(argv)
    val expected = Json.read(args.expected)
    val tracer = new Tracer(args.trace)
    val listener = new ExecListener
    val ctx = new Ctx(args, tracer, listener, expected)

    val t0 = System.nanoTime()
    val spark = tracer.span("session") { GraftSession.local(args.cpus.toString, "ERROR") }
    if (args.trace) spark.sparkContext.addSparkListener(listener)
    val wl: Workload = args.workload match {
      case "olap" => new Olap(ctx)
      case "llm" => new Llm(ctx)
      case "repl" => new ReplLoad(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    wl.setup(spark)
    val checkNs = if (ctx.setupCheckNs.isEmpty) 0L else ctx.setupCheckNs.values.asScala.max
    val setupS = (System.nanoTime() - t0 - checkNs) / 1e9

    val gc0 = gcMs()
    val wallNs = wl.measure(spark)
    val gc1 = gcMs()
    if (args.trace) wl.afterTrace(spark)
    val (cgCount, cgMean) = codegen()
    val rss = rssHwmMb()
    val retained = retainedMb()

    val all = ctx.samples.asScala.toVector
    val good = all.filter(_.ok)
    val lats = good.map(_.latNs / 1e6).sorted
    val attempted = all.size
    val failed = all.count(!_.ok)
    val failedKinds = all.filterNot(_.ok).map(_.kind).distinct.sorted

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "throughput_ops_s" -> (good.size / (wallNs / 1e9), "ops/s"),
      "latency_p50_ms" -> (pct(lats, 0.5), "ms"),
      "latency_tail_ms" -> (pct(lats, wl.tailPct), "ms"),
      "peak_rss_mb" -> (rss, "MB"),
      "retained_mb" -> (retained, "MB"),
      "failed_ratio" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted, "1")) ++
      ctx.extra.asScala.toSeq.sortBy(_._1).collect { case (k, v: Double) if k.startsWith("e2e.") =>
        k.stripPrefix("e2e.") -> (v, if (k.endsWith("_s")) "s" else "1")
      }

    val layers: Seq[(String, (Double, String))] =
      if (!args.trace) Nil else Layers.compute(ctx, wallNs, gc1 - gc0, cgCount, cgMean)
    if (args.trace) tracer.writeJsonl(args.spans)

    val extra = ctx.extra.asScala.toSeq.sortBy(_._1)
    val res = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "clients" -> wl.clients,
      "tail_percentile" -> wl.tailPct, "samples" -> good.size,
      "attempted" -> attempted, "failed" -> failed, "failed_kinds" -> failedKinds,
      "measured_wall_s" -> wallNs / 1e9, "setup_check_s" -> checkNs / 1e9,
      "end_to_end" -> Json.obj(e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "per_layer" -> Json.obj(layers.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "extra" -> Json.obj(extra: _*),
      "latency_by_kind_ms" -> Json.obj(good.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
        val l = ss.map(_.latNs / 1e6).sorted
        k -> Json.obj("n" -> l.size, "p50" -> pct(l, 0.5), "max" -> l.last, "all" -> l)
      }: _*),
      "env" -> Json.obj(
        "cpus" -> args.cpus,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "offheap_bytes" -> GraftSession.OffHeapBytes,
        "spark_version" -> spark.version,
        "jdk_version" -> System.getProperty("java.version")))
    val w = new java.io.PrintWriter(args.out, "UTF-8")
    try w.println(Json.write(res)) finally w.close()
    spark.stop()
  }
}
