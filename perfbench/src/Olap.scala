package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, SqlCatalog}

/** `olap`: one client per core, each with its own session on the shared
  * SparkContext, sending read-only SQL text from [[SqlCatalog.queriesSql]]
  * in a seeded order. Every op is what [[SqlCatalog.sql]] does — register
  * the table views, parse/analyze the text — then the physical plan is
  * forced and the result collected. */
final class Olap(ctx: Ctx) extends Workload {
  import Olap._
  val clients: Int = ctx.args.cpus
  val tailPct = 0.64
  val minOps = 28

  private var sessions: Seq[SparkSession] = Nil
  private val expected = ctx.expected.get("olap")
  private def expRows(k: String) = expected.get(k).get("rows").asLong
  private def expHash(k: String) = expected.get(k).get("hash").asText
  /** Keys whose full check failed this run: all their ops count as failed. */
  private val wrong = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def run(s: SparkSession, key: String): Array[org.apache.spark.sql.Row] = {
    val t = ctx.tracer
    t.span("tables.register") { SqlCatalog.registerViews(s, ctx.args.data) }
    val df: DataFrame = t.span("plan.analyze") { s.sql(SqlCatalog.queriesSql(key)) }
    ctx.forcePlan(df)
    t.span("exec") { df.collect() }
  }

  def setup(spark: SparkSession): Unit = {
    sessions = (0 until clients).map { _ =>
      ctx.tracer.span("session") {
        val s = spark.newSession()
        GraftExtensions.install(s)
        s
      }
    }
    val order = new scala.util.Random(ctx.args.seed).shuffle(Keys)
    val next = new AtomicLong(0)
    parallel(sessions) { s =>
      var i = next.getAndIncrement()
      while (i < order.size) {
        val key = order(i.toInt)
        val (_, res) = ctx.asOp(s, "w", key) {
          scala.util.Try(run(s, key))
        }
        val c0 = System.nanoTime()
        val ok = res.toOption.exists { rows =>
          rows.length == expRows(key) &&
            Check.hash(rows.headOption.map(_.schema.fieldNames).getOrElse(Array.empty), rows) == expHash(key)
        }
        if (!ok) {
          wrong.add(key)
          res.failed.foreach(e => ctx.extra.put(s"error.$key", String.valueOf(e.getMessage).take(300)))
        }
        ctx.addCheckNs(System.nanoTime() - c0)
        i = next.getAndIncrement()
      }
    }
  }

  def measure(spark: SparkSession): Long = {
    val n = Keys.size
    val perms = new java.util.concurrent.ConcurrentHashMap[Long, IndexedSeq[String]]()
    def keyAt(pos: Long): String =
      perms.computeIfAbsent(pos / n, r =>
        new scala.util.Random(ctx.args.seed * 7919L + r + 1).shuffle(Keys).toIndexedSeq)((pos % n).toInt)
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.args.seconds * 1000000000L
    val next = new AtomicLong(0)
    val lastEnd = new AtomicLong(t0)
    // a position is handed out only while the run is open; the run closes at
    // the first round boundary after the deadline once minOps were issued,
    // so every run measures whole rounds of the key set
    def take(): Long = next.synchronized {
      val p = next.get
      if (p % n == 0 && p >= minOps && System.nanoTime() >= deadline) -1L
      else next.getAndIncrement()
    }
    parallel(sessions) { s =>
      var p = take()
      while (p >= 0) {
        val key = keyAt(p)
        val a = System.nanoTime()
        val (op, res) = ctx.asOp(s, "m", key) { scala.util.Try(run(s, key)) }
        val b = System.nanoTime()
        val ok = !wrong.contains(key) && res.toOption.exists(_.length == expRows(key))
        res.foreach(r => ctx.resultRows.addAndGet(r.length))
        ctx.samples.add(Sample(key, op, b - a, ok))
        lastEnd.accumulateAndGet(b, (x: Long, y: Long) => x max y)
        p = take()
      }
    }
    lastEnd.get - t0
  }
}

object Olap {
  /** Read-only point-lookup, filter, join, aggregate, window, sort,
    * set-op and TPC-H keys with small results, so fixed per-query costs
    * dominate. Keys that write files, persist or checkpoint are left out,
    * so concurrent clients share no mutable state. */
  val Keys: IndexedSeq[String] = IndexedSeq(
    "key_lookup", "filter_pred", "join_semi", "join_anti", "join_cross",
    "agg_grouping_sets", "window_rank", "sort_limit_topk", "set_except",
    "tpch_q3", "tpch_q6", "tpch_q10", "tpch_q14", "tpch_q19")

  /** Run `f` once per session on its own thread and wait for all. */
  def parallel(sessions: Seq[SparkSession])(f: SparkSession => Unit): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = sessions.map { s =>
      val t = new Thread(() => try f(s) catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }
}
