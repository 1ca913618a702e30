package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Repl
import graft.core.Ingest

/** `repl`: one client feeding a seeded statement stream into
  * [[Repl.loop]] — the reference's own insert/select surface — and timing
  * each statement from outside through the input iterator. A pass is one
  * fresh db path: the stream, `.exit`, then a reopen of the same path
  * whose full `select` must print every acknowledged row. */
final class ReplLoad(ctx: Ctx) extends Workload {
  import ReplLoad._
  val clients = 1
  val tailPct = 0.975
  val minOps = 900

  private val rng = new scala.util.Random(ctx.args.seed)
  private val harness: Map[String, Seq[String]] = {
    val node = ctx.expected.get("repl_harness")
    HarnessSql.map(q => q -> node.get(q).asScala.map(_.asText).toSeq).toMap
  }
  private var pass = 0
  private val flushS = scala.collection.mutable.ArrayBuffer[Double]()
  private val reopenS = scala.collection.mutable.ArrayBuffer[Double]()
  private val openS = scala.collection.mutable.ArrayBuffer[Double]()
  private val storedRatio = scala.collection.mutable.ArrayBuffer[Double]()
  private val flushBytes = scala.collection.mutable.ArrayBuffer[Double]()
  private val insertLines = scala.collection.mutable.ArrayBuffer[String]()

  private def word(min: Int, max: Int): String = {
    val n = min + rng.nextInt(max - min + 1)
    (1 to n).map(_ => Alnum(rng.nextInt(Alnum.length))).mkString
  }

  /** The seeded stream of one pass, with each statement's expected reply. */
  private def stream(): IndexedSeq[Stmt] = {
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    def render(r: (Long, String, String)) = s"(${r._1}, ${r._2}, ${r._3})"
    val out = IndexedSeq.newBuilder[Stmt]
    var sqlTurn = 0
    for (i <- 1 to PassStatements) {
      val id = 1L + rng.nextInt(1000000000)
      val u = word(3, 12)
      val e = s"${word(3, 12)}@${word(3, 8)}.com"
      val roll = rng.nextDouble()
      if (roll < RejectRate) {
        val line = s"insert -$id $u $e"
        out += Stmt("insert", line, Seq("ID must be positive."))
      } else if (roll < 2 * RejectRate) {
        val line = s"insert $id ${word(Ingest.MaxUsername + 1, Ingest.MaxUsername + 8)} $e"
        out += Stmt("insert", line, Seq("String is too long."))
      } else if (roll < 3 * RejectRate) {
        val line = s"isnert $id $u $e"
        out += Stmt("insert", line, Seq(s"Unrecognized keyword at start of '$line'"))
      } else {
        rows += ((id, u, e))
        out += Stmt("insert", s"insert $id $u $e", Seq("Executed."))
      }
      if (i % SelectEvery == 0)
        out += Stmt("select", "select", rows.map(render).toSeq :+ "Executed.")
      if (i % SqlEvery == 0) {
        val (cnt, mx) = (rows.size, if (rows.isEmpty) "NULL" else rows.map(_._1).max.toString)
        out += Stmt("sql", "SELECT count(*), max(id) FROM users", Seq(s"($cnt, $mx)", "Executed."))
        val probe = rows(rng.nextInt(rows.size))
        out += Stmt("sql", s"SELECT username, email FROM users WHERE id = ${probe._1}",
          rows.filter(_._1 == probe._1).map(r => s"(${r._2}, ${r._3})").toSeq :+ "Executed.")
        val h = HarnessSql(sqlTurn % HarnessSql.size)
        sqlTurn += 1
        out += Stmt("sql", h, harness(h) :+ "Executed.")
      }
      if (i % BtreeEvery == 0)
        out += Stmt("meta", ".btree", Seq("Tree:", s"leaf (size ${rows.size})") ++
          rows.zipWithIndex.map { case (r, j) => s"  - $j : ${r._1}" })
    }
    out += Stmt("exit", ".exit", Nil)
    out += Stmt("reopen", "select", rows.map(render).toSeq :+ "Executed.")
    out += Stmt("exit", ".exit", Nil)
    out.result()
  }

  /** Feeds statements to the REPL and timestamps each one: a statement
    * starts when the REPL takes it and ends when the REPL asks for the
    * next. Each statement runs under its own job group. */
  private final class Feed(spark: SparkSession, stmts: IndexedSeq[Stmt], phase: String)
      extends Iterator[String] {
    val ids = new Array[String](stmts.size)
    val start = new Array[Long](stmts.size)
    val end = new Array[Long](stmts.size)
    val parent = new Array[Int](stmts.size)
    var i = 0
    var firstAsk = 0L
    def hasNext: Boolean = {
      val now = System.nanoTime()
      if (i == 0 && firstAsk == 0L) firstAsk = now
      if (i > 0 && end(i - 1) == 0L) end(i - 1) = now
      i < stmts.size
    }
    def next(): String = {
      val op = ctx.nextOp(phase)
      ids(i) = op
      spark.sparkContext.setJobGroup(op, stmts(i).kind, interruptOnCancel = false)
      ctx.tracer.setOp(op)
      parent(i) = ctx.tracer.currentParent
      start(i) = System.nanoTime()
      i += 1
      stmts(i - 1).line
    }
    def close(): Unit = if (i > 0 && end(i - 1) == 0L) end(i - 1) = System.nanoTime()
  }

  private def loop(spark: SparkSession, db: String, feed: Feed): (Long, Seq[String]) = {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    val t0 = System.nanoTime()
    ctx.tracer.span("repl.loop") {
      Repl.loop(spark, db, Some(ctx.args.data), feed, out)
    }
    feed.close()
    spark.sparkContext.clearJobGroup()
    val replies = buf.toString("UTF-8").split("db > ", -1).toSeq.drop(1)
    (t0, replies.map(_.stripSuffix("\n")))
  }

  private def dirBytes(p: java.io.File): Long =
    if (p.isDirectory) Option(p.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else p.length

  /** One pass; records samples (phase "m") and durability figures. */
  private def runPass(spark: SparkSession, phase: String): Unit = {
    pass += 1
    val db = s"${ctx.args.work}/repl/db$pass"
    val stmts = stream()
    val split = stmts.indexWhere(_.kind == "exit") + 1
    val (main, reopen) = stmts.splitAt(split)
    insertLines ++= main.filter(_.kind == "insert").map(_.line)
    val f1 = new Feed(spark, main, phase)
    val (t1, r1) = loop(spark, db, f1)
    val f2 = new Feed(spark, reopen, phase)
    val (t2, r2) = loop(spark, db, f2)
    val record = phase == "m"
    def emit(f: Feed, replies: Seq[String], t0: Long, ss: IndexedSeq[Stmt]): Unit =
      ss.indices.foreach { j =>
        val s = ss(j)
        val got = replies.lift(j).map(r => if (r.isEmpty) Nil else r.split("\n", -1).toSeq).getOrElse(Seq("<missing>"))
        val ok = got == s.reply
        val a = if (s.kind == "reopen") t0 else f.start(j)
        ctx.tracer.record(s"repl.${s.kind}", f.ids(j), f.parent(j), f.start(j), f.end(j))
        if (!ok) ctx.extra.put(s"error.repl.${s.kind}", s"${s.line.take(80)} -> ${got.take(3).mkString(" | ").take(200)}")
        if (record) ctx.samples.add(Sample(s.kind, f.ids(j), f.end(j) - a, ok))
      }
    emit(f1, r1, t1, main)
    emit(f2, r2, t2, reopen)
    if (record) {
      openS += (f1.firstAsk - t1) / 1e9
      flushS += (f1.end(main.size - 1) - f1.start(main.size - 1)) / 1e9
      reopenS += (f2.end(0) - t2) / 1e9
      val bytes = dirBytes(new java.io.File(db))
      // raw bytes of the accepted rows: an 8-byte id plus the UTF-8 strings
      val userBytes = main.filter(s => s.kind == "insert" && s.reply == Seq("Executed.")).map { s =>
        val p = s.line.split(" "); 8L + p(2).getBytes("UTF-8").length + p(3).getBytes("UTF-8").length
      }.sum.max(1L)
      flushBytes += bytes.toDouble
      storedRatio += bytes.toDouble / userBytes
    }
  }

  def setup(spark: SparkSession): Unit = runPass(spark, "w")

  def measure(spark: SparkSession): Long = {
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.args.seconds * 1000000000L
    while (ctx.samples.size < minOps || System.nanoTime() < deadline) runPass(spark, "m")
    val wall = System.nanoTime() - t0
    def med(xs: Seq[Double]) = Main.pct(xs.sorted.toIndexedSeq, 0.5)
    ctx.extra.put("e2e.flush_s", med(flushS.toSeq))
    ctx.extra.put("e2e.reopen_s", med(reopenS.toSeq))
    ctx.extra.put("e2e.stored_bytes_per_user_byte", med(storedRatio.toSeq))
    ctx.extra.put("layer.repl.open_s", med(openS.toSeq))
    ctx.extra.put("layer.repl.flush_s", med(flushS.toSeq))
    ctx.extra.put("layer.repl.flush_bytes", med(flushBytes.toSeq))
    wall
  }

  override def afterTrace(spark: SparkSession): Unit = {
    ctx.tracer.setOp("")
    insertLines.foreach(l => ctx.tracer.span("ingest.parse_line") { Ingest.parseLine(l) })
    // the REPL's SQL statements, planned outside the REPL for plan.* figures
    (HarnessSql :+ "SELECT count(*), max(id) FROM users").foreach { q =>
      ctx.tracer.setOp(ctx.nextOp("m"))
      val df = ctx.tracer.span("plan.analyze") { spark.sql(q) }
      ctx.forcePlan(df)
    }
  }
}

final case class Stmt(kind: String, line: String, reply: Seq[String])

object ReplLoad {
  val PassStatements = 200
  val SelectEvery = 25
  val SqlEvery = 50
  val BtreeEvery = 100
  val RejectRate = 0.05
  val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
  /** SQL over the harness views; expected replies come from DuckDB. */
  val HarnessSql: IndexedSeq[String] = IndexedSeq(
    "SELECT o_orderpriority, count(*) FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "SELECT n_name, count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name",
    "SELECT l_returnflag, l_linestatus, count(*) FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT count(*) FROM lineitem WHERE l_quantity > 45")
}
