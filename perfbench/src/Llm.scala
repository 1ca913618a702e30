package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.api.{TextDedup, VectorSearch}

/** `llm`: one client running LLM-pipeline keys through
  * [[SparkEntry.queries]] plus direct calls into the public dedup and
  * vector-search APIs on a corpus and probe set generated from the seed. */
final class Llm(ctx: Ctx) extends Workload {
  import Llm._
  val clients = 1
  val tailPct = 0.55
  val minOps = 24

  private val expected = ctx.expected.get("llm")
  private var queries: Map[String, (SparkSession, String) => DataFrame] = Map.empty
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var probes: DataFrame = _
  private var cents: DataFrame = _
  private var nearPairs: Seq[(Long, Long)] = Nil
  private var exactPairs: Seq[(Long, Long)] = Nil
  private var exactGroups: Set[(Long, Long)] = Set.empty
  private var exactTop: Set[(Long, Long)] = Set.empty
  private var nProbes = 0
  private val wrong = scala.collection.mutable.Set[String]()

  private def expRows(k: String): Option[Long] = Option(expected.get(k)).map(_.get("rows").asLong)
  private def expHash(k: String): Option[String] = Option(expected.get(k)).map(_.get("hash").asText)

  /** Open the seeded corpus, probes and centroids `perfbench/inputs.py`
    * wrote, and the planted truth the dedup results are checked against. */
  private def openInputs(spark: SparkSession): Unit = {
    val dir = s"${ctx.args.work}/llm"
    val truth = Json.read(s"$dir/truth.json")
    def pairs(k: String) = truth.get(k).asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq
    nearPairs = pairs("near_pairs")
    exactPairs = pairs("exact_pairs")
    exactGroups = pairs("exact_groups").toSet
    nProbes = truth.get("probes").asInt
    docs = spark.read.parquet(s"$dir/docs")
    vecs = spark.read.parquet(s"$dir/vecs")
    probes = spark.read.parquet(s"$dir/probes")
    cents = spark.read.parquet(s"$dir/cents")
  }

  /** Run one op of `kind`; returns its result rows and whether they
    * check out against the expected answer. */
  private def runOp(spark: SparkSession, kind: String, full: Boolean): (Array[Row], Boolean) = {
    val t = ctx.tracer
    kind match {
      case "api_dedup" =>
        val pairs = t.span("api.minhash_pairs") {
          TextDedup.minhashPairs(docs, "id", "text", threshold = Threshold)
        }
        val comps = t.span("api.components") { TextDedup.connectedComponents(pairs, "a", "b") }
        ctx.forcePlan(comps)
        val rows = t.span("exec") { comps.collect() }
        val comp = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        def same(p: (Long, Long)) = comp.get(p._1).exists(c => comp.get(p._2).contains(c))
        val nearFound = nearPairs.count(same)
        if (full) {
          ctx.extra.put("layer.api.minhash_found", nearFound.toDouble)
          ctx.extra.put("layer.api.minhash_planted", nearPairs.size.toDouble)
          ctx.extra.put("layer.api.minhash_recall", nearFound.toDouble / nearPairs.size.max(1))
        }
        (rows, exactPairs.forall(same))
      case "api_exact" =>
        val df = TextDedup.exact(docs, "id", "text")
        ctx.forcePlan(df)
        val rows = t.span("exec") { df.collect() }
        val got = rows.map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 1).toSet
        val recall = exactGroups.count(got.contains).toDouble / exactGroups.size.max(1)
        if (full) ctx.extra.put("layer.api.exact_recall", recall)
        (rows, recall == 1.0 && got == exactGroups)
      case "api_ivf" =>
        val df = t.span("api.ivf_topk") {
          VectorSearch.ivfTopK(probes, vecs, cents, "vec_id", "embedding", k = TopK, nprobe = NProbe)
        }
        ctx.forcePlan(df)
        val rows = t.span("exec") { df.collect() }
        val hits = rows.count(r => exactTop.contains((r.getLong(0), r.getLong(2))))
        if (full) {
          ctx.extra.put("layer.api.ivf_hits", hits.toDouble)
          ctx.extra.put("layer.api.ivf_total", exactTop.size.toDouble)
          ctx.extra.put("layer.api.ivf_recall_at_k", hits.toDouble / exactTop.size.max(1))
        }
        (rows, rows.length == nProbes * TopK)
      case key =>
        val df = t.span("ops.build") { queries(key)(spark, ctx.args.data) }
        ctx.forcePlan(df)
        val rows = t.span("exec") { df.collect() }
        val ok = expRows(key).forall(_ == rows.length) && (!full || expHash(key).forall(h =>
          Check.hash(df.columns, rows) == h))
        (rows, ok)
    }
  }

  private val kinds: IndexedSeq[String] = Keys ++ ApiOps

  def setup(spark: SparkSession): Unit = {
    openInputs(spark)
    queries = SparkEntry.queries
    val c0 = System.nanoTime()
    exactTop = {
      import spark.implicits._
      VectorSearch.topK(probes, vecs, "vec_id", "embedding", TopK)
        .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    }
    ctx.addCheckNs(System.nanoTime() - c0)
    new scala.util.Random(ctx.args.seed).shuffle(kinds).foreach { k =>
      val (_, res) = ctx.asOp(spark, "w", k) { scala.util.Try(runOp(spark, k, full = true)) }
      if (!res.toOption.exists(_._2)) {
        wrong += k
        res.failed.foreach(e => ctx.extra.put(s"error.$k", String.valueOf(e.getMessage).take(300)))
      }
    }
  }

  def measure(spark: SparkSession): Long = {
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.args.seconds * 1000000000L
    var done = 0
    var round = 0
    while (done < minOps || System.nanoTime() < deadline) {
      new scala.util.Random(ctx.args.seed * 7919L + round + 1).shuffle(kinds).foreach { k =>
        val a = System.nanoTime()
        val (op, res) = ctx.asOp(spark, "m", k) { scala.util.Try(runOp(spark, k, full = false)) }
        val b = System.nanoTime()
        res.foreach(r => ctx.resultRows.addAndGet(r._1.length))
        ctx.samples.add(Sample(k, op, b - a, !wrong(k) && res.toOption.exists(_._2)))
        done += 1
      }
      round += 1
    }
    System.nanoTime() - t0
  }
}

object Llm {
  /** LLM-pipeline keys, one or more per family (dedup, similarity, text,
    * embedding, clustering, end-to-end pipeline). */
  val Keys: IndexedSeq[String] = IndexedSeq("dedup_exact", "sim_topk", "text_quality")
  val ApiOps: IndexedSeq[String] = IndexedSeq("api_dedup", "api_exact", "api_ivf")

  val TopK = 10
  val NProbe = 3
  val Threshold = 0.7
}
