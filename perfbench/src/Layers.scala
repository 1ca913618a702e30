package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run, from the spans the benchmark
  * recorded around calls into each module and the listener's per-op
  * execution counters. Ops of the measured window only (warm-up ops carry
  * a different job-group prefix), except `session.build_s` and the
  * codegen figures, which belong to set-up. */
object Layers {
  def compute(ctx: Ctx, wallNs: Long, gcMs: Long, cgCount: Long, cgMean: Double): Seq[(String, (Double, String))] = {
    val spans = ctx.tracer.all
    val measuredPrefix = s"${ctx.args.workload}-m-"
    val measured = spans.filter(_.op.startsWith(measuredPrefix))
    val ops = measured.filter(_.name == "op").map(_.op).toSet ++
      measured.filter(_.name.startsWith("repl.")).map(_.op)
    val nOps = ops.size.max(1).toDouble
    def meanMs(name: String): Option[Double] = {
      val d = measured.filter(_.name == name).map(_.durNs / 1e6)
      if (d.isEmpty) None else Some(d.sum / d.size)
    }
    val ex = ctx.listener.snapshot(ops)
    val shapes = ctx.planShapes.asScala.toVector

    val out = Seq.newBuilder[(String, (Double, String))]
    def put(k: String, v: Double, unit: String): Unit = out += k -> (v, unit)
    put("session.build_s", spans.filter(_.name == "session").map(_.durNs).sum / 1e9, "s")
    meanMs("tables.register").foreach(put("tables.register_ms", _, "ms"))
    meanMs("plan.analyze").foreach(put("plan.analyze_ms", _, "ms"))
    meanMs("plan.plan").foreach(put("plan.plan_ms", _, "ms"))
    if (shapes.nonEmpty) {
      put("plan.nodes", shapes.map(_._1).sum.toDouble / shapes.size, "count")
      put("plan.exchanges", shapes.map(_._2).sum.toDouble / shapes.size, "count")
    }
    meanMs("ops.build").foreach(v => put("ops.build_s", v / 1e3, "s"))
    put("exec.jobs", ex.jobs / nOps, "count")
    put("exec.stages", ex.stages / nOps, "count")
    put("exec.tasks", ex.tasks / nOps, "count")
    put("exec.task_run_s", ex.runMs / 1e3 / nOps, "s")
    put("exec.task_cpu_s", ex.cpuNs / 1e9 / nOps, "s")
    put("exec.core_busy_ratio", ex.runMs / 1e3 / (wallNs / 1e9 * ctx.args.cpus), "1")
    put("exec.task_wait_ms", if (ex.tasks == 0) 0.0 else ex.waitMs.toDouble / ex.tasks, "ms")
    put("exec.shuffle_write_bytes", ex.shuffleWrite / nOps, "bytes")
    put("exec.shuffle_read_bytes", ex.shuffleRead / nOps, "bytes")
    put("exec.spill_bytes", ex.spill / nOps, "bytes")
    put("exec.gc_ms", gcMs.toDouble, "ms")
    put("exec.codegen_compile_ms", cgCount * cgMean, "ms")
    put("exec.codegen_compiles", cgCount.toDouble, "count")
    val rows = ctx.resultRows.get
    if (rows > 0) put("exec.input_rows_per_out_row", ex.inputRows.toDouble / rows, "1")
    // repl: statement-level figures and jobs attributed to inserts
    Seq("insert", "select", "sql", "meta").foreach { k =>
      val d = measured.filter(_.name == s"repl.$k").map(_.durNs / 1e6).sorted.toIndexedSeq
      if (d.nonEmpty) put(s"repl.${k}_ms", Main.pct(d, 0.5), "ms")
    }
    val insertOps = measured.filter(_.name == "repl.insert").map(_.op).toSet
    if (insertOps.nonEmpty)
      put("exec.jobs_per_insert", ctx.listener.snapshot(insertOps).jobs.toDouble / insertOps.size, "count")
    Seq("api.minhash_pairs" -> "api.minhash_pairs_s", "api.components" -> "api.components_s",
      "api.ivf_topk" -> "api.ivf_topk_s").foreach { case (n, k) =>
      meanMs(n).foreach(v => put(k, v / 1e3, "s"))
    }
    val parse = spans.filter(_.name == "ingest.parse_line").map(_.durNs / 1e3)
    if (parse.nonEmpty) put("ingest.parse_line_us", parse.sum / parse.size, "us")
    ctx.extra.asScala.collect {
      case (k, v: Double) if k.startsWith("layer.") => put(k.stripPrefix("layer."), v, unitOf(k))
    }
    // self time per layer, per measured op
    val self = ctx.tracer.selfTimes
    measured.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      put(s"self.$n" + "_ms", ss.map(s => self(s.id)).sum / 1e6 / nOps, "ms")
    }
    out.result()
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes"
    else if (k.contains("recall")) "1"
    else if (k.endsWith("_ms")) "ms" else "count"
}
