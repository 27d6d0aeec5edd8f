package graft.perfbench

/** The attribution report of a traced run: per layer, its self time,
  * the time inside its calls (build) against the time its Spark jobs
  * ran (exec), jobs, shuffle, and the dedup useful-over-attempted
  * ratios — each a mean per traced unit. Layers a workload never calls
  * report 0. */
final case class Attribution(tracer: Tracer, traced: Seq[Main.Ran],
    untracedSteady: Seq[Double]) {
  import Attribution._

  private val n = math.max(traced.size, 1).toDouble
  private val tracedUnits = traced.map(_.i).toSet
  private val spans = tracer.spans.filter(s => tracedUnits(s.unit)).toSeq

  /** Span duration minus the part of it its children cover. */
  private def self(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  private def of(layer: String) = spans.filter(_.layer == layer)
  private def sum(ss: Seq[Span], k: String): Double = ss.map(_.delta.getOrElse(k, 0.0)).sum
  private def count(k: String): Double = tracer.counts.map(_.getOrElse(k, 0.0)).sum
  private def lastCount(k: String): Double =
    tracer.counts.lastOption.flatMap(_.get(k)).getOrElse(0.0)
  private def ratio(a: String, b: String): Double =
    if (count(b) > 0) count(a) / count(b) else 0.0

  final case class Row(layer: String, self: Double, call: Double,
      exec: Double, jobs: Double, buildJobs: Double, shuffleMb: Double,
      compiles: Double)

  val rows: Seq[Row] = Layers.map { l =>
    val ss = of(l)
    val calls = ss.filter(_.kind == "call")
    val execs = ss.filter(_.kind == "exec")
    Row(l, ss.map(self).sum / n, calls.map(_.seconds).sum / n,
      (sum(calls, "job_s") + execs.map(_.seconds).sum) / n,
      sum(ss, "jobs") / n, sum(calls, "jobs") / n, sum(ss, "shuffle_mb") / n,
      sum(ss, "compiles") / n)
  }
  private def row(l: String) = rows.find(_.layer == l).get
  private val units = spans.filter(_.kind == "unit")
  private def perUnit(k: String): Double = sum(units, k) / n

  private val tracedWall = traced.map(_.wall).sorted
  val overheadPct: Double = {
    val u = Stats.quantile(untracedSteady, 0.5)
    if (u > 0 && tracedWall.nonEmpty) (Stats.quantile(tracedWall, 0.5) / u - 1) * 100 else 0.0
  }

  def metrics: Seq[(String, Double, String)] = Seq(
    ("ingest.exec_s", row("ingest").exec, "s"),
    ("ingest.rows", count("ingest.rows") / n, "count"),
    ("profile.exec_s", row("profile").exec, "s"),
    ("profile.jobs", row("profile").jobs, "count"),
    ("profile.shuffle_mb", row("profile").shuffleMb, "MB"),
    ("cluster.call_s", row("cluster").call, "s"),
    ("rules.call_s", row("rules").call, "s"),
    ("rules.exec_s", row("rules").exec, "s"),
    ("rules.violations", count("rules.violations") / n, "count"),
    ("outlier.exec_s", row("outlier").exec, "s"),
    ("eval.exec_s", row("eval").exec, "s"),
    ("eval.shuffle_mb", row("eval").shuffleMb, "MB"),
    ("dedup.build_s", row("dedup").call, "s"),
    ("dedup.build_jobs", row("dedup").buildJobs, "count"),
    ("dedup.exec_s", row("dedup").exec, "s"),
    ("dedup.bloom_confirmed_per_hit", ratio("dedup.bloom_confirmed", "dedup.bloom_hits"), "ratio"),
    ("dedup.lsh_verified_per_candidate", ratio("dedup.lsh_verified", "dedup.lsh_candidates"), "ratio"),
    ("text.exec_s", row("text").exec, "s"),
    ("streaming.plan_s", count("streaming.plan_s") / n, "s"),
    ("streaming.add_batch_s", count("streaming.add_batch_s") / n, "s"),
    ("streaming.commit_s", count("streaming.commit_s") / n, "s"),
    ("streaming.state_rows", lastCount("streaming.state_rows"), "count"),
    ("streaming.state_mb", lastCount("streaming.state_mb"), "MB"),
    ("streaming.rows_in", count("streaming.rows_in") / n, "count"),
    ("streaming.rows_out", count("streaming.rows_out") / n, "count"),
    ("codegen.compiles", perUnit("compiles"), "count"),
    ("codegen.compile_s", perUnit("compile_s"), "s"),
    ("catalyst.plan_s", perUnit("plan_s") + count("catalyst.plan_s") / n, "s"),
    ("spark.jobs", perUnit("jobs"), "count"),
    ("spark.stages", perUnit("stages"), "count"),
    ("spark.tasks", perUnit("tasks"), "count"),
    ("spark.task_wait_s", perUnit("task_wait_s"), "s"),
    ("spark.task_s", perUnit("task_s"), "s"),
    ("spark.cpu_s", perUnit("cpu_s"), "s"),
    ("spark.gc_s", perUnit("gc_s"), "s"),
    ("spark.shuffle_mb", perUnit("shuffle_mb"), "MB"),
    ("spark.fetch_wait_s", perUnit("fetch_wait_s"), "s"),
    ("spark.spill_mb", perUnit("spill_mb"), "MB")) ++
    rows.map(r => (s"${r.layer}.self_s", r.self, "s")) ++ Seq(
    ("harness.self_s", units.map(self).sum / n, "s"),
    ("trace.units", traced.size.toDouble, "count"),
    ("trace.overhead_pct", overheadPct, "%"))

  def print(): Unit = {
    println(f"attribution over ${traced.size} traced units (mean per unit), " +
      f"traced p50 ${Stats.quantile(tracedWall, 0.5)}%.4f s vs untraced p50 " +
      f"${Stats.quantile(untracedSteady, 0.5)}%.4f s: overhead $overheadPct%.1f%%")
    println(f"  ${"layer"}%-10s ${"self_s"}%9s ${"build_s"}%9s ${"exec_s"}%9s ${"jobs"}%7s ${"build_jobs"}%10s ${"shuffle_mb"}%10s ${"compiles"}%9s")
    rows.foreach { r =>
      println(f"  ${r.layer}%-10s ${r.self}%9.4f ${r.call}%9.4f ${r.exec}%9.4f ${r.jobs}%7.1f ${r.buildJobs}%10.1f ${r.shuffleMb}%10.2f ${r.compiles}%9.1f")
    }
    println(f"  ${"harness"}%-10s ${units.map(self).sum / n}%9.4f")
    println(f"  dedup bloom confirmed/hit ${ratio("dedup.bloom_confirmed", "dedup.bloom_hits")}%.4f " +
      f"(${count("dedup.bloom_confirmed") / n}%.1f / ${count("dedup.bloom_hits") / n}%.1f per unit), " +
      f"lsh verified/candidate ${ratio("dedup.lsh_verified", "dedup.lsh_candidates")}%.4f " +
      f"(${count("dedup.lsh_verified") / n}%.1f / ${count("dedup.lsh_candidates") / n}%.1f per unit)")
  }
}

object Attribution {
  /** The engine modules the benchmark calls into. */
  val Layers: Seq[String] = Seq("ingest", "profile", "cluster", "rules",
    "outlier", "eval", "dedup", "text", "streaming")
}
