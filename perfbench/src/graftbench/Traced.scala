package graftbench

import java.nio.file.{Files, Path}

/** Per-layer metrics from the span tree of a traced run, and the span
  * file. Batch figures are per timed pass (the mean over passes), so a
  * count that repeats exactly pass after pass reads as a whole number.
  */
object Traced {
  def layerMetrics(spans: Seq[Span], res: Result): Unit = {
    val kids = spans.groupBy(_.parent)
    def children(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil)
    def below(s: Span): Seq[Span] =
      children(s).flatMap(c => c +: below(c))
    def dur(s: Span): Double =
      if (s.endNs < s.startNs) 0.0 else (s.endNs - s.startNs) / 1e9
    def sum(ss: Seq[Span], k: String): Double =
      ss.map(_.attrs.getOrElse(k, 0.0)).sum

    val dfs = spans.filter(_.layer == "dfs")
    for (n <- Seq("compile", "plan"))
      res.metric(s"dfs.${n}_s", dfs.filter(_.name == n).map(dur).sum, "s")

    val passes = spans.filter(s => s.layer == "bench" && s.name == "pass")
    val np = math.max(1, passes.size).toDouble
    val queries = passes.flatMap(children)
    val builds = queries.flatMap(children).filter(_.layer == "packs")
    val execs = queries.flatMap(children).filter(_.layer == "operators")
    def jobs(ss: Seq[Span]) = ss.flatMap(below).filter(_.layer == "spark.job")
    def stages(ss: Seq[Span]) = ss.flatMap(below).filter(_.layer == "spark.stage")
    def per(name: String, v: Double, unit: String): Unit =
      res.metric(name, v / np, unit)

    per("packs.build_s", builds.map(dur).sum, "s")
    per("packs.build_jobs", jobs(builds).size, "count")
    per("packs.build_tasks", sum(stages(builds), "tasks"), "count")
    per("packs.build_task_s", sum(stages(builds), "task_run_s"), "s")
    per("core.persist_bytes", sum(queries, "persist_bytes"), "bytes")

    val execS = execs.map(dur).sum
    val st = stages(execs)
    per("operators.exec_s", execS, "s")
    per("operators.exec_jobs", jobs(execs).size, "count")
    per("operators.exec_stages", st.size, "count")
    per("operators.exec_tasks", sum(st, "tasks"), "count")
    per("operators.task_run_s", sum(st, "task_run_s"), "s")
    per("operators.task_cpu_s", sum(st, "task_cpu_s"), "s")
    per("operators.gc_s", sum(st, "gc_s"), "s")
    per("operators.exchanges", sum(execs, "exchanges"), "count")
    for (k <- Seq("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "output_bytes"))
      per(s"operators.$k", sum(st, k), "bytes")
    res.metric("operators.core_busy_share",
      if (execS > 0) sum(st, "task_run_s") / (execS * Main.Cores) else 0.0,
      "ratio")

    val coverage = queries.map { q =>
      children(q).filter(c => c.layer == "packs" || c.layer == "operators")
        .map(dur).sum / math.max(dur(q), 1e-9)
    }
    res.metric("bench.span_coverage_min",
      if (coverage.isEmpty) 0.0 else coverage.min, "ratio")
    val failedJobs = spans.count(s => s.layer.startsWith("spark.") &&
      s.attrs.contains("failed"))
    res.metric("bench.failed_spark_jobs", failedJobs, "count")
  }

  /** One JSON object per span: id, parent, layer, name, start and end
    * (ns, monotonic) and the span's counters. */
  def writeSpans(spans: Seq[Span], out: Path): Unit = {
    val lines = spans.map { s =>
      val a = s.attrs.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
        .mkString("{", ", ", "}")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": ${Json.str(s.layer)}, """ +
        s""""name": ${Json.str(s.name)}, "start_ns": ${s.startNs}, """ +
        s""""end_ns": ${s.endNs}, "attrs": $a}"""
    }
    Files.writeString(out, lines.mkString("", "\n", "\n"))
  }
}
