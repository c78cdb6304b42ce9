package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed loop over a fixed list of registered queries: one client
  * builds each query with `QueryDef.build`, materialises it to the `noop`
  * sink, then moves to the next. A pass is one round over the list.
  *
  * The first pass warms the JVM and writes every result as parquet for
  * the DuckDB oracle check; it is not timed. The JVM keeps getting faster
  * pass after pass for minutes, so a run times a fixed number of passes,
  * one per `secondsPerPass` of the measuring time (rounded, at least
  * one), not as many as fit: every run then measures the same stretch of
  * that warm-up curve.
  */
final class BatchWorkload(queries: Seq[String], secondsPerPass: Double)
    extends Workload {
  private val defs = {
    val all = graft.SparkEntry.queries
    queries.map(q => q -> all(q))
  }
  /** Exchange counts of the write plans executed since the last reset. */
  private val exchanges = mutable.ArrayBuffer.empty[Int]

  override def setup(spark: SparkSession, corpus: String, trace: Trace,
      res: Result): Unit = {
    BatchWorkload.Tables.foreach(t =>
      spark.read.parquet(s"$corpus/$t.parquet").schema)
    if (trace.enabled) spark.listenerManager.register(
      new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          exchanges.synchronized(exchanges += BatchWorkload.exchanges(qe.executedPlan))
        override def onFailure(f: String, qe: QueryExecution,
            e: Exception): Unit = ()
      })
  }

  override def measure(spark: SparkSession, corpus: String, seconds: Double,
      trace: Trace, res: Result, work: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val w0 = System.nanoTime()
    trace.span("bench", "warmup") {
      for ((name, build) <- defs) {
        try trace.span("bench", s"warm-up $name") {
          build(spark, corpus).write.mode("overwrite")
            .parquet(s"$work/out/$name")
        }
        catch { case e: Throwable => res.error(s"$name (warm-up): $e") }
      }
    }
    res.info("warmup_s") = Json.num((System.nanoTime() - w0) / 1e9)
    res.info("queries") = queries.map { q =>
      s"""{"name": ${Json.str(q)}, "oracle": ${
        oracle.get(q).map(Json.str).getOrElse("null")}}"""
    }.mkString("[", ", ", "]")

    val latency = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to math.max(1, math.round(seconds / secondsPerPass).toInt)) {
      val p0 = System.nanoTime()
      trace.span("bench", "pass") {
        for ((name, build) <- defs) {
          val q0 = System.nanoTime()
          res.attempted += 1
          try {
            trace.span("bench", s"query $name") {
              trace.persistTarget = trace.current
              val df = trace.span("packs", "build")(build(spark, corpus))
              exec(df, trace)
              trace.drain()
              trace.persistTarget = -1
            }
            latency += (System.nanoTime() - q0) / 1e9
          } catch { case e: Throwable => res.error(s"$name: $e") }
        }
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val rows = BatchWorkload.inputRows(spark, corpus, queries)
    res.metric("query_p50_s", Stats.quantile(latency.toSeq, 0.5), "s")
    res.metric("query_p90_s", Stats.quantile(latency.toSeq, 0.9), "s")
    res.metric("pass_s", Stats.median(passes.toSeq), "s")
    res.metric("latency_p50_ms", Stats.quantile(latency.toSeq, 0.5) * 1e3, "ms")
    res.metric("latency_p99_ms", Stats.quantile(latency.toSeq, 0.99) * 1e3, "ms")
    res.metric("drain_eps", rows / Stats.median(passes.toSeq), "1/s")
    res.info("passes_s") = passes.map(p => Json.num(p)).mkString("[", ", ", "]")
    res.metric("bench.passes", passes.size, "count")
    res.metric("bench.queries", latency.size, "count")
  }

  /** Materialise `df` to the noop sink; traced, record the Exchange
    * nodes of the executed write plan on the exec span. */
  private def exec(df: DataFrame, trace: Trace): Unit = {
    trace.drain() // construction's own plans must not count below
    exchanges.synchronized(exchanges.clear())
    trace.span("operators", "exec") {
      df.write.format("noop").mode("overwrite").save()
      if (trace.enabled) {
        trace.drain()
        val n = exchanges.synchronized(exchanges.maxOption.getOrElse(0))
        trace.add(trace.current, "exchanges", n)
      }
    }
  }
}

object BatchWorkload {
  /** Construction-heavy LLM-data queries (ROADMAP: most of their jobs
    * run inside `build`). */
  val LlmBuild = Seq("emb_pca_project", "dfs_ppl_kn3", "text_nb_classify",
    "text_dup_grams", "dedup_simhash_pairs", "graph_pagerank",
    "text_bm25_serve_incr")
  /** faxe-core relational queries: scans, shuffles, window and join
    * kernels, with little construction. */
  val RelationalExec = Seq("q1_agg", "agg_percentile", "win_time_sliding",
    "win_session", "join_asof", "join_tolerance", "state_change_detect",
    "state_sequence", "dfs_pipeline", "dfs_join", "dfs_count_window")

  val Tables = Seq("lineitem", "events", "documents", "embeddings")

  /** Input rows one pass reads: each query's source table, counted once
    * per query that reads it. */
  private val source = Map(
    "emb_pca_project" -> "embeddings", "q1_agg" -> "lineitem",
    "agg_percentile" -> "lineitem").withDefault { q =>
    if (q.startsWith("text_") || q.startsWith("dedup_") ||
        q.startsWith("graph_") || q == "dfs_ppl_kn3") "documents"
    else "events"
  }

  def inputRows(spark: SparkSession, corpus: String,
      queries: Seq[String]): Double = {
    val counts = Tables.map(t =>
      t -> spark.read.parquet(s"$corpus/$t.parquet").count()).toMap
    queries.map(q => counts(source(q)).toDouble).sum
  }

  /** Shuffle and broadcast exchanges in an executed plan, looking
    * through adaptive query stages; reused exchanges are not counted. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other =>
      (other.children ++ other.subqueries).map(exchanges).sum
  }
}
