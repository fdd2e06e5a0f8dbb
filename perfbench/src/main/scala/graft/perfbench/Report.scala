package graft.perfbench

import scala.collection.mutable

final case class Metric(name: String, value: Double, unit: String)

/** The result of one workload run: operation counts for `error_rate`, the
  * end-to-end metrics (untraced), the per-layer metrics (traced) and extra
  * metrics that are printed but not part of the result line.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val endToEnd = mutable.ArrayBuffer.empty[Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.ArrayBuffer.empty[Metric]
  val failures = mutable.ArrayBuffer.empty[String]
  /** The samples behind each percentile and median, printed in full. */
  val sampleSets = mutable.LinkedHashMap.empty[String, Seq[Double]]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd += Metric(name, value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = Metric(name, value, unit)
  def note(name: String, value: Double, unit: String): Unit = info += Metric(name, value, unit)
  def samples(name: String, xs: Seq[Double]): Unit = sampleSets(name) = xs
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** The highest percentile with at least `beyond` samples above it, as
    * (percentile, value); the maximum when there are too few samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (100.0, 0.0)
    else if (n <= beyond) (100.0, s.last)
    else (100.0 * (n - beyond) / n, s(n - beyond - 1))
  }
}

/** Names of the per-layer metrics, in the order `BENCHMARK.json` lists
  * them. Every workload reports all of them, 0 where it does not reach
  * the layer.
  */
object LayerNames {
  val families: Seq[String] = Seq("relational", "iterative", "streaming", "text")
  val all: Seq[(String, String)] = Seq(
    "driver.jobs" -> "count", "driver.stages" -> "count", "driver.tasks" -> "count",
    "driver.planning_s" -> "s", "driver.executor_busy_ratio" -> "ratio", "driver.gc_s" -> "s",
    "sources.read_s" -> "s", "sources.bytes_read" -> "bytes", "sources.files_read" -> "count",
    "operators.process_s" -> "s", "operators.curate_s" -> "s", "operators.popularity_s" -> "s",
    "operators.dedup_keep_ratio" -> "ratio",
    "plans.upsert_dim_s" -> "s", "plans.dim_delta_rows" -> "rows", "plans.pack_s" -> "s",
    "state.dim_rows" -> "rows", "state.dim_bytes" -> "bytes",
    "sink.load_s" -> "s", "sink.rows_loaded" -> "rows",
    "exchange.shuffle_write_bytes" -> "bytes", "exchange.shuffle_read_bytes" -> "bytes",
    "exchange.spill_bytes" -> "bytes", "exchange.task_skew" -> "ratio",
  ) ++ families.flatMap(f => Seq(
    s"mix.$f.wall_s" -> "s", s"mix.$f.jobs" -> "count",
    s"mix.$f.shuffle_bytes" -> "bytes", s"mix.$f.planning_s" -> "s")) ++ Seq(
    "bench.trace_overhead_s" -> "s", "bench.close_jobs" -> "count")

  def zeroFill(r: Report): Unit =
    all.foreach { case (n, u) => if (!r.layers.contains(n)) r.layer(n, 0.0, u) }
}
