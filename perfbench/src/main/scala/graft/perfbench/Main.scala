package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkInternals

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Everything a workload needs from the run. */
final case class BenchContext(spark: SparkSession, trace: Trace, listener: LayerListener,
                              seed: Long, seconds: Double, traceMode: Boolean,
                              slots: Int, work: Path)

/** Listener and GC counters over one measured phase, reported per unit of
  * work (one snapshot, or one pass of the query mix). Listener counts are
  * per traced unit, since only traced units carry a job group; GC time is
  * per unit of the whole phase.
  */
final class Measure(ctx: BenchContext) {
  private val t0 = System.nanoTime()
  private val gc0 = Measure.gcMs()

  def finish(report: Report, units: Double, tracedUnits: Double, unitsName: String): Unit = {
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = Measure.gcMs() - gc0
    SparkInternals.drainListenerBus(ctx.spark.sparkContext)
    report.note("bench.measured_wall_s", wall, "s")
    report.note(s"bench.measured_$unitsName", units, "count")
    if (!ctx.traceMode) return
    val groups = ctx.listener.byGroup.toSeq
    val program = groups.filter(g => LayerListener.isProgram(g._1)).map(_._2)
    val n = math.max(1.0, tracedUnits)
    report.layer("driver.jobs", program.map(c => c.jobs - c.closeJobs).sum / n, "count")
    report.layer("driver.stages", program.map(_.stages).sum / n, "count")
    report.layer("driver.tasks", program.map(_.tasks).sum / n, "count")
    report.layer("driver.planning_s", program.map(_.planningMs).sum / n / 1000, "s")
    report.layer("driver.executor_busy_ratio",
      groups.map(_._2.runMs).sum / (wall * 1000 * ctx.slots), "ratio")
    report.layer("driver.gc_s", gc / math.max(1.0, units) / 1000, "s")
    report.layer("exchange.shuffle_write_bytes", program.map(_.shuffleWrite).sum / n, "bytes")
    report.layer("exchange.shuffle_read_bytes", program.map(_.shuffleRead).sum / n, "bytes")
    report.layer("exchange.spill_bytes", program.map(_.spill).sum / n, "bytes")
    report.layer("exchange.task_skew",
      if (ctx.listener.skews.isEmpty) 0.0 else Stats.median(ctx.listener.skews.toSeq), "ratio")
    report.layer("bench.close_jobs", program.map(_.closeJobs).sum / n, "count")
    // self times of every span add up to the root spans' wall time
    val self = ctx.trace.selfSeconds
    report.note("bench.span_self_sum_s", self.map(_._2).sum, "s")
    report.note("bench.span_root_sum_s", self.collect { case (s, _) if s.parent < 0 => s.seconds }.sum, "s")
    ctx.trace.write(ctx.work.resolve("spans.jsonl"))
  }
}

object Measure {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Benchmark entry point.
  *
  * {{{
  * graft.perfbench.Main --workload stream_ref|query_mix --seed N
  *   --seconds S --trace 0|1 --work DIR --data SF_DIR --fingerprints FILE
  *   [--tiny] [--plant-defect] [--record-fingerprints] [--digest]
  * }}}
  *
  * Prints `metric <name> <value> <unit>` lines for every metric, then the
  * result line: `{"correct", "attempted", "failed", "metrics"}` with the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceMode = opts.get("trace").contains("1")
    val tiny = flags("tiny")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    if (flags("digest")) {
      // seed determinism: render the first three snapshots, no Spark
      val shape = if (tiny) SnapshotShape.tinyStream else SnapshotShape.streamRef
      val g = new EnvelopeGen(seed, shape.objects)
      println(s"digest ${EnvelopeGen.digest((0 until 3).map(i => g.render(SnapshotKey(i))))}")
      return
    }

    val slots = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", slots.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = Trace.register(spark)
    val ctx = BenchContext(spark, new Trace(spark), listener, seed, seconds, traceMode, slots, work)
    val report = new Report
    val t0 = System.nanoTime()
    workload match {
      case "stream_ref" =>
        new StreamRef(ctx, if (tiny) SnapshotShape.tinyStream else SnapshotShape.streamRef,
          flags("plant-defect")).run(report)
      case "query_mix" =>
        val only = if (tiny) Some(Set("q03_star_join", "q65_components",
          "q386_streaming_price_index", "q66_decontamination")) else None
        new QueryMix(ctx, opts("data"), Paths.get(opts("fingerprints")))
          .run(report, only, flags("plant-defect"), flags("record-fingerprints"))
      case other => sys.error(s"unknown workload: $other")
    }
    report.note("bench.run_s", (System.nanoTime() - t0) / 1e9, "s")
    report.note("error_rate", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
    if (traceMode) LayerNames.zeroFill(report)
    spark.stop()

    report.failures.foreach(f => println(s"check failed: $f"))
    (report.endToEnd ++ report.layers.values ++ report.info).foreach { m =>
      println(f"metric ${m.name} ${m.value}%.6f ${m.unit}")
    }
    report.sampleSets.foreach { case (n, xs) => println(s"samples $n ${xs.map(x => f"$x%.4f").mkString(" ")}") }
    val shown0 = if (traceMode) report.layers.values.toSeq else report.endToEnd.toSeq
    // a metric that is not a finite number is a broken run, not a result
    val shown = shown0.map { m =>
      if (m.value.isFinite) m else { report.check(false, s"${m.name} is ${m.value}"); m.copy(value = 0.0) }
    }
    val metrics = shown.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${report.failed == 0}, "attempted": ${report.attempted}, """ +
      s""""failed": ${report.failed}, "metrics": {${metrics.mkString(", ")}}}""")
  }
}
