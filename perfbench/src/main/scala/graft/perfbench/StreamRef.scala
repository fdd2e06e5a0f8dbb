package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Sizes of one snapshot workload. */
final case class SnapshotShape(objects: Int, primeObjects: Int, warmups: Int,
                               periodS: Double, burst: Int)

object SnapshotShape {
  /** Reference size: ~5k stream objects per 15-minute snapshot. The period
    * is about twice the untraced warm service time of one snapshot on a
    * 4-core box (3 task slots), so the open loop keeps up with margin.
    */
  val streamRef = SnapshotShape(objects = 5000, primeObjects = 1000,
    warmups = 2, periodS = 3.2, burst = 4)
  val tinyStream = SnapshotShape(300, 300, 1, 0.5, 2)
}

/** `stream_ref`: the snapshot chain in an open loop at reference size.
  *
  * A traced run alternates traced and untraced snapshots through the
  * measured phase; the per-layer metrics come from the traced ones and
  * `bench.trace_overhead_s` is the difference of the two service medians.
  */
final class StreamRef(ctx: BenchContext, shape: SnapshotShape, plantDefect: Boolean) {
  import ctx._

  private val gen = new EnvelopeGen(seed, shape.objects)
  private val rawRoot: Path = Files.createDirectories(work.resolve("raw"))
  private var nextSeq = 0
  private def newKey(): SnapshotKey = { val k = SnapshotKey(nextSeq); nextSeq += 1; k }

  /** Bring up a fresh pipeline instance and prime it with one snapshot;
    * returns the instance and its bring-up seconds.
    */
  private def bringUp(i: Int): (SnapshotChain, Double, Planted) = {
    val t0 = System.nanoTime()
    val chain = new SnapshotChain(spark, trace, work.resolve(s"state$i").toString, s"pb$i")
    chain.plantDefect = plantDefect
    val primeGen = new EnvelopeGen(seed, shape.primeObjects)
    val r = primeGen.render(newKey())
    val dir = primeGen.write(rawRoot, r)
    chain.run(r.planted.key, dir.toString)
    (chain, (System.nanoTime() - t0) / 1e9, r.planted)
  }

  /** One snapshot, traced or not; returns its service seconds. */
  private def runOne(chain: SnapshotChain, r: Rendered, dir: Path, traced: Boolean,
                     outs: mutable.ArrayBuffer[ChainOut], planted: mutable.ArrayBuffer[Planted]): Double = {
    trace.traced = traced
    val t0 = System.nanoTime()
    outs += chain.run(r.planted.key, dir.toString)
    planted += r.planted
    (System.nanoTime() - t0) / 1e9
  }

  def run(report: Report): Unit = {
    // setup: three bring-ups, the last one is kept; `setup_s` is their median
    val ups = (0 until 3).map { i =>
      val u = bringUp(i)
      if (i < 2) u._1.dropDatabase()
      u
    }
    report.e2e("setup_s", Stats.median(ups.map(_._2)), "s")
    report.note("bench.setup_first_s", ups.head._2, "s")
    val chain = ups.last._1
    val planted = mutable.ArrayBuffer(ups.last._3)
    val outs = mutable.ArrayBuffer.empty[ChainOut]

    // closed-loop untraced warm-up
    (0 until shape.warmups).foreach { _ =>
      val r = gen.render(newKey())
      runOne(chain, r, gen.write(rawRoot, r), traced = false, outs, planted)
    }
    trace.reset()
    listener.reset(spark.sparkContext)
    val firstOut = outs.size

    val period = shape.periodS
    val steady = math.max(1, math.floor(seconds / period).toInt)
    val keys = (0 until steady).map(_ => newKey())
    final case class Arrival(r: Rendered, dir: Path, dueNs: Long, lagS: Double)
    val arrivals = new java.util.concurrent.LinkedBlockingQueue[Arrival]()
    val committed = new AtomicInteger(0)
    @volatile var backlogEnd = 0
    val measure = new Measure(ctx)
    val t0 = System.nanoTime()
    // Generator thread: writes snapshot j at t0 + j*period into the raw
    // directory and announces it, never waiting for the pipeline.
    val genThread = new Thread(() => {
      keys.zipWithIndex.foreach { case (key, j) =>
        val r = gen.render(key)
        val due = t0 + (j * period * 1e9).toLong
        val sleepMs = (due - System.nanoTime()) / 1000000L
        if (sleepMs > 0) Thread.sleep(sleepMs)
        val dir = gen.write(rawRoot, r)
        arrivals.put(Arrival(r, dir, due, (System.nanoTime() - due) / 1e9))
      }
      val sleepMs = (t0 + (steady * period * 1e9).toLong - System.nanoTime()) / 1000000L
      if (sleepMs > 0) Thread.sleep(sleepMs)
      backlogEnd = steady - committed.get()
    }, "perfbench-generator")
    genThread.setDaemon(true)
    genThread.start()
    // a traced run traces every other measured snapshot
    var unit = 0
    def nextTraced(): Boolean = { unit += 1; traceMode && unit % 2 == 1 }
    val latencies, service, lags = mutable.ArrayBuffer.empty[Double]
    val tracedService, untracedService = mutable.ArrayBuffer.empty[Double]
    def timed(r: Rendered, dir: Path): Unit = {
      val traced = nextTraced()
      val s = runOne(chain, r, dir, traced, outs, planted)
      service += s
      (if (traced) tracedService else untracedService) += s
    }
    keys.foreach { _ =>
      val a = arrivals.take()
      timed(a.r, a.dir)
      latencies += (System.nanoTime() - a.dueNs) / 1e9
      lags += a.lagS
      committed.incrementAndGet()
    }
    // Final burst, once the steady snapshots are committed: several land at
    // once and their drain time gives capacity. The generator meanwhile only
    // waits for the window's end to read the backlog.
    val burst = (0 until shape.burst).map(_ => gen.render(newKey()))
    val b0 = System.nanoTime()
    val dirs = burst.map(r => gen.write(rawRoot, r))
    burst.zip(dirs).foreach { case (r, d) => timed(r, d) }
    val drain = (System.nanoTime() - b0) / 1e9
    genThread.join()
    trace.traced = false
    val units = keys.size + burst.size
    measure.finish(report, units, outs.drop(firstOut).count(_.traced), "snapshots")

    val (pct, tail) = Stats.tail(latencies.toSeq)
    report.e2e("latency_p50_s", Stats.median(latencies.toSeq), "s")
    report.note("latency_tail_s", tail, "s")
    report.e2e("throughput_per_s", burst.size / drain, "1/s")
    report.note("capacity_snapshots_per_s", burst.size / drain, "1/s")
    report.note("latency_tail_percentile", pct, "%")
    report.note("latency_samples", latencies.size.toDouble, "count")
    report.samples("latency_s", latencies.toSeq)
    report.samples("service_s", service.toSeq)
    report.note("bench.period_s", period, "s")
    report.note("bench.generator_lag_max_s", lags.max, "s")
    report.note("bench.backlog_end", backlogEnd.toDouble, "count")
    report.note("bench.service_p50_s", Stats.median(service.toSeq), "s")
    if (traceMode) {
      layerMetrics(report, outs.drop(firstOut).filter(_.traced).toSeq)
      report.samples("traced_service_s", tracedService.toSeq)
      report.samples("untraced_service_s", untracedService.toSeq)
      report.layer("bench.trace_overhead_s",
        Stats.median(tracedService.toSeq) - Stats.median(untracedService.toSeq), "s")
    }
    verify(report, chain, outs.toSeq, planted.toSeq)
  }

  /** Per-snapshot layer metrics of the traced snapshots. */
  private def layerMetrics(report: Report, outs: Seq[ChainOut]): Unit = {
    val self = trace.selfSeconds
    def medSelf(name: String) = Stats.median(self.collect { case (s, v) if s.name == name => v })
    Seq("sources.read" -> "sources.read_s", "operators.process" -> "operators.process_s",
      "operators.curate" -> "operators.curate_s", "operators.popularity" -> "operators.popularity_s",
      "plans.upsert_dim" -> "plans.upsert_dim_s", "plans.pack" -> "plans.pack_s",
      "sink.load" -> "sink.load_s").foreach { case (span, metric) =>
      report.layer(metric, medSelf(span), "s")
    }
    val n = math.max(1, outs.size).toDouble
    val src = listener.byGroup.get("sources.read")
    report.layer("sources.bytes_read", src.map(_.inputBytes).getOrElse(0L) / n, "bytes")
    report.layer("sources.files_read", outs.map(_.filesRead.toDouble).sum / n, "count")
    report.layer("plans.dim_delta_rows", outs.map(_.deltaRows.toDouble).sum / n, "rows")
    val raw = outs.map(_.rawRows).sum
    report.layer("operators.dedup_keep_ratio",
      if (raw == 0) 0.0 else outs.map(_.curatedRows).sum.toDouble / raw, "ratio")
  }

  /** Served Derby rows, the users dimension and every pack plan against
    * what the generator planted.
    */
  private def verify(report: Report, chain: SnapshotChain, outs: Seq[ChainOut],
                     planted: Seq[Planted]): Unit = {
    val served = chain.servedCounts()
    planted.foreach { p =>
      val got = served.getOrElse((p.key.day, p.key.time), (0L, 0L))
      report.check(got == (p.factRows.toLong, p.notAvailable.toLong),
        s"snapshot ${p.key.dir}: served (rows, notavailable) $got, planted (${p.factRows}, ${p.notAvailable})")
    }
    val plantedByKey = planted.map(p => p.key -> p).toMap
    outs.foreach { o =>
      val p = plantedByKey(o.key)
      report.check(o.packRows == p.categories && o.packWeight == p.factRows && o.packGroupsOk,
        s"pack plan ${o.key.dir}: ${o.packRows} categories weighing ${o.packWeight}, " +
          s"planted ${p.categories} weighing ${p.factRows}")
    }
    val users = planted.flatMap(_.users).distinct.size.toLong
    val dimRows = chain.dimRows()
    report.check(dimRows == users, s"users dim holds $dimRows rows, planted $users users")
    if (traceMode) {
      report.layer("state.dim_rows", dimRows.toDouble, "rows")
      report.layer("state.dim_bytes", chain.dimBytes().toDouble, "bytes")
      report.layer("sink.rows_loaded", Stats.mean(outs.filter(_.traced).map(o =>
        served.getOrElse((o.key.day, o.key.time), (0L, 0L))._1.toDouble)), "rows")
    }
    report.note("bench.checked_snapshots", planted.size.toDouble, "count")
  }
}
