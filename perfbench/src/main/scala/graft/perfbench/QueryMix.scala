package graft.perfbench

import graft.SparkEntry
import graft.sources.PathIO
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** `query_mix`: a closed loop over a fixed list of contract queries in four
  * families, hermetic like `graft.Bench` (cache cleared and per-invocation
  * state directories deleted after every invocation). The seed fixes the
  * query order of every pass.
  *
  * Each invocation is timed over one action that both runs the query and
  * fingerprints its output: the row count and two order-independent sums
  * over a 64-bit hash of every row. The fingerprints recorded in
  * `perfbench/fingerprints.tsv` are checked on every invocation.
  *
  * A traced run alternates traced and untraced invocations of each query;
  * the per-family metrics come from the traced ones and
  * `bench.trace_overhead_s` sums, over the queries, the difference of the
  * traced and untraced medians.
  */
final class QueryMix(ctx: BenchContext, dataDir: String, fingerprintFile: java.nio.file.Path) {
  import ctx._

  val families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q03_star_join", "q19_snapshot_chain"),
    "iterative" -> Seq("q127_pagerank", "q65_components"),
    "streaming" -> Seq("q64_streaming_curation", "q386_streaming_price_index"),
    "text" -> Seq("q66_decontamination", "q189_firewalled_split", "q188_threshold_sweep"))

  private val familyOf = families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType          => true
    case a: ArrayType        => hasMap(a.elementType)
    case s: StructType       => s.fields.exists(f => hasMap(f.dataType))
    case _                   => false
  }

  /** (rows, hash sums) of `df` in one job, independent of row order. */
  def fingerprint(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${l(0)}:${l(1)}:${l(2)}"
  }

  def recorded: Map[String, String] =
    if (!java.nio.file.Files.exists(fingerprintFile)) Map.empty
    else scala.io.Source.fromFile(fingerprintFile.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, fp) = l.split("\t"); q -> fp }.toMap

  def run(report: Report, only: Option[Set[String]], plantDefect: Boolean,
          record: Boolean): Unit = {
    val all = SparkEntry.queries
    val names = families.flatMap(_._2).filter(q => only.forall(_(q)))
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val expected = recorded
    val seen = mutable.Map.empty[String, String]

    def invoke(q: String, traced: Boolean): Double = {
      trace.traced = traced
      val t0 = System.nanoTime()
      val fp = trace.span(s"mix.${familyOf(q)}.$q") {
        val df = all(q)(spark, dataDir)
        fingerprint(if (plantDefect && q == names.head) df.union(df.limit(1)) else df)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      trace.traced = false
      spark.catalog.clearCache()
      SparkEntry.drainInvocationStateDirs().foreach(d => PathIO.deleteDir(spark, d))
      if (record) seen(q) = fp
      else report.check(expected.get(q).contains(fp),
        s"$q fingerprint $fp, recorded ${expected.getOrElse(q, "none")}")
      secs
    }

    // setup: build the query map and scan every table in one job, three times
    val setups = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries
      graft.Tables.all.map(t => graft.Tables.load(spark, dataDir, t).select(lit(1)))
        .reduce(_ union _).count()
      (System.nanoTime() - t0) / 1e9
    }
    report.e2e("setup_s", Stats.median(setups), "s")
    report.note("bench.setup_first_s", setups.head, "s")

    val rng = new java.util.Random(seed)
    def order(): Seq[String] = {
      val a = new java.util.ArrayList[String](); names.foreach(a.add)
      java.util.Collections.shuffle(a, rng)
      (0 until a.size).map(a.get)
    }
    // One untraced warm-up pass, then invocations until `seconds` have
    // passed, the last pass cut short; the first pass is always whole. A
    // traced run traces every other invocation of each query and runs at
    // least two whole passes, so every query runs both ways.
    order().foreach(invoke(_, traced = false))
    trace.reset()
    listener.reset(spark.sparkContext)
    val measure = new Measure(ctx)
    val t0 = System.nanoTime()
    val times = mutable.Map.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    def enough = elapsed >= seconds && pass >= (if (traceMode) 2 else 1)
    while (!enough) {
      val qs = order().iterator
      var passS = 0.0
      while (qs.hasNext && (traceMode || !enough)) {
        val q = qs.next()
        val traced = traceMode && (pass + names.indexOf(q)) % 2 == 0
        val s = invoke(q, traced)
        times.getOrElseUpdate((q, traced), mutable.ArrayBuffer.empty) += s
        passS += s
      }
      if (!qs.hasNext) passTimes += passS
      pass += 1
    }
    def timesOf(q: String, traced: Boolean) = times.get((q, traced)).map(_.toSeq).getOrElse(Nil)
    val passes = times.values.map(_.size).sum.toDouble / names.size
    measure.finish(report, passes, names.map(timesOf(_, true).size).sum.toDouble / names.size, "passes")
    if (record) {
      val lines = names.map(q => s"$q\t${seen(q)}")
      java.nio.file.Files.write(fingerprintFile,
        ("# query\trows:sum(lo32 xxhash64):sum(hi32 xxhash64)\n" + lines.mkString("", "\n", "\n"))
          .getBytes("UTF-8"))
    }

    val medians = names.map(q => q -> Stats.median(timesOf(q, false) ++ timesOf(q, true))).toMap
    val total = medians.values.sum
    val all1 = times.values.flatten.toSeq
    val (pct, tail) = Stats.tail(all1)
    report.e2e("latency_p50_s", Stats.geomean(medians.values.toSeq), "s")
    report.note("latency_tail_s", tail, "s")
    report.e2e("throughput_per_s", names.size / total, "1/s")
    report.note("mix_total_s", total, "s")
    report.note("mix_geomean_s", Stats.geomean(medians.values.toSeq), "s")
    report.note("latency_tail_percentile", pct, "%")
    report.note("latency_samples", all1.size.toDouble, "count")
    report.samples("pass_s", passTimes.toSeq)
    names.foreach(q => report.note(s"query.$q.median_s", medians(q), "s"))
    if (!traceMode) return

    // per traced invocation of each query, summed over a family: per pass
    families.foreach { case (f, qs) =>
      def perPass(v: LayerCounts => Long): Double = qs.filter(medians.contains).map { q =>
        listener.byGroup.get(s"mix.$f.$q").map(v).getOrElse(0L).toDouble /
          math.max(1, timesOf(q, true).size)
      }.sum
      report.layer(s"mix.$f.wall_s", qs.filter(medians.contains).map(q => Stats.median(timesOf(q, true))).sum, "s")
      report.layer(s"mix.$f.jobs", perPass(_.jobs), "count")
      report.layer(s"mix.$f.shuffle_bytes", perPass(_.shuffleWrite), "bytes")
      report.layer(s"mix.$f.planning_s", perPass(_.planningMs) / 1000, "s")
    }
    // traced minus untraced median of every query, summed: per pass
    val overhead = names.map(q => Stats.median(timesOf(q, true)) - Stats.median(timesOf(q, false)))
    report.samples("trace_overhead_by_query_s", overhead)
    report.layer("bench.trace_overhead_s", overhead.sum, "s")
  }
}
