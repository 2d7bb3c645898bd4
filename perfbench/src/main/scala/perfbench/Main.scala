package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point: one workload, one seed, one JVM. Prints the result object
  * as the last line of stdout; everything else goes to stderr.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --cpus <n>
  * }}}
  */
object Main {

  /** The end-to-end metrics every untraced run prints: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms",
    "aux_p50_ms" -> "ms", "items_per_s" -> "1/s",
    "disk_bytes_per_item" -> "B", "heap_live_peak_mb" -> "MB", "ok_ratio" -> "ratio")

  val Workloads: Map[String, Harness => Measured] = Map(
    "catalog_sync" -> CatalogSync.run,
    "stream_dedup" -> StreamDedup.run,
    "ann_serve" -> AnnServe.run)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = args("work")
    val cpus = args.getOrElse("cpus", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val traced = args.getOrElse("trace", "0") == "1"
    val h = new Harness(spark, args("seed").toLong, args("seconds").toInt,
      new Tracer(spark, traced), work)
    val measured = run(h)
    h.note("workload done")
    val metrics =
      if (traced) Layers.metrics(h, measured, workload)
      else endToEnd(h, measured)
    spark.stop()
    if (h.errors.nonEmpty) System.err.println(
      s"[perfbench] ${h.failed} failed of ${h.attempted}; first: ${h.errors.head}")
    println(resultJson(h.failed == 0, h.attempted, h.failed, metrics))
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def endToEnd(h: Harness, m: Measured): Seq[(String, Double, String)] = {
    val values = Map(
      "setup_s" -> Stats.median(h.setupSeconds.toSeq),
      "op_p50_ms" -> med(m.op),
      "aux_p50_ms" -> med(m.aux),
      "items_per_s" -> (if (m.itemSeconds > 0) m.items / m.itemSeconds else 0.0),
      "disk_bytes_per_item" -> (if (m.diskItems > 0) m.diskBytes.toDouble / m.diskItems else 0.0),
      "heap_live_peak_mb" -> h.heapPeakMb,
      "ok_ratio" -> (h.attempted - h.failed).toDouble / math.max(1L, h.attempted))
    System.err.println(s"[perfbench] samples: ${m.op.size} op, ${m.aux.size} aux, ${m.fresh.size} fresh; " +
      s"highest percentile with >=10 samples beyond it: ${Stats.tailPercentile(m.op.size)}" +
      Stats.tailPercentile(m.op.size).map(q => s" = ${Stats.percentile(m.op, q)} ms").getOrElse("") +
      "; " +
      s"op ms in order: ${m.op.map(x => math.round(x)).mkString(" ")}; " +
      s"aux ms in order: ${m.aux.map(x => math.round(x)).mkString(" ")}")
    EndToEnd.map { case (n, u) => (n, values(n), u) }
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0.0" else d.toString

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** The per-layer metrics of a traced run. Per-call counters are medians
  * over the calls of that name in this run; a call the workload never
  * makes reads 0. */
object Layers {
  /** (counter, unit) recorded for every traced library call. */
  val CallCounters: Seq[(String, String)] = Seq("p50_ms" -> "ms", "jobs" -> "count",
    "tasks" -> "count", "driver_ms" -> "ms", "task_ms" -> "ms", "shuffle_bytes" -> "B")

  val Calls: Seq[String] = Seq(
    "ops.CatalogQueries.search", "ops.CatalogQueries.byId", "ops.CatalogQueries.byIds",
    "ops.CatalogQueries.titleRegexSearch", "ops.MetaSync.coverage",
    "ops.Reports.reportStats", "ops.Moderation.markIncorrect",
    "ingest.SyncJob.run", "ingest.SyncJob.refreshCurrentYear",
    "streaming.DedupStream.batch", "streaming.DedupStream.visibleIndex",
    "datax.Similarity.pqIndexWrite", "datax.Similarity.pqIndexAppend",
    "datax.Similarity.ivfPqTopK")

  val Functions: Seq[String] = Seq("NearestCentroid.slot", "PqCodes.codes",
    "AdcLookup.adc", "MinSqDist.minSqDist", "DotProduct.dotp")

  /** Figures that are not per-call counters: (name, unit, better). */
  val Extras: Seq[(String, String, String)] = Seq(
    ("ops.rows_scanned_per_row_returned", "ratio", "lower"),
    ("ingest.SyncJob.run.input_rows_per_item", "ratio", "lower"),
    ("ingest.SyncJob.run.output_bytes_per_item", "B", "lower"),
    ("ingest.SyncJob.run.useful_ratio", "ratio", "higher"),
    ("sources.PagedSource.pages_read_per_page_synced", "ratio", "lower"),
    ("streaming.DedupStream.batch.add_batch_ms", "ms", "lower"),
    ("streaming.DedupStream.batch.query_planning_ms", "ms", "lower"),
    ("streaming.DedupStream.batch.wal_commit_ms", "ms", "lower"),
    ("streaming.DedupStream.batch.commit_offsets_ms", "ms", "lower"),
    ("streaming.DedupStream.batch.latest_offset_ms", "ms", "lower"),
    ("streaming.DedupStream.batch.input_rows_per_row", "ratio", "lower"),
    ("datax.Similarity.ivfPqTopK.rows_scanned_per_query", "count", "lower"),
    ("datax.Similarity.ivfPqTopK.recall_at_10", "ratio", "higher")) ++
    Functions.map(f => (s"functions.$f.ns_per_row", "ns", "lower")) ++ Seq(
    ("bench.op.self_ms", "ms", "lower"),
    ("bench.fresh_read.p50_ms", "ms", "lower"),
    ("trace.op_p50_ms", "ms", "lower"),
    ("trace.overhead_ms", "ms", "lower"))

  /** Every per-layer metric: (name, unit, better). */
  val all: Seq[(String, String, String)] =
    Calls.flatMap(c => CallCounters.map { case (k, u) => (s"$c.$k", u, "lower") }) ++ Extras

  def metrics(h: Harness, m: Measured, workload: String): Seq[(String, Double, String)] = {
    h.tracer.settle()
    val spans = h.tracer.allSpans
    val counters = h.tracer.counters()
    val stray = h.tracer.jobs.filter(_.span.isEmpty)
    h.note(s"${h.tracer.jobs.size} jobs, ${stray.size} outside every span: " +
      stray.take(10).map(j => s"${j.jobId}@${j.startMs % 100000}+${j.endMs - j.startMs}ms").mkString(" "))
    Tracer.write(s"${h.work}/../traces/$workload-s${h.seed}.jsonl", spans, counters)
    val v = mutable.LinkedHashMap.empty[String, Double]
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = byId.get(s.parent).map(root).getOrElse(s)
    // the overhead pairs run after the measured ops: not the loop's calls
    val counted = spans.filterNot(root(_).name.startsWith("overhead:"))
    Calls.foreach { c =>
      // the loop's calls when the loop makes this call, else set-up's
      val (inSetup, inLoop) = counted.filter(_.name == c).partition(root(_).name == "setup")
      val cs = if (inLoop.nonEmpty) inLoop else inSetup
      val cc = cs.map(s => counters(s.id))
      v(s"$c.p50_ms") = med(cs.map(_.durationMs))
      v(s"$c.jobs") = med(cc.map(_.jobs.toDouble))
      v(s"$c.tasks") = med(cc.map(_.tasks.toDouble))
      v(s"$c.driver_ms") = med(cc.map(_.driverMs))
      v(s"$c.task_ms") = med(cc.map(_.taskMs.toDouble))
      v(s"$c.shuffle_bytes") = med(cc.map(_.shuffleBytes.toDouble))
    }
    val opsRead = counted.filter(_.name.startsWith("ops.")).map(s => counters(s.id).recordsRead).sum
    h.layer.get("ops.rows_returned").filter(_ > 0).foreach(n =>
      v("ops.rows_scanned_per_row_returned") = opsRead / n)
    val roots = counted.filter(s => s.parent == 0L && s.name != "setup")
    v("bench.op.self_ms") = med(roots.map(Tracer.selfMs(_, spans)))
    v("bench.fresh_read.p50_ms") = med(m.fresh)
    h.layer.foreach { case (k, x) => v(k) = x }
    all.map { case (n, u, _) => (n, v.getOrElse(n, 0.0), u) }
  }
}
