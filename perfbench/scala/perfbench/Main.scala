package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Per-seed reference values (`pinned.tsv`: workload, seed, key, value). */
final class Pinned(rows: Seq[(String, Long, String, String)]) {
  private def get(w: String, seed: Long, k: String): Option[String] =
    rows.collectFirst { case (`w`, `seed`, `k`, v) => v }
  def link(seed: Long): Option[(Long, Long)] =
    for (c <- get("link_eval", seed, "correct"); x <- get("link_eval", seed, "cross"))
      yield (c.toLong, x.toLong)
  def digest(seed: Long, op: String): Option[Long] =
    get("text_curation", seed, op).map(_.toLong)
}

object Pinned {
  def load(path: String): Pinned = {
    val p = Paths.get(path)
    if (!JFiles.exists(p)) new Pinned(Nil)
    else new Pinned(JFiles.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => (a(0), a(1).toLong, a(2), a(3))))
  }
}

/** Runs one workload: set up once (a cold session in a fresh JVM),
  * measure closed-loop iterations for the requested seconds, verify,
  * print one JSON line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out DIR --pinned FILE */
object Main {
  /** End-to-end metrics (untraced runs). */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s",
    "out_bytes_per_row" -> "bytes")

  /** Per-layer metrics (traced runs); 0 where a workload never calls
    * the layer. */
  val perLayer: Seq[(String, String)] = Seq(
    "gen.prep_s" -> "s", "gen.prep_jobs" -> "count",
    "gen.eval_s" -> "s", "gen.eval_task_cpu_s" -> "s",
    "mut.stats_s" -> "s", "mut.stats_jobs" -> "count",
    "mut.rewrite_s" -> "s", "mut.rewrite_task_cpu_s" -> "s",
    "sink.write_s" -> "s", "sink.self_s" -> "s", "sink.bytes" -> "bytes",
    "sink.files" -> "count",
    "link.join_s" -> "s", "link.candidates" -> "count",
    "link.candidates_per_match" -> "ratio",
    "link.shuffle_write_bytes" -> "bytes", "link.spill_bytes" -> "bytes",
    "cluster.s" -> "s", "cluster.jobs" -> "count",
    "dedup.minhash_lsh_s" -> "s", "dedup.clusters_s" -> "s",
    "dedup.containment_s" -> "s", "dedup.containment_spill_bytes" -> "bytes",
    "sim.ann_ivf_s" -> "s", "text.tfidf_s" -> "s", "text.bm25_topk_s" -> "s",
    "text.lm_perplexity_s" -> "s",
    "jobs" -> "count", "stages" -> "count", "task_cpu_s" -> "s",
    "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "gc_s" -> "s",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s",
    "plan.planning_s" -> "s",
    "trace.rows_per_s" -> "rows/s", "trace.untraced_rows_per_s" -> "rows/s",
    "trace.overhead" -> "fraction",
    "control.cpu_pre_s" -> "s", "control.cpu_post_s" -> "s",
    "control.shuffle_pre_s" -> "s", "control.shuffle_post_s" -> "s",
    "peak_task_mem_mb" -> "MB",
    "p_abs_err_max" -> "fraction", "link.recall" -> "fraction",
    "link.precision" -> "fraction", "error_rate" -> "fraction")

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, work: String, out: String,
                        pinned: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.names.contains(w),
      s"unknown workload `$w`, expected one of ${Workloads.names.mkString(", ")}")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      need("work"), need("out"), need("pinned"))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Host-drift controls, not gated on: fixed-work CPU (20M xxhash64 in
    * whole-stage codegen) and a fixed-work shuffle (2M rows into 20k
    * groups). Min of two passes each; the first pass of a session also
    * pays code generation. */
  private def controls(spark: SparkSession, cores: Int): (Double, Double) = {
    val cpu = (1 to 2).map(_ => time(spark.range(0L, 20000000L, 1L, cores)
      .selectExpr("bit_xor(xxhash64(id))").collect())._2).min
    val shuffle = (1 to 2).map(_ => time(spark.range(0L, 2000000L, 1L, cores)
      .selectExpr("pmod(xxhash64(id), 20000) as k").groupBy("k").count()
      .selectExpr("bit_xor(count)").collect())._2).min
    (cpu, shuffle)
  }

  private def quietLogs(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.WARN)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    quietLogs()
    JFiles.createDirectories(Paths.get(o.work))
    JFiles.createDirectories(Paths.get(o.out))
    val seeds = new Seeds(o.seed)
    val w = Workloads(o.workload, seeds)
    val pinned = Pinned.load(o.pinned)
    val checks = mutable.ArrayBuffer[Check]()

    // ---- set-up: session creation + one warm-up iteration, which also
    // runs the sink-honesty self-check. Writing the run's stored inputs
    // is benchmark preparation and is left out of `setup_s`.
    val t0 = System.nanoTime()
    val spark = GraftSession.local(o.cores)
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark, enabled = false)
    val sinks = new Sinks(spark, tracer)
    val ctx = new Ctx(spark, tracer, sinks, seeds, o.work)
    val prepareS = time(w.prepare(ctx))._2
    tracer.attach()
    sinks.recording = true
    w.iteration(ctx)
    tracer.drain()
    checks ++= sinks.honesty(tracer.plans.all)
    tracer.detach()
    sinks.recording = false
    sinks.takeWritten()
    val setupS = (System.nanoTime() - t0) / 1e9 - prepareS

    // ---- timed phase: one closed-loop client
    val (cpuPre, shufflePre) = controls(spark, o.cores)
    if (o.trace) spark.sparkContext.addSparkListener(tracer.listener)
    val untracedTimes = mutable.ArrayBuffer[Double]()
    val tracedTimes = mutable.ArrayBuffer[Double]()
    val tracedIters = mutable.ArrayBuffer[(Span, Option[Span], Map[String, Double], Long, Int)]()
    val bytesPerIter = mutable.ArrayBuffer[(Long, Int)]()
    var lastWritten: Seq[String] = Nil
    var failedIters = 0
    val start = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    // iterations run until `--seconds` have passed: at least one, and in a
    // traced run at least five. Metrics are medians over them.
    val minIterations = if (o.trace) 5 else 1
    while (i < minIterations || elapsed < o.seconds) {
      // a traced run measures the tracing overhead within one run: after
      // a first untraced iteration (the JIT is still warming up, so it is
      // left out of the comparison) it runs traced, untraced, untraced,
      // traced, so that the remaining warm-up counts against neither kind
      val traced = o.trace && i > 0 && (i % 4 == 1 || i % 4 == 0)
      if (o.trace) {
        tracer.enabled = traced
        sinks.recording = traced
        if (traced) spark.listenerManager.register(tracer.plans)
      }
      tracer.iter = i
      try {
        val (frames, dt) = time(tracer.span("iteration")(w.iteration(ctx)))
        val written = sinks.takeWritten()
        val sizes = written.map(Files.sizeOf)
        val bytes = (sizes.map(_._1).sum, sizes.map(_._2).sum)
        bytesPerIter += bytes
        lastWritten = written
        if (traced) {
          tracedTimes += dt
          val probeValues = tracer.span("probes")(w.probes(ctx, frames))
          sinks.takeWritten()
          val roots = tracer.spans.filter(s => s.iter == i && s.parent.isEmpty)
          tracedIters += ((roots.find(_.name == "iteration").get,
            roots.find(_.name == "probes"), probeValues, bytes._1, bytes._2))
        } else untracedTimes += dt
      } catch {
        case e: Exception =>
          failedIters += 1
          System.err.println(s"[perfbench] iteration $i failed: $e")
          e.printStackTrace()
      }
      if (traced) {
        // the listener bus delivers query-end events asynchronously
        tracer.drain()
        spark.listenerManager.unregister(tracer.plans)
      }
      tracer.enabled = false
      i += 1
    }
    val timedS = elapsed
    if (o.trace) spark.sparkContext.removeSparkListener(tracer.listener)
    val peakMemMb = tracer.listener.peakTaskMemBytes / 1048576.0
    val (cpuPost, shufflePost) = controls(spark, o.cores)

    // ---- correctness, untimed
    val rowsWritten = lastWritten.map(p => spark.read.parquet(p).count()).sum
    w.outputRows.foreach(n => checks += Check("rows.timed_output", rowsWritten == n,
      s"last timed iteration wrote $rowsWritten rows, expected $n"))
    val verified =
      try Some(w.verify(ctx, pinned))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] verification failed: $e")
          e.printStackTrace()
          checks += Check("verify", ok = false, e.toString)
          None
      }
    verified.foreach(checks ++= _.checks)
    if (o.trace) {
      tracer.drain()
      checks ++= sinks.honesty(tracer.plans.all)
      tracer.assignPlanPhases()
    }
    checks.filterNot(_.ok).foreach(c =>
      System.err.println(s"[perfbench] CHECK FAILED ${c.name}: ${c.detail}"))

    val attempted = i + checks.size
    val failed = failedIters + checks.count(!_.ok)
    val values = verified.map(_.values).getOrElse(Map.empty)

    // ---- metrics
    val metrics: Seq[(String, Double)] =
      if (!o.trace) {
        val bytesMedian = median(bytesPerIter.map(_._1.toDouble).toSeq)
        Seq("setup_s" -> setupS,
          "rows_per_s" -> w.rows / median(untracedTimes.toSeq),
          "out_bytes_per_row" -> bytesMedian / math.max(rowsWritten, 1L))
      } else {
        val layer = tracedIters.map { case (it, probes, pv, bytes, files) =>
          Layers.of(w, it, probes, pv, bytes, files)
        }
        val keys = perLayer.map(_._1)
        val fromSpans = keys.map(k => k -> median(layer.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        val tracedRps = w.rows / median(tracedTimes.toSeq)
        val untracedRps = w.rows / median(untracedTimes.toSeq.drop(1))
        val extra = Map(
          "trace.rows_per_s" -> tracedRps,
          "trace.untraced_rows_per_s" -> untracedRps,
          "trace.overhead" -> (untracedRps / tracedRps - 1),
          "control.cpu_pre_s" -> cpuPre, "control.cpu_post_s" -> cpuPost,
          "control.shuffle_pre_s" -> shufflePre,
          "control.shuffle_post_s" -> shufflePost,
          "peak_task_mem_mb" -> peakMemMb,
          "error_rate" -> failed.toDouble / attempted) ++ values
        keys.map(k => k -> extra.getOrElse(k, fromSpans(k)))
      }
    val units = (endToEnd ++ perLayer).toMap
    val result = Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.RawJson(Json.obj(metrics.map { case (k, v) =>
        k -> Json.RawJson(Json.obj(Seq("value" -> v, "unit" -> units(k))))
      }))))

    // ---- the run record: spans, checks, controls, iteration times
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    val record = Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> o.cores, "rows_per_iteration" -> w.rows,
      "setup_s" -> setupS, "prepare_inputs_s" -> prepareS,
      "timed_s" -> timedS,
      "untraced_iteration_s" -> untracedTimes.toSeq,
      "traced_iteration_s" -> tracedTimes.toSeq,
      "rows_written_per_iteration" -> rowsWritten,
      "sink_bytes_per_iteration" -> bytesPerIter.map(_._1).toSeq,
      "controls" -> Map("cpu_pre_s" -> cpuPre, "cpu_post_s" -> cpuPost,
        "shuffle_pre_s" -> shufflePre, "shuffle_post_s" -> shufflePost),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)).toSeq,
      "values" -> values, "facts" -> verified.map(_.facts).getOrElse(Map.empty),
      "result" -> Json.RawJson(result)))
    JFiles.write(Paths.get(o.out, s"$tag.json"), record.getBytes(StandardCharsets.UTF_8))
    if (o.trace)
      JFiles.write(Paths.get(o.out, s"$tag.spans.jsonl"),
        tracer.spans.map(_.toJson).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))

    // nothing may print after the result line: silence every logger and
    // stop Spark first
    spark.sparkContext.setLogLevel("OFF")
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    spark.stop()
    System.out.flush()
    println(result)
    System.out.flush()
    System.exit(if (failed == 0) 0 else 1)
  }
}

/** Per-layer metrics of one traced iteration, from its span tree. */
object Layers {
  private def all(root: Span): Seq[Span] = root +: root.children.toSeq.flatMap(all)

  def of(w: Workload, it: Span, probes: Option[Span], probeValues: Map[String, Double],
         sinkBytes: Long, sinkFiles: Int): Map[String, Double] = {
    val spans = all(it) ++ probes.toSeq.flatMap(all)
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum
    def ctr(n: String, k: String) = named(n).map(_(k)).sum
    val has = (n: String) => named(n).nonEmpty
    val mutIn = if (has("probe.mut_in")) "probe.mut_in" else "probe.gen_eval"
    val rewrite = has("probe.mut_out") && has(mutIn)
    val candidates = probeValues.getOrElse("link.candidates", 0.0)
    val matches = probeValues.getOrElse("link.matches", 0.0)
    val total = it.inclusive
    Map(
      "gen.prep_s" -> secs("gen.prep"), "gen.prep_jobs" -> ctr("gen.prep", "jobs"),
      "gen.eval_s" -> secs("probe.gen_eval"),
      "gen.eval_task_cpu_s" -> ctr("probe.gen_eval", "task_cpu_s"),
      "mut.stats_s" -> secs("mut.stats"), "mut.stats_jobs" -> ctr("mut.stats", "jobs"),
      "mut.rewrite_s" -> (if (rewrite) secs("probe.mut_out") - secs(mutIn) else 0.0),
      "mut.rewrite_task_cpu_s" -> (if (rewrite)
        ctr("probe.mut_out", "task_cpu_s") - ctr(mutIn, "task_cpu_s") else 0.0),
      "sink.write_s" -> all(it).filter(_.name == "sink.write").map(_.seconds).sum,
      "sink.self_s" -> (if (w.outputRows.isDefined && has("probe.mut_out"))
        all(it).filter(_.name == "sink.write").map(_.seconds).sum - secs("probe.mut_out")
        else 0.0),
      "sink.bytes" -> sinkBytes.toDouble, "sink.files" -> sinkFiles.toDouble,
      "link.join_s" -> secs("link.join"), "link.candidates" -> candidates,
      "link.candidates_per_match" -> (if (matches > 0) candidates / matches else 0.0),
      "link.shuffle_write_bytes" -> ctr("link.join", "shuffle_write_bytes"),
      "link.spill_bytes" -> ctr("link.join", "spill_bytes"),
      "cluster.s" -> secs("cluster"), "cluster.jobs" -> ctr("cluster", "jobs"),
      "dedup.minhash_lsh_s" -> secs("dedup.minhash_lsh"),
      "dedup.clusters_s" -> secs("dedup.clusters"),
      "dedup.containment_s" -> secs("dedup.containment"),
      "dedup.containment_spill_bytes" -> ctr("dedup.containment", "spill_bytes"),
      "sim.ann_ivf_s" -> secs("sim.ann_ivf"), "text.tfidf_s" -> secs("text.tfidf"),
      "text.bm25_topk_s" -> secs("text.bm25_topk"),
      "text.lm_perplexity_s" -> secs("text.lm_perplexity")) ++
      Seq("jobs", "stages", "task_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "gc_s", "plan.analysis_s", "plan.optimization_s",
        "plan.planning_s").map(k => k -> total.getOrElse(k, 0.0))
  }
}
