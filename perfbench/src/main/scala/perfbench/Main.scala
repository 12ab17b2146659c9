package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Benchmark JVM: sets up one workload, measures it for `--seconds`, checks
  * its outputs and writes one JSON result file for `run.py`.
  *
  * {{{
  * perfbench.Main --workload cap_rtt|cap_bulk|sf01_mix --seed N --seconds S
  *   --trace 0|1 --root <checkout> --work <dir> --sf <sf dir> --t0 <epoch s>
  *   --out <result.json>
  * }}}
  *
  * Untraced runs measure the end-to-end metrics. Traced runs alternate
  * untraced units with traced ones, which materialize every layer's output
  * at its boundary inside spans, and report per-layer metrics, self time
  * per layer and the tracing overhead (traced / untraced median unit wall
  * - 1).
  */
object Main {

  /** Median and the highest percentile with at least ten samples beyond
    * it (nearest-rank), with that percentile and the sample count. Under
    * 21 samples no percentile above the median qualifies; the tail is then
    * the maximum (reported as percentile 100). */
  case class Dist(p50: Double, tail: Double, tailPct: Double, n: Int)
  def dist(xs: Seq[Double]): Dist = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 0) return Dist(0, 0, 0, 0)
    val tailIdx = if (n >= 21) n - 11 else n - 1 // 10 samples strictly beyond it
    Dist(median(s), s(tailIdx), 100.0 * (tailIdx + 1) / n, n)
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val root = Paths.get(a("root"))
    val work = a("work")
    val t0Epoch = a("t0").toDouble
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = Session.start(cpus, work)
    val probe = new SparkProbe
    val streams = new StreamProbe
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(streams)

    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    var failed = 0
    var correct = true
    val trace = new Trace(on = true)
    val untraced = new Trace(on = false)
    def setupDone(): Unit =
      e2e("setup_s") = System.currentTimeMillis() / 1e3 - t0Epoch

    /** Run units back to back until their timed walls add up to
      * `seconds`, checks between units not counted, and return the
      * untraced and the traced units. Untraced runs take at least two
      * units: the floor keeps the unit count, and so the medians, from
      * flipping between runs whose unit walls straddle the budget. Traced
      * runs alternate untraced, traced, traced, untraced (whole groups of
      * four), so warm-up drift cancels out of the tracing overhead. Each
      * unit starts after a short pause for JIT compiles queued by the
      * previous unit's checks. */
    def measure[T](unit: (Int, Boolean) => T)(wall: T => Double): (Seq[T], Seq[T]) = {
      val plain = mutable.ArrayBuffer.empty[T]
      val tr = mutable.ArrayBuffer.empty[T]
      val engine = mutable.ArrayBuffer.empty[EngineSnap]
      var i = 0
      def more = (plain ++ tr).map(wall).sum < seconds ||
        (if (traced) i % 4 != 0 else i < 2)
      while (more) {
        Thread.sleep(300)
        val on = traced && (i % 4 == 1 || i % 4 == 2)
        val before = EngineSnap.take(probe)
        (if (on) tr else plain) += unit(i, on)
        if (on) { probe.settle(); engine += EngineSnap.take(probe).minus(before) }
        i += 1
      }
      if (traced) {
        val d = engine.reduce(_ plus _)
        val k = engine.size.toDouble
        layer("spark.jobs") = d.jobs / k
        layer("spark.stages") = d.stages / k
        layer("spark.tasks") = d.tasks / k
        layer("spark.task_cpu_s") = d.taskCpuNs / 1e9 / k
        layer("spark.task_gc_s") = d.taskGcMs / 1e3 / k
        layer("spark.shuffle_write_bytes") = d.shuffleWriteBytes / k
        layer("spark.spill_bytes") = d.spillBytes / k
        layer("spark.peak_exec_mem_mb") = probe.totals.peakExecMem / 1048576.0
        layer("jvm.gc_s") = d.gcMs / 1e3 / k
        layer("jvm.heap_peak_mb") = JvmProbe.heapPeakMb()
        trace.selfTimes.foreach { case (l, t) => layer(s"self.${l}_s") = t / k }
        layer("trace.overhead_frac") = median(tr.map(wall).toSeq) / median(plain.map(wall).toSeq) - 1
      }
      (plain.toSeq, tr.toSeq)
    }

    /** Mean over traced units of each per-layer value they report. */
    def meanLayers(ls: Seq[Map[String, Double]]): Unit =
      ls.flatMap(_.keys).distinct.foreach { k =>
        layer(k) = ls.map(_.getOrElse(k, 0.0)).sum / ls.size
      }

    try workload match {
      case "cap_rtt" | "cap_bulk" =>
        val shape = if (workload == "cap_rtt") CapShape.rtt else CapShape.bulk
        val w = new CapWorkload(spark, root, shape, seed, cpus, probe)
        try {
          val warmFailed = w.warmup()
          if (warmFailed > 0) { correct = false; info("warmup_failed") = warmFailed.toString }
          setupDone()
          JvmProbe.resetHeapPeak()
          val (plain, tr) = measure((i, on) => w.invoke(i, if (on) Some(trace) else None))(_.wallS)
          meanLayers(tr.flatMap(_.layers))
          attempted = (plain ++ tr).map(_.alerts).sum
          failed = (plain ++ tr).map(_.failed).sum
          // per invocation, then the median over invocations: pooling would
          // mix the invocations' distinct POST times into one bimodal set
          val vis = plain.map(i => dist(i.visibleS))
          e2e("throughput_per_s") = plain.map(_.alerts).sum / plain.map(_.wallS).sum
          e2e("latency_p50_s") = median(vis.map(_.p50))
          e2e("latency_tail_s") = median(vis.map(_.tail))
          e2e("pass_s") = median(plain.map(_.wallS))
          e2e("cpu_s") = median(plain.map(_.cpuS))
          info("units") = plain.size.toString
          info("post_received_s") = plain.map(_.postS.map(Json.num).mkString("[", ",", "]"))
            .mkString("[", ",", "]")
          info("invocation_s") = plain.map(i => Json.num(i.wallS)).mkString("[", ",", "]")
          info("tail_percentile") = vis.map(v => Json.num(v.tailPct)).mkString("[", ",", "]")
          info("latency_samples") = vis.map(_.n).mkString("[", ",", "]")
        } finally w.close()

      case "sf01_mix" =>
        val w = new MixWorkload(spark, a("sf"), seed, work, probe, streams)
        w.warmup()
        setupDone()
        JvmProbe.resetHeapPeak()
        val (plain, tr) =
          measure((i, on) => w.pass(if (on) trace else untraced, s"pass$i"))(_.wallS)
        meanLayers(tr.map(_.layers))
        attempted = w.executions.values.sum
        failed = w.mismatched.values.sum + w.notShuffled.values.sum
        // The median is over every timed execution. A pass has one
        // execution per entry and the entries differ by 10x, so with a few
        // passes the rank rule's tail would sit near the median, and a
        // pooled maximum is one raw sample: the tail is the slowest entry's
        // median wall instead.
        val perEntry = plain.flatMap(_.opWallS.keys).distinct
          .map(n => median(plain.map(_.opWallS(n))))
        e2e("throughput_per_s") = plain.map(_.opWallS.size).sum / plain.map(_.wallS).sum
        e2e("latency_p50_s") = median(plain.flatMap(_.opWallS.values))
        e2e("latency_tail_s") = perEntry.max
        e2e("pass_s") = median(plain.map(_.wallS))
        e2e("cpu_s") = median(plain.map(_.cpuS))
        info("units") = plain.size.toString
        info("pass_s") = plain.map(p => Json.num(p.wallS)).mkString("[", ",", "]")
        info("entry_s") = plain.map(p => Json.obj(p.opWallS.map { case (n, s) => n -> Json.num(s) }))
          .mkString("[", ",", "]")
        info("entry_median_s") = Json.obj(plain.flatMap(_.opWallS.keys).distinct
          .map(n => n -> Json.num(median(plain.map(_.opWallS(n))))))
        info("executions") = Json.obj(w.executions.map { case (k, v) => k -> v.toString })
        info("hash_mismatch") = Json.obj(w.mismatched.map { case (k, v) => k -> v.toString })
        info("shuffle_checked") = w.shuffleChecked.toString
        info("shuffle_not_rerun") = Json.obj(w.notShuffled.map { case (k, v) => k -> v.toString })

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      e2e("peak_rss_mb") = JvmProbe.peakRssMb()
      info("heap_peak_mb") = Json.num(JvmProbe.heapPeakMb())
      info("confs") = Json.obj(Session.confs(cpus, work).map { case (k, v) => k -> Json.str(v) })
      info("cpus") = cpus.toString
      if (traced) Files.writeString(Paths.get(work, "trace_spans.json"), trace.json)
      val result = Json.obj(Seq(
        "correct" -> (correct && failed == 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
        "layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
        "info" -> Json.obj(info)))
      Files.writeString(Paths.get(a("out")), result)
      graft.streaming.StateBackend.shutdown()
      spark.stop()
    }
  }
}

/** Snapshot of cumulative engine counters, for per-window deltas. */
final case class EngineSnap(jobs: Long, stages: Long, tasks: Long, taskCpuNs: Long,
    taskGcMs: Long, shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long) {
  private def zip(o: EngineSnap)(f: (Long, Long) => Long): EngineSnap = EngineSnap(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks), f(taskCpuNs, o.taskCpuNs),
    f(taskGcMs, o.taskGcMs), f(shuffleWriteBytes, o.shuffleWriteBytes),
    f(spillBytes, o.spillBytes), f(gcMs, o.gcMs))
  def minus(o: EngineSnap): EngineSnap = zip(o)(_ - _)
  def plus(o: EngineSnap): EngineSnap = zip(o)(_ + _)
}

object EngineSnap {
  def take(p: SparkProbe): EngineSnap = p.synchronized {
    val t = p.totals
    EngineSnap(t.jobs, t.stages, t.tasks, t.taskCpuNs, t.taskGcMs, t.shuffleWriteBytes,
      t.spillBytes, JvmProbe.gcMs())
  }
}
