package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.cap.{CapPipeline, Features}
import graft.queries.CapQueries

/** Shape of one CAP workload.
  *
  * @param alerts   alerts in the feed of every invocation
  * @param churn    share of the feed replaced by new alerts between
  *                 invocations (1.0: every invocation is all new)
  * @param delayed  inject the seeded GET delay (median 20 ms, p99 ~100 ms)
  * @param redraw   share of MetService polygon alerts given new polygons
  * @param warmups  sizes of the warm-up feeds drawn from a separate seed
  *                 stream, run before the timed stream's first feed
  */
final case class CapShape(dirs: Seq[String], alerts: Int, churn: Double, delayed: Boolean,
    redraw: Double, warmups: Seq[Int])

object CapShape {
  // Warm-up runs until timed invocations no longer carry JIT compiles.
  // The I/O-bound job gets a second warm stream feed: with one, its
  // per-invocation CPU still varied with them. The bulk job gets a full
  // warm feed before the timed stream's first: with only a third of a
  // feed, the first timed invocation took 1.3-1.4x the later ones.
  val rtt = CapShape(Seq("fixtures/cap"), 1000, 0.1, delayed = true, redraw = 0.0,
    warmups = Seq(333, 1000))
  val bulk = CapShape(Seq("fixtures/cap", "fixtures/cap_bad"), 10000, 1.0, delayed = false,
    redraw = 0.5, warmups = Seq(10000))
}

/** The reference's ETL job end to end, once per invocation: the feed is
  * read with `spark.read.format("capfeed")` (product defaults: only
  * `url`, `timeout` and `retries` set), parsed, expiry-filtered, fanned
  * out with quarantine, and written with `df.write.format("cloudtak")`
  * to the loopback stubs, which wait `PostDelayMs` before answering each
  * POST. Invocations run back to back (one closed-loop client), and every
  * invocation's delivered output is checked outside the timer. */
final class CapWorkload(spark: SparkSession, root: Path, shape: CapShape, seed: Long,
    cpus: Int, probe: SparkProbe) {
  import spark.implicits._

  private val PostDelayMs = 50L
  private val templates = CapGen.loadTemplates(root, shape.dirs)
  private val expect = new CapExpect(root)
  expect.requireGoldenCovered(templates)
  private val stubs = new Stubs(cpus, PostDelayMs)
  private val gen = new CapGen(templates, seed, shape.redraw)
  private val churnRng = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private var feed: IndexedSeq[GenAlert] = IndexedSeq.empty

  /** The next invocation's feed: the first (the last warm-up's) is all
    * new; later ones replace `churn` of the previous feed's alerts at
    * seeded positions. */
  def nextFeed(): IndexedSeq[GenAlert] = {
    feed =
      if (feed.isEmpty || shape.churn >= 1.0) gen.batch(shape.alerts)
      else {
        val f = feed.toArray
        val replace = mutable.LinkedHashSet.empty[Int]
        val n = math.round(shape.churn * shape.alerts).toInt
        while (replace.size < n) replace += churnRng.nextInt(f.length)
        replace.foreach(i => f(i) = gen.next())
        f.toIndexedSeq
      }
    feed
  }

  private def publish(alerts: Seq[GenAlert], invocation: Int, delayed: Boolean): Unit = {
    stubs.publish(alerts.map(a => a.key -> a.body),
      if (delayed) (k, attempt) => gen.delayMs(invocation, k, attempt) else (_, _) => 0L)
    stubs.reset()
  }

  private def read(): DataFrame = spark.read.format("capfeed")
    .option("url", stubs.feedUrl).option("timeout", "30000").option("retries", "2").load()

  private def write(features: DataFrame): Unit = features.write.format("cloudtak")
    .option("url", stubs.postUrl).option("timeout", "30000").option("retries", "2")
    .mode("append").save()

  /** One invocation of the job as a user runs it: nothing materialized
    * between layers. Returns the quarantined identifiers. */
  private def runPlain(): Seq[String] = {
    val alerts = CapPipeline.filterActive(
      CapPipeline.parseAlerts(read().select("xml").as[String]), CapQueries.asOf)
    val fo = CapPipeline.toFeaturesWithQuarantine(alerts)
    try {
      write(fo.features.select("json"))
      fo.quarantine.collect().map(_.identifier).toSeq
    } finally fo.unpersist()
  }

  /** One invocation with every layer's output materialized at its
    * boundary, each inside a span, plus the `Features.alertToFeatures`
    * kernel timed in a single-threaded driver loop. */
  private def runTraced(trace: Trace, unit: String, t0: Long)
      : (Seq[String], Double, Map[String, Double]) = {
    val v = mutable.LinkedHashMap.empty[String, Double]
    val cached = mutable.ArrayBuffer.empty[org.apache.spark.sql.Dataset[_]]
    def keep[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
      cached += ds; ds.persist(StorageLevel.MEMORY_ONLY)
    }
    def timed[T](k: String)(f: => T): T = {
      val s = System.nanoTime(); val r = f; v(k) = (System.nanoTime() - s) / 1e9; r
    }
    val group = s"capfeed-$unit"
    val q = trace.span("job", "invocation", unit) {
      val raw = trace.span("capfeed", "capfeed.read", unit) {
        spark.sparkContext.setJobGroup(group, group)
        val r = keep(read())
        v("cap.alerts_fetched") = r.count().toDouble
        spark.sparkContext.clearJobGroup()
        r
      }
      val parsed = trace.span("cap", "cap.parse", unit) {
        timed("cap.parse_s") {
          val p = keep(CapPipeline.parseAlerts(raw.select("xml").as[String]))
          v("cap.alerts_valid") = p.count().toDouble
          p
        }
      }
      val active = trace.span("cap", "cap.expiry", unit) {
        val a = keep(CapPipeline.filterActive(parsed, CapQueries.asOf))
        v("cap.alerts_active") = a.count().toDouble
        a
      }
      val fo = trace.span("cap", "cap.fanout", unit) {
        timed("cap.fanout_s") {
          val fo = CapPipeline.toFeaturesWithQuarantine(active)
          v("cap.features") = fo.features.count().toDouble
          fo
        }
      }
      val postStart = System.nanoTime()
      trace.span("cloudtak", "cloudtak.write", unit) {
        timed("cloudtak.post_s")(write(fo.features.select("json")))
      }
      val seen = stubs.seen()
      v("cloudtak.first_post_s") =
        seen.posts.headOption.fold(0.0)(p => (p.receivedNs - postStart) / 1e9)
      val qs = trace.span("cap", "cap.quarantine", unit)(fo.quarantine.collect().map(_.identifier).toSeq)
      fo.unpersist(); cached.foreach(_.unpersist())
      v("cap.quarantined") = qs.size.toDouble
      v("cap.features_per_alert") = v("cap.features") / math.max(1.0, v("cap.alerts_active"))
      qs
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val seen = stubs.seen()
    v("capfeed.feed_s") = (stubs.feedDoneAt - t0) / 1e9
    v("capfeed.fetch_s") = seen.fetchS
    v("capfeed.requests") = seen.requests.toDouble
    v("capfeed.retries") = seen.retries.toDouble
    v("capfeed.bytes") = seen.bytes.toDouble
    v("capfeed.inflight_mean") = seen.inflightMean
    v("capfeed.inflight_max") = seen.inflightMax.toDouble
    v("stub.service_ms") = seen.serviceMs
    v("cloudtak.posts") = seen.posts.size.toDouble
    v("cloudtak.bytes") = seen.postBytes.toDouble
    v("cloudtak.features_per_post") = v("cap.features") / math.max(1, seen.posts.size)
    val bodies = seen.posts.map(_.body)
    v("cloudtak.retries") = (bodies.size - bodies.distinct.size).toDouble
    probe.settle()
    // the fetch stage is the group's longest; its slowest task over its median
    val fetchTasks = probe.group(group).taskMs.values.maxByOption(_.sum).map(_.sorted)
    v("capfeed.task_max_over_median") = fetchTasks.fold(0.0)(t =>
      t.last.toDouble / math.max(1L, t(t.size / 2)))

    // the functions layer: Features.alertToFeatures alone, one thread
    val alerts = CapPipeline.filterActive(
      CapPipeline.parseAlerts(spark.createDataset(feed.map(a =>
        new String(a.body, StandardCharsets.UTF_8)))), CapQueries.asOf)
      .collect()
    val vertices = alerts.map(_.polygon.map(p => p.trim.split("\\s+").count(_.nonEmpty)).sum).sum
    val kernelNs = trace.span("functions", "functions.alertToFeatures", unit) {
      val s = System.nanoTime()
      alerts.foreach(a => Try(Features.alertToFeatures(a)))
      System.nanoTime() - s
    }
    v("cap.kernel_us_per_alert") = kernelNs / 1e3 / math.max(1, alerts.length)
    v("cap.kernel_us_per_vertex") = kernelNs / 1e3 / math.max(1, vertices)
    (q, wall, v.toMap)
  }

  /** Result of one timed invocation. */
  case class Invocation(wallS: Double, cpuS: Double, alerts: Int, failed: Int,
      visibleS: Seq[Double], postS: Seq[Double], layers: Option[Map[String, Double]])

  def invoke(invocation: Int, trace: Option[Trace]): Invocation = {
    val alerts = nextFeed()
    publish(alerts, invocation, shape.delayed)
    val cpu0 = JvmProbe.processCpuS()
    val t0 = System.nanoTime()
    val (quarantine, wall, layers) = trace match {
      case None =>
        val q = runPlain()
        (q, (System.nanoTime() - t0) / 1e9, None)
      case Some(tr) =>
        val (q, w, l) = runTraced(tr, s"inv$invocation", t0)
        (q, w, Some(l))
    }
    val cpu = JvmProbe.processCpuS() - cpu0
    val posts = stubs.seen().posts
    val out = expect.check(alerts, posts.map(p => p.receivedNs -> p.body), quarantine)
    Invocation(wall, cpu, alerts.size, out.failed, out.visibleNs.map(ns => (ns - t0) / 1e9),
      posts.map(p => (p.receivedNs - t0) / 1e9), layers)
  }

  /** Warm the JIT and connection pools with invocations without injected
    * delay, checked like timed ones: the shape's warm-up feeds from a
    * separate seed stream, then the timed stream's first full feed, so
    * that every timed invocation replaces `churn` of the feed before it.
    * Returns their failed count. */
  def warmup(): Int = {
    val warm = new CapGen(templates, seed ^ 0x77L, shape.redraw, prefix = "w")
    val feeds = shape.warmups.map(n => () => warm.batch(n)) :+ (() => nextFeed())
    feeds.zipWithIndex.map { case (next, i) =>
      val t0 = System.nanoTime()
      val alerts = next()
      publish(alerts, -1 - i, delayed = false)
      val t1 = System.nanoTime()
      val q = runPlain()
      val t2 = System.nanoTime()
      val failed = expect.check(alerts, stubs.seen().posts.map(p => p.receivedNs -> p.body), q).failed
      System.err.println(f"[perfbench] warm-up ${alerts.size} alerts: generate ${(t1 - t0) / 1e9}%.1f s," +
        f" job ${(t2 - t1) / 1e9}%.1f s, check ${(System.nanoTime() - t2) / 1e9}%.1f s")
      failed
    }.sum
  }

  def close(): Unit = stubs.stop()
}
