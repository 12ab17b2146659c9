package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SparkEntry

/** A query/stream mix over the sf0.1 test tables, built only from the
  * `SparkEntry.queries` builders. Every timed execution calls the builder
  * again, so its shuffles run again instead of reusing the stages a
  * previous collect of the same DataFrame left behind; the listener
  * asserts it. Stream entries drain a fresh AvailableNow run inside the
  * builder (RocksDB state for the stateful ones).
  *
  * Each pass runs every entry once, in an order drawn from the seed.
  * Every execution's rows are hashed outside the timer and must equal
  * the first (warm-up) execution's, whose rows are dumped as parquet for
  * `scripts/check.py`, which `run.py` runs after the JVM exits.
  */
final class MixWorkload(spark: SparkSession, sf: String, seed: Long, work: String,
    probe: SparkProbe, streams: StreamProbe) {
  import MixWorkload._

  private val rng = new Random(seed)
  private val refHash = mutable.LinkedHashMap.empty[String, String]
  val executions = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  val mismatched = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  val notShuffled = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  /** Timed executions whose plan had a shuffle, so the guard checked them. */
  var shuffleChecked = 0
  private var execSeq = 0

  /** Shuffling executions still to be checked against the listener:
    * (query, job group). */
  private val pendingShuffleChecks = mutable.ArrayBuffer.empty[(String, String)]

  /** One timed execution: (wall seconds, hash of its rows). */
  private def execute(name: String, trace: Trace, unit: String,
      acc: mutable.Map[String, Double]): (Double, String) = {
    val build = SparkEntry.queries(name)
    def add(k: String, s: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + s
    if (Streams.contains(name)) {
      val t0 = System.nanoTime()
      val df = trace.span("streaming", "streaming.drain", s"$unit/$name")(build(spark, sf))
      val wall = (System.nanoTime() - t0) / 1e9
      add("streaming.drain_s", wall)
      (wall, hash(df.collect(), df))
    } else {
      execSeq += 1
      val group = s"exec-$execSeq"
      spark.sparkContext.setJobGroup(group, name)
      val t0 = System.nanoTime()
      val (df, rows) =
        if (!trace.on) { val d = build(spark, sf); (d, d.collect()) }
        else trace.span("queries", "queries.query", s"$unit/$name") {
          val s0 = System.nanoTime()
          val d = trace.span("queries", "queries.build", s"$unit/$name")(build(spark, sf))
          val s1 = System.nanoTime()
          trace.span("queries", "queries.plan", s"$unit/$name")(d.queryExecution.executedPlan)
          val s2 = System.nanoTime()
          val r = trace.span("spark", "queries.exec", s"$unit/$name")(d.collect())
          val s3 = System.nanoTime()
          add("queries.build_s", (s1 - s0) / 1e9)
          add("queries.plan_s", (s2 - s1) / 1e9)
          add("queries.exec_s", (s3 - s2) / 1e9)
          add(s"queries.${family(name)}_s", (s3 - s0) / 1e9)
          (d, r)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      if (hasShuffle(df.queryExecution.executedPlan)) pendingShuffleChecks += name -> group
      (wall, hash(rows, df))
    }
  }

  /** Every timed execution whose plan has a shuffle exchange must have run
    * at least one shuffle map stage in its own job group. */
  private def checkShuffles(): Unit = {
    probe.settle()
    pendingShuffleChecks.foreach { case (name, g) =>
      shuffleChecked += 1
      if (probe.group(g).shuffleMapStages == 0) notShuffled(name) += 1
    }
    pendingShuffleChecks.clear()
  }

  private def order(): Seq[String] = rng.shuffle(Batch ++ Streams)

  /** Warm-up: one execution of every entry, whose rows become the
    * reference hash and the parquet dump the oracle compare reads, then a
    * second untimed pass. With only the stream drained a second time,
    * whole runs still came out up to 20% faster or slower than others
    * (quartile spread ~0.2 over four seeds, 0.06-0.14 over ten with the
    * full second pass). */
  def warmup(): Unit = {
    val dump = Paths.get(work, "mixdump")
    val t0 = System.nanoTime()
    order().foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val rows = df.collect()
      refHash(name) = hash(rows, df)
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(dump.resolve(name).toString)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => refHash.contains(k) }
    require(oracle.size == refHash.size,
      s"no oracle SQL for ${refHash.keys.filterNot(oracle.contains).mkString(",")}")
    Files.writeString(dump.resolve("oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
    order().foreach(name => SparkEntry.queries(name)(spark, sf).collect())
    System.err.println(f"[perfbench] warm-up: two passes ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** One pass over the mix. Its wall is the sum of the executions' walls,
    * leaving out the benchmark's own hashing and plan checks between them. */
  case class Pass(wallS: Double, cpuS: Double, opWallS: Map[String, Double],
      layers: Map[String, Double])

  def pass(trace: Trace, unit: String): Pass = {
    val acc = mutable.LinkedHashMap.empty[String, Double]
    val names = order()
    streams.reset()
    val cpu0 = JvmProbe.processCpuS()
    val walls = names.map { name =>
      val (wall, h) = execute(name, trace, unit, acc)
      executions(name) += 1
      if (!refHash.get(name).contains(h)) mismatched(name) += 1
      wall
    }
    val cpu = JvmProbe.processCpuS() - cpu0
    checkShuffles()
    streams.synchronized {
      acc("streaming.batches") = streams.batches.toDouble
      acc("streaming.add_batch_s") = streams.durMs("addBatch") / 1e3
      acc("streaming.query_planning_s") = streams.durMs("queryPlanning") / 1e3
      acc("streaming.wal_commit_s") = streams.durMs("walCommit") / 1e3
      acc("streaming.state_commit_s") = streams.stateCommitMs / 1e3
      acc("streaming.state_rows_total") = streams.lastRows.values.sum.toDouble
      acc("streaming.state_memory_mb") = streams.stateMemMax / 1048576.0
      acc("streaming.outside_trigger_s") =
        acc.getOrElse("streaming.drain_s", 0.0) - streams.durMs("triggerExecution") / 1e3
    }
    Pass(walls.sum, cpu, names.zip(walls).toMap, acc.toMap)
  }
}

object MixWorkload {
  /** Batch entries: the cheaper part of `graft.Bench`'s compact set plus
    * one cheap query of each family that set covers only with slow ones,
    * so that two warm-up and two timed passes of rebuilt executions fit a
    * run. */
  val Batch: Seq[String] = Seq(
    "b2_hash_agg", "b7_distinct", "b8_setop", "b11_time_window", "d1_exact_dedup",
    "s1_ann_lsh", "m6_video_neardup")

  /** Stream entries: a stateful drain of the sf0.1 events through
    * `StreamRunner`, deduplicating a doubled stream in RocksDB state. */
  val Streams: Seq[String] = Seq("b47_stream_dedup")

  private lazy val families: Map[String, String] =
    (graft.queries.Relational.queries.map(_._1 -> "relational") ++
      graft.queries.TextStats.queries.map(_._1 -> "relational") ++
      graft.queries.Dedup.queries.map(_._1 -> "dedup") ++
      graft.queries.Similarity.queries.map(_._1 -> "similarity") ++
      graft.multimodal.Multimodal.queries.map(_._1 -> "multimodal")).toMap

  def family(name: String): String = families.getOrElse(name, "relational")

  def hasShuffle(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => hasShuffle(a.executedPlan)
    case _: ShuffleExchangeLike => true
    case s: QueryStageExec => hasShuffle(s.plan)
    case _ => p.children.exists(hasShuffle) || p.subqueries.exists(hasShuffle)
  }

  /** Order-independent hash of a result: columns by name, rows sorted. */
  def hash(rows: Array[Row], df: DataFrame): String = {
    val cols = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => cols.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }
}
