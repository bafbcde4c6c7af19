package perfbench

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call into the engine. `units` is the work it does (rows,
  * documents or events) for throughput metrics; `layer` names the
  * public entry point it calls, for its span. `verify` runs outside the
  * timer after every timed call and returns what it found wrong (empty
  * when the output is right). */
final case class Op(
    name: String,
    group: String,
    layer: String,
    units: Long,
    run: Runner => Unit,
    verify: Runner => Seq[String] = _ => Nil)

/** What one timed call cost: wall and build seconds, and the task
  * counter deltas the listener saw during it. */
final case class OpRecord(
    name: String, group: String, units: Long, wallS: Double, buildS: Double,
    counters: Map[String, Long], failures: Seq[String]) {
  def cpuS: Double = counters.getOrElse("cpu_ns", 0L) / 1e9
}

/** Times ops one at a time, in the caller's thread. */
final class Runner(val spark: SparkSession, val probe: TaskProbe, val tracer: Tracer) {
  private var buildS = 0.0
  /** Registered in the traced run only. */
  var plan: Option[PlanProbe] = None

  /** Run a registry-style query builder and write its result to the
    * noop sink, so the whole plan executes and nothing is collected.
    * When tracing, the builder call plus physical planning is timed
    * apart from execution (`operators.build` / `operators.exec`). */
  def noop(build: () => DataFrame): Unit =
    if (!tracer.enabled) build().write.format("noop").mode("overwrite").save()
    else {
      val t0 = System.nanoTime()
      val df = tracer.span("operators.build") {
        val d = build()
        d.queryExecution.executedPlan
        d
      }
      buildS += (System.nanoTime() - t0) / 1e9
      tracer.span("operators.exec") {
        df.write.format("noop").mode("overwrite").save()
      }
    }

  def time(op: Op): OpRecord = {
    val sc = spark.sparkContext
    BenchBus.drain(sc)
    plan.foreach(_.take())
    val before = probe.snapshot()
    val jit0 = Runner.jitMs()
    buildS = 0.0
    val t0 = System.nanoTime()
    val error =
      try { tracer.span(op.layer)(op.run(this)); None }
      catch { case e: Exception => Some(s"${op.name} threw $e") }
    val wall = (System.nanoTime() - t0) / 1e9
    BenchBus.drain(sc)
    val counters = Stats.delta(before, probe.snapshot()) ++ plan.map(_.take()).getOrElse(Map.empty) +
      ("jit_ms" -> (Runner.jitMs() - jit0))
    val failures = error.map(Seq(_)).getOrElse(op.verify(this))
    OpRecord(op.name, op.group, op.units, wall, buildS, counters, failures)
  }

  /** Wait until the listeners have seen every event posted so far. */
  def settle(): Unit = BenchBus.drain(spark.sparkContext)

  /** Seconds one body takes, with the task counters it moved. */
  def measure(body: => Unit): (Double, Map[String, Long]) = {
    val sc = spark.sparkContext
    BenchBus.drain(sc)
    val before = probe.snapshot()
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    BenchBus.drain(sc)
    (s, Stats.delta(before, probe.snapshot()))
  }

  /** Drop every cache and persisted RDD, as `graft.Bench` does between
    * queries, so one op's materializations cannot slow the next. */
  def releaseCaches(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Runner {
  /** Milliseconds the JIT compilers have spent so far, to show whether
    * they were still busy during a timed op. */
  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}
