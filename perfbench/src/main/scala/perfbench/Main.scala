package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM main: one workload, one run.
  *
  * {{{
  * Main --workload housing|corpus --input DIR --work DIR
  *      --out DIR --seconds S --trace 0|1
  * }}}
  *
  * Order: session, `prepare`, the warm pass (full inputs, outputs kept
  * for the check) and the workload's untimed extra passes, a wait until
  * `run.py` has its oracle reference (`out/go`), then passes over the
  * ops until `seconds` have gone by (at least `minTimedPasses`). With
  * `--trace 1` one more pass runs with every probe registered and spans
  * on, followed by each layer timed alone. The run record goes to `out/record.json`;
  * `run.py` checks the outputs and prints the result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try { run(spark, opt, cores); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, opt: Map[String, String], cores: Int): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = opt("out")
    val probe = new TaskProbe
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(false)
    val r = new Runner(spark, probe, tracer)
    val wl = Workload(opt("workload"), opt("input"), opt("work"), out)
    Files.write(Paths.get(s"$out/oracle.json"), Json.write(wl.oracle).getBytes(StandardCharsets.UTF_8))

    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val (prepareS, _) = r.measure(wl.prepare(r))
    def pass(): Seq[OpRecord] = {
      wl.beforePass(r)
      tracer.span("pass") {
        wl.ops.map { op => val rec = r.time(op); r.releaseCaches(); rec }
      }
    }
    val extraWarm = wl.extraWarmPasses
    val (warmS, _) = r.measure {
      wl.warm(r); r.releaseCaches()
      (1 to extraWarm).foreach(_ => pass())
    }
    awaitGo(s"$out/go")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer(pass())
    while (passes.size < wl.minTimedPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += pass()
    val rssMb = vmHwmMb()
    val e2e = endToEnd(passes.toSeq) ++ Map("setup_s" -> setupS, "peak_rss_mb" -> rssMb)

    // traced run: one pass with every probe on, one more with them off
    // (the tracing overhead is the traced pass minus the mean of the
    // untraced passes on either side), then each layer alone
    val extra = scala.collection.mutable.ArrayBuffer.empty[Seq[OpRecord]]
    val layer = if (!traced) Map.empty[String, Double] else {
      val plan = new PlanProbe
      val stream = new StreamProbe
      def probes(on: Boolean): Unit = {
        if (on) {
          spark.listenerManager.register(plan)
          spark.streams.addListener(stream)
        } else {
          spark.listenerManager.unregister(plan)
          spark.streams.removeListener(stream)
        }
        r.plan = if (on) Some(plan) else None
        probe.keepTaskSizes = on
        tracer.enabled = on
      }
      probes(true)
      val gc0 = gcSeconds()
      val tracedPass = pass()
      val gcS = gcSeconds() - gc0
      val generic = perLayer(tracedPass, probe, stream.take())
      probes(false)
      val after = pass()
      extra += tracedPass += after
      probes(true)
      val untracedS = (passes.last.map(_.wallS).sum + after.map(_.wallS).sum) / 2
      generic ++ jobs(passes.toSeq) ++ wl.layers(r, plan, tracedPass) ++ Map(
        "jvm.heap_peak_mb" -> heapPeakMb(),
        "jvm.gc_s" -> gcS,
        "trace.overhead_s" -> (tracedPass.map(_.wallS).sum - untracedS))
    }

    val all = (passes ++ extra).toSeq
    val record = Map(
      "workload" -> wl.name,
      "traced" -> traced,
      "cores" -> cores,
      "seconds" -> seconds,
      "end_to_end" -> e2e,
      "per_layer" -> layer,
      "jobs" -> jobs(passes.toSeq),
      "passes" -> passes.map(_.map(opJson)),
      "traced_pass" -> extra.headOption.map(_.map(opJson)).getOrElse(Nil),
      "failures" -> all.flatMap(_.flatMap(_.failures)),
      "attempted" -> all.map(_.size).sum,
      "failed" -> all.map(_.count(_.failures.nonEmpty)).sum,
      "passes_run" -> all.size,
      "check" -> wl.checkOutputs(r),
      "facts" -> wl.facts,
      "setup_phases" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS, "warm_s" -> warmS),
      "spans" -> tracer.records,
      "span_summary" -> tracer.summary())
    Files.write(Paths.get(s"$out/record.json"), Json.write(record).getBytes(StandardCharsets.UTF_8))
  }

  /** The check computes its oracle reference while this JVM sets up;
    * timing starts only once it has finished (it creates `go`). */
  private def awaitGo(path: String): Unit = {
    val deadline = System.nanoTime() + 120e9.toLong
    while (!Files.exists(Paths.get(path))) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"no $path after 120 s")
      Thread.sleep(20)
    }
  }

  private def opJson(o: OpRecord): Map[String, Any] = Map(
    "name" -> o.name, "group" -> o.group, "units" -> o.units, "wall_s" -> o.wallS,
    "build_s" -> o.buildS, "cpu_s" -> o.cpuS, "failures" -> o.failures,
    "counters" -> o.counters)

  /** One pass as the sum over its ops of each op's median over the
    * timed passes, so one slow call in one pass does not move it. */
  private def endToEnd(passes: Seq[Seq[OpRecord]]): Map[String, Double] = {
    val byOp = passes.transpose
    Map(
      "wall_s" -> byOp.map(o => Stats.median(o.map(_.wallS))).sum,
      "cpu_s" -> byOp.map(o => Stats.median(o.map(_.cpuS))).sum)
  }

  /** Each job's own throughput (or latency), medians over passes. */
  private def jobs(passes: Seq[Seq[OpRecord]]): Map[String, Double] = {
    val rate = Map(
      "scrape" -> "jobs.scrape_rows_per_s", "analyze" -> "jobs.analyze_rows_per_s",
      "sql" -> "jobs.sql_rows_per_s", "config" -> "jobs.config_etl_rows_per_s",
      "dedup" -> "jobs.dedup_docs_per_s", "text" -> "jobs.text_docs_per_s")
    val groups = passes.head.map(_.group).distinct
    val rates = groups.flatMap(g => rate.get(g).map(m => m -> Stats.median(passes.map { p =>
      val ops = p.filter(_.group == g)
      ops.map(_.units).sum / ops.map(_.wallS).sum
    })))
    val stream = if (!groups.contains("stream")) Nil else
      Seq("jobs.stream_s" -> Stats.median(passes.map(p => p.filter(_.group == "stream").map(_.wallS).sum)))
    (rates ++ stream).toMap
  }

  /** Per-layer numbers every workload has, from the traced pass. */
  private def perLayer(pass: Seq[OpRecord], probe: TaskProbe,
      stream: Map[String, Double]): Map[String, Double] = {
    def c(k: String): Double = pass.map(_.counters.getOrElse(k, 0L)).sum.toDouble
    val streamWall = pass.filter(_.group == "stream").map(_.wallS).sum
    val s = stream.withDefaultValue(0.0)
    Map(
      "operators.build_s" -> pass.map(_.buildS).sum,
      "operators.exec_s" -> pass.map(o => o.wallS - o.buildS).sum,
      "operators.jobs" -> c("jobs"),
      "operators.stages" -> c("stages"),
      "operators.tasks" -> c("tasks"),
      "operators.sched_delay_s" -> c("sched_delay_ms") / 1e3,
      "operators.task_s" -> c("run_ms") / 1e3,
      "operators.gc_s" -> c("gc_ms") / 1e3,
      "exchange.shuffle_write_bytes" -> c("shuffle_write_bytes"),
      "exchange.shuffle_read_bytes" -> c("shuffle_read_bytes"),
      "exchange.records" -> c("shuffle_records"),
      "exchange.partition_skew" -> probe.partitionSkew(),
      "exchange.spill_bytes" -> c("spill_bytes"),
      "exchange.fetch_wait_s" -> c("fetch_wait_ms") / 1e3,
      "sources.files_read" -> c("files_read"),
      "sources.bytes_read" -> c("input_bytes"),
      "sources.rows_read" -> c("input_records"),
      "sinks.rows_written" -> c("output_records"),
      "sinks.bytes_written" -> c("output_bytes"),
      "stream.batches" -> s("batches"),
      "stream.trigger_ms" -> s("trigger_ms"),
      "stream.addbatch_ms" -> s("addbatch_ms"),
      "stream.commit_ms" -> s("commit_ms"),
      "stream.state_rows" -> s("state_rows"),
      "stream.state_bytes" -> s("state_bytes"),
      "stream.idle_s" -> (if (streamWall > 0) streamWall - s("trigger_ms") / 1e3 else 0.0))
  }

  private def vmHwmMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}
