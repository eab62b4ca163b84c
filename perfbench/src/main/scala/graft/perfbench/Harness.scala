package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Caches, GraftSession, SparkEntry}
import graft.expressions.GraftFunctions
import graft.pipeline.{CorpusCuration, OlympicPipelineMain, OlympicSchemas}
import graft.sources.Tables

/** Layer counters read from outside the engine: one SparkListener plus one
  * QueryExecutionListener, attached only for the traced section.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val v = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var activeJobs = 0
  private var busySince = 0L
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var stored = 0L
  private var peak = 0L

  private def add(k: String, x: Double): Unit = v(k) += x

  def snapshot(): Map[String, Double] = synchronized(v.toMap)
  def peakStoredBytes: Long = synchronized(peak)
  def sampleStored(bytes: Long): Unit = synchronized { peak = math.max(peak, bytes) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("exec.jobs", 1)
    if (activeJobs == 0) busySince = e.time
    activeJobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs -= 1
    if (activeJobs == 0) add("busy_s", (e.time - busySince) / 1e3)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add("exec.stages", 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("sources.input_mb", m.inputMetrics.bytesRead / 1e6)
      add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("sources.output_mb", m.outputMetrics.bytesWritten / 1e6)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      stored -= rddBlocks.remove(key).getOrElse(0L)
      if (info.storageLevel.isValid && info.memSize > 0) {
        rddBlocks(key) = info.memSize
        stored += info.memSize
      }
      peak = math.max(peak, stored)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      // phases the engine already timed; reading the tracker never re-plans
      for ((phase, s) <- qe.tracker.phases) add(s"plan.${phase}_s", s.durationMs / 1e3)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One timed op execution; `layers` is filled only in the traced section. */
final case class OpSample(op: String, pass: Int, latencyS: Double, error: Option[String],
                          layers: Map[String, Double])

/** Runs ops one at a time (closed loop, one client) and, when a
  * [[Counters]] is attached, records spans: name, start, end, parent and
  * op id, with the counter deltas over the span. Spans stay in memory
  * until the run ends.
  */
final class Runner(val spark: SparkSession) {
  var counters: Option[Counters] = None
  var pass = 0
  val samples = mutable.ArrayBuffer.empty[OpSample]
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0
  private var opId = -1
  private var parent = -1

  private def counterNow(c: Counters): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    c.sampleStored(spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
    c.snapshot()
  }

  /** Times `body` as a child span of the current one; returns its result
    * plus (seconds, counter deltas) of the span.
    */
  private def traced[A](name: String)(body: => A): (A, Double, Map[String, Double]) = {
    val id = nextId
    nextId += 1
    val before = counters.map(counterNow)
    val up = parent
    parent = id
    val t0 = System.nanoTime()
    val result =
      try body
      finally {
        parent = up
      }
    val t1 = System.nanoTime()
    val delta = (before, counters.map(counterNow)) match {
      case (Some(b), Some(a)) => a.map { case (k, x) => k -> (x - b.getOrElse(k, 0.0)) }
      case _ => Map.empty[String, Double]
    }
    if (counters.isDefined)
      spans += Map("id" -> id, "parent" -> up, "op" -> opId, "pass" -> pass, "name" -> name,
        "start_ns" -> t0, "end_ns" -> t1, "counters" -> delta)
    (result, (t1 - t0) / 1e9, delta)
  }

  private val childTimes = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  /** A span inside an op (build, write, pipeline stage call). */
  def span[A](name: String)(body: => A): A = {
    val (r, s, d) = traced(name)(body)
    if (counters.isDefined) {
      childTimes(s"$name.s") += s
      childTimes(s"$name.jobs") += d.getOrElse("exec.jobs", 0.0)
    }
    r
  }

  /** One op: timed end to end; a throw is recorded, never rethrown. */
  def op(name: String)(body: => Unit): Unit = {
    opId += 1
    childTimes.clear()
    val (err, s, d) = traced(s"op:$name") {
      try { body; None }
      catch { case t: Throwable => Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}") }
    }
    err.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    val layers =
      if (counters.isEmpty) Map.empty[String, Double]
      else d ++ childTimes ++ Map("driver.gap_s" -> math.max(0.0, s - d.getOrElse("busy_s", 0.0)))
    samples += OpSample(name, pass, s, err, layers)
  }
}

/** A workload: its op set, a fixed warm-up for set-up, and one pass. */
sealed trait Workload {
  def opNames: Seq[String]
  /** Passes every timed section runs at least. */
  def minPasses: Int
  def warmUp(spark: SparkSession): Unit
  /** One pass over every op in `order`; `checkDir` set = write outputs there. */
  def pass(r: Runner, order: Seq[String], checkDir: Option[String]): Unit
}

final class QueryWorkload(val opNames: Seq[String], dataDir: String, warmOp: String,
                          val minPasses: Int) extends Workload {
  def warmUp(spark: SparkSession): Unit = Caches.withScope {
    SparkEntry.queries(warmOp)(spark, dataDir).write.format("noop").mode("overwrite").save()
  }
  def pass(r: Runner, order: Seq[String], checkDir: Option[String]): Unit =
    order.foreach { name =>
      r.op(name) {
        Caches.withScope {
          val df = r.span("queries.build")(SparkEntry.queries(name)(r.spark, dataDir))
          r.span("write") {
            checkDir match {
              case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
              case None => df.write.format("noop").mode("overwrite").save()
            }
          }
        }
      }
    }
}

/** Two ops: the Olympic bronze→gold run with each output written by
  * `Tables.write`, and the curation funnel writing the split-partitioned
  * corpus and the funnel table. The seed drives the input generator, not
  * the op order. The stage functions are lazy, so their cost lands in the
  * write spans that force them.
  */
final class PipelinesWorkload(bronzeDir: String, tablesDir: String, outDir: String)
    extends Workload {
  import Harness.olympicOutputs
  val opNames: Seq[String] = Seq("olympic", "curation")
  val minPasses = 2

  def warmUp(spark: SparkSession): Unit =
    Seq("biodata", "results", "editions").foreach { t =>
      Tables.table(spark, bronzeDir, t).write.format("noop").mode("overwrite").save()
    }

  def pass(r: Runner, order: Seq[String], checkDir: Option[String]): Unit = Caches.withScope {
    val spark = r.spark
    r.op("olympic") {
      val gold = r.span("pipeline.olympic.run") {
        val bronze = Seq("biodata", "results", "editions")
          .map(t => t -> Tables.table(spark, bronzeDir, t)).toMap
        val iso = Tables.csv(spark, s"$bronzeDir/iso_codes.csv", OlympicSchemas.isoCountryCodes)
        OlympicPipelineMain.run(bronze, iso)
      }
      olympicOutputs.foreach { o =>
        val layer = if (o.startsWith("failure_cases")) "failure_cases" else "gold"
        r.span(s"pipeline.olympic.$o.write") {
          Tables.write(gold(o), s"$outDir/olympic/$layer/$o", SaveMode.Overwrite)
        }
      }
    }
    r.op("curation") {
      val (funnel, corpus) = r.span("pipeline.curation.funnelWithCorpus") {
        CorpusCuration.funnelWithCorpus(Tables.table(spark, tablesDir, "documents"), "doc_id", "text")
      }
      r.span("pipeline.curation.corpus.write") {
        Tables.writePartitioned(corpus, s"$outDir/curation/corpus", Seq("split"))
      }
      r.span("pipeline.curation.funnel.write") {
        Tables.write(funnel, s"$outDir/curation/funnel", SaveMode.Overwrite, files = 1)
      }
    }
  }
}

object Harness {
  /** The `relational` op set: a fixed slice of the `RelationalQueries`
    * keys (aggregates, joins, windows, as-of and interval joins, the
    * zone-map scan), fixed here so that a query added to the registries
    * later does not change what the workload measures.
    */
  val relational: Seq[String] = Seq(
    "q01_pricing_summary", "q03_join_revenue", "q05_anti_join", "q07_top_order_per_customer",
    "q09_grouped_median", "q20_ffill", "q38_cube", "q41_asof_join", "q48_interval_join",
    "q108_zonemap_scan", "q13_regex_extract")

  /** Outputs of `OlympicPipelineMain.run`, in write order. */
  val olympicOutputs: Seq[String] = Seq("bridge_athletes_affiliations", "dim_affiliations",
    "dim_athletes", "dim_games", "failure_cases_bios", "failure_cases_editions",
    "failure_cases_results", "fct_results")

  /** The public `graft.expressions` kernels timed in the traced run. */
  val kernels: Seq[(String, String)] = Seq(
    "unicode_tokens" -> "unicode_tokens(text)",
    "shingle_hashes" -> "shingle_hashes(toks, 3)",
    "minhash_signature" -> "minhash_signature(sh, 128)",
    "lsh_band_hashes" -> "lsh_band_hashes(sh, 128, 16)",
    "simhash64" -> "simhash64(sh)",
    "ngram_overlap_stats" -> "ngram_overlap_stats(toks, rtoks, 4)")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of each live Java thread: the driver, the executor's task
    * threads and Spark's own threads, but not the JIT compiler or GC
    * threads, whose share varies from run to run.
    */
  private def threadCpuNs(): Map[Long, Long] = {
    val t = ManagementFactory.getThreadMXBean
    t.getAllThreadIds.map(id => id -> t.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  private def peakRssMb(): Double = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    hwm.split("\\s+")(1).toDouble / 1024
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One timed pass over the op set. */
  final case class Pass(traced: Boolean, elapsedS: Double, cpuS: Double, processCpuS: Double,
                        samples: Seq[OpSample])

  /** Whole passes, one op at a time, until at least `seconds` have passed
    * and `minPasses` passes ran. With `tracer` set, untraced and traced
    * passes alternate as U T T U U T..., at least two of each (the
    * listeners are attached for the traced ones only), so the tracing
    * overhead is measured in the same JVM without a warm-up bias.
    */
  private def timedPasses(r: Runner, w: Workload, seed: Long, seconds: Double,
                          tracer: Option[Counters]): Seq[Pass] = {
    val rng = new Random(seed)
    val (kinds, least) = if (tracer.isDefined) (2, math.max(4, 2 * w.minPasses)) else (1, w.minPasses)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (passes.size < least || System.nanoTime() - t0 < seconds * kinds * 1e9) {
      val traced = tracer.isDefined && Set(1, 2)(passes.size % 4)
      tracer.filter(_ => traced).foreach { c =>
        r.spark.sparkContext.addSparkListener(c)
        r.spark.listenerManager.register(c)
        r.counters = Some(c)
      }
      r.samples.clear()
      r.pass = passes.size + 1
      val (c0, t0cpu, p0) = (cpuNs(), threadCpuNs(), System.nanoTime())
      w.pass(r, rng.shuffle(w.opNames), None)
      val elapsed = (System.nanoTime() - p0) / 1e9
      val threadCpu = threadCpuNs().map { case (id, ns) => ns - t0cpu.getOrElse(id, 0L) }.sum
      passes += Pass(traced, elapsed, threadCpu / 1e9, (cpuNs() - c0) / 1e9, r.samples.toVector)
      r.counters.foreach { c =>
        r.counters = None
        r.spark.listenerManager.unregister(c)
        r.spark.sparkContext.removeSparkListener(c)
      }
    }
    passes.toVector
  }

  /** Rows per second of each kernel as a `selectExpr` over the documents
    * text with a noop sink, repeated until the timing covers at least 1 s.
    */
  private def kernelRates(spark: SparkSession, tablesDir: String): Map[String, Double] = {
    GraftFunctions.register(spark)
    val input = Tables.table(spark, tablesDir, "documents").select("text")
      .crossJoin(spark.range(20).toDF("rep"))
      .selectExpr("concat(text, ' ', cast(rep AS string)) AS text")
      .selectExpr("text", "split(text, ' ') AS toks")
      .selectExpr("text", "toks", "reverse(toks) AS rtoks", "shingle_hashes(toks, 3) AS sh")
      .persist()
    val rows = input.count()
    val rates = kernels.map { case (name, expr) =>
      val q = input.selectExpr(s"$expr AS k")
      q.write.format("noop").mode("overwrite").save() // warm codegen
      var total = 0.0
      var runs = 0
      while (total < 1.0) {
        val t0 = System.nanoTime()
        q.write.format("noop").mode("overwrite").save()
        total += (System.nanoTime() - t0) / 1e9
        runs += 1
      }
      s"expressions.$name.rows_per_s" -> rows * runs / total
    }.toMap
    input.unpersist(blocking = true)
    rates
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workloadName = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val dataDir = arg(args, "data")
    val outDir = arg(args, "out")
    val cores = arg(args, "cores").toInt
    val setups = arg(args, "setups").toInt
    val tablesDir = s"$dataDir/tables"
    val checkDir = s"$outDir/check"

    val workload: Workload = workloadName match {
      case "relational" => new QueryWorkload(relational, tablesDir, "q02_filter_project", 4)
      case "pipelines" => new PipelinesWorkload(s"$dataDir/bronze", tablesDir, s"$outDir/pipelines")
      case other => sys.error(s"unknown workload $other")
    }

    // set-up, several times: session start + fixed warm-up op. The first
    // one is timed from JVM start, so it includes class loading.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setupS = (1 to setups).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = GraftSession.local(cores = cores, appName = "perfbench")
      workload.warmUp(spark)
      if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }

    val r = new Runner(spark)
    // output pass, untimed: every op once with its output written for the
    // check; it also warms codegen and the JIT for the timed passes
    workload.pass(r, workload.opNames, Some(checkDir))
    val checkFailures = r.samples.collect { case OpSample(n, _, _, Some(e), _) => n -> e }.toMap
    workload match {
      case _: QueryWorkload =>
        Files.createDirectories(Paths.get(checkDir))
        json.writeValue(Paths.get(s"$checkDir/oracle_sql.json").toFile,
          SparkEntry.oracleSql.filter { case (k, _) => workload.opNames.contains(k) })
        json.writeValue(Paths.get(s"$checkDir/errors.json").toFile, checkFailures)
      case _ =>
    }

    val tracer = if (trace) Some(new Counters) else None
    val passes = timedPasses(r, workload, seed, seconds, tracer)
    val rssMb = peakRssMb()
    // heap the process still holds once the passes are done (plan, codegen
    // and block caches, anything a scope forgot to release): steadier than
    // peak RSS, which follows the collector's heap sizing. Scopes unpersist
    // asynchronously, so wait for the block store to empty first.
    val freeBy = System.nanoTime() + 10e9
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() < freeBy)
      Thread.sleep(50)
    System.gc()
    Thread.sleep(200) // lets the context cleaner drop what the first collection freed
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val plain = passes.filterNot(_.traced)
    // A pass's cost is the median over the timed passes (the JIT is still
    // warming through them). Op latencies pool every timed pass; the op sets
    // are small, so the tail is the 90th percentile (nearest rank), and the
    // record states how many samples lie beyond it.
    val wallS = median(plain.map(_.elapsedS))
    val ok = plain.flatMap(_.samples).filter(_.error.isEmpty).map(_.latencyS).sorted
    val tailP = 0.9
    val tailRank = math.max(1, math.ceil(tailP * ok.size).toInt)
    val endToEnd = Map(
      "wall_s" -> wallS,
      "ops_per_min" -> 60.0 * ok.size / plain.map(_.elapsedS).sum,
      "op_p50_s" -> median(ok),
      "op_tail_s" -> ok.lift(tailRank - 1).getOrElse(Double.NaN),
      "cpu_s" -> median(plain.map(_.cpuS)),
      "live_heap_mb" -> liveHeapMb)
    def sampleJson(s: OpSample) = Map("op" -> s.op, "pass" -> s.pass, "latency_s" -> s.latencyS,
      "error" -> s.error.orNull) ++ (if (s.layers.nonEmpty) Map("layers" -> s.layers) else Map())

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "spark_version" -> spark.version,
      "ops" -> workload.opNames, "min_passes" -> workload.minPasses,
      "setup_session_s" -> setupS, "check_pass_failures" -> checkFailures,
      "peak_rss_mb" -> rssMb,
      "end_to_end" -> endToEnd, "op_tail_percentile" -> tailP * 100,
      "op_samples" -> ok.size, "op_samples_beyond_tail" -> (ok.size - tailRank),
      "passes" -> passes.map(p => Map("traced" -> p.traced, "elapsed_s" -> p.elapsedS,
        "cpu_s" -> p.cpuS, "process_cpu_s" -> p.processCpuS)),
      "samples" -> passes.flatMap(_.samples).map(sampleJson))

    tracer.foreach { c =>
      val traced = passes.filter(_.traced)
      val sums = traced.flatMap(_.samples).flatMap(_.layers).groupMapReduce(_._1)(_._2)(_ + _)
      def perPass(k: String): Double = sums.getOrElse(k, 0.0) / traced.size
      val tracedWall = median(traced.map(_.elapsedS))
      val counted = Seq("exec.jobs", "exec.stages", "exec.tasks", "driver.gap_s",
        "exec.run_s", "exec.cpu_s", "exec.gc_s", "shuffle.read_mb", "shuffle.write_mb",
        "exec.spill_mb", "sources.input_mb", "sources.input_rows", "sources.output_mb",
        "plan.analysis_s", "plan.optimization_s", "plan.planning_s")
      // every workload reports every write span: 0 where the workload has none
      val writes = olympicOutputs.map(o => s"pipeline.olympic.$o.write") ++
        Seq("pipeline.curation.corpus.write", "pipeline.curation.funnel.write")
      val perLayer = counted.map(k => k -> perPass(k)).toMap ++ Map(
        "queries.build_s" -> perPass("queries.build.s"),
        "queries.build_jobs" -> perPass("queries.build.jobs"),
        "exec.busy_frac" -> perPass("exec.run_s") / (tracedWall * cores),
        "sources.write_s" -> writes.map(w => perPass(s"$w.s")).sum,
        "caches.peak_stored_mb" -> c.peakStoredBytes / 1e6,
        "trace.wall_s" -> tracedWall,
        "trace.overhead_s" -> (tracedWall - wallS)) ++
        writes.map(w => s"${w}_s" -> perPass(s"$w.s")) ++
        kernelRates(spark, tablesDir)
      record += "per_layer" -> perLayer
      Files.write(Paths.get(s"$outDir/spans.jsonl"),
        r.spans.map(json.writeValueAsString).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    json.writeValue(Paths.get(s"$outDir/record.json").toFile, record)
  }
}
