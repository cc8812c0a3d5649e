package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftTmp, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Runs one benchmark workload in a warmed `local[nproc]` session and
  * writes every raw timing to `<work>/result.json`; `run.py` turns that
  * into the reported metrics and checks the outputs against the oracle.
  *
  * {{{
  * Harness --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  * }}}
  *
  * A run is one output pass (every key's full result is written as
  * parquet, with the oracle SQL beside it, for `tools/check.py`), then the
  * workload's untimed warm passes to the `noop` sink, so that the timed
  * passes run plans the JIT has already compiled, then enough timed passes
  * to fill about `--seconds`. Warm and timed passes write to Spark's `noop`
  * sink, which still computes every projected column and the final
  * ordering (a `count()` lets Catalyst prune columns and answer from
  * parquet footers). With `--trace 1` timed passes alternate untraced and
  * traced; the traced ones register a [[JobTracer]].
  */
object Harness {

  /** One key's run; times are epoch milliseconds (see [[nowMs]]). */
  final case class QueryRec(pass: Int, key: String, module: String,
      start: Double, build: Double, plan: Double, exec: Double, end: Double,
      err: String) {
    def total: Double = end - start
    def group: String = s"p$pass.$key"
    def toMap: Map[String, Any] = Map("pass" -> pass, "key" -> key,
      "module" -> module, "build_s" -> build / 1000, "plan_s" -> plan / 1000,
      "exec_s" -> exec / 1000, "total_s" -> total / 1000, "err" -> err)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.load(spark, data, "lineitem").groupBy("l_returnflag")
      .agg(sum(col("l_quantity"))).write.format("noop").mode("overwrite").save()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    try {
      val w = Workloads.all(opt("workload"))
      val trace = opt("trace") == "1"
      val result = new Run(spark, data, work, cores, w.keys, opt("seed").toLong,
        w.warmPasses, w.passes(opt("seconds").toDouble, trace), trace).apply()
      Files.writeString(work.resolve("result.json"),
        json.writeValueAsString(result + ("setup_s" -> setupS)))
    } finally spark.stop()
  }

  private final class Run(spark: SparkSession, data: String, work: Path, cores: Int,
      keys: Seq[String], seed: Long, warmPasses: Int, passes: Int, trace: Boolean) {
    private val sc = spark.sparkContext
    private val modules = Workloads.moduleOf(keys)
    private val queries = SparkEntry.queries
    private val oracles = SparkEntry.oracleSql
    private val spans = mutable.ArrayBuffer[Span]()
    private def span(parent: Long, name: String, start: Double, end: Double,
        attrs: Map[String, String] = Map.empty): Long = {
      spans += Span(spans.size + 1L, parent, name, start, end, attrs)
      spans.size.toLong
    }
    private val scratchRoot = Paths.get(GraftTmp.dir("_")).getParent

    private def runKey(pass: Int, key: String, sink: (String, DataFrame) => Unit): QueryRec = {
      sc.setJobGroup(s"p$pass.$key", key, interruptOnCancel = false)
      val t0 = nowMs()
      var t1, t2 = Double.NaN
      val err = try {
        val df = queries(key)(spark, data)
        t1 = nowMs()
        df.queryExecution.executedPlan
        t2 = nowMs()
        sink(key, df)
        ""
      } catch { case NonFatal(e) =>
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      } finally sc.clearJobGroup()
      val t3 = nowMs()
      if (t1.isNaN) t1 = t3
      if (t2.isNaN) t2 = t3
      QueryRec(pass, key, modules(key), t0, t1 - t0, t2 - t1, t3 - t2, t3, err)
    }

    /** One pass: every key once, in an order fixed by the seed, clearing
      * the Spark cache between keys so no key reuses another's blocks. */
    private def pass(p: Int, sink: (String, DataFrame) => Unit): (Seq[QueryRec], Double, Double) = {
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(keys)
      val t0 = nowMs()
      val recs = order.map { k =>
        val r = runKey(p, k, sink)
        spark.catalog.clearCache()
        r
      }
      (recs, t0, nowMs())
    }

    def apply(): Map[String, Any] = {
      val osBean = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val memBean = ManagementFactory.getMemoryMXBean
      val outDir = work.resolve("out")
      Files.createDirectories(outDir)
      Files.writeString(outDir.resolve("oracle_sql.json"), json.writeValueAsString(
        keys.filter(oracles.contains).map(k => k -> oracles(k)).toMap))
      val (untimed, o0, o1) = pass(0, (k, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(k).toString))
      System.err.println(f"[perfbench] pass 0 output ${(o1 - o0) / 1000}%.3f s")
      val outputs = untimed.filter(_.err.isEmpty).map(_.key)
      val noop = (_: String, df: DataFrame) => df.write.format("noop").mode("overwrite").save()
      val recs = mutable.ArrayBuffer[QueryRec](untimed: _*)
      for (p <- 1 to warmPasses) {
        val (rs, t0, t1) = pass(p, noop)
        recs ++= rs
        System.err.println(f"[perfbench] pass $p warm ${(t1 - t0) / 1000}%.3f s")
      }

      val tracer = new JobTracer
      val passStats = mutable.ArrayBuffer[Map[String, Any]]()
      val layerStats = mutable.ArrayBuffer[collection.Map[String, Double]]()
      def traced(p: Int) = trace && (p - warmPasses) % 2 == 0
      for (p <- warmPasses + 1 to warmPasses + passes) {
        if (traced(p)) sc.addSparkListener(tracer)
        val cpu0 = osBean.getProcessCpuTime
        val threads0 = threadCpu()
        val (rs, t0, t1) = pass(p, noop)
        val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
        val threads = threadCpu().toSeq.map { case (tid, (kind, t)) =>
          kind -> (t - threads0.get(tid).fold(0.0)(_._2)) }.groupMapReduce(_._1)(_._2)(_ + _)
        // the second collection frees what the first queued for Spark's
        // ContextCleaner (broadcasts, shuffles of dropped plans)
        System.gc()
        Thread.sleep(200)
        System.gc()
        val heapMb = memBean.getHeapMemoryUsage.getUsed / 1048576.0
        val scratchMb = dirBytes(scratchRoot) / 1048576.0
        recs ++= rs
        passStats += Map("pass" -> p, "traced" -> traced(p), "pass_s" -> (t1 - t0) / 1000,
          "cpu_s" -> cpu, "heap_mb" -> heapMb, "scratch_mb" -> scratchMb,
          "jit_cpu_s" -> threads.getOrElse("jit", 0.0), "gc_cpu_s" -> threads.getOrElse("gc", 0.0))
        System.err.println(f"[perfbench] pass $p traced=${traced(p)} ${(t1 - t0) / 1000}%.3f s " +
          f"cpu=$cpu%.2f s heap=$heapMb%.1f MB scratch=$scratchMb%.2f MB")
        if (traced(p)) {
          tracer.settle()
          sc.removeSparkListener(tracer)
          layerStats += layers(rs, t0, t1, tracer.drain(), scratchMb)
        }
      }
      val extra: Map[String, Any] = if (!trace) Map.empty else {
        Files.writeString(work.resolve("spans.jsonl"),
          spans.map(json.writeValueAsString(_) + "\n").mkString)
        // after the last pass: scanning every table in between would
        // perturb the JIT state the next pass runs with
        val tab0 = nowMs()
        val tables = Files.list(Paths.get(data))
        try tables.iterator.asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted.foreach { f =>
            Tables.load(spark, data, f.stripSuffix(".parquet"))
              .write.format("noop").mode("overwrite").save()
          }
        finally tables.close()
        Map("tables_s" -> (nowMs() - tab0) / 1000)
      }
      extra ++ Map(
        "keys" -> keys,
        "outputs" -> outputs,
        "warm_passes" -> warmPasses,
        "queries" -> recs.map(_.toMap),
        "passes" -> passStats,
        "layers" -> layerStats)
    }

    /** Per-layer numbers of one traced pass; also records its spans. */
    private def layers(rs: Seq[QueryRec], t0: Double, t1: Double,
        drained: (Map[String, Seq[(Double, Double)]], Map[String, Counters], Double),
        scratchMb: Double): collection.Map[String, Double] = {
      val (jobSpans, counts, skew) = drained
      val passS = (t1 - t0) / 1000
      val passSpan = span(0, "pass", t0, t1, Map("pass" -> rs.head.pass.toString))
      val total = new Counters
      counts.values.foreach(total.add)
      // module -> (its queries' counters, query ms, query ms outside Spark jobs)
      val perModule = mutable.LinkedHashMap[String, (Counters, Array[Double])]()
      Workloads.reportedModules.foreach(m => perModule(m) = (new Counters, Array(0.0, 0.0)))
      var buildJobs = 0L
      var buildSelf, planSelf, execSelf, jobTime = 0.0
      rs.foreach { r =>
        val js = jobSpans.getOrElse(r.group, Nil)
        val (b0, p0, e0) = (r.start, r.start + r.build, r.start + r.build + r.plan)
        val q = span(passSpan, "query", r.start, r.end, Map("key" -> r.key, "module" -> r.module))
        span(q, "build", b0, p0); span(q, "plan", p0, e0); span(q, "exec", e0, r.end)
        js.foreach { case (a, b) => span(q, "spark_job", a, b, Map("group" -> r.group)) }
        buildJobs += js.count { case (a, _) => a >= b0 && a < p0 }
        val inQuery = Spans.covered(js, r.start, r.end)
        buildSelf += r.build - Spans.covered(js, b0, p0)
        planSelf += r.plan - Spans.covered(js, p0, e0)
        execSelf += r.exec - Spans.covered(js, e0, r.end)
        jobTime += inQuery
        val (mc, times) = perModule.getOrElseUpdate(r.module, (new Counters, Array(0.0, 0.0)))
        counts.get(r.group).foreach(mc.add)
        times(0) += r.total
        times(1) += r.total - inQuery
      }
      def mb(b: Long) = b / 1048576.0
      val out = mutable.LinkedHashMap[String, Double](
        "operators.build_s" -> rs.map(_.build).sum / 1000,
        "operators.build_jobs" -> buildJobs.toDouble,
        "catalyst.plan_s" -> rs.map(_.plan).sum / 1000,
        "scheduler.jobs" -> total.jobs.toDouble,
        "scheduler.stages" -> total.stages.toDouble,
        "scheduler.tasks" -> total.tasks.toDouble,
        "scheduler.task_wait_s" -> total.taskWaitMs / 1000,
        "exec.run_s" -> rs.map(_.exec).sum / 1000,
        "exec.task_run_s" -> total.taskRunMs / 1000,
        "exec.task_cpu_s" -> total.taskCpuNs / 1e9,
        "exec.gc_s" -> total.gcMs / 1000,
        "exec.core_util" -> total.taskRunMs / 1000 / (passS * cores),
        "exec.skew_max" -> skew,
        "exec.spill_mb" -> mb(total.spill),
        "shuffle.write_mb" -> mb(total.shuffleWrite),
        "shuffle.read_mb" -> mb(total.shuffleRead),
        "scan.input_mb" -> mb(total.inputBytes),
        "scan.input_rows" -> total.inputRows.toDouble,
        "sink.output_mb" -> mb(total.output),
        "sink.scratch_mb" -> scratchMb,
        "self.build_s" -> buildSelf / 1000,
        "self.plan_s" -> planSelf / 1000,
        "self.exec_s" -> execSelf / 1000,
        "self.spark_jobs_s" -> jobTime / 1000,
        "self.harness_s" -> (passS - rs.map(_.total).sum / 1000))
      perModule.foreach { case (m, (c, Array(qMs, selfMs))) =>
        out(s"$m.query_s") = qMs / 1000
        out(s"$m.self_s") = selfMs / 1000
        out(s"$m.jobs") = c.jobs.toDouble
        out(s"$m.core_util") = if (qMs > 0) c.taskRunMs / (qMs * cores) else 0.0
      }
      out
    }
  }

  /** Thread id -> (kind, CPU seconds so far) for the JVM's JIT compiler
    * ("jit") and GC ("gc") threads, from `/proc/self/task` (empty where
    * there is none). A thread that exits takes its time with it, so a
    * difference of two calls is a lower bound. */
  def threadCpu(): Map[String, (String, Double)] = {
    val root = Paths.get("/proc/self/task")
    if (!Files.isDirectory(root)) return Map.empty
    val ticksPerS = 100.0 // USER_HZ on Linux
    val tasks = Files.list(root)
    try tasks.iterator.asScala.flatMap { t =>
      try {
        val comm = Files.readString(t.resolve("comm")).trim
        val kind = if (comm.contains("CompilerThre")) "jit"
          else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) "gc"
          else ""
        // utime and stime are fields 14 and 15; the name in field 2 may hold spaces
        val stat = Files.readString(t.resolve("stat"))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        if (kind.isEmpty) None
        else Some(t.getFileName.toString -> (kind -> (f(11).toLong + f(12).toLong) / ticksPerS))
      } catch { case NonFatal(_) => None } // the thread exited meanwhile
    }.toMap
    finally tasks.close()
  }

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
