package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.lineage._
import graft.meta.MetadataExtractor
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.SparkSession

object Json {
  val mapper = new ObjectMapper()
}

/** One reported number: name, unit, value and how many samples it summarises. */
final case class Metric(name: String, unit: String, value: Double, samples: Int)

/** Entry point: one run of one workload, writing its JSON document to `--out`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --work <dir> --out <file>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val run = new Run(arg("workload"), arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", arg("data"), arg("work"))
    val out = try run.execute() catch {
      case t: Throwable =>
        t.printStackTrace()
        sys.exit(2)
    }
    Json.mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(arg("out")), out)
    sys.exit(0)
  }
}

/** One run: set-up (three session builds plus a warm-up pass), the timed
  * closed loop of whole passes, the drain of lineage records, the checks,
  * and the metrics. With `trace` the run also installs the benchmark's own
  * probes and replays the lineage calls for the per-layer metrics. */
final class Run(workload: String, seed: Long, seconds: Int, trace: Boolean,
    dataDir: String, workDir: String) {
  val cpus: Int = Runtime.getRuntime.availableProcessors
  private val born = System.nanoTime()

  /** A progress line in the JVM log, with the seconds since the run began. */
  private def progress(phase: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1f s: $phase")
  private val metrics = mutable.LinkedHashMap.empty[String, Metric]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L

  def fail(msg: String): Unit = synchronized {
    failures += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  private def put(name: String, unit: String, value: Double, samples: Int): Unit =
    metrics(name) = Metric(name, unit, value, samples)

  private def ms(ns: Long): Double = ns / 1e6

  /** Timing series: each is reported as its median, and in the run's
    * document also at the highest percentile with ten samples beyond it. */
  private val series = mutable.LinkedHashMap.empty[String, Seq[Double]]

  private def timing(name: String, unit: String, xs: Seq[Double]): Unit = {
    series(name) = xs
    put(s"${name}_p50", unit, if (xs.isEmpty) 0.0 else Stats.median(xs), xs.size)
  }

  private def session(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
    .config("spark.sql.files.openCostInBytes", s"${128 * 1024}")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$workDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    .getOrCreate()

  private def isNoop(rec: JsonNode): Boolean = rec.path("output").path("name").asText() == "noop-table"

  private val Marker = "perfbench_setup_marker"

  /** Waits until the warm-up's records have been built and written: the
    * listener bus and the sink deliver in order, so once the record of a
    * marker action queued behind them is in the file, so are they. */
  private def awaitSetupRecords(spark: SparkSession, path: Path): Unit = {
    spark.range(1).toDF(Marker).write.format("noop").mode("overwrite").save()
    val deadline = System.nanoTime() + 120000000000L
    while (!(Files.exists(path) && new String(Files.readAllBytes(path)).contains(Marker))) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"the warm-up's lineage records never reached $path")
      Thread.sleep(20)
    }
  }

  /** /proc/stat totals: (all jiffies, steal jiffies). */
  private def cpuStat(): (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  } catch { case _: Throwable => (0L, 0L) }

  private def loadavg(): Double = try
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
  catch { case _: Throwable => -1.0 }

  private def memoCounters(): Map[String, Long] = Map(
    "centroid" -> Similarity.centroidRuns.get, "pq" -> Similarity.pqRuns.get,
    "probe" -> Similarity.probeRuns.get, "cc" -> Dedup.ccRuns.get,
    "phash" -> Multimodal.phashRuns.get)

  final case class Done(op: Op, startNs: Long, endNs: Long, ok: Boolean,
      phases: Map[String, Long])

  /** One timed noop write, then the op's check outside the timing. */
  private def runOp(spark: SparkSession, op: Op): Done = {
    attempted += 1
    val s = System.nanoTime()
    var phases = Map.empty[String, Long]
    var df: org.apache.spark.sql.DataFrame = null
    val ok = try {
      df = op.make(spark)
      if (trace) phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
      df.write.format("noop").mode("overwrite").save()
      true
    } catch { case e: Throwable => fail(s"${op.label}: $e"); false }
    val e = System.nanoTime()
    if (ok) op.check.foreach(c =>
      try c(df).foreach(fail) catch { case t: Throwable => fail(s"${op.label} check: $t") })
    Done(op, s, e, ok, phases)
  }

  def execute(): ObjectNode = {
    Files.createDirectories(Paths.get(workDir))
    val loadStart = loadavg()
    val (cpuTotal0, steal0) = cpuStat()
    val w = Workloads(workload, seed, dataDir, workDir)

    // ---- set-up: three session builds, then one warm-up pass
    var spark: SparkSession = null
    var setupListener: LineageListener = null
    val setupJsonl = Paths.get(s"$workDir/setup.jsonl")
    val setupTimes = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session()
      spark.sparkContext.setLogLevel("WARN")
      setupListener = Lineage.install(spark, new JsonlFileSink(setupJsonl.toString))
      w.prepare(spark, this)
      (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    w.warmup(spark, this)
    awaitSetupRecords(spark, setupJsonl)
    val warmupS = (System.nanoTime() - tw) / 1e9
    Lineage.uninstall(spark, setupListener)
    put("setup_s", "s", Stats.median(setupTimes) + warmupS, setupTimes.size)

    progress("set-up done")
    // ---- the listener a user installs, on a fresh file for the timed phase
    val jsonl = Paths.get(s"$workDir/lineage.jsonl")
    Files.deleteIfExists(jsonl)
    val watcher = new JsonlWatcher(jsonl)
    val exec = new ExecListener
    val capture = new QeCapture
    lazy val deliverClock = new DeliverClock(new JsonlFileSink(jsonl.toString))
    lazy val asyncSink = new AsyncSink(deliverClock)
    lazy val enqueue = new EnqueueClock(asyncSink)
    val listener =
      if (trace) {
        spark.sparkContext.addSparkListener(exec)
        spark.listenerManager.register(capture)
        Lineage.installSync(spark, enqueue)
      } else Lineage.install(spark, new JsonlFileSink(jsonl.toString))

    // ---- timed closed loop: whole passes until --seconds have elapsed
    val memo0 = memoCounters()
    val exec0 = exec.snapshot()
    val done = mutable.ArrayBuffer.empty[Done]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val loopStart = System.nanoTime()
    var pass = 0
    while (pass == 0 || System.nanoTime() - loopStart < seconds * 1000000000L) {
      val ps = System.nanoTime()
      w.pass(pass).foreach(op => done += runOp(spark, op))
      passTimes += (System.nanoTime() - ps) / 1e9
      pass += 1
    }
    val loopEnd = System.nanoTime()
    val memo1 = memoCounters()

    progress("timed loop done")
    // ---- drain: wait for one noop-table record per successful action
    val okOps = done.filter(_.ok)
    val parsed = mutable.ArrayBuffer.empty[JsonNode]
    val drainDeadline = System.nanoTime() + 60000000000L
    def noopCount = parsed.count(isNoop)
    while (noopCount < okOps.size && System.nanoTime() < drainDeadline) {
      Thread.sleep(20)
      val complete = watcher.lineCount.toInt
      if (complete > parsed.size)
        Files.readAllLines(jsonl).asScala.slice(parsed.size, complete)
          .foreach(l => parsed += Json.mapper.readTree(l))
    }
    Thread.sleep(200) // a duplicate record would land right behind the last one
    val arrivals = watcher.stop()
    if (arrivals.size > parsed.size)
      Files.readAllLines(jsonl).asScala.slice(parsed.size, arrivals.size)
        .foreach(l => parsed += Json.mapper.readTree(l))
    val noopIdx = parsed.indices.filter(i => isNoop(parsed(i)))
    if (noopIdx.size != okOps.size)
      fail(s"${okOps.size} actions produced ${noopIdx.size} noop-table records")
    val lost = math.max(0, okOps.size - noopIdx.size)
    // task events share the listener bus with the records, so by now
    // every task of the timed loop has been counted
    val exec1 = exec.snapshot()
    okOps.zip(noopIdx).foreach { case (d, i) => w.checkRecord(d.op, parsed(i), this) }
    attempted += 1 // the record-count check

    progress("records drained and checked")
    // ---- end-to-end metrics
    val opMs = done.filter(_.ok).map(d => ms(d.endNs - d.startNs)).toSeq
    val lags = okOps.zip(noopIdx).map { case (d, i) => ms(arrivals(i) - d.endNs) }.toSeq
    put("pass_s", "s", Stats.median(passTimes.toSeq), passTimes.size)
    timing("op_ms", "ms", opMs)
    timing("record_lag_ms", "ms", lags)
    // one record per user action: the noop-table records, from the first
    // action to the delivery of the last; records of the actions that
    // operators run inside a query are left out
    if (noopIdx.nonEmpty)
      put("records_per_s", "1/s", noopIdx.size / ((arrivals(noopIdx.last) - loopStart) / 1e9), noopIdx.size)
    if (arrivals.nonEmpty)
      put("catalog_bytes_per_record", "B", Files.size(jsonl).toDouble / arrivals.size, arrivals.size)

    val detail = Json.mapper.createObjectNode()
    val opsJson = detail.putArray("ops")
    done.foreach { d =>
      val o = opsJson.addObject().put("label", d.op.label).put("ms", ms(d.endNs - d.startNs)).put("ok", d.ok)
      if (d.op.info.nonEmpty) o.put("info", d.op.info)
    }
    if (trace) {
      Lineage.uninstall(spark, listener)
      spark.listenerManager.unregister(capture)
      traced(spark, w, done.toSeq, okOps.toSeq, noopIdx, parsed.toSeq, capture,
        enqueue, asyncSink, deliverClock, exec,
        exec0, exec1, memo0, memo1, pass, (loopEnd - loopStart) / 1e9, jsonl, detail)
      spark.sparkContext.removeSparkListener(exec)
    } else {
      // Spark's context cleaner frees shuffle and broadcast state only after
      // a GC has queued their references, so collect until nothing more goes
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      val heap = (1 to 3).map { _ =>
        System.gc(); Thread.sleep(250); mem.getHeapMemoryUsage.getUsed
      }.min
      put("driver_heap_mb", "MB", heap / 1048576.0, 3)
    }
    val sparkVersion = spark.version
    spark.stop()

    progress("session stopped")
    // ---- the run's JSON document
    val (cpuTotal1, steal1) = cpuStat()
    val stealRatio = if (cpuTotal1 > cpuTotal0) (steal1 - steal0).toDouble / (cpuTotal1 - cpuTotal0) else 0.0
    val env = detail.putObject("env")
    env.put("workload", workload).put("seed", seed).put("seconds", seconds).put("trace", trace)
    env.put("nproc", cpus).put("loadavg_start", loadStart).put("loadavg_end", loadavg())
    env.put("steal_ratio", stealRatio)
    env.put("jdk", System.getProperty("java.version")).put("spark", sparkVersion)
    env.put("passes", pass).put("setup_builds_s", setupTimes.mkString(",")).put("warmup_s", warmupS)
    detail.put("attempted", attempted).put("failed", failures.size.toLong).put("records_lost", lost.toLong)
    val fs = detail.putArray("failures")
    failures.take(50).foreach(f => fs.add(f))
    val ts = detail.putObject("timings")
    series.foreach { case (name, xs) =>
      val t = ts.putObject(name).put("samples", xs.size)
      if (xs.nonEmpty) t.put("p50", Stats.median(xs))
      Stats.tailPercentile(xs.size).filter(_ > 50.0).foreach(p =>
        t.put("tail_percentile", p).put("tail", Stats.percentile(xs, p)))
    }
    val ms_ = detail.putArray("metrics")
    metrics.values.foreach { m =>
      ms_.addObject().put("name", m.name).put("unit", m.unit).put("value", m.value).put("samples", m.samples)
    }
    detail
  }

  /** The per-layer metrics of a traced run. */
  private def traced(spark: SparkSession, w: Workload, done: Seq[Done], okOps: Seq[Done],
      noopIdx: Seq[Int], parsed: Seq[JsonNode], capture: QeCapture,
      enqueue: EnqueueClock, asyncSink: AsyncSink, deliverClock: DeliverClock, exec: ExecListener,
      exec0: Map[String, Long], exec1: Map[String, Long],
      memo0: Map[String, Long], memo1: Map[String, Long],
      passes: Int, wallS: Double, jsonl: Path, detail: ObjectNode): Unit = {
    val ops = math.max(done.size, 1)
    val captured = capture.drainAll()

    // catalyst: planning phases of every action, per op
    val phaseSum = mutable.Map.empty[String, Long].withDefaultValue(0L)
    done.foreach(_.phases.foreach { case (k, v) => phaseSum(k) += v })
    captured.foreach(_.qe.tracker.phases.foreach { case (k, v) => phaseSum(k) += v.durationMs })
    Seq("analysis", "optimization", "planning").foreach(p =>
      put(s"catalyst.${p}_ms", "ms", phaseSum(p).toDouble / ops, captured.size))

    // exec: Spark's task events over the timed loop, per pass
    def d(k: String) = (exec1(k) - exec0(k)).toDouble
    Seq("jobs", "stages", "tasks").foreach(k => put(s"exec.$k", "count", d(k) / passes, passes))
    put("exec.task_cpu_s", "s", d("cpu_ns") / 1e9 / passes, passes)
    put("exec.task_run_s", "s", d("run_ms") / 1e3 / passes, passes)
    put("exec.gc_s", "s", d("gc_ms") / 1e3 / passes, passes)
    put("exec.core_busy_ratio", "ratio", d("run_ms") / 1e3 / (wallS * cpus), passes)
    Seq("scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes").foreach(k =>
      put(s"exec.$k", "B", d(k) / passes, passes))
    put("exec.peak_exec_mem_bytes", "B", exec1("peak_exec_mem_bytes").toDouble, passes)

    // op: wall time per operator module, per pass
    Registry.modules.foreach { m =>
      val mine = done.filter(_.op.module == m)
      put(s"op.$m.wall_s", "s", mine.map(x => (x.endNs - x.startNs) / 1e9).sum / passes, mine.size)
    }
    memo0.keys.toSeq.sorted.foreach(k =>
      put(s"memo.${k}_trainings", "count", (memo1(k) - memo0(k)).toDouble / passes, passes))

    // lineage: replay the public extraction calls on each noop write's
    // QueryExecution in rounds: the calls alternate within a round, and
    // rounds repeat, up to three, while they add up to less than 100 ms.
    // Each call keeps its fastest time, so a GC pause or JIT compilation
    // does not land in one short call and not in another; the long calls
    // of lineage_wide run once
    val writes = captured.filter(c => PlanExtractor.output(c.qe.analyzed).exists(_.name == "noop-table"))
    def fastest(calls: (() => Any)*): Seq[Double] = {
      val best = Array.fill(calls.size)(Double.MaxValue)
      var rounds = 0
      var spent = 0.0
      while (rounds < 3 && (rounds == 0 || spent < 100.0)) {
        calls.indices.foreach { i =>
          val t0 = System.nanoTime()
          calls(i)()
          val t = ms(System.nanoTime() - t0)
          best(i) = math.min(best(i), t)
          spent += t
        }
        rounds += 1
      }
      best.toSeq
    }
    val rep = writes.map { c =>
      val an = c.qe.analyzed
      val sink = new InMemorySink
      val Seq(build, phases @ _*) = fastest(
        () => new LineageListener(Seq(sink)).onSuccess(c.funcName, c.qe, c.durationNs),
        () => PlanExtractor.inputs(an),
        () => PlanExtractor.output(an),
        () => ColumnLineage.forPlan(an),
        () => MetadataExtractor.schemaFingerprint(PlanExtractor.queryBody(an).schema))
      val rec = sink.records.head
      val Seq(toJson, openLineage) = fastest(() => rec.toJson, () => OpenLineage.toRunEvent(rec))
      (build, phases, toJson, openLineage,
        rec.columnLineage.size.toDouble, an.collect { case n => n }.size.toDouble)
    }
    val builds = rep.map(_._1)
    timing("lineage.build_ms", "ms", builds)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val phaseNames = Seq("inputs_ms", "output_ms", "column_lineage_ms", "schema_fp_ms")
    phaseNames.zipWithIndex.foreach { case (n, i) => put(s"lineage.$n", "ms", mean(rep.map(_._2(i))), rep.size) }
    put("lineage.build_ms_mean", "ms", mean(builds), rep.size)
    // record building against the action it describes: above 1, records
    // queue on the listener bus faster than it builds them
    val actionMs = okOps.map(d => ms(d.endNs - d.startNs)).sum
    put("lineage.build_per_action", "ratio", if (actionMs > 0) builds.sum / actionMs else 0.0, rep.size)
    put("lineage.residual_ms", "ms", mean(builds) - rep.map(_._2.sum).sum / math.max(rep.size, 1), rep.size)
    put("lineage.to_json_ms", "ms", mean(rep.map(_._3)), rep.size)
    put("lineage.openlineage_ms", "ms", mean(rep.map(_._4)), rep.size)
    put("lineage.columns_per_record", "count", mean(rep.map(_._5)), rep.size)
    put("lineage.plan_nodes_per_record", "count", mean(rep.map(_._6)), rep.size)
    put("lineage.records_per_action", "count", parsed.size.toDouble / ops, parsed.size)
    put("lineage.records_lost", "count", (okOps.size - noopIdx.size).max(0).toDouble, okOps.size)

    // bus and sink: clocks around the async queue, matched to actions by order
    val enq = enqueue.enqueued.asScala.toSeq
    val enqNoop = enq.filter(_._1.output.exists(_.name == "noop-table")).map(_._2)
    val buildByOp = builds.padTo(okOps.size, 0.0)
    val busWait = okOps.indices.filter(_ < enqNoop.size).map(k =>
      ms(enqNoop(k) - okOps(k).endNs) - buildByOp(k))
    timing("bus.wait_ms", "ms", busWait)
    val backlog = okOps.indices.map(k => k + 1 - enqNoop.count(_ <= okOps(k).endNs))
    put("bus.backlog_max", "count", if (backlog.isEmpty) 0.0 else backlog.max.toDouble, backlog.size)
    val delivered = deliverClock.delivered.asScala.toSeq
    val enqAt = new java.util.IdentityHashMap[LineageRecord, java.lang.Long]()
    enq.foreach { case (r, t) => enqAt.put(r, t) }
    val queueWait = delivered.flatMap { case (r, t0, _) => Option(enqAt.get(r)).map(e => ms(t0 - e)) }
    timing("sink.queue_wait_ms", "ms", queueWait)
    val deliver = delivered.map { case (_, t0, t1) => ms(t1 - t0) }
    timing("sink.deliver_ms", "ms", deliver)
    asyncSink.close()
    put("sink.dropped", "count", asyncSink.droppedCount.toDouble, enq.size)
    put("sink.abandoned", "count", asyncSink.abandonedCount.toDouble, enq.size)

    // catalog: reading back the records this run wrote
    def median3(f: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 })
    val path = jsonl.toString
    put("catalog.load_s", "s", median3(LineageCatalog.load(spark, path)), 3)
    put("catalog.edges_s", "s", median3(LineageGraph.edgesDf(LineageCatalog.loadDf(spark, path)).count()), 3)
    put("catalog.column_edges_s", "s",
      median3(LineageGraph.columnEdgesDf(LineageCatalog.loadDf(spark, path)).count()), 3)

    // graph: closure queries over a generated catalog (lineage_wide only)
    val impact = w match {
      case _: LineageWide =>
        val ci = new CatalogImpact(seed, workDir)
        ci.write()
        val g0 = exec.snapshot()
        val runs = ci.ops.map(op => runOp(spark, op))
        Thread.sleep(200) // let the last task events reach the listener
        val g1 = exec.snapshot()
        Some((ci, runs, g1("jobs") - g0("jobs"), g1("shuffle_write_bytes") - g0("shuffle_write_bytes")))
      case _ => None
    }
    val queries = impact.map(_._2).getOrElse(Seq.empty)
    val levels = impact.map { case (ci, runs, _, _) => runs.map(r => ci.levels(r.op.label).toDouble) }
      .getOrElse(Seq.empty)
    val n = math.max(queries.size, 1)
    timing("graph.impact_query_ms", "ms", queries.map(r => ms(r.endNs - r.startNs)))
    put("graph.closure_levels", "count", mean(levels), levels.size)
    timing("graph.level_ms", "ms", queries.zip(levels).map { case (r, l) => ms(r.endNs - r.startNs) / l })
    put("graph.jobs_per_query", "count", impact.map(_._3).getOrElse(0L).toDouble / n, queries.size)
    put("graph.shuffle_bytes_per_query", "B", impact.map(_._4).getOrElse(0L).toDouble / n, queries.size)

    // the end-to-end timings under tracing, for the tracing overhead
    put("trace.op_ms_p50", "ms", metrics("op_ms_p50").value, metrics("op_ms_p50").samples)
    put("trace.record_lag_ms_p50", "ms", metrics("record_lag_ms_p50").value, metrics("record_lag_ms_p50").samples)
  }
}
