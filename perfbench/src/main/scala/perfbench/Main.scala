package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** Benchmark main: one run of one workload.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *   <workDir> <cpus> <launchEpochMs>
  *
  * Prints, as its last stdout line, one JSON object: every metric as
  * [value, unit], the deterministic counters, the attempted/failed
  * operation counts, and the directory of registry outputs that still
  * need the oracle check. */
object Main {
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    /** Job and stage counts that must repeat exactly across runs of the
      * same code and seed; run.py compares them with earlier runs. */
    val counts = mutable.LinkedHashMap.empty[String, Long]
    var attempted = 0L
    var failed = 0L
    var checkDir = ""
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      dataDir: String, workDir: Path, cpus: Int, launchMs: Long)

  def session(cpus: Int): SparkSession = {
    val spark = graft.Tables.session(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(q * s.size).toInt - 1))
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  /** Fixed in-memory CPU canary: the same aggregate every run, so a slow
    * container shows here whatever the code under test does. */
  def calMs(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(100L * 1000 * 1000).select(sum(col("id") * 2L + 1L)).collect()
      (System.nanoTime() - t0) / 1e6
    }
    once()
    median((1 to 3).map(_ => once()))
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val realOut = System.out
    System.setOut(System.err)
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1", argv(4),
      Paths.get(argv(5)), argv(6).toInt, argv(7).toLong)
    val r = new Result
    val launchS = (mainMs - a.launchMs) / 1000.0
    a.workload match {
      case "geo-stream" => StreamWorkload.run(a, r, launchS)
      case "registry-batch" => RegistryWorkload.run(a, r, launchS)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.put("peak_rss_mb", peakRssMb(), "MB")
    r.metrics.foreach { case (k, (v, u)) => System.err.println(f"[perfbench] $k = $v%.4f $u") }
    val ms = r.metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k":[$num,"$u"]"""
    }.mkString("{", ",", "}")
    val cs = r.counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    realOut.println(s"""{"metrics":$ms,"counts":$cs,"attempted":${r.attempted},""" +
      s""""failed":${r.failed},""" +
      s""""check_dir":"${r.checkDir}"}""")
    realOut.flush()
  }
}

/** Drives [[GeoStream]]: repeated set-ups, the timed latency and
  * drain phases, the output check, and (traced) the batch-phase spans,
  * the offline replay and the single-core baseline. */
object StreamWorkload {
  import Main._
  import StreamRun._

  val setUps = 3

  def run(a: Args, r: Result, launchS: Double): Unit = {
    val topo = GeoStream
    val warm = topo.warmFiles
    val nFiles = warm + topo.latencyFiles + topo.drainFiles
    val sr = new StreamRun(a.workDir, a.dataDir, a.seed)
    var spark: SparkSession = null
    var t: Telemetry = null
    var live: Live = null
    val setupS = (1 to setUps).map { rep =>
      if (live != null) { live.query.stop(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(a.cpus)
      t = new Telemetry(spark, a.trace)
      live = sr.setUp(spark, rep, nFiles)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] set-ups: ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    r.put("setup_s", launchS + median(setupS), "s")
    val qid = live.query.id.toString
    val lastWarm = lastDataBatch(t, qid)

    val gc0 = gcMs()
    val gen = sr.latencyPhase(live, warm, topo.latencyFiles)
    val lastLatency = lastDataBatch(t, qid)
    // the benchmark's own span around the drain, on its own clock: the
    // coverage of the batch-phase spans is measured against it
    var drainSpan = 0L
    t.tracer.span("bench", "drain", "drain") {
      drainSpan = t.tracer.current
      sr.drainPhase(spark, live, warm + topo.latencyFiles, topo.drainFiles)
    }
    val lastDrain = lastDataBatch(t, qid)
    val gcTimed = gcMs() - gc0
    live.query.stop()
    t.flush()
    val failure = t.progress.failure

    val prog = t.progress.of(qid).filter(_.numInputRows > 0)
    val latB = prog.filter(p => p.batchId > lastWarm && p.batchId <= lastLatency)
    val drainB = prog.filter(p => p.batchId > lastLatency && p.batchId <= lastDrain)
    prog.foreach(p => System.err.println(s"[perfbench] batch ${p.batchId}: " +
      s"${p.numInputRows} rows, ${p.durationMs.asScala.toSeq.sorted.mkString(" ")}"))
    val batchOf = committedBatch(live.ckpt)
    val byId = prog.map(p => p.batchId -> p).toMap

    // latency: due time -> end of the committing micro-batch
    val lat = gen.paths.zip(gen.due).flatMap { case (p, due) =>
      batchOf.get(p).flatMap(byId.get).map(b => (endMs(b) - due).toDouble)
    }
    val lagMs = gen.moved.zip(gen.due).map { case (m, d) => (m - d).toDouble }
    val latFileBatches = gen.paths.flatMap(batchOf.get)
    val backlog = latB.map { b =>
      val sent = gen.moved.count(_ <= startMs(b))
      val done = latFileBatches.count(_ < b.batchId)
      (sent - done).toDouble
    }
    val backlogEnd = {
      val lastSent = gen.moved.max
      gen.moved.size - latFileBatches.count(id => byId.get(id).exists(startMs(_) < lastSent))
    }
    def wall(bs: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      if (bs.isEmpty) 0.0 else (endMs(bs.last) - startMs(bs.head)) / 1000.0
    val drainWall = wall(drainB)
    val drainRows = drainB.map(_.numInputRows).sum.toDouble

    // validity of the open loop: the generator kept its schedule and the
    // stream kept up with the offered rate
    val lagBound = 250.0
    val valid = lagMs.max <= lagBound && backlogEnd <= 2 * topo.cap
    if (!valid) System.err.println(s"[perfbench] invalid open loop: max lag " +
      f"${lagMs.max}%.0f ms (bound $lagBound%.0f), backlog at end $backlogEnd (bound ${2 * topo.cap})")
    val ok = failure.isEmpty && lat.size == gen.paths.size &&
      drainB.map(_.numInputRows).sum == topo.drainFiles.toLong * topo.linesPerFile
    failure.foreach(f => System.err.println(s"[perfbench] stream failed: $f"))

    // output check, outside the timed region
    val checked = try topo.check(spark, live.in.toString, live.out)
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] output check failed: $e"); false }
    r.attempted = latB.size + drainB.size + 2
    r.failed = (if (ok) 0 else latB.size + drainB.size) + (if (checked) 0 else 1) +
      (if (valid) 0 else 1)

    r.put("drain_rows_per_s", drainRows / math.max(drainWall, 1e-3), "rows/s")
    r.put("latency_p50_ms", quantile(lat, 0.5), "ms")
    r.put("latency_p90_ms", quantile(lat, 0.9), "ms")
    r.put("sweep_s", drainWall, "s")
    r.put("query_geomean_s", geomean(drainB.map(b => phaseMs(b, "triggerExecution") / 1000.0)), "s")
    val w = new Work
    drainB.foreach(b => w += t.counters.batch(qid, b.batchId))
    r.counts("runner.drain_jobs") = w.jobs
    r.counts("runner.drain_stages") = w.stages

    if (a.trace) {
      val timedB = latB ++ drainB
      def p50(k: String) = median(timedB.map(phaseMs(_, k)))
      r.put("sources.latest_offset_ms", p50("latestOffset"), "ms")
      r.put("sources.get_batch_ms", p50("getBatch"), "ms")
      r.put("sources.backlog_files_max", if (backlog.isEmpty) 0.0 else backlog.max, "count")
      r.put("streaming.query_planning_ms", p50("queryPlanning"), "ms")
      r.put("streaming.wal_commit_ms", p50("walCommit"), "ms")
      r.put("streaming.commit_offsets_ms", p50("commitOffsets"), "ms")
      r.put("streaming.batches", timedB.size.toDouble, "count")
      r.put("streaming.rows_per_batch", drainRows / math.max(drainB.size, 1), "rows")
      val state = drainB.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
      r.put("streaming.state_rows", state.map(_.numRowsTotal).sum.toDouble, "rows")
      r.put("streaming.state_bytes", state.map(_.memoryUsedBytes).sum.toDouble, "bytes")
      r.put("streaming.state_commit_ms",
        median(timedB.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms")
      r.put("runner.add_batch_ms_p50", p50("addBatch"), "ms")
      r.put("runner.add_batch_ms_p90", quantile(timedB.map(phaseMs(_, "addBatch")), 0.9), "ms")
      val nb = math.max(drainB.size, 1).toDouble
      r.put("runner.jobs_per_batch", w.jobs / nb, "count")
      r.put("runner.stages_per_batch", w.stages / nb, "count")
      r.put("runner.tasks_per_stage", w.tasks.toDouble / math.max(w.stages, 1), "count")
      putExec(r, w, drainB.map(phaseMs(_, "addBatch")).sum / 1000.0, drainWall, a.cpus)
      val drainIds = drainB.map(_.batchId).toSet
      batchSpans(t, timedB, b => if (drainIds(b.batchId)) drainSpan else 0L)
      // self time per layer over the drain; the benchmark's own share
      // (query restart, gaps between batches) is what no layer covers
      val self = Tracer.selfTimes(t.tracer.all.filter(s =>
        s.id == drainSpan || drainIds.exists(id => s.trace == s"b$id")))
      val layers = self - "bench"
      layers.foreach { case (layer, s) => r.put(s"self.$layer" + "_s", s, "s") }
      val drainSpanS = t.tracer.all.find(_.id == drainSpan).map(_.durUs / 1e6).getOrElse(0.0)
      r.put("bench.span_coverage_ratio", layers.values.sum / math.max(drainSpanS, 1e-3), "ratio")
      topo.replay(spark, t, live.in.toString).foreach { case (k, v, u) => r.put(k, v, u) }
    }
    r.put("jvm.gc_ms", gcTimed.toDouble, "ms")
    r.put("bench.generator_lag_ms", lagMs.max, "ms")
    r.put("bench.cal_ms", calMs(spark), "ms")
    if (a.trace) Files.write(a.workDir.resolve("spans.json"), t.tracer.toJson.getBytes("UTF-8"))
    spark.stop()

    if (a.trace) { // single-core baseline: the same drain at local[1]
      val one = session(1)
      val t1 = new Telemetry(one, false)
      val base = new StreamRun(a.workDir.resolve("local1"), a.dataDir, a.seed)
      val l1 = base.setUp(one, 1, warm + topo.drainFiles)
      val qid1 = l1.query.id.toString
      val from = lastDataBatch(t1, qid1)
      base.drainPhase(one, l1, warm, topo.drainFiles)
      l1.query.stop()
      t1.flush()
      val d1 = t1.progress.of(qid1).filter(p => p.numInputRows > 0 && p.batchId > from)
      val rate1 = d1.map(_.numInputRows).sum / math.max(wall(d1), 1e-3)
      r.put("exec.speedup_vs_local1", drainRows / math.max(drainWall, 1e-3) / rate1, "ratio")
      one.stop()
    }
  }

  /** Id of the query's latest micro-batch that read data. */
  def lastDataBatch(t: Telemetry, qid: String): Long = {
    t.flush()
    t.progress.of(qid).filter(_.numInputRows > 0).map(_.batchId).maxOption.getOrElse(-1L)
  }

  /** exec.* from the Spark work of one phase. */
  def putExec(r: Result, w: Work, execS: Double, wallS: Double, cpus: Int): Unit = {
    r.put("exec.s", execS, "s")
    r.put("exec.jobs", w.jobs.toDouble, "count")
    r.put("exec.stages", w.stages.toDouble, "count")
    r.put("exec.tasks_per_stage", w.tasks.toDouble / math.max(w.stages, 1), "count")
    r.put("exec.task_cpu_s", w.taskCpuNs / 1e9, "s")
    r.put("exec.core_busy_ratio", w.taskRunMs / 1000.0 / math.max(wallS * cpus, 1e-3), "ratio")
    r.put("exec.shuffle_write_bytes", w.shuffleWriteBytes.toDouble, "bytes")
    r.put("exec.spill_bytes", w.spillBytes.toDouble, "bytes")
  }

  /** One span per micro-batch, under the span `parent` gives it, with its
    * progress phases as children, laid out in the order
    * MicroBatchExecution runs them. */
  def batchSpans(t: Telemetry, bs: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      parent: org.apache.spark.sql.streaming.StreamingQueryProgress => Long): Unit = {
    val phases = Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
      "getBatch" -> "sources", "queryPlanning" -> "streaming",
      "addBatch" -> "runner", "commitOffsets" -> "streaming")
    bs.foreach { b =>
      val id = t.tracer.nextId()
      val s0 = startMs(b) * 1000L
      val trace = s"b${b.batchId}"
      t.tracer.add(Span(id, parent(b), trace, "streaming", "microBatch", s0, endMs(b) * 1000L))
      var at = s0
      phases.foreach { case (k, layer) =>
        val d = (phaseMs(b, k) * 1000).toLong
        if (d > 0) {
          t.tracer.add(Span(t.tracer.nextId(), id, trace, layer, k, at, at + d))
          at += d
        }
      }
    }
  }
}
