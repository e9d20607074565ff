package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** Closed loop, one client: the listed registry queries in sweep order,
  * each constructed and then forced by a noop write, as Bench does. A
  * family cache is released after its last consumer, and every family
  * is released between passes, so each pass pays its cache builds. */
object RegistryWorkload {
  import Main._

  /** One query of each kind, in sweep order: construction-heavy (q15
    * builds the stemmed-index family cache with eager jobs while its
    * DataFrame is constructed, about two thirds of its time), multi-stage
    * (q43) and map-side kernel-bound (q223). q14, q135, q203 and q214 are
    * construction-heavy too but cost 9-29 s a pass on four cores, or 65 s
    * in their DuckDB oracle (q203), and do not fit the run; q248's 270k
    * output rows cost 10 s in the oracle check. */
  val queries: Seq[String] = Seq("q15_topic_model", "q43_decontaminate",
    "q223_html_extract").sortBy(SparkEntry.sweepOrder)

  /** The module that implements each query, for the per-module subtotals. */
  val module: Map[String, String] = Map(
    "q15_topic_model" -> "operators.registry",
    "q43_decontaminate" -> "pipeline.dedup",
    "q223_html_extract" -> "pipeline.text")

  val setUps = 3
  val timedPasses = 2

  final case class Timed(name: String, constructS: Double, execS: Double, ok: Boolean,
      constructSpan: Long, execSpan: Long)

  private val families = SparkEntry.cacheFamilies.toSeq
    .filter(_._2.consumers.exists(queries.contains))

  private val releaseAt: Map[Int, Seq[() => Unit]] = families
    .map { case (_, f) => (queries.lastIndexWhere(f.consumers.contains), f.release) }
    .groupBy(_._1).map { case (i, fs) => i -> fs.map(_._2) }

  private def releaseAll(): Unit = families.foreach(_._2.release())

  /** One pass; `sink` forces each constructed query. */
  def pass(spark: SparkSession, t: Telemetry, dataDir: String,
      sink: (String, DataFrame) => Unit): Seq[Timed] = {
    val res = queries.zipWithIndex.map { case (name, i) =>
      var cs, es = 0L
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = try {
        val df = t.tracer.span("queries", "construct", name) {
          cs = t.tracer.current
          SparkEntry.queries(name)(spark, dataDir)
        }
        t1 = System.nanoTime()
        t.tracer.span("exec", "execute", name) { es = t.tracer.current; sink(name, df) }
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e"); false }
      val t2 = System.nanoTime()
      System.err.println(f"[perfbench] $name: construct ${(t1 - t0) / 1e9}%.3f s, " +
        f"execute ${(t2 - t1) / 1e9}%.3f s")
      releaseAt.getOrElse(i, Nil).foreach(_())
      Timed(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok, cs, es)
    }
    releaseAll()
    t.flush()
    res
  }

  def noop(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def run(a: Args, r: Result, launchS: Double): Unit = {
    var spark: SparkSession = null
    var t: Telemetry = null
    val setupS = (1 to setUps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a.cpus)
      t = new Telemetry(spark, a.trace)
      Tables.load(spark, a.dataDir, "documents").count()
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] set-ups: ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    r.put("setup_s", launchS + median(setupS), "s")

    // Output check pass (also the warm-up): each query's output written
    // once for the oracle check; rows-only queries must be non-empty.
    val checkDir = a.workDir.resolve("check")
    Files.createDirectories(checkDir)
    val written = pass(spark, t, a.dataDir, (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(name).toString))
    val rowsOnlyBad = queries.count { n =>
      !SparkEntry.oracleSql.contains(n) &&
        (try spark.read.parquet(checkDir.resolve(n).toString).isEmpty
         catch { case NonFatal(_) => true }) }
    val oracles = queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      checkDir.resolve("oracle_sql.json").toFile, oracles.asJava)
    r.checkDir = checkDir.toString
    // The check pass writes parquet, so the noop path is still cold after
    // it: one untimed noop pass warms it (the first timed pass ran 15-25%
    // slower than the second without it).
    pass(spark, t, a.dataDir, noop)

    val gc0 = gcMs()
    // a traced run reports only per-layer figures, from one pass
    val passes = (1 to (if (a.trace) 1 else timedPasses)).map { _ =>
      val t0 = System.nanoTime()
      val p = pass(spark, t, a.dataDir, noop)
      (p, (System.nanoTime() - t0) / 1e9)
    }
    val gcTimed = gcMs() - gc0
    val (timed, sweep) = (passes.last._1, median(passes.map(_._2)))
    val all = passes.flatMap(_._1)
    r.attempted = all.size + written.size
    r.failed = all.count(!_.ok) + written.count(!_.ok) + rowsOnlyBad
    val perQuery = all.map(q => q.constructS + q.execS)
    // the documents table is the one input of every listed query
    val inputRows = Tables.load(spark, a.dataDir, "documents").count() * queries.size
    r.put("drain_rows_per_s", inputRows / math.max(sweep, 1e-3), "rows/s")
    r.put("latency_p50_ms", quantile(perQuery.map(_ * 1000), 0.5), "ms")
    r.put("latency_p90_ms", quantile(perQuery.map(_ * 1000), 0.9), "ms")
    r.put("sweep_s", sweep, "s")
    r.put("query_geomean_s", geomean(queries.map(n =>
      median(all.filter(_.name == n).map(q => q.constructS + q.execS)))), "s")

    val (c, e) = work(t, timed)
    r.counts("queries.construct_jobs") = c.jobs
    r.counts("exec.jobs") = e.jobs
    r.counts("exec.stages") = e.stages

    if (a.trace) traced(spark, t, a, r, timed, sweep)
    r.put("jvm.gc_ms", gcTimed.toDouble, "ms")
    r.put("bench.cal_ms", calMs(spark), "ms")
    if (a.trace) Files.write(a.workDir.resolve("spans.json"), t.tracer.toJson.getBytes("UTF-8"))
    releaseAll()
    spark.stop()

    if (a.trace) { // single-core baseline: the same pass at local[1]
      val one = session(1)
      val t1 = new Telemetry(one, false)
      Tables.load(one, a.dataDir, "documents").count()
      val t0 = System.nanoTime()
      pass(one, t1, a.dataDir, noop)
      r.put("exec.speedup_vs_local1", (System.nanoTime() - t0) / 1e9 / sweep, "ratio")
      releaseAll()
      one.stop()
    }
  }

  private def traced(spark: SparkSession, t: Telemetry, a: Args, r: Result,
      timed: Seq[Timed], wall: Double): Unit = {
    val spans = t.tracer.all
    // Catalyst phases of each executed QueryExecution, attributed to the
    // construct or execute span whose interval holds them.
    val querySpans = spans.filter(s => s.layer == "queries" || s.layer == "exec")
    t.catalyst.all.foreach { ev =>
      ev.phases.get("analysis").foreach { case (st, _) =>
        querySpans.find(s => s.startUs <= st * 1000 && st * 1000 <= s.endUs).foreach { parent =>
          Seq("analysis", "optimization", "planning").foreach { ph =>
            ev.phases.get(ph).foreach { case (s0, s1) =>
              t.tracer.add(Span(t.tracer.nextId(), parent.id, parent.trace, "catalyst", ph,
                math.max(s0 * 1000, parent.startUs), math.min(s1 * 1000, parent.endUs)))
            }
          }
        }
      }
    }
    val execIds = timed.map(_.execSpan).toSet
    val ids = execIds ++ timed.map(_.constructSpan)
    val cat = t.tracer.all.filter(s => s.layer == "catalyst" && execIds.contains(s.parent))
    Seq("analysis", "optimization", "planning").foreach { ph =>
      r.put(s"catalyst.${ph}_ms", cat.filter(_.name == ph).map(_.durUs).sum / 1000.0, "ms")
    }
    val (c, e) = work(t, timed)
    r.put("queries.construct_s", timed.map(_.constructS).sum, "s")
    r.put("queries.construct_jobs", c.jobs.toDouble, "count")
    StreamWorkload.putExec(r, e, timed.map(_.execS).sum, wall, a.cpus)
    Seq("operators.registry", "pipeline.dedup", "pipeline.similarity", "pipeline.text",
      "pipeline.multimodal").foreach { m =>
      r.put(s"${m}_s", timed.filter(q => module.getOrElse(q.name, "operators.registry") == m)
        .map(q => q.constructS + q.execS).sum, "s")
    }
    val self = Tracer.selfTimes(t.tracer.all.filter(s => ids.contains(s.id) || ids.contains(s.parent)))
    self.foreach { case (layer, s) => r.put(s"self.$layer" + "_s", s, "s") }
    r.put("bench.span_coverage_ratio", self.values.sum / math.max(wall, 1e-3), "ratio")
    Replay.roles(spark, t, a.dataDir).foreach { case (k, v, u) => r.put(k, v, u) }
    val (state, same) = RolesStream.run(spark, t, a.dataDir, a.workDir.resolve("roles"))
    state.foreach { case (k, v, u) => r.put(k, v, u) }
    r.attempted += 1
    if (!same) r.failed += 1
  }

  /** Spark work launched while constructing, and while executing, the
    * queries of one pass. */
  private def work(t: Telemetry, p: Seq[Timed]): (Work, Work) =
    (t.counters.spans(p.map(_.constructSpan)), t.counters.spans(p.map(_.execSpan)))
}

