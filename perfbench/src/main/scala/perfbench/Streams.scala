package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{DiscussionTree, RoleAnalysis, TopicModel}
import graft.runner.Topologies
import graft.sources.TweetSource

object Streams {
  /** Force a DataFrame by a noop write, the way Bench forces queries. */
  def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}

/** The wired locationTopicModelTopology driven as a running stream: the
  * `documents` text wrapped as tweets, replayed in passes with distinct
  * ids, scored per message against a model with the reference's L = 849
  * regions (LocationTopicModelTrainer.java:270) whose matrices are drawn
  * from the seed, with `TweetSource.debugJsonSink` standing in for Kafka.
  * The reference hands its topic count K to a binary-only trainer jar, so
  * K is not known; the benchmark fixes K = 50. The scoring UDF costs
  * L x K per term, so K scales this workload's kernel cost (README.md
  * lists measured figures for K = 25, 50 and 100).
  *
  * Input files are rendered during set-up. The timed phase has two parts:
  *  - latency: an open-loop generator moves `latencyFiles` files into the
  *    watched directory at `rate` files/s (atomic rename at each file's
  *    due time); each file's latency runs from its due time to the end of
  *    the micro-batch that committed it;
  *  - drain: with the query stopped, `drainFiles` files are staged at once
  *    and the query restarts from its checkpoint, so every drain batch
  *    takes exactly `cap` files and the batch boundaries repeat exactly. */
object GeoStream {
  val cap = 32
  val linesPerFile = 12
  val warmFiles = 32
  val rate = 20.0
  val latencyFiles = 100
  val drainFiles = 192
  val regions = 849
  val topics = 50

  private var vocab: Map[String, Long] = Map.empty
  private var model: TopicModel.GeoModel = _

  /** The vocabulary of the documents' stemmed index terms, and the model. */
  private def prepare(spark: SparkSession, dataDir: String, seed: Long): Unit = {
    vocab = TopicModel.buildVocab(Tables.load(spark, dataDir, "documents")
      .select("text"), "text", stem = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rnd = new scala.util.Random(seed)
    model = TopicModel.GeoModel(
      topicWord = Array.fill(topics, vocab.size)(rnd.nextDouble() + 1e-3),
      pi0Alpha = Array.fill(regions)(rnd.nextDouble() + 1e-3),
      pisetasum = Array.fill(regions, topics)(rnd.nextDouble() + 1e-3),
      qm = Array.fill(regions, 3)(rnd.nextGaussian()))
  }

  /** `n` input files of JSON-lines tweets: pass p of the documents gets
    * ids doc_id + p * 10^9. */
  def render(spark: SparkSession, dataDir: String, seed: Long, n: Int): IndexedSeq[Seq[String]] = {
    prepare(spark, dataDir, seed)
    val docs = Tables.load(spark, dataDir, "documents")
    val nDocs = docs.count()
    val passes = ((n.toLong * linesPerFile + nDocs - 1) / nDocs).toInt
    val lines = (0 until passes).map { p =>
      docs.select(to_json(struct(
        lit("Mon Sep 01 09:15:00 +0000 2014").as("created_at"),
        (col("doc_id") + lit(p * 1000000000L)).cast("string").as("id_str"),
        col("text"),
        struct(concat(lit("u"), col("doc_id") % 997).as("id_str"),
          concat(lit("u "), col("doc_id") % 997).as("screen_name")).as("user"))))
        .collect().map(_.getString(0))
    }.flatten
    lines.take(n * linesPerFile).grouped(linesPerFile).map(_.toSeq).toIndexedSeq
  }

  def start(spark: SparkSession, in: String, out: String, ckpt: String): StreamingQuery =
    TweetSource.debugJsonSink(Topologies.locationTopicModelPerMessage(
      TweetSource.readStreamJsonLines(spark, in, cap), vocab, model), out, ckpt).start()

  /** Whether the streamed rows equal the batch `locationTopicModelPerMessage`
    * over every file the stream consumed. */
  def check(spark: SparkSession, in: String, out: String): Boolean = {
    val streamed = spark.read.text(out).collect().map(_.getString(0)).sorted.toSeq
    val b = Topologies.locationTopicModelPerMessage(
      TweetSource.readJsonLines(spark, in), vocab, model)
    val batch = b.select(to_json(struct(b.columns.map(col).toIndexedSeq: _*)))
      .collect().map(_.getString(0)).sorted.toSeq
    if (streamed != batch) System.err.println(
      s"[perfbench] geo-stream output differs: ${streamed.size} streamed vs ${batch.size} batch rows")
    streamed.nonEmpty && streamed == batch
  }

  /** Traced offline replay of the consumed files through the topology's
    * per-message kernels, one forced call at a time. */
  def replay(spark: SparkSession, t: Telemetry, in: String): Seq[(String, Double, String)] = {
    val norm = TweetSource.normalized(TweetSource.readJsonLines(spark, in))
      .filter(col("text").isNotNull)
      .filter(TextFunctions.detectEnglish(col("text")))
      .localCheckpoint(true)
    val idxMs = Replay.timed(t, "functions", "TextFunctions.indexTerms") {
      force(norm.select(col("tweet_id"), TextFunctions.indexTerms(col("text"))))
    }._2
    val locMs = Replay.timed(t, "operators", "TopicModel.locatePerMessage") {
      force(TopicModel.locatePerMessage(norm, "tweet_id", "text", vocab, model))
    }._2
    Seq(("functions.index_terms_ms", idxMs, "ms"), ("operators.locate_ms", locMs, "ms"))
  }

  private def force(df: DataFrame): Unit = Streams.force(df)
}

/** Offline replays: one public call at a time, each forced inside its
  * own span, with the Spark jobs it launched. */
object Replay {
  def timed[T](t: Telemetry, layer: String, name: String)(body: => T): (T, Double, Long) = {
    var id = 0L
    val t0 = System.nanoTime()
    val r = t.tracer.span(layer, name, "replay") { id = t.tracer.current; body }
    val ms = (System.nanoTime() - t0) / 1e6
    t.flush()
    (r, ms, t.counters.span(id).jobs)
  }

  private def scoped(c: Column, win: Column) = when(c.isNotNull, concat(win, lit(":"), c))

  /** The roleAnalysisTopology's stages over the first `n` events (by `ts`)
    * mapped to tweets: `TweetSource.normalized`, `Topologies.windowTags`,
    * `DiscussionTree.withRoots` and `RoleAnalysis.rolesWindowed`, with the
    * window-scoping glue of `Topologies.roleAnalysis` between them. */
  def roles(spark: SparkSession, t: Telemetry, dataDir: String,
      n: Int = 2000): Seq[(String, Double, String)] = {
    val events = Tables.load(spark, dataDir, "events").orderBy("ts", "event_id").limit(n)
    val tweets = spark.read.schema(TweetSource.tweetSchema)
      .json(TweetSource.eventsAsTweetJson(events).as[String](org.apache.spark.sql.Encoders.STRING))
      .localCheckpoint(true)
    val (norm, normMs, _) = timed(t, "sources", "TweetSource.normalized") {
      TweetSource.normalized(tweets).localCheckpoint(true)
    }
    val windowMicros = 600000000L // the reference's 10-minute window
    val (tags, tagMs, _) = timed(t, "runner", "Topologies.windowTags") {
      Topologies.windowTags(norm, windowMicros).localCheckpoint(true)
    }
    val win = unix_micros(col("window_start")).cast("string")
    val nodes = DiscussionTree.nodes(norm.join(tags, "tweet_id").select(
      scoped(col("tweet_id"), win).as("tweet_id"),
      scoped(col("author_id"), win).as("author_id"),
      col("author_screen_name"), col("ts"), col("retweet"),
      scoped(col("ancestor_id"), win).as("ancestor_id"),
      scoped(col("in_reply_to_user_id_str"), win).as("in_reply_to_user_id_str"),
      col("in_reply_to_screen_name"))).localCheckpoint(true)
    val (rooted, rootMs, rootJobs) = timed(t, "operators", "DiscussionTree.withRoots") {
      DiscussionTree.withRoots(nodes)
    }
    val (_, rolesMs, _) = timed(t, "operators", "RoleAnalysis.rolesWindowed") {
      Streams.force(RoleAnalysis.rolesWindowed(
        rooted.select("node_id", "user_id", "parent_id", "root_id")))
    }
    Seq(("sources.normalize_ms", normMs, "ms"), ("runner.window_tags_ms", tagMs, "ms"),
      ("operators.with_roots_ms", rootMs, "ms"),
      ("operators.with_roots_jobs", rootJobs.toDouble, "count"),
      ("operators.roles_ms", rolesMs, "ms"))
  }
}

/** The wired roleAnalysisTopology (`Topologies.roleAnalysisStream`: the
  * stateful punctuation fold over one global key with a 10-minute window,
  * then `DiscussionTree.withRoots` and `RoleAnalysis.rolesWindowed` per
  * micro-batch, into a parquet sink) over the first `n` events by `ts`
  * mapped by `TweetSource.eventsAsTweetJson`. The tweets are rendered, in
  * `ts` order, into `files` JSON-lines files that the stream reads one per
  * micro-batch under an AvailableNow trigger. */
object RolesStream {
  val windowMicros = 600000000L

  /** The fold's state figures, and whether the streamed parquet equals
    * `Topologies.roleAnalysis` over the same tweets. */
  def run(spark: SparkSession, t: Telemetry, dataDir: String, root: Path,
      n: Int = 2000, files: Int = 3): (Seq[(String, Double, String)], Boolean) = {
    val events = Tables.load(spark, dataDir, "events").orderBy("ts", "event_id").limit(n)
    val lines = TweetSource.eventsAsTweetJson(events).collect().map(_.getString(0))
    val in = Files.createDirectories(root.resolve("in"))
    val base = System.currentTimeMillis() - 3600000L
    lines.grouped((lines.length + files - 1) / files).zipWithIndex.foreach { case (g, i) =>
      val p = in.resolve(f"$i%06d.json")
      Files.write(p, (g.mkString("\n") + "\n").getBytes(UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis(base + i))
    }
    val out = root.resolve("out").toString
    val streamed = try {
      val q = t.tracer.span("streaming", "Topologies.roleAnalysisStream", "roles") {
        val q = Topologies.roleAnalysisStream(
          TweetSource.readStreamJsonLines(spark, in.toString, 1), windowMicros, out,
          root.resolve("ckpt").toString).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      t.flush()
      Some(t.progress.of(q.id.toString).filter(_.numInputRows > 0))
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] roles stream failed: $e"); None }
    val bs = streamed.getOrElse(Nil)
    bs.foreach(p => System.err.println(s"[perfbench] roles batch ${p.batchId}: " +
      s"${p.numInputRows} rows, ${StreamRun.phaseMs(p, "triggerExecution")} ms, state " +
      p.stateOperators.map(o => s"${o.numRowsTotal} rows ${o.memoryUsedBytes} B").mkString(" ")))
    val state = bs.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
    val figures = Seq(
      ("streaming.state_rows", state.map(_.numRowsTotal).sum.toDouble, "rows"),
      ("streaming.state_bytes", state.map(_.memoryUsedBytes).sum.toDouble, "bytes"),
      ("streaming.state_commit_ms",
        Main.median(bs.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms"))
    val same = streamed.isDefined && bs.size == files && (try {
      val cols = Seq("window_start", "user_id", "role", "postCount", "inDegreeRatio").map(col)
      val got = spark.read.parquet(out).select(cols: _*).collect().map(_.toString).sorted.toSeq
      val want = Topologies.roleAnalysis(spark.read.schema(TweetSource.tweetSchema)
        .json(in.toString), windowMicros).select(cols: _*).collect().map(_.toString).sorted.toSeq
      if (got != want) System.err.println(
        s"[perfbench] roles stream output differs: ${got.size} streamed vs ${want.size} batch rows")
      got.nonEmpty && got == want
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] roles stream check failed: $e"); false })
    (figures, same)
  }
}

/** Stages, starts and feeds [[GeoStream]] for one benchmark run. */
final class StreamRun(workDir: Path, dataDir: String, seed: Long) {
  private val topo = GeoStream
  import StreamRun._

  private def dir(p: Path): Path = { Files.createDirectories(p); p }

  /** Render `n` files into `stage`, numbered in send order, with strictly
    * increasing modification times (the file source takes the oldest
    * unseen files first). */
  def stage(spark: SparkSession, stageDir: Path, n: Int): IndexedSeq[Path] = {
    dir(stageDir)
    val base = System.currentTimeMillis() - 3600000L
    topo.render(spark, dataDir, seed, n).zipWithIndex.map { case (lines, i) =>
      val p = stageDir.resolve(f"$i%06d.json")
      Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis(base + i))
      p
    }
  }

  def moveAll(files: Seq[Path], in: Path): Seq[String] = files.map { f =>
    val dst = in.resolve(f.getFileName)
    Files.move(f, dst, StandardCopyOption.ATOMIC_MOVE)
    dst.toString
  }

  /** One set-up: stage the inputs, start the query on the warm-up files
    * and wait until they are committed. */
  def setUp(spark: SparkSession, rep: Int, nFiles: Int): Live = {
    val root = dir(workDir.resolve(s"rep$rep"))
    val files = stage(spark, root.resolve("stage"), nFiles)
    val in = dir(root.resolve("in"))
    val live = Live(root, files, in, root.resolve("out").toString,
      root.resolve("ckpt").toString)
    moveAll(files.take(topo.warmFiles), in)
    live.query = topo.start(spark, in.toString, live.out, live.ckpt)
    live.query.processAllAvailable()
    live
  }

  /** Open-loop latency phase over files [from, from + n). */
  def latencyPhase(live: Live, from: Int, n: Int): Generated = {
    val files = live.files.slice(from, from + n)
    val due = new Array[Long](n)
    val moved = new Array[Long](n)
    val t0 = System.currentTimeMillis() + 50L
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        due(i) = t0 + math.round(i * 1000.0 / topo.rate)
        var now = System.currentTimeMillis()
        while (now < due(i)) { Thread.sleep(math.min(due(i) - now, 20L)); now = System.currentTimeMillis() }
        Files.move(files(i), live.in.resolve(files(i).getFileName),
          StandardCopyOption.ATOMIC_MOVE)
        moved(i) = System.currentTimeMillis()
        i += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    live.query.processAllAvailable()
    Generated(files.map(f => live.in.resolve(f.getFileName).toString), due.toSeq, moved.toSeq)
  }

  /** Fixed-cap drain of files [from, from + n): the query restarts from
    * its checkpoint with the whole backlog already staged. */
  def drainPhase(spark: SparkSession, live: Live, from: Int, n: Int): Unit = {
    live.query.stop()
    moveAll(live.files.slice(from, from + n), live.in)
    live.query = topo.start(spark, live.in.toString, live.out, live.ckpt)
    live.query.processAllAvailable()
  }
}

object StreamRun {
  final case class Live(root: Path, files: IndexedSeq[Path], in: Path,
      out: String, ckpt: String) {
    var query: StreamingQuery = _
  }

  final case class Generated(paths: Seq[String], due: Seq[Long], moved: Seq[Long])

  def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")

  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  def phaseMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** file path -> micro-batch id, from the file source's metadata log. */
  def committedBatch(ckpt: String): Map[String, Long] = {
    val log = java.nio.file.Paths.get(ckpt, "sources", "0")
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Files.list(log).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l).map(m =>
        new java.net.URI(m.group(1)).getPath -> m.group(2).toLong))
      .toMap
  }
}
