package perfbench

import graft.SparkEntry
import graft.feed.{BinlogFeedGen, FeedReader, ReplayOracle}
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, ChangelogChain, IngestConfig}
import graft.table.GraftLake
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side. One process runs one workload against the
  * engine's public entry points and writes everything it observed — op
  * timings, set-up phases, traced spans, Spark job records, streaming
  * progress, correctness tallies — as one raw JSON document. All
  * statistics (percentiles, self time, lateness) are computed from that
  * document by `perfbench/stats.py`.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  * <out.json> [<tablesDir>]`. Set `PERFBENCH_CORRUPT=1` to flip one
  * lake row or one query result before the checks (proves the gate). */
object Main {

  // ---- clock, JSON ---------------------------------------------------------

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  // ---- tracing -------------------------------------------------------------

  /** Spans recorded around the benchmark's calls into each engine layer.
    * `on` gates recording: in a traced run ops alternate untraced/traced
    * so the same run yields the tracing overhead. Spans stay in memory
    * until the run ends. */
  final class Trace(val enabled: Boolean) {
    @volatile var on = false
    @volatile var run = 0L
    private var nextId = 0L
    private var stack: List[Long] = Nil
    val spans = ArrayBuffer.empty[Map[String, Any]]

    def span[A](name: String)(f: => A): A =
      if (!on) f
      else {
        val id = synchronized { nextId += 1; nextId }
        val parent = stack.headOption.getOrElse(0L)
        stack = id :: stack
        val t0 = now()
        try f
        finally {
          val t1 = now()
          stack = stack.tail
          synchronized {
            spans += Map("id" -> id, "name" -> name, "start" -> t0,
              "end" -> t1, "parent" -> parent, "run" -> run)
          }
        }
      }
  }

  /** Spark job records keyed by the job description the engine sets
    * (`graft b<id>: keyed stats scan` / `merge write` / `fold/split`).
    * Parents are resolved later by time containment in the spans. */
  final class JobListener extends SparkListener {
    final class Job(val id: Int, val desc: String, val start: Double) {
      var end = 0.0
      var cpuNs, gcMs, shuffleBytes, spillBytes, inputBytes = 0L
      val taskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Job]
    /** Time spent inside this listener's handlers: the tracing cost the
      * listener bus carries. */
    @volatile var handlerNs = 0L
    private def timedHandler(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      synchronized(f)
      handlerNs += System.nanoTime() - t0
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = timedHandler {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      val j = new Job(e.jobId, desc, e.time.toDouble)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedHandler {
      stageJob.get(e.stageId).foreach { j =>
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
        }
        j.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedHandler {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }

    def dump(): Seq[Map[String, Any]] = synchronized {
      jobs.values.filter(_.end > 0).map { j =>
        Map("id" -> j.id, "desc" -> j.desc, "start" -> j.start, "end" -> j.end,
          "cpu_s" -> j.cpuNs / 1e9, "gc_s" -> j.gcMs / 1e3,
          "shuffle_mb" -> j.shuffleBytes / 1048576.0,
          "spill_mb" -> j.spillBytes / 1048576.0,
          "input_mb" -> j.inputBytes / 1048576.0,
          "stage_task_ms" -> j.taskMs.values.map(_.toSeq.sorted).toSeq)
      }.toSeq
    }
  }

  /** Every `StreamingQueryProgress` of the run: batch start, busy time. */
  final class ProgressListener extends StreamingQueryListener {
    import StreamingQueryListener._
    val batches = ArrayBuffer.empty[Map[String, Any]]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val busy = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches += Map("batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "busy_ms" -> busy, "rows" -> p.numInputRows)
    }
  }

  // ---- run context ---------------------------------------------------------

  final case class Args(workload: String, seed: Long, seconds: Double,
      traced: Boolean, work: String, out: String, tables: String)

  final class Run(val a: Args) {
    val trace = new Trace(a.traced)
    val jobs = new JobListener
    val progress = new ProgressListener
    val nproc: Int = Runtime.getRuntime.availableProcessors()
    val corrupt: Boolean = sys.env.get("PERFBENCH_CORRUPT").contains("1")
    val setup = mutable.LinkedHashMap.empty[String, Any]
    val ops = ArrayBuffer.empty[mutable.Map[String, Any]]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val notes = ArrayBuffer.empty[String]
    var opSeq = 0L
    var spark: SparkSession = _
    /** Master of the first session: the one the measured ops run on. */
    var master: String = _

    /** Outcome of one correctness check. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (notes.size < 20) notes += what }
    }

    /** One timed operation; `kind` names the user-visible operation. In a
      * traced run ops alternate traced and untraced unless `tracedOp`
      * says otherwise. */
    def op[A](kind: String, fields: Map[String, Any] = Map.empty,
        tracedOp: Option[Boolean] = None)(f: => A): (A, Double) = {
      opSeq += 1
      val traced = trace.enabled && tracedOp.getOrElse(opSeq % 2 == 0)
      trace.run = opSeq
      trace.on = traced
      val t0 = now()
      val r = try f finally trace.on = false
      val t1 = now()
      ops += (mutable.LinkedHashMap[String, Any]("kind" -> kind, "start" -> t0,
        "end" -> t1, "traced" -> traced, "seq" -> opSeq) ++= fields)
      (r, t1 - t0)
    }

    def timed[A](name: String)(f: => A): A = {
      val t0 = now(); val r = f
      setup(name) = (now() - t0) / 1e3
      r
    }

    def session(cores: Int, aqe: Boolean): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-${a.workload}")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", aqe.toString)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      if (trace.enabled) s.sparkContext.addSparkListener(jobs)
      s.streams.addListener(progress)
      spark = s
      if (master == null) master = s.sparkContext.master
      s
    }

    def dir(name: String): String = s"${a.work}/$name"
  }

  // ---- shared helpers ------------------------------------------------------

  /** Table rows as (repo, path) -> (sha256(content), offset triple). */
  type Expected = Map[(String, String), (String, (Long, Long, Long))]

  def lakeRows(spark: SparkSession, lake: GraftLake): Expected = {
    val snap = lake.latest().get
    lake.read(spark, snap)
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"),
        col("_offset.fileIdx"), col("_offset.pos"), col("_offset.rowIdx"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), (r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
  }

  def oracle(cfg: FeedConfig): Expected =
    ReplayOracle.finalState(cfg).map { r =>
      (r.repo, r.path) ->
        (ReplayOracle.sha256Hex(r.content), (r.offsetFileIdx, r.offsetPos, r.offsetRowIdx))
    }.toMap

  /** Compare a whole lake against the oracle, row for row; one check. */
  def checkState(run: Run, got0: Expected, want: Expected, what: String): Unit = {
    val got =
      if (run.corrupt && got0.nonEmpty) {
        val (k, (_, off)) = got0.head
        got0.updated(k, ("0" * 64, off))
      } else got0
    val bad = (want.keySet ++ got.keySet).count(k => got.get(k) != want.get(k))
    run.check(bad == 0, s"$what: $bad of ${want.size} rows differ from the oracle")
  }

  def rm(path: String): Unit = graft.HarnessIO.rm(new File(path))

  def feedParts(dir: String): Seq[File] =
    new File(dir).listFiles().filter(_.getName.startsWith("_file=f")).sortBy(_.getName).toSeq

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  def genFeed(run: Run, cfg: FeedConfig, dir: String): Unit =
    run.timed("gen_s")(BinlogFeedGen.writeFeed(run.spark, cfg, dir))

  /** Untimed JIT warm-up, part of set-up (`warmup_s`): `reps` runs of one
    * unit of the workload, so that the timed ops run on C2-compiled code.
    * The count is fixed so that set-up time compares between runs:
    * stopping once two repetitions agree stops at a different point in
    * each run. */
  def warmUp(run: Run, reps: Int)(f: => Unit): Unit =
    run.timed("warmup_s")((1 to reps).foreach(_ => f))

  // ---- workload: bulk_replay ------------------------------------------------

  val ReplayBuckets = 64

  def replayCfg(seed: Long): FeedConfig = FeedConfig(nEvents = 40000, nKeys = 4000,
    seed = seed, eventsPerFile = 2000, skew = 0.2, noopFrac = 0.05,
    decoyFrac = 0.02, contentChars = 160)

  def bulkReplay(run: Run): Unit = {
    val cfg = replayCfg(run.a.seed)
    val feed = run.dir("feed")
    var spark = run.timed("session_s")(run.session(run.nproc, aqe = false))
    genFeed(run, cfg, feed)
    var lakeN = 0
    def replayOnce(): (graft.stream.BatchMetrics, String) = {
      lakeN += 1
      val root = run.dir(s"lake$lakeN")
      val m = run.trace.span("stream.replayBatch") {
        CdcIngestJob.replayBatch(spark, IngestConfig(feed, root, run.dir(s"cp$lakeN"),
          nBuckets = ReplayBuckets))
      }
      (m, root)
    }
    warmUp(run, reps = 7)(rm(replayOnce()._2))
    val want = oracle(cfg)
    run.extra("input_mb") = bytesUnder(new File(feed)) / 1048576.0
    def verify(root: String): Unit = {
      checkState(run, lakeRows(spark, new GraftLake(root, ReplayBuckets)), want, s"replay $root")
      rm(root)
    }
    // the feed-scan floor: a noop-sink scan and decode of the same feed,
    // after each traced draw and outside its timing
    def scanFloor(): Unit = {
      run.trace.on = true
      try run.trace.span("feed.scan_floor") {
        FeedReader.decode(FeedReader.readBatch(spark, feed)
          .filter(FeedReader.watched()), Set("commit"))
          .write.format("noop").mode("overwrite").save()
      } finally run.trace.on = false
    }
    // draws start while the last one would still end inside the window
    def draws(cores: Int, budgetS: Double, minDraws: Int): Unit = {
      val tEnd = now() + budgetS * 1e3
      var n = 0
      var last = 0.0
      while (n < minDraws || now() + last < tEnd) {
        val ((m, root), ms) = run.op("replay", Map("cores" -> cores, "events" -> cfg.nEvents),
          tracedOp = if (cores == 1) Some(false) else None)(replayOnce())
        val op = run.ops.last
        op ++= Map("events_in" -> m.eventsIn, "rows_written" -> m.rowsWritten,
          "commit_ms" -> m.commitMs, "compacted_buckets" -> m.compactedBuckets)
        if (op("traced") == true) scanFloor()
        verify(root)
        last = ms
        n += 1
      }
    }
    draws(run.nproc, run.a.seconds, minDraws = 3)
    if (run.nproc > 1 && run.trace.enabled) {
      // the same replay at local[1], the scaling denominator; traced runs
      // only, as it adds a second SparkContext and a slow draw to the run
      spark.stop()
      spark = run.session(1, aqe = false)
      draws(1, 0.0, minDraws = 1)
    }
  }

  // ---- workload: live_tail ---------------------------------------------------

  val TailBuckets = 16
  val TailEventsPerFile = 250
  val TailPrebuildFiles = 16
  /** Files landed before the warm-up; the rest of the prebuild lands
    * `TailWarmFiles` at a time, one batch each. */
  val TailSeedFiles = 8
  val TailWarmFiles = 2
  val TailFilesPerS = 6.0

  def tailFiles(seconds: Double): Int =
    TailPrebuildFiles + math.ceil(seconds * TailFilesPerS).toInt

  def tailCfg(seed: Long, files: Int): FeedConfig = FeedConfig(
    nEvents = files.toLong * TailEventsPerFile, nKeys = 2500, seed = seed,
    eventsPerFile = TailEventsPerFile, skew = 0.5, nHotKeys = 4,
    contentChars = 160)

  def liveTail(run: Run): Unit = {
    val files = tailFiles(run.a.seconds)
    val cfg = tailCfg(run.a.seed, files)
    val feed = run.dir("feed")
    val work = new File(run.dir("tail")); work.mkdirs()
    val root = run.dir("lake")
    val spark = run.timed("session_s")(run.session(run.nproc, aqe = false))
    genFeed(run, cfg, feed)
    val parts = feedParts(feed)
    require(parts.size == files, s"expected $files feed files, found ${parts.size}")
    val lake = new GraftLake(root, TailBuckets)
    def lastFile(): Long = lake.latest().flatMap(_.lastOffset).map(_.fileIdx).getOrElse(0L)
    val q = run.timed("prebuild_s") {
      parts.take(TailSeedFiles).foreach(graft.HarnessIO.linkInto(work))
      val q = CdcIngestJob.runStream(spark, IngestConfig(work.toString, root,
        run.dir("cp"), nBuckets = TailBuckets, maxFilesPerTrigger = 1000,
        expireKeep = 100000), Trigger.ProcessingTime(0L))
      q.processAllAvailable()
      q
    }
    // warm-up: the rest of the prebuild in small batches through the same
    // query, a fixed number so that every run starts from the same lake
    val warm = parts.slice(TailSeedFiles, TailPrebuildFiles).grouped(TailWarmFiles).toSeq
    var round = 0
    warmUp(run, reps = warm.size) {
      warm(round).foreach(graft.HarnessIO.linkInto(work))
      q.processAllAvailable()
      round += 1
    }
    val prebuilt = now()
    // open loop: file k is due at t0 + k / rate, whatever the stream does
    val tail = parts.drop(TailPrebuildFiles)
    val landed = ArrayBuffer.empty[Map[String, Any]]
    val t0 = now() + 200.0
    val tEnd = t0 + run.a.seconds * 1e3
    val gen = new Thread(() => {
      tail.zipWithIndex.foreach { case (p, k) =>
        val due = t0 + k * 1e3 / TailFilesPerS
        if (due < tEnd) {
          val wait = due - now()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
          val at = now()
          graft.HarnessIO.linkInto(work)(p)
          landed.synchronized {
            landed += Map("file" -> (TailPrebuildFiles + k + 1).toLong,
              "due" -> due, "landed" -> at, "bytes" -> bytesUnder(p))
          }
        }
      }
    }, "perfbench-open-loop")
    gen.start()
    gen.join()
    val lastLanded = landed.lastOption.map(_("file").asInstanceOf[Long]).getOrElse(0L)
    val drainBy = now() + 60000.0
    while (lastFile() < lastLanded && now() < drainBy) Thread.sleep(20)
    q.stop()
    val delivered = TailPrebuildFiles + landed.size
    run.check(lastFile() == delivered.toLong,
      s"tail: lake covers file ${lastFile()} of $delivered landed")
    // snapshot commit times: the file write time of each snapshot
    val logDir = new File(root, "_graft_log")
    val snaps = logDir.listFiles().filter(_.getName.matches("snapshot-\\d+\\.json"))
      .sortBy(_.getName).toSeq.map { f =>
        val id = f.getName.stripPrefix("snapshot-").stripSuffix(".json").toLong
        val s = lake.snapshotAt(id)
        Map("id" -> id, "commit" -> f.lastModified().toDouble,
          "last_file" -> s.lastOffset.map(_.fileIdx).getOrElse(0L),
          "batch" -> s.batchId,
          "metrics" -> s.metrics.filter { case (k, _) => !k.startsWith("bucket.") })
      }
    val batchMetrics = Files.readAllLines(Paths.get(root, "_metrics.jsonl")).toArray.toSeq
    run.extra ++= Map("files" -> landed.toSeq, "snapshots" -> snaps,
      "batches" -> run.progress.synchronized(run.progress.batches.filter(b =>
        b("start").asInstanceOf[Double] >= prebuilt).toSeq),
      "batch_metrics_jsonl" -> batchMetrics, "window_start" -> t0, "window_end" -> tEnd)
    val want = oracle(cfg.copy(nEvents = delivered.toLong * TailEventsPerFile))
    checkState(run, lakeRows(spark, new GraftLake(root, TailBuckets)), want, "tail final state")
  }

  // ---- workload: lake_reads ---------------------------------------------------

  val ReadBuckets = 16

  def readsCfg(seed: Long): FeedConfig = FeedConfig(nEvents = 16000, nKeys = 1600,
    seed = seed, eventsPerFile = 1000, skew = 0.2, contentChars = 160)

  def lakeReads(run: Run): Unit = {
    val cfg = readsCfg(run.a.seed)
    val feed = run.dir("feed")
    val root = run.dir("lake")
    val spark = run.timed("session_s")(run.session(run.nproc, aqe = false))
    genFeed(run, cfg, feed)
    // small triggers leave merge-on-read delta debt behind
    run.timed("prebuild_s") {
      CdcIngestJob.runStream(spark, IngestConfig(feed, root, run.dir("cp"),
        nBuckets = ReadBuckets, maxFilesPerTrigger = 6, expireKeep = 100000))
        .awaitTermination()
    }
    val want = oracle(cfg)
    val lake = new GraftLake(root, ReadBuckets)
    val tip = lake.latest().get
    val liveSha = want.values.map(v => java.lang.Long.parseLong(v._1.take(12), 16)).sum
    val rng = new scala.util.Random(run.a.seed)
    // zipf-ish draw over the whole key space plus 5% absent keys
    val zipfCdf = {
      val w = (1 to cfg.nKeys).map(r => 1.0 / r)
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    def drawKey(): (String, String) =
      if (rng.nextDouble() < 0.05) ("repo-absent", s"none/${rng.nextInt(1000)}.scala")
      else {
        val u = rng.nextDouble()
        val rank = java.util.Arrays.binarySearch(zipfCdf, u) match {
          case i if i >= 0 => i
          case i => math.min(-i - 1, cfg.nKeys - 1)
        }
        // rank → key id through a seeded hash so hot keys scatter
        val kid = Math.floorMod(BinlogFeedGen.mix(run.a.seed, rank.toLong), cfg.nKeys.toLong)
        (BinlogFeedGen.repoOf(kid), BinlogFeedGen.pathOf(kid))
      }
    val stats = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def stat(k: String, v: Double): Unit = stats.getOrElseUpdate(k, ArrayBuffer.empty) += v

    def pointRead(): Unit = {
      val (repo, path) = drawKey()
      val (rows, _) = run.op("point") {
        val h = new GraftLake(root, ReadBuckets)
        val t0 = now()
        val s = run.trace.span("table.latest")(h.latest().get)
        stat("latest_ms", now() - t0)
        val df = h.readKey(spark, s, repo, path)
          .select(col("content"), col("_offset.fileIdx"), col("_offset.pos"), col("_offset.rowIdx"))
        if (run.trace.on) stat("point_files_planned", df.inputFiles.length.toDouble)
        run.trace.span("table.readKey")(df.collect())
      }
      val got = rows.headOption.map(r => (ReplayOracle.sha256Hex(r.getString(0)),
        (r.getLong(1), r.getLong(2), r.getLong(3))))
      val bad = if (run.corrupt && got.isDefined) Some(("x", (0L, 0L, 0L))) else got
      run.check(bad == want.get((repo, path)), s"point read $repo/$path")
    }
    def scan(): Unit = {
      val (r, _) = run.op("scan") {
        val s = run.trace.span("table.latest")(lake.latest().get)
        run.trace.span("table.read") {
          lake.read(spark, s)
            .agg(count(lit(1)), sum(conv(substring(sha2(col("content"), 256), 1, 12), 16, 10)
              .cast("long")))
            .collect().head
        }
      }
      run.check(r.getLong(0) == want.size && r.getLong(1) == liveSha,
        s"scan: ${r.getLong(0)} rows, sha sum ${r.getLong(1)}")
    }
    def window(): Unit = {
      val k = 2 // the last two of the lake's three commits
      val (n, _) = run.op("window") {
        val df = run.trace.span("table.changesBetween")(
          lake.changesBetween(spark, math.max(tip.id - k, 0L), tip.id))
        if (run.trace.on) stat("changes_files_read", df.inputFiles.length.toDouble)
        run.trace.span("table.changes_collect")(df.count())
      }
      run.check(n > 0, "window: empty change window")
    }
    // followers are checked against the oracle after the timed loop
    val followers = ArrayBuffer.empty[String]
    def subscribe(): Unit = {
      val dst = run.dir(s"follower${followers.size + 1}")
      followers += dst
      val (r, _) = run.op("sync") {
        run.trace.span("stream.sync")(
          ChangelogChain.sync(spark, lake, new GraftLake(dst, ReadBuckets)))
      }
      stat("sync_rows", r.rowsApplied.toDouble)
    }
    def requests(cycle: Seq[String]): Unit =
      cycle.foreach {
        case "point" => pointRead()
        case "scan" => scan()
        case "window" => window()
        case "sync" => subscribe()
      }
    warmUp(run, reps = 2)(requests(Seq("scan", "window", "sync") ++ Seq.fill(4)("point")))
    run.ops.clear()
    stats.clear()
    // closed loop, one client: whole request cycles with seeded keys,
    // started while the last one would still end inside the window
    val cycle = Seq("scan", "window", "sync") ++ Seq.fill(16)("point")
    val tEnd = now() + run.a.seconds * 1e3
    var cycles = 0
    var last = 0.0
    while (cycles < 2 || now() + last < tEnd) {
      val t0 = now()
      requests(cycle)
      last = now() - t0
      cycles += 1
    }
    run.extra("cycles") = cycles
    followers.zipWithIndex.foreach { case (dst, i) =>
      checkState(run, lakeRows(spark, new GraftLake(dst, ReadBuckets)), want, s"follower ${i + 1}")
      rm(dst)
    }
    val files = tip.files
    run.extra ++= Map("stats" -> stats.map { case (k, v) => k -> v.toSeq },
      "lake_files" -> files.size, "lake_delta_files" -> files.count(_.delta),
      "lake_rows_stored" -> files.map(_.rows).sum,
      "lake_bytes" -> files.map(f => new File(f.path.stripPrefix("file:")).length()).sum,
      "live_rows" -> want.size)
  }

  // ---- workload: query_suite ----------------------------------------------------

  val Headline = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "cdc_lww_latest", "cdc_final_state", "cdc_noop_suppress",
    "cdc_asof_last_click", "cdc_hourly_rollup", "cdc_changelog",
    "dedup_exact", "minhash_signature", "dedup_simhash", "doc_fingerprint",
    "text_quality", "token_count", "embed_cosine_topk", "embed_ann_lsh",
    "mm_binary_meta")

  val MinPasses = 3

  def querySuite(run: Run): Unit = {
    val tables = run.a.tables
    val spark = run.timed("session_s")(run.session(run.nproc, aqe = true))
    val outDir = run.dir("qout")
    val corrupt = run.corrupt
    // cold pass: every result written once for the DuckDB parity check,
    // from nproc threads (it is JIT- and codegen-bound, not data-bound)
    run.timed("cold_s") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(run.nproc)
      try {
        Headline.map { name =>
          pool.submit(new Runnable {
            def run(): Unit = {
              val df = SparkEntry.queries(name)(spark, tables)
              val res = if (corrupt && name == "q1_pricing_summary") df.limit(1) else df
              res.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
    }
    val oracleSql = SparkEntry.oracleSql.filter { case (k, _) => Headline.contains(k) }
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), json(oracleSql))
    // one pass: every headline query with a noop sink, in a seeded order
    val rng = new scala.util.Random(run.a.seed)
    def pass(f: String => Unit): Double = {
      val t0 = now()
      rng.shuffle(Headline).foreach(f)
      now() - t0
    }
    def query(name: String): Unit =
      SparkEntry.queries(name)(spark, tables).write.format("noop").mode("overwrite").save()
    warmUp(run, reps = 1)(pass(query))
    // timed passes are whole passes, at least `MinPasses`; a traced run
    // alternates traced and untraced passes
    val tEnd = now() + run.a.seconds * 1e3
    var passes = 0
    var last = 0.0
    while (passes < MinPasses || now() + last < tEnd) {
      last = pass { name =>
        run.op("query", Map("query" -> name, "pass" -> passes),
            tracedOp = Some(passes % 2 == 1)) {
          run.trace.span(s"ops.$name")(query(name))
        }
      }
      passes += 1
    }
    run.extra("passes") = passes
    run.extra("parity_dir") = outDir
  }

  // ---- entry ------------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = argv.toList match {
      case w :: seed :: secs :: tr :: work :: out :: rest =>
        Args(w, seed.toLong, secs.toDouble, tr == "1", work, out, rest.headOption.getOrElse(""))
      case _ =>
        System.err.println("usage: perfbench.Main <workload> <seed> <seconds> <trace> <work> <out> [tables]")
        sys.exit(2)
    }
    val run = new Run(a)
    new File(a.work).mkdirs()
    val tStart = now()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    a.workload match {
      case "bulk_replay" => bulkReplay(run)
      case "live_tail" => liveTail(run)
      case "lake_reads" => lakeReads(run)
      case "query_suite" => querySuite(run)
      case w =>
        System.err.println(s"unknown workload $w")
        sys.exit(2)
    }
    Thread.sleep(300) // let the listener bus deliver the last job ends
    val doc = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.traced, "nproc" -> run.nproc, "master" -> run.master,
      "jvm_start" -> jvmStart, "main_start" -> tStart,
      "spark_version" -> run.spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup" -> run.setup, "ops" -> run.ops, "extra" -> run.extra,
      "spans" -> run.trace.synchronized(run.trace.spans.toSeq),
      "jobs" -> (if (a.traced) run.jobs.dump() else Nil),
      "listener_s" -> run.jobs.handlerNs / 1e9,
      "attempted" -> run.attempted, "failed" -> run.failed, "notes" -> run.notes)
    run.spark.stop()
    Files.writeString(Paths.get(a.out), json(doc))
  }
}
