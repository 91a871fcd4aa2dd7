package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop benchmark driver for the registered queries.
  *
  * One client submits one query at a time to one shared session. Each
  * execution follows the Bench protocol: `clearCache`, the query's builder
  * call, then a `noop` write. Pass 0 runs in a fresh JVM on an empty scratch
  * root (cold); `WarmupPasses` passes follow while the JIT is still speeding
  * the queries up, then `SteadyPasses` passes (steady). Every pass runs the
  * queries in an order drawn from `--seed`.
  *
  * With `--trace 1` the harness registers Spark's public listeners and keeps
  * their events in memory; after the run it attributes each event to a query
  * by the event's own timestamps and writes spans and per-execution layer
  * metrics. Nothing runs between two queries of a pass, so traced and
  * untraced runs pace the same. All tracing lives here, around the calls into
  * the program.
  *
  * Arguments (all required): --data DIR --scratch DIR --out DIR
  * --queries a,b,c --seed N --trace 0|1 --cores C --dump 0|1 --inject-throw 0|1
  */
object Harness {
  /** Name of the synthetic query added by `--inject-throw 1`; its builder
    * throws, so a run that reports it as timed rather than failed is wrong. */
  val InjectedThrow = "perfbench_injected_throw"

  /** Passes after the cold one. On a 4-core host pass times fall by about a
    * fifth over the first two, which are warm-up, and by a few percent a pass
    * for ten more, which a run has no time for; fixed counts keep what the
    * steady median sees the same from run to run. */
  val WarmupPasses = 2
  val SteadyPasses = 4

  final case class Exec(pass: Int, name: String, startMs: Long, buildEndMs: Long,
                        endMs: Long, buildNs: Long, wallNs: Long,
                        error: Option[String], storesCreated: Int = 0, storeBytes: Long = 0L) {
    def wallMs: Double = wallNs / 1e6
    def buildMs: Double = buildNs / 1e6
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val scratch = Paths.get(opt("scratch"))
    val out = Paths.get(opt("out"))
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val names = opt("queries").split(",").toSeq.filter(_.nonEmpty) ++
      (if (opt("inject-throw") == "1") Seq(InjectedThrow) else Nil)
    val localDir = scratch.resolve("spark-local")
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(out)

    // ---- set-up, timed from JVM start until the session is built and its
    // warm-up actions have returned.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/lineitem.parquet").limit(1).collect()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val rec = new Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec.executions)
      spark.streams.addListener(rec.streams)
    }

    val os = ManagementFactory.getOperatingSystemMXBean
    val loads = mutable.ArrayBuffer(os.getSystemLoadAverage)
    val probeBefore = (Probe.singleMs(), Probe.multiMs(cores))

    val registered = graft.SparkEntry.queries
    def builder(name: String): (SparkSession, String) => DataFrame =
      if (name == InjectedThrow) (_, _) => throw new IllegalStateException("injected failure")
      else registered.getOrElse(name,
        (_, _) => throw new NoSuchElementException(s"query $name is not registered"))

    val skip = Set(localDir, tmpDir)
    // Traced runs walk the scratch root once after set-up and once after
    // each pass, never between two queries.
    var snap = if (trace) Stores.snapshot(scratch, skip) else Map.empty[Path, Stores.Entry]
    val execs = mutable.ArrayBuffer.empty[Exec]
    def runPass(pass: Int): Unit = {
      val first = execs.size
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      order.foreach { name =>
        spark.catalog.clearCache()
        val s = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var tb = t0
        var bMs = s
        val error = try {
          val df = builder(name)(spark, data)
          tb = System.nanoTime(); bMs = System.currentTimeMillis()
          df.write.format("noop").mode("overwrite").save()
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            Some(String.valueOf(e).take(300))
        }
        val t1 = System.nanoTime()
        val e = System.currentTimeMillis()
        if (tb == t0) { tb = t1; bMs = e }
        execs += Exec(pass, name, s, bMs, e, tb - t0, t1 - t0, error)
      }
      loads += os.getSystemLoadAverage
      if (trace) {
        val next = Stores.snapshot(scratch, skip)
        Stores.attribute(scratch, snap, next, execs, first)
        snap = next
      }
      System.err.println(s"[perfbench] pass $pass done at ${System.currentTimeMillis() - jvmStartMs} ms")
    }
    (0 to WarmupPasses + SteadyPasses).foreach(runPass)

    val probeAfter = (Probe.singleMs(), Probe.multiMs(cores))
    val peakRssMb = Stores.vmHwmKb() / 1024.0
    val left = Stores.snapshot(scratch, skip)
    val scratchBytes = left.values.map(_.size).filter(_ >= 0).sum

    if (trace) rec.awaitQuiet()
    val t = if (trace) Some(new Trace(rec, execs.toSeq)) else None
    val doc = mutable.LinkedHashMap[String, Any](
      "seed" -> seed, "cores" -> cores, "queries" -> names,
      "setup_s" -> setupS,
      "warmup_passes" -> WarmupPasses,
      "execs" -> execs.indices.map { i =>
        val x = execs(i)
        Map("pass" -> x.pass, "name" -> x.name, "wall_ms" -> x.wallMs,
          "build_ms" -> x.buildMs, "error" -> x.error.orNull) ++
          t.map(tr => "layers" -> tr.metrics(i))
      },
      "stores_present" -> Stores.stores(scratch, left),
      "peak_rss_mb" -> peakRssMb,
      "scratch_mb" -> scratchBytes / 1e6,
      "loadavg" -> loads.toSeq,
      "probe_ms" -> Map("single_before" -> probeBefore._1, "multi_before" -> probeBefore._2,
        "single_after" -> probeAfter._1, "multi_after" -> probeAfter._2))
    t.foreach(_.writeSpans(out.resolve("spans.jsonl")))
    Files.writeString(out.resolve("harness.json"), Json(doc))

    // Correctness dump in graft.Verify's layout (one parquet output per
    // query, oracle_sql.json, queries.json), restricted to this workload and
    // written by this JVM after timing: a separate graft.Verify JVM would
    // repeat the set-up and the cold pass.
    if (opt("dump") == "1") {
      val dump = Files.createDirectories(out.resolve("dump"))
      names.foreach { name =>
        try builder(name)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(dump.resolve(name).toString)
        catch { case e: Throwable => System.err.println(s"[perfbench] dump of $name failed: $e") }
      }
      Files.writeString(dump.resolve("oracle_sql.json"),
        Json(graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
      Files.writeString(dump.resolve("queries.json"), Json(names))
      System.err.println(s"[perfbench] dump done at ${System.currentTimeMillis() - jvmStartMs} ms")
    }
    spark.stop()
  }
}

/** Fixed CPU loops, the same as Bench's host probes: one thread, then one
  * per core at once. A slower host reads as a larger probe, so a shift in
  * every timing can be told apart from a change in the program. */
object Probe {
  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    x
  }
  private val sink = new AtomicLong

  def singleMs(): Double = {
    val t0 = System.nanoTime()
    sink.addAndGet(spin())
    (System.nanoTime() - t0) / 1e6
  }

  def multiMs(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { sink.addAndGet(spin()); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
}

/** Filesystem views of the run's scratch root. */
object Stores {
  /** File size, or -1 for a directory, and last-modified time. */
  final case class Entry(size: Long, mtimeMs: Long)

  /** Every path under `root` except the `skip` subtrees. */
  def snapshot(root: Path, skip: Set[Path]): Map[Path, Entry] = {
    val m = Map.newBuilder[Path, Entry]
    if (Files.exists(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult =
        if (skip(d)) FileVisitResult.SKIP_SUBTREE
        else { m += d -> Entry(-1L, a.lastModifiedTime.toMillis); FileVisitResult.CONTINUE }
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        m += f -> Entry(a.size(), a.lastModifiedTime.toMillis); FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    m.result()
  }

  /** A landed store is a directory `<root>/<kind>/<process>/<store>`, the
    * layout of `graft.Scratch.processScoped`. */
  private def isStore(root: Path)(p: Path, e: Entry): Boolean =
    e.size == -1L && p.getNameCount == root.getNameCount + 3

  /** Charges what changed between two snapshots taken around one pass to
    * that pass's executions, `execs(first)` onward: each new store and each
    * file's growth go to the execution running at its last-modified time. */
  def attribute(root: Path, before: Map[Path, Entry], after: Map[Path, Entry],
                execs: mutable.ArrayBuffer[Harness.Exec], first: Int): Unit = {
    def owner(t: Long): Int = (first until execs.size).findLast(execs(_).startMs <= t).getOrElse(first)
    after.foreach { case (p, e) =>
      if (isStore(root)(p, e) && !before.contains(p)) {
        val i = owner(e.mtimeMs)
        execs(i) = execs(i).copy(storesCreated = execs(i).storesCreated + 1)
      } else if (e.size > 0) {
        val grown = e.size - before.get(p).map(_.size max 0L).getOrElse(0L)
        if (grown > 0) {
          val i = owner(e.mtimeMs)
          execs(i) = execs(i).copy(storeBytes = execs(i).storeBytes + grown)
        }
      }
    }
  }

  def stores(root: Path, snap: Map[Path, Entry]): Int = snap.count { case (p, e) => isStore(root)(p, e) }

  def vmHwmKb(): Long = scala.io.Source.fromFile("/proc/self/status").getLines()
    .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
    .getOrElse(0L)
}

object Recorder {
  final case class Job(id: Int, start: Long, end: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, tasks: Int, start: Long, end: Long,
                         runMs: Long, cpuMs: Double, gcMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, input: Long)
  final case class Execution(start: Long, phases: Map[String, Long])
  final case class Batch(runId: String, start: Long, durations: Map[String, Long],
                         rows: Long, stateRows: Long, stateMem: Long)
}

/** In-memory record of listener events, each with its own timestamps. */
final class Recorder extends SparkListener {
  import Recorder._

  private val started = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val execs = new ConcurrentLinkedQueue[Execution]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())
  private def touch(): Unit = lastEvent.set(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.put(e.jobId, (e.time, e.stageIds)); touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(started.remove(e.jobId)).foreach { case (t, ids) => jobs.add(Job(e.jobId, t, e.time, ids)) }
    touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val end = si.completionTime.getOrElse(System.currentTimeMillis())
    val m = si.taskMetrics
    if (m != null) stages.add(Stage(si.stageId, si.attemptNumber(), si.numTasks,
      si.submissionTime.getOrElse(end), end, m.executorRunTime, m.executorCpuTime / 1e6,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
    touch()
  }

  val executions: QueryExecutionListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) execs.add(Execution(ph.values.map(_.startTimeMs).min,
        ph.map { case (k, v) => k -> v.durationMs }))
      touch()
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = touch()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = touch()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Batch(p.runId.toString, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
      touch()
    }
  }

  /** Waits, outside any timed interval, until every started job has ended
    * and the listener buses have been quiet for a moment. */
  def awaitQuiet(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      (!started.isEmpty || System.currentTimeMillis() - lastEvent.get < 300)) Thread.sleep(50)
  }
}

/** Attribution of recorded events to query executions: spans and
  * per-execution layer metrics. */
final class Trace(rec: Recorder, execs: Seq[Harness.Exec]) {
  import Recorder.Batch
  private val starts = execs.map(_.startMs).toArray

  /** Index of the execution whose [start, end] interval holds `t`. */
  private def owner(t: Long): Option[Int] = {
    val i = java.util.Arrays.binarySearch(starts, t) match {
      case k if k >= 0 => k
      case k => -k - 2
    }
    if (i >= 0 && t <= execs(i).endMs) Some(i) else None
  }
  private def byExec[T](xs: Iterable[T])(at: T => Long): Map[Int, Seq[T]] =
    xs.toSeq.flatMap(x => owner(at(x)).map(_ -> x)).groupMap(_._1)(_._2)

  private val jobsOf = byExec(rec.jobs.asScala)(_.start)
  private val stagesOf = byExec(rec.stages.asScala)(_.start)
  private val execsOf = byExec(rec.execs.asScala)(_.start)
  private val batchesOf = byExec(rec.batches.asScala)(_.start)

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
  private def clip(iv: (Long, Long), lo: Long, hi: Long) = (iv._1 max lo, iv._2 min hi)
  private def trigger(b: Batch): (Long, Long) = (b.start, b.start + b.durations.getOrElse("triggerExecution", 0L))

  /** Per-execution layer metrics; index into `execs`. Pass totals are
    * summed from these after the oracle check, so that a failed query is
    * left out of them. */
  def metrics(i: Int): Map[String, Double] = {
    val x = execs(i)
    val js = jobsOf.getOrElse(i, Nil)
    val ss = stagesOf.getOrElse(i, Nil)
    val es = execsOf.getOrElse(i, Nil)
    val bs = batchesOf.getOrElse(i, Nil)
    val jobsMs = union(js.map(j => clip((j.start, j.end), x.startMs, x.endMs))).toDouble
    val phase = (k: String) => es.map(_.phases.getOrElse(k, 0L)).sum.toDouble
    val dur = (k: String) => bs.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val runs = bs.groupBy(_.runId).values.toSeq
    Map(
      "build.ms" -> x.buildMs,
      "build.jobs" -> js.count(_.start <= x.buildEndMs).toDouble,
      "write.ms" -> (x.wallMs - x.buildMs),
      "stores.created" -> x.storesCreated.toDouble,
      "stores.bytes_written" -> x.storeBytes.toDouble,
      "catalyst.analysis_ms" -> phase(QueryPlanningTracker.ANALYSIS),
      "catalyst.optimization_ms" -> phase(QueryPlanningTracker.OPTIMIZATION),
      "catalyst.planning_ms" -> phase(QueryPlanningTracker.PLANNING),
      "catalyst.executions" -> es.size.toDouble,
      "driver.ms" -> (x.wallMs - jobsMs),
      "jobs.ms" -> jobsMs,
      "jobs.count" -> js.size.toDouble,
      "jobs.stages" -> ss.size.toDouble,
      "jobs.single_task_stages" -> ss.count(_.tasks == 1).toDouble,
      "jobs.tasks" -> ss.map(_.tasks).sum.toDouble,
      "jobs.task_run_ms" -> ss.map(_.runMs).sum.toDouble,
      "jobs.task_cpu_ms" -> ss.map(_.cpuMs).sum,
      "jobs.gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "shuffle.write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "shuffle.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "scan.input_bytes" -> ss.map(_.input).sum.toDouble,
      "stream.batches" -> bs.size.toDouble,
      "stream.empty_batches" -> bs.count(_.rows == 0).toDouble,
      "stream.input_rows" -> bs.map(_.rows).sum.toDouble,
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.outside_trigger_ms" -> (if (bs.isEmpty) 0.0 else
        x.buildMs - union(bs.map(b => clip(trigger(b), x.startMs, x.buildEndMs)))),
      "stream.state_rows" -> runs.map(_.map(_.stateRows).max).sum.toDouble,
      "stream.state_mem_bytes" -> runs.map(_.map(_.stateMem).max).sum.toDouble)
  }

  /** One trace per execution: the query span, its build and write, each job
    * under the phase it started in, each stage under its job, each micro-batch
    * under the build. Self time is duration minus what children cover. */
  def writeSpans(path: Path): Unit = {
    val w = Files.newBufferedWriter(path)
    try execs.indices.foreach { i =>
      val x = execs(i)
      val trace = s"p${x.pass}:${x.name}"
      val js = jobsOf.getOrElse(i, Nil)
      val ss = stagesOf.getOrElse(i, Nil)
      val bs = batchesOf.getOrElse(i, Nil)
      val jobIv = js.map(j => clip((j.start, j.end), x.startMs, x.endMs))
      def span(id: String, parent: String, kind: String, s: Long, e: Long,
               children: Seq[(Long, Long)], extra: Map[String, Any] = Map.empty): Unit = {
        val self = (e - s) - union(children.map(clip(_, s, e)))
        w.write(Json(Map("trace" -> trace, "id" -> id, "parent" -> parent, "kind" -> kind,
          "start_ms" -> s, "end_ms" -> e, "self_ms" -> self) ++ extra)); w.newLine()
      }
      span("q", null, "query", x.startMs, x.endMs,
        Seq((x.startMs, x.buildEndMs), (x.buildEndMs, x.endMs)), Map("error" -> x.error.orNull))
      span("build", "q", "build", x.startMs, x.buildEndMs, jobIv ++ bs.map(trigger))
      span("write", "q", "write", x.buildEndMs, x.endMs, jobIv)
      js.foreach { j =>
        val mine = ss.filter(s => j.stageIds.contains(s.id))
        span(s"job${j.id}", if (j.start <= x.buildEndMs) "build" else "write", "job",
          j.start, j.end, mine.map(s => (s.start, s.end)))
        mine.foreach(s => span(s"stage${s.id}.${s.attempt}", s"job${j.id}", "stage", s.start, s.end,
          Nil, Map("tasks" -> s.tasks, "task_cpu_ms" -> s.cpuMs)))
      }
      bs.foreach { b =>
        val (s, e) = trigger(b)
        span(s"batch:${b.runId}@${b.start}", "build", "batch", s, e, Nil, Map("rows" -> b.rows))
      }
    } finally w.close()
  }
}

/** Minimal JSON rendering for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}
