package perfbench

import graft.DedupConfig
import graft.operators.CandidatePairs
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The repository benchmark: one workload per process on `local[4]`, a
  * closed loop of one client running one operation at a time.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--<generator arg> <value> ...]
  * }}}
  *
  * `--trace 0` times untraced calls of the public entry point and prints the
  * end-to-end metrics; `--trace 1` additionally replays the operation layer
  * by layer under spans and prints the per-layer metrics. Either way the
  * last stdout line is one JSON object: correct, attempted, failed, metrics.
  * Generator arguments override a workload's input sizes (see README.md).
  */
object Main {
  val Cores = 4
  /** Input generation runs this many times per untraced process; `setup_s`
    * takes the median, plus session start, the one-off [[Workload.prepare]]
    * and the warm-up operations, which run once. */
  val SetupReps = 3
  /** Share of `--seconds` a traced process spends on untraced operations. */
  val TraceUntracedShare = 0.4
  val Layers: Seq[String] = Seq("assembly", "signatures", "repgroups", "candidates", "verify", "cc",
    "joinback", "ckpt", "index_join", "knn.exact", "knn.lsh")

  final case class OpRecord(runS: Double, totals: TagTotals, output: Option[Output],
                            extra: Map[String, Double], error: Option[String])

  /** One staged replay, traced or not; `wallS` is its whole wall time. */
  final case class StagedRecord(tracer: Tracer, wallS: Double, output: Option[Output],
                                cm: CandidatePairs.CandidateMetrics, error: Option[String]) {
    def root: Span = tracer.spans.find(_.name == "staged").get
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"expected '--key value', got '${other.mkString(" ")}'")
    }.toMap
    def need(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$other'")
    }
    val gen = opts -- Seq("workload", "seed", "seconds", "trace")
    val work = workDir()
    val dir = dataDir(work)
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = Util.secondsSince(t0)
    try {
      val wl = Workload(workload, spark, dir, seed, gen)
      run(spark, sessionS, wl, seed, seconds, trace, work, wl.warmupOps)
    } finally spark.stop()
  }

  private[perfbench] def workDir(): Path = Paths.get(sys.props.getOrElse("perfbench.work", ".work")).toAbsolutePath

  /** An empty directory for the workload's inputs and state. */
  private[perfbench] def dataDir(work: Path): Path = {
    val dir = work.resolve("data")
    Util.deleteTree(dir)
    Files.createDirectories(dir)
  }

  private[perfbench] def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (Cores * 4).toString)
      // pages of 1 MiB, not the default of up to 64 MiB derived from the heap:
      // peak_task_mem_mb then counts what a task used, not how many big
      // pages it happened to open
      .config("spark.buffer.pageSize", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private[perfbench] def run(spark: SparkSession, sessionS: Double, wl: Workload, seed: Long, seconds: Double,
                  trace: Boolean, work: Path, warmupOps: Int): Unit = {
    val ledger = new Ledger(spark)
    var inputs: Inputs = null
    val setupTimes = (1 to (if (trace) 1 else SetupReps)).map(_ => Util.timed { inputs = wl.setup() })
    val prepareS = Util.timed(wl.prepare())

    def runOp(tag: String): OpRecord = {
      wl.beforeOp()
      val t0 = System.nanoTime()
      val (out, err) =
        try (Some(ledger.tagged(tag)(wl.op())), None)
        catch { case NonFatal(e) => (None, Some(e.toString)) }
      val runS = Util.secondsSince(t0)
      OpRecord(runS, ledger.totalsOf(tag), out, if (err.isEmpty) wl.afterOp() else Map.empty, err)
    }

    // the warm-up operations are part of set-up; the first output is the
    // reference. A failed operation is reported, never retried: a failing
    // warm-up is the one attempted operation.
    val warmStart = System.nanoTime()
    val warm = runOp("warmup-0")
    var lastWarm = warm
    var warmN = 1
    while (lastWarm.error.isEmpty && warmN < warmupOps) {
      lastWarm = runOp(s"warmup-$warmN")
      warmN += 1
    }
    val warmS = Util.secondsSince(warmStart)
    val setupS = sessionS + Util.median(setupTimes) + prepareS + warmS
    val loopStart = System.nanoTime()
    val budget = if (trace) seconds * TraceUntracedShare else seconds
    val ops = scala.collection.mutable.ArrayBuffer(if (lastWarm.error.isEmpty) runOp("op-0") else lastWarm)
    while (lastWarm.error.isEmpty && Util.secondsSince(loopStart) < budget) ops += runOp(s"op-${ops.size}")

    def replay(tracer: Tracer): StagedRecord = {
      val cm = CandidatePairs.CandidateMetrics.register(spark)
      var err: Option[String] = None
      val t0 = System.nanoTime()
      val (out, _) = tracer.span("staged", inputs.items) {
        try { val o = wl.staged(tracer, cm); (Some(o), o.lines.length.toLong) }
        catch { case NonFatal(e) => err = Some(e.toString); (None, 0L) }
      }
      StagedRecord(tracer, Util.secondsSince(t0), out, cm, err)
    }
    // untraced and traced replays of the same staged calls, traced ones on
    // both sides of every untraced one (T U T U T ...), so that a trend from
    // replay to replay (the JIT still warming up) cancels from the difference
    // of their medians, tracing.overhead_s. A first, untimed replay warms up
    // the calls the operation itself does not make.
    val plain = scala.collection.mutable.ArrayBuffer.empty[StagedRecord]
    val staged = scala.collection.mutable.ArrayBuffer.empty[StagedRecord]
    def traced(): StagedRecord = replay(new Tracer(ledger, s"staged-${staged.size}"))
    val replayWarmup = if (trace) Seq(replay(Tracer.off)) else Nil
    if (trace) {
      staged += traced()
      while (plain.isEmpty || Util.secondsSince(loopStart) < seconds) {
        plain += replay(Tracer.off)
        staged += traced()
      }
    }

    val reference = (warm +: ops.toSeq).flatMap(_.output).headOption
    val check = reference.map(wl.check(_, trace)).getOrElse(Check(Seq("no operation completed"), 0.0))
    def opError(o: Option[Output], err: Option[String]): Option[String] =
      err.orElse(if (o.map(_.digest) != reference.map(_.digest)) Some("output digest differs from the reference run") else None)
        .orElse(check.errors.headOption)
    val opErrors = ops.map(o => opError(o.output, o.error)) ++ (replayWarmup ++ plain ++ staged).map(s => opError(s.output, s.error))
    val attempted = opErrors.size
    val failed = opErrors.count(_.nonEmpty)
    val errors = (check.errors ++ opErrors.flatten).distinct

    val good = ops.filter(_.error.isEmpty)
    val timed = if (good.nonEmpty) good.toSeq else ops.toSeq
    val runS = Util.median(timed.map(_.runS))
    val medianOp = timed.sortBy(_.runS).apply((timed.size - 1) / 2)
    val endToEnd = ListMap(
      "setup_s" -> (setupS, "s"),
      "run_s" -> (runS, "s"),
      "items_per_s" -> (inputs.items / runS, "1/s"),
      "task_cpu_s" -> (Util.median(timed.map(_.totals.cpuNs / 1e9)), "s"),
      "peak_task_mem_mb" -> (Util.median(timed.map(_.totals.peakMemBytes / 1048576.0)), "MB"),
      "recall" -> (check.recall, "share"))

    val perLayer: ListMap[String, (Double, String)] =
      if (!trace) ListMap.empty
      else layerMetrics(wl, staged.toSeq, Util.median(plain.map(_.wallS).toSeq), medianOp, inputs)

    val host = ListMap(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize / 1048576L,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576L,
      // whether the JVM started from the build's class-data-sharing archive,
      // which halves session start: setup_s is comparable only at equal cds
      "cds" -> (java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .exists(_.startsWith("-XX:SharedArchiveFile=")) && System.getProperty("java.vm.info", "").contains("sharing")))
    val report = ListMap(
      "workload" -> wl.name,
      "seed" -> seed,
      "trace" -> trace,
      "host" -> host,
      "input" -> ListMap("rows" -> inputs.rows, "digest" -> inputs.digest, "items" -> inputs.items, "item_unit" -> inputs.itemUnit),
      "output_digest" -> reference.map(_.digest),
      "ops" -> ListMap("n" -> timed.size, "run_s" -> ops.map(_.runS), "median_run_s" -> runS,
        "task_cpu_s" -> ops.map(_.totals.cpuNs / 1e9), "peak_task_mem_mb" -> ops.map(_.totals.peakMemBytes / 1048576.0),
        "tail" -> Util.tail(timed.map(_.runS)).map { case (p, v) => ListMap("percentile" -> p, "run_s" -> v) }),
      "replays" -> ListMap("warmup_s" -> replayWarmup.map(_.wallS), "untraced_s" -> plain.map(_.wallS),
        "traced_s" -> staged.map(_.wallS)),
      "setup" -> ListMap("session_s" -> sessionS, "reps_s" -> setupTimes, "prepare_s" -> prepareS,
        "warmup_s" -> warmS, "warmup_ops" -> warmN),
      // the end-to-end metrics again, with throughput under its per-workload
      // name (turns_per_s or queries_per_s) and failures as a share
      "end_to_end" -> (endToEnd.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) } ++ ListMap(
        s"${inputs.itemUnit}_per_s" -> ListMap("value" -> endToEnd("items_per_s")._1, "unit" -> "1/s"),
        "failed_share" -> ListMap("value" -> failed.toDouble / attempted, "unit" -> "share"))),
      "errors" -> errors)
    println("perfbench-report " + Util.json(report))

    if (trace) {
      val spans = staged.flatMap(_.tracer.spans)
      Files.createDirectories(work.resolve("trace"))
      Files.write(work.resolve("trace").resolve(s"${wl.name}-seed$seed.jsonl"),
        spans.map(s => Util.json(ListMap("run" -> s.runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "rows_in" -> s.rowsIn, "rows_out" -> s.rowsOut))).mkString("", "\n", "\n")
          .getBytes("UTF-8"))
    }
    val metrics = if (trace) perLayer else endToEnd
    println(Util.json(ListMap(
      "correct" -> errors.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })))
  }

  /** Per-layer figures from the traced replay with the median wall time.
    * `plainS` is the median wall time of the untraced replays. A layer the
    * workload does not reach reports 0. */
  private def layerMetrics(wl: Workload, staged: Seq[StagedRecord], plainS: Double, medianOp: OpRecord,
                           inputs: Inputs): ListMap[String, (Double, String)] = {
    val pick = staged.sortBy(_.wallS).apply((staged.size - 1) / 2)
    val children = pick.tracer.spans.filter(_.parent == pick.root.id)
    final case class Layer(wallS: Double, t: TagTotals, rowsIn: Long, rowsOut: Long)
    val layers: Map[String, Layer] = children.map(s => s.name -> Layer(s.wallS, pick.tracer.totalsOf(s), s.rowsIn, s.rowsOut)).toMap ++
      wl.opLayer.map(_ -> Layer(medianOp.runS, medianOp.totals, inputs.items, medianOp.output.map(_.lines.length.toLong).getOrElse(0L)))
    val mb = 1048576.0
    val perLayer = Layers.flatMap { l =>
      val x = layers.getOrElse(l, Layer(0.0, new TagTotals, 0L, 0L))
      Seq(
        s"$l.wall_s" -> (x.wallS, "s"),
        s"$l.cpu_s" -> (x.t.cpuNs / 1e9, "s"),
        s"$l.rows_in" -> (x.rowsIn.toDouble, "rows"),
        s"$l.rows_out" -> (x.rowsOut.toDouble, "rows"),
        s"$l.shuffle_write_mb" -> (x.t.shuffleWriteBytes / mb, "MB"),
        s"$l.spill_mb" -> (x.t.spillBytes / mb, "MB"),
        s"$l.failed_tasks" -> (x.t.failedTasks.toDouble, "count"))
    }
    def ratio(l: String): Double = layers.get(l).filter(_.rowsIn > 0).map(x => x.rowsOut.toDouble / x.rowsIn).getOrElse(0.0)
    val ckpt = Seq("signatures_append_s", "pairs_increment_s", "clusters_s").map(n => s"ckpt.$n" -> (medianOp.extra.getOrElse(s"ckpt.$n", 0.0), "s")) ++
      Seq("ckpt.write_mb" -> (medianOp.extra.getOrElse("ckpt.write_mb", 0.0), "MB"),
        "ckpt.write_amp" -> (medianOp.extra.getOrElse("ckpt.write_amp", 0.0), "ratio"))
    val kernels = Kernels.measure(wl.kernelSample, DedupConfig()).toSeq.sortBy(_._1).map { case (k, v) => k -> (v, "ns") }
    ListMap(perLayer ++ kernels ++ ckpt ++ Seq(
      "candidates.hot_buckets" -> (pick.cm.hotBuckets.value.toDouble, "count"),
      "candidates.hot_postings" -> (pick.cm.hotPostings.value.toDouble, "count"),
      "candidates.salted_pairs" -> (pick.cm.saltedPairs.value.toDouble, "count"),
      "verify.yield" -> (ratio("verify"), "ratio"),
      "repgroups.collapse_ratio" -> (ratio("repgroups"), "ratio"),
      "engine.jobs" -> (medianOp.totals.jobs.toDouble, "count"),
      "engine.tasks" -> (medianOp.totals.tasks.toDouble, "count"),
      "tracing.overhead_s" -> (Util.median(staged.map(_.wallS)) - plainS, "s"),
      "tracing.coverage" -> (children.map(_.wallS).sum / pick.root.wallS, "share")): _*)
  }
}
