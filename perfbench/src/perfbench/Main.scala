package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry (perfbench/run.py builds and launches it).
  *
  * One process, one closed-loop caller: each rep starts when the previous
  * one returns. Set-up — session start, input generation and one warm-up
  * rep — runs [[Main.Setups]] times, each in a fresh SparkSession, and
  * `setup_s` is their median. Timed reps then run back to back until
  * `--seconds` have passed and at least [[Main.MinReps]] ran. A traced run
  * (`--trace 1`) traces every second of those reps (the difference of the
  * traced and untraced medians is the tracing overhead), then replays the
  * crawl's data through single layers. Every rep, warm-ups included, must
  * reproduce the workload's reference outputs and, for a seed listed in
  * perfbench/pinned.tsv, the outputs pinned there.
  */
object Main {

  val Setups = 3
  /** timed reps per window at least: the first timed rep still runs a
    * little warm, and the median of three is not pulled by it */
  val MinReps = 3

  // why each workload exists: BENCHMARK.json and perfbench/METRICS.md
  val Workloads: Seq[Workload] = Seq(CrawlBench, DedupBench)

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, workDir: Path, pinned: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work-dir")).toAbsolutePath,
      Paths.get(need("--pinned")))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val correct = run(workload(opts.workload), opts)
    sys.exit(if (correct) 0 else 1)
  }

  def workload(name: String): Workload = Workloads.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))

  def session(nproc: Int, runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", runDir.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs the workload, prints settings, summary and the result line;
    * returns whether every output was correct. */
  def run(workload: Workload, opts: Opts): Boolean = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val runId = s"${workload.name}-seed${opts.seed}-${System.currentTimeMillis()}"
    val runDir = opts.workDir.resolve(runId)
    Files.createDirectories(runDir)
    val spans = new Spans(runId)
    val root = spans.open("run")
    var attempted = 0
    val failures = mutable.ArrayBuffer[String]()
    val failedReps = mutable.Set[String]()
    val outputs = mutable.ArrayBuffer[(String, String)]() // (rep label, outputs)
    def fail(label: String, why: String): Unit = {
      failures += s"$label: $why"; failedReps += label
    }

    var spark: SparkSession = null
    var prepared: Prepared = null
    var listener: LayerListener = null

    /** one checked rep: a throw counts as a failure, outputs are kept for
      * the correctness gate */
    def attempt(label: String, tracing: Option[Tracing]): Option[Rep] = {
      attempted += 1
      prepared.release()
      System.gc()
      try {
        val (rep, _) = spans.span(label, tracing.map(_.parent).getOrElse(root)) {
          id => prepared.rep(tracing.map(_.copy(parent = id)))
        }
        outputs += ((label, rep.outputs))
        Some(rep)
      } catch {
        case e: Exception =>
          fail(label, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          e.printStackTrace()
          None
      }
    }

    try {
      // ---- set-up, several times; setup_s is the median ----------------
      val setupS = (1 to Setups).map { i =>
        spans.span(s"setup.$i", root) { _ =>
          if (spark != null) spark.stop()
          spark = session(nproc, runDir)
          listener = new LayerListener(spark.sparkContext)
          spark.sparkContext.addSparkListener(listener)
          prepared = workload.prepare(Ctx(spark, opts.seed, nproc,
            runDir.resolve(s"setup-$i"), spans))
          attempt(s"warmup.$i", None)
        }._2
      }

      // ---- timed reps, closed loop --------------------------------------
      // a traced run traces every second rep, so that traced and untraced
      // reps sample the same stretch of the warm-up curve
      val tracing = Tracing(listener, spans, root)
      val reps = mutable.ArrayBuffer[(Boolean, Rep)]()
      val t0 = System.nanoTime()
      var i = 0
      while (i < MinReps || (System.nanoTime() - t0) / 1e9 < opts.seconds) {
        i += 1
        val traceThis = opts.trace && i % 2 == 0
        attempt(s"${if (traceThis) "traced" else "rep"}.$i",
          if (traceThis) Some(tracing) else None)
          .foreach(r => reps += ((traceThis, r)))
      }
      val plain = reps.collect { case (false, r) => r }.toVector
      val traced = reps.collect { case (true, r) => r }.toVector

      // ---- correctness gate ---------------------------------------------
      val want = spans.span("expected", root)(_ => prepared.expected())._1
      val pinned = Pinned.read(opts.pinned).get((workload.name, opts.seed))
      if (pinned.isEmpty)
        println(s"perfbench note: no pinned outputs for seed ${opts.seed}; " +
          "checked against the reference only")
      for ((source, value) <- ("reference", want) +: pinned.map(("pinned", _)).toSeq;
           (label, got) <- outputs if got != value)
        fail(label, s"produced [$got], $source outputs are [$value]")
      // the final checks inspect the last rep's full outputs
      val lastLabel = outputs.lastOption.map(_._1).getOrElse("final_checks")
      spans.span("final_checks", root)(_ => prepared.finalChecks())._1
        .foreach(fail(lastLabel, _))
      val replayed =
        if (!opts.trace) Map.empty[String, Double]
        else {
          attempted += 1
          try spans.span("replay", root)(id =>
            prepared.replay(tracing.copy(parent = id)))._1
          catch {
            case e: Exception =>
              fail("replay", s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
              e.printStackTrace()
              Map.empty[String, Double]
          }
        }
      prepared.release()

      // ---- report -------------------------------------------------------
      val runS = plain.map(_.wallS)
      val units = plain.headOption.map(_.units).getOrElse(0L)
      val runMedian = if (runS.isEmpty) 0.0 else Stats.median(runS)
      val (q1, q3) = if (runS.isEmpty) (0.0, 0.0) else Stats.quartiles(runS)
      val endToEnd = Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("run_s", runMedian, "s"),
        ("urls_per_s", Stats.ratio(units.toDouble, runMedian), "1/s"))
      val tracedMedian =
        if (traced.isEmpty) 0.0 else Stats.median(traced.map(_.wallS))
      val perLayer: Map[String, Double] =
        if (!opts.trace) Map.empty
        else {
          val layerKeys = traced.flatMap(_.layers.keys).distinct
          val medians = layerKeys.map(k =>
            k -> Stats.median(traced.flatMap(_.layers.get(k)))).toMap
          val floor = replayed.getOrElse("crawl.floor_pages_per_s", 0.0)
          medians ++ replayed ++ Map(
            "trace.run_s" -> tracedMedian,
            "trace.overhead_s" -> (tracedMedian - runMedian),
            "crawl.orchestration_ratio" -> (if (floor == 0) 0.0
              else Stats.ratio(units.toDouble, tracedMedian) / floor))
        }
      spans.close(root)
      spans.write(opts.workDir.getParent.resolve("spans").resolve(s"$runId.jsonl"))

      val failedRatio = Stats.ratio(failedReps.size, attempted)
      val settings = Seq(
        "workload" -> Json.str(workload.name),
        "seed" -> opts.seed.toString,
        "nproc" -> nproc.toString,
        "spark_master" -> Json.str(s"local[$nproc]"),
        "shuffle_partitions" -> nproc.toString,
        "fetch_partitions" -> nproc.toString,
        "jvm_max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "java" -> Json.str(System.getProperty("java.version")),
        "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
        "setups" -> Setups.toString,
        "warmup_reps" -> Setups.toString,
        "timed_reps" -> plain.size.toString,
        "traced_reps" -> traced.size.toString,
        "seconds" -> opts.seconds.toString,
        "trace" -> opts.trace.toString,
        "caller" -> Json.str("one closed-loop caller"),
        "spans" -> Json.str(s"spans/$runId.jsonl")) ++
        workload.settings.map { case (k, v) => k -> Json.str(v) }
      println("perfbench settings " + Json.obj(settings))
      // peak RSS follows the JVM's heap sizing more than the workload and
      // spreads too widely between runs to gate on; it is reported only here
      val summary = (endToEnd ++ prepared.extras ++ Seq(
        ("peak_rss_mb", peakRssMb(), "MB"),
        ("failed_ratio", failedRatio, "ratio"),
        ("run_s_q1", q1, "s"), ("run_s_q3", q3, "s"),
        ("run_s_samples", runS.size.toDouble, "count")) ++
        (if (opts.trace) Seq(("trace.overhead_s", tracedMedian - runMedian, "s"))
         else Seq.empty)).map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
      println("perfbench summary " + Json.obj(summary))
      failures.foreach(f => println(s"perfbench FAILED $f"))

      // run.py gives these their units from BENCHMARK.json and fills in the
      // per-layer metrics of layers this workload does not exercise
      val metrics: Seq[(String, Double)] =
        if (!opts.trace) endToEnd.map { case (n, v, _) => (n, v) }
        else perLayer.toSeq.sortBy(_._1)
      val correct = failures.isEmpty
      println(Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> attempted.toString,
        "failed" -> failedReps.size.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v) => n -> Json.num(v) }))))
      correct
    } finally {
      if (spark != null) spark.stop()
      CrawlBench.deleteTree(runDir)
    }
  }

  /** the process's resident-set high-water mark (Linux /proc) */
  def peakRssMb(): Double = {
    val status = Files.readAllLines(Paths.get("/proc/self/status"))
    val hwm = status.toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    hwm.split("\\s+")(1).toDouble / 1024
  }
}
