package panelbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** Runs one workload in one Spark session and writes its results.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  *
  * Set-up builds the seeded inputs [[Main.Builds]] times (keeping the last)
  * and runs [[Main.WarmupPasses]] untimed passes. Then passes repeat until
  * `--seconds` have gone by, at least two. With `--trace 1` they
  * alternate between untraced and traced; spans and their listener are
  * attached only to the traced ones. Every pass is checked and its outputs
  * released after its timed region. `<dir>/result.json` receives every
  * metric and check, `<dir>/spans.jsonl` every span.
  */
object Main {
  val Builds = 3
  val WarmupPasses = 1
  private val MB = 1048576.0

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, out: Path)

  final case class PassRecord(
      index: Int, traced: Boolean, seconds: Double, storagePeakMb: Double,
      checks: Seq[Check], counts: Map[String, Double], error: Option[String])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("out")))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    note(s"start ${opts.workload}")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"panelbench-${opts.workload}")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the program's per-round loop lines (CC) stay in the run log
    org.apache.logging.log4j.core.config.Configurator.setLevel("graft", org.apache.logging.log4j.Level.INFO)
    try run(spark, opts, cores)
    finally spark.stop()
    note("stopped")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  private def note(msg: String): Unit = {
    val up = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[panelbench] $up%7.2f $msg")
  }

  def run(spark: SparkSession, opts: Opts, cores: Int): Unit = {
    val sc = spark.sparkContext
    val storage = new StorageTracker
    sc.addSparkListener(storage)
    val workload = Workloads(opts.workload, spark, cores)
    note("session ready")

    // ---- set-up: inputs built several times, then warm-up passes ----
    val buildS = (1 to Builds).map { _ =>
      val t0 = System.nanoTime()
      workload.build(opts.seed)
      seconds(t0)
    }
    val inputRdds = sc.getPersistentRDDs.keySet
    val inputMb = sc.getRDDStorageInfo.filter(i => inputRdds(i.id)).map(_.memSize).sum / MB

    var attempted = 0
    var failed = 0
    val records = ArrayBuffer.empty[PassRecord]

    /** Drops whatever a pass left in storage beyond the inputs (checkpoints),
      * and collects garbage so that Spark's cleaner frees the blocks of RDDs
      * the pass dropped: every pass starts from the same storage and heap.
      */
    def releaseLeftovers(): Unit = {
      sc.getPersistentRDDs.foreach { case (id, rdd) => if (!inputRdds(id)) rdd.unpersist(blocking = true) }
      System.gc()
    }

    def runPass(index: Int, spans: Spans, traced: Boolean): PassRecord = {
      Bus.drain(sc)
      storage.reset()
      val t0 = System.nanoTime()
      val outcome = Try(spans.span("pass")(workload.pass(spans)))
      val wall = seconds(t0)
      Bus.drain(sc)
      val peak = storage.peakBytes / MB
      attempted += 1
      val record = outcome match {
        case Failure(e) =>
          failed += 1
          System.err.println(s"[panelbench] pass $index failed: $e")
          e.printStackTrace()
          PassRecord(index, traced, wall, peak, Nil, Map.empty, Some(e.toString))
        case Success(o) =>
          val tc = System.nanoTime()
          val (checks, counts) = Try(o.check()).recover { case e =>
            (Seq(Check("check_ran", ok = false, e.toString)), Map.empty[String, Double])
          }.get
          Try(o.release())
          note(f"pass $index checks: ${seconds(tc)}%.3f s")
          attempted += o.subAttempts + checks.size
          failed += o.subFailures + checks.count(!_.ok)
          checks.filterNot(_.ok).foreach(c =>
            System.err.println(s"[panelbench] pass $index check ${c.name} FAILED: ${c.detail}"))
          PassRecord(index, traced, wall, peak, checks, counts, None)
      }
      releaseLeftovers()
      records += record
      note(f"pass $index${if (traced) " (traced)" else ""}: $wall%.3f s")
      record
    }

    val warmup = (1 to WarmupPasses).map(i => runPass(-i, NoSpans, traced = false).seconds)
    val setupS = median(buildS) + warmup.sum

    // ---- timed window ----
    val tracer = new Tracer(sc, cores)
    // At least two timed passes; three when traced, which go untraced,
    // traced, untraced so that the overhead estimate is free of the warm-up
    // drift.
    val minPasses = if (opts.trace) 3 else 2
    val t0 = System.nanoTime()
    var index = 0
    while (index < minPasses || seconds(t0) < opts.seconds) {
      val traced = opts.trace && index % 2 == 1
      if (traced) {
        sc.addSparkListener(tracer)
        tracer.beginPass(index)
        try runPass(index, tracer, traced = true) finally sc.removeSparkListener(tracer)
      } else runPass(index, NoSpans, traced = false)
      index += 1
    }

    val timed = records.filter(r => r.index >= 0 && r.error.isEmpty)
    val plain = timed.filterNot(_.traced)
    val passS = median(plain.map(_.seconds).toSeq)
    val (throughputName, units) = workload.throughput
    val metrics = ArrayBuffer[(String, Double, String)](
      ("pass_s", passS, "s"),
      ("rows_per_s", workload.inputRows / passS, "1/s"),
      ("setup_s", setupS, "s"),
      ("storage_peak_mb", median(plain.map(_.storagePeakMb).toSeq), "MB"))
    metrics += ((throughputName, units / passS, "1/s"))
    metrics += (("error_rate", failed.toDouble / math.max(1, attempted), "ratio"))

    var spanRows: Seq[Map[String, Any]] = Nil
    if (opts.trace) {
      Bus.drain(sc)
      val (rows, byPass) = tracer.report()
      spanRows = rows
      val traced = timed.filter(_.traced)
      def perPass(r: PassRecord): Map[String, Double] =
        byPass.getOrElse(r.index, Map.empty).toSeq.flatMap { case (name, cs) =>
          cs.map { case (c, v) => s"$name.$c" -> v }
        }.toMap ++ r.counts
      val passMaps = traced.map(perPass)
      val keys = (Layers.names ++ passMaps.flatMap(_.keys)).distinct
      val medians = keys.map(k => k -> median(passMaps.map(_.getOrElse(k, 0.0)).toSeq)).toMap
      val extra = workload.tracedCounts(medians)
      (medians ++ extra).toSeq.sortBy(_._1).foreach { case (k, v) =>
        metrics += ((k, v, Layers.unit(k)))
      }
      metrics += (("sources.input_mb", inputMb, "MB"))
      metrics += (("trace.overhead_s", median(traced.map(_.seconds).toSeq) - passS, "s"))
    }

    val result = Json.obj(
      "workload" -> opts.workload,
      "seed" -> opts.seed,
      "seconds" -> opts.seconds,
      "trace" -> opts.trace,
      "cores" -> cores,
      "correct" -> (failed == 0 && plain.nonEmpty),
      "attempted" -> attempted,
      "failed" -> failed,
      "setup" -> Json.obj("build_s" -> buildS, "warmup_s" -> warmup, "input_mb" -> inputMb),
      "passes" -> records.map(r => Json.obj(
        "index" -> r.index, "traced" -> r.traced, "s" -> r.seconds,
        "storage_peak_mb" -> r.storagePeakMb, "error" -> r.error.orNull,
        "counts" -> r.counts,
        "checks" -> r.checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))),
      "metrics" -> metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }.toMap)
    Files.createDirectories(opts.out)
    Files.writeString(opts.out.resolve("result.json"), Json.write(result) + "\n")
    Files.writeString(opts.out.resolve("spans.jsonl"),
      spanRows.map(r => Json.write(r) + "\n").mkString)
  }
}

/** The spans of the traced run and the per-layer counts outside spans. */
object Layers {
  val Spans: Seq[String] = Seq(
    "pass", "cv.plan", "search.fit", "cv.drop_splits", "cv.snapshots", "cv.fit", "cv.predict",
    "metrics.score", "dedup.pairs", "dedup.cc")

  private val Counts: Seq[(String, String)] = Seq(
    "search.jobs_per_fold_fit" -> "count", "pipeline.fit_s" -> "s", "metrics.score_s" -> "s",
    "dedup.pairs.out" -> "count", "dedup.cc.out" -> "count", "dedup.candidates.out" -> "count",
    "dedup.verify_ratio" -> "ratio")

  /** Every per-layer metric name; spans a workload does not open read 0. */
  val names: Seq[String] =
    Spans.flatMap(s => Tracer.Counters.map(c => s"$s.${c._1}")) ++ Counts.map(_._1)

  def unit(name: String): String =
    Counts.toMap.getOrElse(name, Tracer.Counters.toMap.getOrElse(name.split('.').last, "count"))
}

/** JSON for the result files. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** An object whose keys keep their order. */
  def obj(kv: (String, Any)*): Map[String, Any] = ListMap(kv: _*)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
