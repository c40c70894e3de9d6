package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      workDir: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val t = need("trace")
    require(t == "0" || t == "1", s"--trace must be 0 or 1, got $t")
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, t == "1", need("work"))
  }
}

/** One timed operation of the closed loop. A failed operation (exception
  * or failed check) keeps its record but never contributes a timing.
  */
final class OpRec(val kind: String, val ms: Double, val traced: Boolean, val variant: String) {
  var failure: Option[String] = None
  def ok: Boolean = failure.isEmpty
}

/** State of one benchmark run: the session, the operation log, failure
  * accounting, the optional tracer and the figures to report.
  */
final class Run(val spark: SparkSession, val args: Args, val dir: Path) {
  val tracer: Option[Tracer] = if (args.trace) Some(new Tracer(spark.sparkContext)) else None
  val ops = ArrayBuffer.empty[OpRec]
  /** Failed checks not tied to one operation (set-up, final state). */
  val runFailures = ArrayBuffer.empty[String]
  /** Figures the report line prints besides the result metrics. */
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  val record = mutable.LinkedHashMap.empty[String, Any]
  private val t0 = System.nanoTime()
  private val phases = mutable.LinkedHashMap.empty[String, Double]

  /** Marks the end of a phase of the run (set-up, warm-up, window, checks):
    * seconds since the run started, kept in the record and logged.
    */
  def phase(name: String): Unit = {
    val s = (System.nanoTime() - t0) / 1e9
    phases(name) = s
    record("phases_s") = phases.toMap
    Console.err.println(f"[graftbench] $name done at $s%.1f s")
  }

  def path(name: String): String = dir.resolve(name).toString

  def span[T](name: String, requestId: Long = -1L)(f: => T): T =
    tracer match {
      case Some(t) => t.span(name, requestId)(f)
      case None => f
    }

  /** In the traced run, operation i is traced when i is even and untraced
    * otherwise, so both halves see the same conditions.
    */
  def traceOp(i: Int): Boolean = {
    val on = tracer.isDefined && i % 2 == 0
    tracer.foreach(_.setActive(on))
    on
  }

  /** Runs one operation, counting it as attempted; an exception marks it
    * failed. Returns the result and its record.
    */
  def op[T](kind: String, traced: Boolean = false, variant: String = "")(f: => T): (Option[T], OpRec) = {
    val t0 = System.nanoTime()
    val (res, err) = try (Some(f), None) catch {
      case NonFatal(e) => (None, Some(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
    val rec = new OpRec(kind, (System.nanoTime() - t0) / 1e6, traced, variant)
    rec.failure = err
    err.foreach(m => Console.err.println(s"[graftbench] failed $m"))
    ops += rec
    (res, rec)
  }

  /** Runs a check on an operation's output; a mismatch or exception marks
    * the operation failed.
    */
  def check(rec: OpRec, what: String)(f: => Unit): Unit =
    if (rec.ok) try f catch {
      case NonFatal(e) =>
        rec.failure = Some(s"${rec.kind} check '$what': ${e.getMessage}")
        Console.err.println(s"[graftbench] ${rec.failure.get}")
    }

  /** A run-level check (no single operation to blame). */
  def checkRun(what: String)(f: => Unit): Unit =
    try f catch {
      case NonFatal(e) =>
        runFailures += s"$what: ${e.getMessage}"
        Console.err.println(s"[graftbench] check '$what' failed: ${e.getMessage}")
    }

  def okMs(kind: String, traced: Option[Boolean] = None): Seq[Double] =
    ops.iterator.filter(o => o.kind == kind && o.ok && traced.forall(_ == o.traced))
      .map(_.ms).toSeq

  def attempted: Long = ops.size.toLong + runFailures.size
  def failed: Long = ops.count(!_.ok).toLong + runFailures.size
}

object Main {

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val workloads: Map[String, Run => Workload.Result] = Map(
      "offline" -> Workload.offline,
      "ingest_serve" -> Workload.ingestServe)
    val body = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}; " +
        s"known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val root = Paths.get(args.workDir).toAbsolutePath
    val runDir = root.resolve(s"run-${ProcessHandle.current().pid()}")
    Files.createDirectories(runDir.resolve("tmp"))
    val calibStart = graft.Bench.calibMops()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graftbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var exit = 0
    try {
      val run = new Run(spark, args, runDir)
      val gc0 = gcMs()
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val res = body(run)
      val calibEnd = graft.Bench.calibMops()
      val rssMb = vmHwmMb()
      val jvm = Map("jvm.gc_s" -> (gcMs() - gc0) / 1000.0, "jvm.heap_peak_mb" -> heapPeakMb(),
        "jvm.rss_peak_mb" -> rssMb)
      val correct = run.failed == 0
      // a rate over no successful operation is 0, not NaN (the run fails)
      val metrics: Seq[(String, (Double, String))] =
        (if (args.trace) res.layers.map { case (k, (v, u)) => k -> (jvm.getOrElse(k, v), u) }
         else res.endToEnd).map { case (k, (v, u)) => k -> (if (v.isNaN || v.isInfinite) 0.0 else v, u) }
      val allFigures = run.report.toSeq ++ Seq(
        "peak_rss_mb" -> (rssMb, "MB"),
        "failed_op_share" -> (run.failed.toDouble / math.max(1L, run.attempted), "share"))
      run.record ++= Seq(
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace,
        "calib_mops_start" -> calibStart, "calib_mops_end" -> calibEnd,
        "spark_conf" -> spark.sparkContext.getConf.getAll.toSeq.sorted.toMap,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "report" -> allFigures.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "attempted" -> run.attempted, "failed" -> run.failed,
        "failures" -> (run.runFailures ++ run.ops.flatMap(_.failure)).toSeq,
        "ops" -> run.ops.map(o => Map("kind" -> o.kind, "variant" -> o.variant, "ms" -> o.ms, "traced" -> o.traced,
          "failure" -> o.failure)).toSeq)
      val recDir = root.resolve("records")
      Files.createDirectories(recDir)
      Files.writeString(recDir.resolve(
        s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json"),
        Json(run.record))
      println("report " + Json(allFigures.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap))
      val metricsJson = metrics.map { case (k, (v, u)) =>
        Json.str(k) + ":{\"value\":" + Json(v) + ",\"unit\":" + Json.str(u) + "}" }
        .mkString("{", ",", "}")
      println(s"""{"correct":$correct,"attempted":${run.attempted},"failed":${run.failed},"metrics":$metricsJson}""")
      if (!correct) exit = 1
    } finally {
      spark.stop()
      deleteTree(runDir)
    }
    sys.exit(exit)
  }
}
