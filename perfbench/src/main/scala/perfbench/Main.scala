package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.LayerListener
import org.apache.spark.sql.SparkSession

/** Benchmark main: one closed-loop client in one process.
  *
  * A run generates its seeded inputs (cached per seed and scale), then
  * sets up: session start, `TsContract.check` and table resolution,
  * [[Setups]] times, followed by one untimed warm-up iteration. `setup_s`
  * is the median of the repeated part plus the warm-up (the cold first
  * iteration costs several times a warm one, so it is run once). Timed
  * iterations follow for `--seconds` (at least the workload's minimum).
  * Every iteration's output is checked. With `--trace 1`, every other
  * timed iteration is traced (spans plus Spark listeners) and the rest are
  * not, so the run also measures the tracing overhead.
  *
  * The last stdout line starting with `PERFBENCH_RESULT ` holds the
  * result object.
  */
object Main {

  final case class Conf(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false,
      work: String = ".bench_build", pin: Boolean = false,
      localDir: String = ".bench_build/spark-local")

  /** Set-up repetitions; `setup_s` takes their median. */
  val Setups = 3

  def parse(args: List[String], c: Conf = Conf()): Conf = args match {
    case Nil => c
    case "--workload" :: v :: t => parse(t, c.copy(workload = v))
    case "--seed" :: v :: t => parse(t, c.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, c.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, c.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, c.copy(work = v))
    case "--pin" :: t => parse(t, c.copy(pin = true))
    case "--local-dir" :: v :: t => parse(t, c.copy(localDir = v))
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Input shape per workload: the queries are the most costly per row, so
    * they read the smallest tables. */
  def dataScale(workload: String): DataGen.Scale =
    if (workload == "query_mix") DataGen.Scales("sf0.001") else DataGen.Scales("sf0.01")

  /** Pinned output digests, relative to the repository root. */
  val PinsFile = Paths.get("perfbench", "digests.json")

  def session(c: Conf): SparkSession = {
    // the CPUs this process may use (affinity and cgroup limits included)
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", c.localDir)
      .config("spark.sql.warehouse.dir", Paths.get(c.work, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args.toList)
    val work = Paths.get(c.work).toAbsolutePath
    val wl = Workload.byName(c.workload)
    val scale = dataScale(c.workload)
    val dataDir = work.resolve("data").resolve(s"${scale.name}-seed${c.seed}")
    val scratch = work.resolve("scratch").resolve(s"${c.workload}-seed${c.seed}")
    Files.createDirectories(scratch)

    var spark = session(c)
    DataGen.ensure(spark, dataDir, c.seed, scale, wl.tables)
    if (wl.tables.contains("corpus"))
      System.err.println(f"[perfbench] planted share of the corpus: ${DataGen.plantedShare(spark, dataDir)}%.3f")
    wl.prepare(spark, dataDir.toString)

    // set-up, several times: session start, TsContract.check and table
    // resolution; the last session stays up for the warm-up and timed loop
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val results = mutable.ArrayBuffer.empty[Run]
    var ctx: Ctx = null
    for (k <- 1 to Setups) {
      if (k > 1) spark.stop()
      val t0 = System.nanoTime()
      spark = session(c)
      graft.TsContract.check(spark, dataDir.toString)
      ctx = new Ctx(spark, dataDir.toString, c.seed, new Tracer(spark.sparkContext), scratch)
      wl.resolve(ctx)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    // one untimed warm-up iteration (JIT, codegen, first-reader costs)
    val tWarm = System.nanoTime()
    results += Run(-1, Double.NaN, wl.iteration(ctx, -1), traced = false)
    val warmupS = (System.nanoTime() - tWarm) / 1e9

    // timed closed loop
    val listener = new LayerListener
    val sc = spark.sparkContext
    val tStart = System.nanoTime()
    var i = 0
    // a traced run needs an untraced iteration too, for the overhead ratio
    val minIterations = if (c.trace) 2 else 1
    while (i < minIterations || (System.nanoTime() - tStart) / 1e9 < c.seconds) {
      val traced = c.trace && i % 2 == 0
      if (traced) {
        LayerListener.drain(sc)
        listener.currentIter = i
        sc.addSparkListener(listener)
        spark.listenerManager.register(listener)
        sc.setLocalProperty(LayerListener.IterProp, i.toString)
        ctx.tracer.on = true
        ctx.tracer.iter = i
      }
      val t0 = System.nanoTime()
      val r = wl.iteration(ctx, i)
      val dt = (System.nanoTime() - t0) / 1e9
      if (traced) {
        ctx.tracer.on = false
        sc.setLocalProperty(LayerListener.IterProp, null)
        LayerListener.drain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
      }
      results += Run(i, dt, r, traced)
      i += 1
    }
    val rssMb = peakRssMb()

    // output checks: every iteration's digest equals the pinned one (or,
    // for a seed nobody pinned, the first warm-up's)
    val key = s"${c.workload}/${c.seed}"
    val pins = Pins.load(PinsFile)
    val reference = pins.getOrElse(key, results.head.result.digest)
    val mismatches = results.filter(_.result.digest != reference)
    mismatches.foreach { r =>
      System.err.println(s"[perfbench][${c.workload}][iter ${r.iter}] digest ${r.result.digest} != expected $reference")
    }
    if (!pins.contains(key))
      System.err.println(s"[perfbench] no pinned digest for $key; checked against the first warm-up")
    if (c.pin && mismatches.isEmpty) Pins.save(PinsFile, pins + (key -> reference))

    val allOps = results.flatMap(_.result.ops)
    val checkFails = results.map(_.result.checkFailures.size).sum
    val failedOps = allOps.count(_.error.isDefined)
    // an iteration whose digest is wrong counts as one failed operation
    val failed = failedOps + checkFails + mismatches.size
    val attempted = allOps.size
    val timed = results.filter(_.iter >= 0).toSeq
    val plainIters = timed.filterNot(_.traced)
    val opSamples = plainIters.flatMap(_.result.ops.map(_.seconds))

    val metrics: Seq[(String, Double, String)] =
      if (!c.trace) Seq(
        ("setup_s", median(setupTimes.toSeq) + warmupS, "s"),
        ("iter_s", median(plainIters.map(_.seconds)), "s"),
        ("query_p50_s", median(opSamples), "s"),
        ("query_p90_s", percentile(opSamples, 0.9), "s"),
        ("peak_rss_mb", rssMb, "MB"))
      else Layers.perLayer(timed, listener,
        ctx.tracer, failed.toDouble / attempted, median(setupTimes.toSeq), warmupS,
        work.resolve("trace").resolve(s"${c.workload}-seed${c.seed}.json"))

    timed.lastOption.foreach { r =>
      System.err.println(s"[perfbench] iteration ${r.iter} calls: " +
        r.result.ops.map(o => f"${o.name}=${o.seconds}%.2f").mkString(" "))
    }
    System.err.println(s"[perfbench] ${c.workload} seed=${c.seed}: setups=" +
      setupTimes.map(t => f"$t%.2f").mkString(",") + f" warmup=$warmupS%.2f iterations=${timed.size} " +
      s"ops=${opSamples.size} attempted=$attempted failed=$failed")
    spark.stop()

    val m = metrics.map { case (n, v, u) => s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    val correct = failed == 0
    println(s"""PERFBENCH_RESULT {"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${m.mkString(", ")}}}""")
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}

/** Pinned digests: a flat JSON object, `"workload/seed": "digest"`. */
object Pins {
  private val Entry = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r

  def load(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Entry.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2)).toMap

  def save(p: Path, pins: Map[String, String]): Unit =
    Files.writeString(p, pins.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n"))
}
