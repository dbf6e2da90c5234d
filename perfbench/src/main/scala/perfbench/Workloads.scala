package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.model.{Scorers, WindowModel, WindowScorer}
import graft.pipelines.{CorpusPipeline, HostImportance, Pipeline1, Pipeline2, Pipeline3}
import graft.queries.Q
import graft.sources.Sources

/** What one call into the program did: its wall time and, if it threw,
  * the error class and the first line of its message. */
final case class Op(name: String, seconds: Double, error: Option[String])

/** One iteration: its calls, its output digest, failed output checks, and
  * numbers the iteration read from the program (e.g. `Timing`). */
final case class IterResult(ops: Seq[Op], digest: String, checkFailures: Seq[String],
    stats: Map[String, Double])

/** One iteration as the benchmark ran it; `iter` is -1 for the warm-up. */
final case class Run(iter: Int, seconds: Double, result: IterResult, traced: Boolean)

final class Ctx(val spark: SparkSession, val dataDir: String, val seed: Long,
    val tracer: Tracer, val scratch: Path)

trait Workload {
  def name: String
  /** Tables `DataGen` must write for this workload. */
  def tables: Seq[String]
  /** Untimed, once per run: values the output checks need. */
  def prepare(spark: SparkSession, dataDir: String): Unit = ()
  /** Table resolution, part of set-up. */
  def resolve(ctx: Ctx): Unit = tables.foreach(t => Q.table(ctx.spark, ctx.dataDir, t).schema)
  def iteration(ctx: Ctx, iter: Int): IterResult
}

object Workload {
  def byName(name: String): Workload = name match {
    case "lifecycle" => new Lifecycle
    case "query_mix" => new QueryMix
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}"

  /** Collects calls and check failures of one iteration. A failed call is
    * recorded (class and first message line, also on stderr), never
    * swallowed silently; later calls that need its result are skipped and
    * count as failed too. */
  final class Recorder(workload: String, iter: Int) {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val stats = scala.collection.mutable.Map.empty[String, Double]

    def op[T](name: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      try {
        val r = body
        ops += Op(name, (System.nanoTime() - t0) / 1e9, None)
        Some(r)
      } catch {
        case e: Exception =>
          val msg = errorText(e)
          val root = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq.last
          System.err.println(s"[perfbench][$workload][iter $iter] $name failed: $msg" +
            (if (root ne e) s" (root cause ${errorText(root)})" else ""))
          ops += Op(name, (System.nanoTime() - t0) / 1e9, Some(msg))
          None
      }
    }

    def skip(name: String, why: String): Unit = ops += Op(name, 0.0, Some(s"skipped: $why"))

    def check(ok: Boolean, what: => String): Unit =
      if (!ok) {
        System.err.println(s"[perfbench][$workload][iter $iter] check failed: $what")
        failures += what
      }

    def result: IterResult = IterResult(ops.toSeq, Digest.ofLines(lines.toSeq), failures.toSeq, stats.toMap)
  }

  /** Full write of `df` to the `noop` sink, hashing every row on the way. */
  def writeNoop(df: DataFrame): (Long, String) = {
    val (obs, o) = Digest.observed(df)
    obs.write.format("noop").mode("overwrite").save()
    Digest.read(o)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** A scorer that records a `model.fit` span around every fit. */
final class TracedScorer(inner: WindowScorer, tracer: Tracer) extends WindowScorer {
  def fit(train: DataFrame, windowCol: String, yCol: String): WindowModel =
    tracer.span("model.fit")(inner.fit(train, windowCol, yCol))
  override def seeded(seed: Long): WindowScorer = new TracedScorer(inner.seeded(seed), tracer)
}

/** The end-to-end run `Demo` makes: the reference's experiment lifecycle
  * over one cell of its grid (binary task, logistic scorer, seqLen 10,
  * step 1) — pipeline1 train + artifacts, pipeline2 surrogate, 3A
  * robustness (2 kinds × 2 severities, one repeat), 3B leave-one-attack-out
  * over both attacks, permutation importance + top-k — then corpus
  * curation (`CorpusPipeline.curate` with containment and span removal on,
  * over the planted corpus, written in full to the `noop` sink). Every
  * stage runs once per iteration; sweep sizes, repeat counts, tree depth
  * and iteration caps are cut from the reference's so that one iteration
  * takes seconds, not minutes. */
final class Lifecycle extends Workload {
  import Workload._
  val name = "lifecycle"
  val tables = Seq("events", "corpus", "decontam")
  val curation = CorpusPipeline.CurationConfig(
    containmentThreshold = Some(0.8), spanRemovalTileWords = Some(8),
    sampleRates = Map("en" -> 0.9), defaultSampleRate = 0.7, packBudgetTokens = 512)
  val cells = Seq(10 -> 1)
  val attacks = Seq("icmp-flood", "syn-flood")
  private var expectedTestWindows = Map.empty[(Int, Int), Long]

  /** events → the power data's shape: two attack classes (`error` plays
    * syn-flood, `purchase` plays icmp-flood), a two-valued State, and a
    * second feature. */
  def power(events: DataFrame): DataFrame = events
    .withColumn("Attack", when(col("event_type") === "error", "syn-flood")
      .when(col("event_type") === "purchase", "icmp-flood").otherwise("none"))
    .withColumn("State", when(pmod(col("user_id"), lit(2)) === 0, "charging").otherwise("idle"))
    .withColumn("v2", col("value") * 0.5 + col("event_id") % 7)

  /** Test windows per cell from the split sizes: per (Attack, State) group
    * of n rows, train = ⌊0.7n⌋ and val = ⌊0.15n⌋ (with the reference's
    * guard), the rest is test; windows slide over all test rows. */
  override def prepare(spark: SparkSession, dataDir: String): Unit = {
    val sizes = power(Q.table(spark, dataDir, "events"))
      .groupBy("Attack", "State").count().collect().map(_.getLong(2))
    val test = sizes.map { n =>
      var tr = math.floor(n * 0.7).toLong
      var va = math.floor(n * 0.15).toLong
      if (tr + va >= n) { tr = math.max(1L, tr); va = math.max(0L, math.min(n - tr - 1, va)) }
      n - tr - va
    }.sum
    expectedTestWindows = cells.map { case (l, s) =>
      (l, s) -> (if (test >= l) (test - l) / s + 1 else 0L)
    }.toMap
  }

  def iteration(ctx: Ctx, iter: Int): IterResult = {
    val rec = new Recorder(name, iter)
    val tr = ctx.tracer
    val spark = ctx.spark
    val scorer = new TracedScorer(Scorers.Logistic(maxIter = 5), tr)
    val out = ctx.scratch.resolve(s"artifacts-$iter")
    def acc(what: String, v: Double): Unit =
      rec.check(v >= 0.0 && v <= 1.0, s"$what = $v is not in [0, 1]")
    try {
      val events = rec.op("resolve_events")(tr.span("sources.table")(
        Q.table(spark, ctx.dataDir, "events")))
      for (ev <- events; (seqLen, step) <- cells) {
        val cell = s"seq${seqLen}_step$step"
        val p1 = rec.op(s"$cell/pipeline1") {
          val r = tr.span("pipelines.pipeline1") {
            val r = Pipeline1.run(spark, power(ev), Seq("value", "v2"), "Attack", "State",
              Seq(col("ts"), col("event_id")), scorer,
              Pipeline1.Config(task = "binary", seqLen = seqLen, step = step,
                fprTarget = 0.05, chunkSize = 8192))
            (r, r.multiclass.collect(), r.confusion.collect(), r.perState.collect())
          }
          tr.span("sources.write") {
            val dir = out.resolve(cell)
            Sources.writeWindows(r._1.windows, dir.resolve("windows").toString)
            Sources.writeMetricsJson(r._1.multiclass
              .withColumn("training_time_seconds", lit(r._1.timing.trainingTimeSeconds))
              .withColumn("avg_inference_latency_per_window_sec",
                lit(r._1.timing.avgInferenceLatencyPerWindowSec)),
              dir.resolve("metrics").toString)
          }
          r
        }
        p1 match {
          case None => Seq("pipeline2", "pipeline3a", "pipeline3b", "importance")
            .foreach(s => rec.skip(s"$cell/$s", "pipeline1 failed"))
          case Some((r, multiclass, confusion, perState)) =>
            val t = r.timing
            rec.stats(s"$cell.training_time_s") = t.trainingTimeSeconds
            rec.stats(s"$cell.inference_s_per_window") = t.avgInferenceLatencyPerWindowSec
            rec.stats(s"$cell.inference_s") = t.avgInferenceLatencyPerWindowSec * t.nTestWindows
            val want = expectedTestWindows((seqLen, step))
            rec.check(t.nTestWindows == want,
              s"$cell: ${t.nTestWindows} test windows, split sizes give $want")
            rec.lines += s"$cell/test_windows=${t.nTestWindows}"
            multiclass.foreach { row =>
              acc(s"$cell accuracy", row.getAs[Double]("accuracy"))
              rec.lines += s"$cell/multiclass=${Digest.fmt(row)}"
            }
            confusion.foreach(row => rec.lines += s"$cell/confusion=${Digest.fmt(row)}")
            perState.foreach(row => rec.lines += s"$cell/per_state=${Digest.fmt(row)}")
            r.operational.foreach(o => rec.lines +=
              s"$cell/operational=${Digest.fmt(Seq(o.threshold, o.fpr, o.tpr))}")
            val dir = out.resolve(cell)
            rec.check(Files.exists(dir.resolve("windows").resolve("split=test")) &&
              Option(dir.resolve("metrics").toFile.list()).exists(_.exists(_.endsWith(".json"))),
              s"$cell: windows or metrics artifacts missing")

            rec.op(s"$cell/pipeline2") {
              val p2 = tr.span("pipelines.pipeline2")(Pipeline2.run(r.scored, nFeatures = 2,
                maxDepth = 2))
              p2.agreement.collect().foreach { row =>
                acc(s"$cell agreement", row.getDouble(0))
                acc(s"$cell surrogate accuracy", row.getDouble(1))
                rec.lines += s"$cell/pipeline2=${Digest.fmt(row)}"
              }
            }
            rec.op(s"$cell/pipeline3a") {
              val curves = tr.span("pipelines.pipeline3a")(Pipeline3.robustness(r.scored, r.model,
                kinds = Seq("packet_loss", "missing_variables"), nSev = 2, nRepeats = 1).collect())
              rec.check(curves.length == 4, s"$cell: ${curves.length} robustness points, want 4")
              curves.foreach { row =>
                acc(s"$cell robustness accuracy", row.getAs[Double]("accuracy_mean"))
                rec.lines += s"$cell/pipeline3a=${Digest.fmt(row)}"
              }
            }
            rec.op(s"$cell/pipeline3b") {
              val gen = tr.span("pipelines.pipeline3b")(Pipeline3.leaveOneAttackOut(r.windows,
                new TracedScorer(Scorers.Logistic(maxIter = 3), tr), attacks).collect())
              rec.check(gen.length == attacks.size, s"$cell: ${gen.length} held-out rows")
              val heldPresent = r.windows.where(col("split") === "test")
                .groupBy("attack").count().collect().map(_.getString(0)).toSet
              gen.foreach { row =>
                val held = row.getString(0)
                val accHeld = row.getAs[Double]("accuracy_on_held_out")
                if (heldPresent(held) || !accHeld.isNaN) acc(s"$cell held-out accuracy", accHeld)
                acc(s"$cell rest accuracy", row.getAs[Double]("accuracy_on_rest"))
                rec.lines += s"$cell/pipeline3b=${Digest.fmt(row)}"
              }
            }
            rec.op(s"$cell/importance") {
              val (imp, top) = tr.span("pipelines.importance") {
                val wins = r.windows.where(col("split") === "test")
                  .withColumn("weight", lit(1.0))
                  .withColumn("win_id", col("win_id").cast("long"))
                val imp = HostImportance.permutationImportance(wins, r.model, nFeatures = 2,
                  nRepeats = 1)
                (imp.collect(), HostImportance.topK(imp, 1))
              }
              rec.check(top.nonEmpty, s"$cell: topK is empty")
              imp.foreach(row => rec.lines += s"$cell/importance=${Digest.fmt(row)}")
              rec.lines += s"$cell/top=${top.mkString(",")}"
            }
            r.windows.unpersist(blocking = true)
        }
      }
      rec.op("curate") {
        val (docs, bench) = tr.span("sources.table")(
          (Q.table(spark, ctx.dataDir, "corpus"), Q.table(spark, ctx.dataDir, "decontam")))
        val packed = tr.span("pipelines.curate_construct")(
          CorpusPipeline.curate(docs, "doc_id", "text", col("lang"), bench, "text", curation))
        tr.span("pipelines.curate_execute")(packed.write.format("noop").mode("overwrite").save())
        packed
      }.foreach { packed =>
        val (n, digest) = Digest.of(packed)
        rec.check(n > 0, "packed corpus is empty")
        rec.lines += s"curate=$digest"
      }
    } finally deleteTree(out)
    rec.result
  }
}

/** The `SparkEntry.queries` whose full write or construction stood out
  * once the bench stopped timing `count()`, each built and written in full
  * to the `noop` sink, in a seeded order on each pass. */
final class QueryMix extends Workload {
  import Workload._
  val name = "query_mix"
  val tables: Seq[String] = Q.tableNames

  /** Five whose full write costs far more than `count()`, three with the
    * most driver-side construction work. */
  val queries: Seq[String] = Seq(
    "q_percentiles", "g_cusum", "dsir_weights", "q_window_suite", "dq_benford",
    "g_platt_scaling", "g_kendall_tau", "q_profile")

  def iteration(ctx: Ctx, iter: Int): IterResult = {
    val rec = new Recorder(name, iter)
    val tr = ctx.tracer
    val entry = SparkEntry.queries
    val order = new Random(ctx.seed * 7919L + iter).shuffle(queries)
    order.foreach { q =>
      rec.op(q) {
        val df = tr.span("queries.construct")(entry(q)(ctx.spark, ctx.dataDir))
        val (_, digest) = tr.span("queries.execute")(writeNoop(df))
        rec.lines += s"$q=$digest"
      }
      ctx.spark.catalog.clearCache()
    }
    rec.result
  }
}
