package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table is a pure function of (seed, row
  * id): values come from `xxhash64(seed, salt, id, ...)`, so the same seed
  * gives byte-identical tables whatever the partitioning.
  *
  * The tables follow the shape of the project's testdata (TPC-H-ish star
  * schema plus `events`, `documents`, `embeddings`) so every query of the
  * mix resolves them through `Q.table`. Two extra tables feed the curation
  * workload: `corpus` (the documents plus planted near-duplicate families,
  * excerpts and shared boilerplate spans) and `decontam` (a held-out eval
  * slice, part of which quotes corpus documents).
  */
object DataGen {

  final case class Scale(name: String, events: Long, orders: Long,
      customers: Long, parts: Long, suppliers: Long, documents: Long,
      embeddings: Long) {
    def lineitems: Long = orders * 4
  }

  /** Row counts of the project's testdata scale factors. */
  val Scales: Map[String, Scale] = Map(
    "sf0.01" -> Scale("sf0.01", 10000, 15000, 1500, 2000, 100, 500, 500),
    "sf0.001" -> Scale("sf0.001", 1000, 1500, 150, 200, 10, 500, 500))

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  private val Boilerplate =
    "subscribe to the stream for merge and join news every batch window"

  /** Uniform double in [0, 1) from a seeded hash of `parts`. */
  private def u(seed: Long, salt: String, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: parts): _*), lit(1L << 40))
      .cast("double") / (1L << 40).toDouble

  private def pick(values: Seq[String], x: Column): Column =
    element_at(array(values.map(lit): _*),
      (floor(x * values.size) + 1).cast("int"))

  private def ids(spark: SparkSession, n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

  /** Write each of `names` under `dir` that is not there yet (a table is
    * complete once its `_SUCCESS` marker exists). */
  def ensure(spark: SparkSession, dir: Path, seed: Long, scale: Scale,
      names: Seq[String]): Unit = {
    Files.createDirectories(dir)
    def done(name: String): Boolean =
      Files.exists(dir.resolve(s"$name.parquet").resolve("_SUCCESS"))
    // written aside, then renamed into place, so a concurrent run never
    // reads a half-written table
    def write(name: String, df: DataFrame): Unit = {
      val tmp = dir.resolve(s".$name.${java.util.UUID.randomUUID()}")
      df.write.parquet(tmp.toString)
      try Files.move(tmp, dir.resolve(s"$name.parquet"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException | _: java.nio.file.DirectoryNotEmptyException =>
        Workload.deleteTree(tmp) }
    }
    val all = tables(spark, seed, scale).toMap
    val curation = Set("corpus", "decontam")
    val base = names.filterNot(curation).toSet ++
      (if (names.exists(curation)) Set("documents") else Set.empty)
    base.filterNot(done).foreach(t => write(t, all(t)))
    if (names.exists(n => curation(n) && !done(n))) {
      val docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
      val (corpus, decontam) = curationTables(docs, seed)
      write("corpus", corpus)
      write("decontam", decontam)
    }
  }

  def tables(spark: SparkSession, seed: Long, sc: Scale): Seq[(String, DataFrame)] = {
    val id = col("id")
    val region = ids(spark, 5).select(id.cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
        id.cast("double") / 5).as("r_name"))
    val nation = ids(spark, 25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey"))
    val customer = ids(spark, sc.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u(seed, "c_nation", id) * 25).cast("int").as("c_nationkey"),
      round(u(seed, "c_bal", id) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        u(seed, "c_seg", id)).as("c_mktsegment"))
    val supplier = ids(spark, sc.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      floor(u(seed, "s_nation", id) * 25).cast("int").as("s_nationkey"),
      round(u(seed, "s_bal", id) * 10999.99 - 999.99, 2).as("s_acctbal"))
    val adjectives = Seq("large", "hot", "small", "cold", "red", "blue", "light", "heavy")
    val nouns = Seq("ring", "bolt", "nut", "gear", "pipe", "valve", "wire", "plate")
    val part = ids(spark, sc.parts).select(id.as("p_partkey"),
      concat_ws(" ", pick(adjectives, u(seed, "p_adj", id)),
        pick(nouns, u(seed, "p_noun", id))).as("p_name"),
      concat(lit("Brand#"), (floor(u(seed, "p_brand", id) * 25) + 1).cast("int")).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        u(seed, "p_type", id)).as("p_type"),
      (floor(u(seed, "p_size", id) * 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000)).cast("double") / 10).as("p_retailprice"))
    // dates as TIMESTAMP_NTZ at midnight, days after 1995-01-01
    def day(offset: Column): Column =
      timestamp_seconds(lit(788918400L) + offset * 86400).cast("timestamp_ntz")
    val orders = ids(spark, sc.orders).select(id.as("o_orderkey"),
      floor(u(seed, "o_cust", id) * sc.customers).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), u(seed, "o_status", id)).as("o_orderstatus"),
      round(u(seed, "o_price", id) * 498991.27 + 1001.91, 2).as("o_totalprice"),
      day(floor(u(seed, "o_date", id) * 2404)).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(seed, "o_prio", id)).as("o_orderpriority"))
    val lineitem = ids(spark, sc.lineitems).select(
      floor(u(seed, "l_order", id) * sc.orders).cast("long").as("l_orderkey"),
      floor(u(seed, "l_part", id) * sc.parts).cast("long").as("l_partkey"),
      floor(u(seed, "l_supp", id) * sc.suppliers).cast("long").as("l_suppkey"),
      (floor(u(seed, "l_line", id) * 7) + 1).cast("int").as("l_linenumber"),
      (floor(u(seed, "l_qty", id) * 50) + 1).as("l_quantity"),
      round(u(seed, "l_ext", id) * 104099.23 + 900.68, 2).as("l_extendedprice"),
      round(floor(u(seed, "l_disc", id) * 11) / 100, 2).as("l_discount"),
      round(floor(u(seed, "l_tax", id) * 9) / 100, 2).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, "l_flag", id)).as("l_returnflag"),
      pick(Seq("F", "O"), u(seed, "l_status", id)).as("l_linestatus"),
      day(floor(u(seed, "l_ship", id) * 2498) + 1).as("l_shipdate"))
    // events: ~30 days, strictly increasing ts in event_id order; the
    // value's scale depends on the event type so the lifecycle's attack
    // classes (error, purchase) are learnable
    val gapUs = 30L * 86400 * 1000000 / sc.events
    val eventType = pick(Seq("click", "error", "purchase", "signup", "view"),
      u(seed, "e_type", id))
    val events = ids(spark, sc.events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * gapUs +
        floor(u(seed, "e_jit", id) * (gapUs - 1)).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      floor(u(seed, "e_user", id) * 1500).cast("long").as("user_id"),
      eventType.as("event_type"))
      .withColumn("value", round(-log(lit(1.0) - u(seed, "e_val", col("event_id"))) *
        when(col("event_type") === "error", 85.0)
          .when(col("event_type") === "purchase", 30.0).otherwise(50.0), 2))
      .withColumn("props", format_string("{\"k\": %d}",
        floor(u(seed, "e_props", col("event_id")) * 100).cast("int")))
    // 10..100 words; family roots (every 8th document) get at least 40
    val nWords = when(pmod(id, lit(8)) === 0, floor(u(seed, "d_len", id) * 61) + 40)
      .otherwise(floor(u(seed, "d_len", id) * 91) + 10).cast("int")
    val documents = ids(spark, sc.documents).select(id.as("doc_id"),
      array_join(transform(sequence(lit(1), nWords), i =>
        pick(Vocab, u(seed, "d_word", id, i))), " ").as("text"),
      pick(Seq("en", "en", "en", "en", "de", "de", "es", "es", "fr", "fr", "zh", "zh"),
        u(seed, "d_lang", id)).as("lang"),
      concat(lit("src"), pmod(id, lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // unit-norm gaussian embeddings (Box-Muller over two hashed uniforms)
    val gauss = transform(sequence(lit(0), lit(63)), d =>
      sqrt(lit(-2.0) * log(lit(1.0) - u(seed, "v_a", id, d))) *
        cos(lit(2 * math.Pi) * u(seed, "v_b", id, d)))
    val embeddings = ids(spark, sc.embeddings)
      .select(id.as("vec_id"), gauss.as("g"),
        floor(u(seed, "v_label", id) * 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0),
          (acc, y) => acc + y * y)))).cast("array<float>").as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Share of `corpus` rows that are planted (edited copies, excerpts). */
  def plantedShare(spark: SparkSession, dir: Path): Double =
    spark.read.parquet(dir.resolve("corpus.parquet").toString)
      .agg(avg(col("planted").cast("double"))).head().getDouble(0)

  /** The curation corpus and its decontamination slice, from `documents`:
    *  - every 8th document roots a family: three near-copies (about 2% of
    *    the words replaced, plus a salt token) and one excerpt (a 60% word
    *    span, caught by containment, not by Jaccard);
    *  - every 12th document gets a shared boilerplate span appended (the
    *    duplicate-span removal target);
    *  - `decontam` holds 60 fresh documents, 20 of which quote a 12-word
    *    span of a corpus document.
    * The counts do not depend on the seed, so every seed plants the same
    * amount of work. */
  def curationTables(docs: DataFrame, seed: Long): (DataFrame, DataFrame) = {
    val id = col("doc_id")
    val words = split(col("text"), " ")
    val base = docs.select(id, col("text"), col("lang"), col("source"))
      .withColumn("text", when(pmod(id, lit(12)) === 5,
        concat_ws(" ", col("text"), lit(Boilerplate))).otherwise(col("text")))
    val n = docs.agg(max(id)).head().getLong(0) + 1
    val roots = base.where(pmod(id, lit(8)) === 0)
    val copies = roots.crossJoin(docs.sparkSession.range(0, 4).toDF("v"))
      .select((lit(n) + id * 4 + col("v")).as("doc_id"),
        when(col("v") < 3,
          concat_ws(" ", array_join(transform(words, (w, i) =>
            when(u(seed, "edit", id, col("v"), i) < 0.02,
              pick(Vocab, u(seed, "edit_w", id, col("v"), i))).otherwise(w)), " "),
            concat(lit("salt"), id, lit("v"), col("v"))))
          .otherwise(array_join(slice(words,
            (floor(u(seed, "ex_start", id) * size(words) * 0.4) + 1).cast("int"),
            (size(words) * 0.6).cast("int")), " ")).as("text"),
        col("lang"), col("source"))
    val corpus = base.withColumn("planted", lit(false))
      .unionByName(copies.withColumn("planted", lit(true)))
    val fresh = docs.sparkSession.range(0, 60).select(col("id").as("eval_id"),
      array_join(transform(sequence(lit(1), lit(30)), i =>
        pick(Vocab, u(seed, "eval_word", col("id"), i))), " ").as("fresh"))
    val quoted = base.where(size(words) >= 40)
      .select(id, words.as("w"))
      .withColumn("k", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(u(seed, "quote", id), id)))
      .where(col("k") <= 20)
      .select((col("k") - 1).as("eval_id"), array_join(slice(col("w"), 5, 12), " ").as("quote"))
    val decontam = fresh.join(quoted, Seq("eval_id"), "left")
      .select(col("eval_id"),
        when(col("quote").isNotNull, concat_ws(" ", col("fresh"), col("quote")))
          .otherwise(col("fresh")).as("text"))
    (corpus, decontam)
  }
}
