package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the ten tables the query registry reads (the
  * TPC-H-ish star schema plus `events`, `documents` and `embeddings`),
  * with the column names, types and value shapes of the engine's test
  * tables. Every value is a pure function of (seed, row id), computed
  * with exact arithmetic only (hash, +, *, /, sqrt), so one seed always
  * yields byte-identical tables whatever the core count. Each table is
  * written as ONE parquet file `<dir>/<name>.parquet`.
  */
object Corpus {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "a", "the", "batch", "window",
    "spark", "order", "data", "column", "join", "small", "line",
    "customer", "query", "merge", "big", "filter", "group", "sort",
    "stream", "vector")

  final case class Sizes(customer: Long, supplier: Long, part: Long,
      orders: Long, lineitem: Long, events: Long, documents: Long,
      embeddings: Long)

  def sizes(sf: Double): Sizes = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(6000000),
      n(1000000), math.max(500L, n(50000)), math.max(500L, n(20000)))
  }

  /** Generates `only` (default: every table) into `dir`. */
  def generate(spark: SparkSession, dir: String, sf: Double, seed: Long,
      only: Seq[String] = tables): Unit = {
    val z = sizes(sf)
    // h(k): a 63-bit hash of (seed, id, k); u(k): uniform in [0, 1)
    def h(k: Int, id: Column = col("id")): Column =
      xxhash64(lit(seed), id, lit(k)).bitwiseAND(lit(Long.MaxValue))
    def pick(k: Int, n: Long): Column = pmod(h(k), lit(n))
    def u(k: Int): Column = pmod(h(k), lit(1000003L)) / 1000003.0
    def choose(k: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pick(k, xs.size.toLong) + 1).cast("int"))
    def day(k: Int, from: String, days: Long): Column =
      (lit(from).cast("timestamp_ntz") +
        make_dt_interval(pick(k, days).cast("int"))).cast("timestamp_ntz")
    def range(n: Long): DataFrame = spark.range(0, n, 1, 8).toDF()
    def put(name: String, df: => DataFrame): Unit =
      if (only.contains(name)) write(spark, dir, name, df)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    put("region", range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    put("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5L)).cast("int").as("n_regionkey")))
    put("customer", range(z.customer).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"),
      ((pick(2, 1099999) - 99999) / 100.0).as("c_acctbal"),
      choose(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    put("supplier", range(z.supplier).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(1, 25).cast("int").as("s_nationkey"),
      ((pick(2, 1099999) - 99999) / 100.0).as("s_acctbal")))
    put("part", range(z.part).select(col("id").as("p_partkey"),
      concat_ws(" ",
        choose(1, Seq("small", "red", "blue", "green", "large", "steel", "brass", "black")),
        choose(2, Seq("ring", "widget", "bolt", "gear", "valve", "pipe", "spring", "cable")))
        .as("p_name"),
      concat(lit("Brand#"), pick(3, 25) + 1).as("p_brand"),
      choose(4, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (pick(5, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(12000L)) / 10.0).as("p_retailprice")))
    put("orders", range(z.orders).select(col("id").as("o_orderkey"),
      pick(1, z.customer).as("o_custkey"),
      choose(2, Seq("F", "O", "P")).as("o_orderstatus"),
      ((pick(3, 50000000) + 100000) / 100.0).as("o_totalprice"),
      day(4, "1995-01-01", 2404).as("o_orderdate"),
      choose(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    val partKey = pick(2, z.part)
    put("lineitem", range(z.lineitem)
      .select(pick(1, z.orders).as("l_orderkey"), partKey.as("l_partkey"),
        pick(3, z.supplier).as("l_suppkey"),
        (pick(4, 7) + 1).cast("int").as("l_linenumber"),
        (pick(5, 50) + 1).cast("double").as("l_quantity"),
        (pmod(partKey, lit(12000L)) / 10.0 + 900.0).as("price"),
        (pick(6, 11) / 100.0).as("l_discount"), (pick(7, 9) / 100.0).as("l_tax"),
        choose(8, Seq("A", "N", "R")).as("l_returnflag"),
        choose(9, Seq("F", "O")).as("l_linestatus"),
        day(10, "1995-01-02", 2500).as("l_shipdate"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"),
        round(col("l_quantity") * col("price"), 2).as("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")))
    // events arrive in id order over 30 days, with sub-step jitter
    val stepUs = 30L * 86400L * 1000000L / z.events
    put("events", range(z.events).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs +
        pick(1, math.max(1L, stepUs))).cast("timestamp_ntz").as("ts"),
      pick(2, z.customer).as("user_id"),
      choose(3, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      ((pick(4, 49002) + 1) / 100.0).as("value"),
      concat(lit("{\"k\": "), pick(5, 100), lit("}")).as("props")))
    val words = array(vocab.map(lit): _*)
    val text = concat(
      array_join(transform(sequence(lit(0L), pick(1, 90) + 9), i =>
        element_at(words, (pmod(xxhash64(lit(seed), col("id"), i), lit(30L)) + 1).cast("int"))), " "),
      when(u(2) < 0.05, lit(" dup")).otherwise(lit("")))
    put("documents", range(z.documents).select(col("id").as("doc_id"),
      text.as("text"),
      when(u(3) < 0.44, lit("en")).otherwise(choose(4, Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), pick(5, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // clustered unit vectors: a per-label centre plus small per-row noise
    val centre = (j: Column) =>
      pmod(xxhash64(lit(seed), lit(-1L), col("label"), j), lit(1000003L)) / 1000003.0 * 2.0 - 1.0
    val noise = (j: Column) => Seq(11, 12, 13).map(k =>
      pmod(xxhash64(lit(seed), col("id"), j, lit(k)), lit(1000003L)) / 1000003.0)
      .reduce(_ + _) * 0.5 - 0.75
    put("embeddings", range(z.embeddings)
      .select(col("id"), pick(1, 10).cast("int").as("label"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)), j => centre(j) + noise(j)))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label")))
  }

  /** One table as one parquet file: write a single part, move it into
    * place, drop the staging directory.
    */
  private def write(spark: SparkSession, dir: String, name: String, df: => DataFrame): Unit = {
    val staging = Path.of(dir, s"_$name")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Path.of(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.walk(staging).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  /** A directory of links to the tables in `dir`: a corpus path no
    * corpus-keyed cache in the process has seen, over the same files.
    */
  def linkCopy(dir: String, fresh: String): Unit = {
    Files.createDirectories(Path.of(fresh))
    tables.map(t => Path.of(dir, s"$t.parquet")).filter(Files.exists(_)).foreach(t =>
      Files.createSymbolicLink(Path.of(fresh).resolve(t.getFileName), t.toAbsolutePath))
  }
}
