package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{ComparisonGroup, MatchConfig, VariableSpec}
import graft.sources.WebCorpus

/** Everything the workloads feed the program, generated from a seed. */
object Inputs {

  // ---- web corpus (link_cluster, dedupe_ckpt) ----

  /** The flagship 6-variable comparison: three fuzzy title windows, two
    * exact fields and a numeric token count.
    */
  val linkSpecs: Seq[VariableSpec] = Seq(
    VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88),
    VariableSpec("mid3", "jarowinkler", cutA = 0.92, cutB = 0.88),
    VariableSpec("tail3", "jarowinkler", cutA = 0.92, cutB = 0.88),
    VariableSpec("tok1", "exact"),
    VariableSpec("lang", "exact"),
    VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))

  val linkConfig: MatchConfig = MatchConfig(idA = "ida", idB = "idb",
    comparisons = ComparisonGroup(name = "web", variables = linkSpecs))

  /** The same comparison in the Pipeline CLI's JSON config shape, dedupe mode. */
  val dedupeConfigJson: String =
    """{"idvar": ["page_id", "page_id"], "link_type": "dedupe_only",
      | "comparisons": {"name": "web", "threshold_match": 0.85, "variables": [
      |  {"varname": "title", "method": "jarowinkler", "cut_a": 0.92, "cut_b": 0.88},
      |  {"varname": "mid3", "method": "jarowinkler", "cut_a": 0.92, "cut_b": 0.88},
      |  {"varname": "tail3", "method": "jarowinkler", "cut_a": 0.92, "cut_b": 0.88},
      |  {"varname": "tok1", "method": "exact"},
      |  {"varname": "lang", "method": "exact"},
      |  {"varname": "n_tokens", "method": "numeric", "cut_a": 1, "cut_b": 3}]}}""".stripMargin

  /** Salting cap and pair-join fan-out for both web-corpus workloads. The
    * flagship's cap is 1000 rows at 125,000 rows per side; at these sizes the
    * hottest blocks hold a few hundred rows, so the cap is scaled down to keep
    * them salted: otherwise a handful of blocks sets the job's tail.
    */
  val MaxBlockRows = 100L
  val FanoutPartitions = 64

  def webPages(spark: SparkSession, nBase: Long, seed: Long): DataFrame =
    WebCorpus.linkInput(spark, WebCorpus.Params(nBase = nBase, dupFraction = 0.25,
      nHosts = 60, seed = seed))

  /** Rows per blocking key of a written page table: the exact pair space
    * before any pair is built (sum of n^2 for A x B of a table with itself,
    * sum of n(n-1)/2 for dedupe).
    */
  def blockSizes(pages: DataFrame): Seq[Long] =
    pages.groupBy("block").count().collect().map(_.getLong(1)).toSeq

  /** About one row in `k` of a page table, chosen by a hash of page_id. */
  def sample(pages: DataFrame, k: Int): DataFrame =
    pages.filter(pmod(xxhash64(col("page_id")), lit(k.toLong)) === 0)

  /** Number of planted duplicate pairs: pages sharing page_id / 1e6. */
  def truthPairs(pages: DataFrame): Long =
    pages.groupBy((col("page_id") / 1000000L).cast("long")).count()
      .agg(coalesce(sum((col("count") * (col("count") - 1) / 2).cast("long")), lit(0L)))
      .head().getLong(0)

  // ---- relational + text tables (query_suite) ----

  /** Fixed seed of the query tables: the golden fingerprints are recorded on
    * them, so they must not change with the workload seed (which sets the
    * query order instead).
    */
  val QueryDataSeed = 42L

  private def u(seed: Long, salt: Int, cols: Column*): Column =
    // uniform in [0, 1) from a seeded hash of the row's columns
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(1000003L)).cast("double") / 1000003.0

  private def pick(values: Seq[String], x: Column): Column =
    element_at(array(values.map(lit): _*), (floor(x * values.size) + 1).cast("int"))

  private def day(base: String, x: Column, days: Int): Column =
    to_timestamp(date_add(to_date(lit(base)), floor(x * days).cast("int")))

  private val vocab = Seq("a", "the", "data", "spark", "join", "hash", "row", "batch", "scan",
    "customer", "column", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "agg", "value", "key", "stream", "window", "group", "part", "big", "sort",
    "query", "fast")

  /** The six tables the SparkEntry queries read, with the schemas of the
    * TPC-H-style test tables: customer, orders, lineitem, events, documents
    * (with planted near-duplicate documents) and embeddings (10 labelled
    * clusters of 64-d unit vectors). `scale` multiplies every row count.
    */
  def queryTables(spark: SparkSession, scale: Double): Map[String, DataFrame] = {
    val seed = QueryDataSeed
    def n(base: Int) = math.max(1L, math.round(base * scale))
    val id = col("id")
    val nCust = n(1500)
    val nOrders = n(15000)
    val customer = spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u(seed, 1, id) * 25).cast("int").as("c_nationkey"),
      round(u(seed, 2, id) * 10999.98 - 999.99, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), u(seed, 3, id))
        .as("c_mktsegment"))
    val orders = spark.range(nOrders).select(
      id.as("o_orderkey"),
      floor(u(seed, 11, id) * nCust).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), u(seed, 12, id)).as("o_orderstatus"),
      round(u(seed, 13, id) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      day("1995-01-01", u(seed, 14, id), 2404).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), u(seed, 15, id))
        .as("o_orderpriority"))
    val qty = floor(u(seed, 25, id) * 50 + 1)
    val lineitem = spark.range(n(60000)).select(
      floor(u(seed, 21, id) * nOrders).cast("long").as("l_orderkey"),
      floor(u(seed, 22, id) * n(2000)).cast("long").as("l_partkey"),
      floor(u(seed, 23, id) * n(100)).cast("long").as("l_suppkey"),
      floor(u(seed, 24, id) * 7 + 1).cast("int").as("l_linenumber"),
      qty.cast("double").as("l_quantity"),
      round(qty * (u(seed, 26, id) * 1100.0 + 900.0), 2).as("l_extendedprice"),
      (floor(u(seed, 27, id) * 11) / 100.0).as("l_discount"),
      (floor(u(seed, 28, id) * 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, 29, id)).as("l_returnflag"),
      pick(Seq("F", "O"), u(seed, 30, id)).as("l_linestatus"),
      day("1995-01-02", u(seed, 31, id), 2500).as("l_shipdate"))
    val events = spark.range(n(10000)).select(
      id.as("event_id"),
      timestamp_micros((lit(1704067200L) + floor(u(seed, 41, id) * 2592000).cast("long")) *
        1000000L + floor(u(seed, 42, id) * 1000000).cast("long")).as("ts"),
      floor(u(seed, 43, id) * n(150)).cast("long").as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), u(seed, 44, id)).as("event_type"),
      round(u(seed, 45, id) * 490.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", floor(u(seed, 46, id) * 100).cast("int")).as("props"))

    // documents: base texts of 8..80 vocabulary words; the last 15% re-emit
    // an earlier document with one word replaced (near-duplicates), every
    // third of those verbatim (exact duplicates up to the doc id)
    val nDocs = n(500)
    val nBaseDocs = math.max(1L, (nDocs * 0.85).toLong)
    def baseText(doc: Column): Column = {
      val len = floor(u(seed, 51, doc) * 73 + 8).cast("int")
      concat_ws(" ", transform(sequence(lit(1), len), p => pick(vocab, u(seed, 52, doc, p))))
    }
    val src = when(id < nBaseDocs, id)
      .otherwise(floor(u(seed, 53, id) * nBaseDocs).cast("long"))
    val words = split(baseText(src), " ")
    val replAt = floor(u(seed, 54, id) * size(words)).cast("int")
    val text = when(id < nBaseDocs || pmod(id, lit(3L)) === 0, concat_ws(" ", words))
      .otherwise(concat_ws(" ", transform(words, (w, i) =>
        when(i === replAt, pick(vocab, u(seed, 55, id))).otherwise(w))))
    val langX = u(seed, 56, src)
    val documents = spark.range(nDocs).select(id.as("doc_id"), text.as("text"),
      when(langX < 0.44, lit("en")).otherwise(pick(Seq("de", "es", "fr", "zh"), (langX - 0.44) / 0.56))
        .as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // embeddings: label centroid + noise, L2-normalised, float[64]
    val label = floor(u(seed, 61, id) * 10).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), d =>
      (u(seed, 62, label, d) * 2 - 1) + (u(seed, 63, id, d) * 2 - 1) * 0.6)
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    val embeddings = spark.range(n(500)).select(id.as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"), label.as("label"))

    Map("customer" -> customer, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }
}
