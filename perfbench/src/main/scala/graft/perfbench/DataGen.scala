package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Deterministic synthetic inputs. Every value is a hash of the seed, a
  * salt and the row's coordinates, so the output does not depend on how
  * Spark partitions the work.
  *
  * [[tables]] writes the star-schema tables plus `events`, `documents`
  * and `embeddings` that the query bodies read, one Parquet file each,
  * with the column names and types of the query surface's test data.
  * [[trailCorpus]] builds the storage workload's events: trails with
  * Zipf-distributed lengths, a low-cardinality and a high-cardinality
  * field, and about one empty value in ten. */
object DataGen {
  /** Uniform double in [0, 1) from the seed, a salt and some columns. */
  private def u(seed: Long, salt: String, cols: Column*): Column =
    (xxhash64((lit(seed) +: lit(salt) +: cols): _*)
      .bitwiseAND(lit(Long.MaxValue)).cast("double") / lit(9.223372036854775807e18))

  private def pick(values: Seq[String], x: Column): Column =
    element_at(array(values.map(lit): _*),
      (floor(x * values.size) + 1).cast("int"))

  /** About standard normal: the centred sum of three uniforms, rescaled. */
  private def gauss(seed: Long, salt: String, cols: Column*): Column =
    (u(seed, salt + "1", cols: _*) + u(seed, salt + "2", cols: _*) +
      u(seed, salt + "3", cols: _*) - lit(1.5)) * lit(2.0)

  private def ntz(epochSec: Column): Column =
    timestamp_seconds(epochSec).cast(TimestampNTZType)

  private val Vocab = Seq("join", "hash", "row", "batch", "scan", "customer",
    "column", "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window", "spark", "a",
    "group", "part", "big", "sort", "query", "fast", "the")

  /** Rows per table at scale factor `sf`. */
  def sizes(sf: Double): Map[String, Long] = {
    def n(x: Double): Long = math.max(1L, math.round(x * sf))
    Map("region" -> 5L, "nation" -> 25L,
      "customer" -> n(150000), "supplier" -> n(10000), "part" -> n(200000),
      "orders" -> n(1500000), "lineitem" -> n(6000000), "events" -> n(1000000),
      "documents" -> math.max(500L, n(50000)),
      "embeddings" -> math.max(500L, n(20000)))
  }

  /** Writes every table under `dir`; returns rows per table. */
  def tables(spark: SparkSession, dir: String, sf: Double,
      seed: Long): Map[String, Long] = {
    val sz = sizes(sf)
    def range(t: String): DataFrame = spark.range(0, sz(t), 1, 4).toDF()
    val id = col("id")
    val day0 = 788918400L // 1995-01-01
    val tabs: Seq[(String, DataFrame)] = Seq(
      "region" -> range("region").select(id.cast("int").as("r_regionkey"),
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
          id.cast("double") / 5).as("r_name")),
      "nation" -> range("nation").select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "customer" -> range("customer").select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        floor(u(seed, "cn", id) * 25).cast("int").as("c_nationkey"),
        round(u(seed, "cb", id) * 10999.99 - 999.99, 2).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY"), u(seed, "cs", id)).as("c_mktsegment")),
      "supplier" -> range("supplier").select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        floor(u(seed, "sn", id) * 25).cast("int").as("s_nationkey"),
        round(u(seed, "sb", id) * 10999.99 - 999.99, 2).as("s_acctbal")),
      "part" -> range("part").select(id.as("p_partkey"),
        concat_ws(" ",
          pick(Seq("blue", "hot", "large", "small", "red", "green", "cold",
            "tiny"), u(seed, "pa", id)),
          pick(Seq("ring", "bolt", "nut", "gear", "pipe", "valve", "screw",
            "plate"), u(seed, "pb", id))).as("p_name"),
        concat(lit("Brand#"), (floor(u(seed, "pr", id) * 25) + 1)
          .cast("string")).as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
          u(seed, "pt", id)).as("p_type"),
        (floor(u(seed, "ps", id) * 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")),
      "orders" -> range("orders").select(id.as("o_orderkey"),
        floor(u(seed, "oc", id) * sz("customer")).cast("long").as("o_custkey"),
        pick(Seq("F", "O", "P"), u(seed, "os", id)).as("o_orderstatus"),
        round(u(seed, "op", id) * 498964.89 + 1013.7, 2).as("o_totalprice"),
        ntz(lit(day0) + floor(u(seed, "od", id) * 2404) * 86400)
          .as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW"), u(seed, "oq", id)).as("o_orderpriority")),
      "lineitem" -> range("lineitem").select(
        floor(u(seed, "lo", id) * sz("orders")).cast("long").as("l_orderkey"),
        floor(u(seed, "lp", id) * sz("part")).cast("long").as("l_partkey"),
        floor(u(seed, "ls", id) * sz("supplier")).cast("long").as("l_suppkey"),
        (floor(u(seed, "ln", id) * 7) + 1).cast("int").as("l_linenumber"),
        (floor(u(seed, "lq", id) * 50) + 1).cast("double").as("l_quantity"),
        round((floor(u(seed, "lq", id) * 50) + 1) *
          (lit(900.0) + u(seed, "le", id) * 1200), 2).as("l_extendedprice"),
        round(u(seed, "ld", id) * 0.1, 2).as("l_discount"),
        round(u(seed, "lt", id) * 0.08, 2).as("l_tax"),
        pick(Seq("A", "N", "R"), u(seed, "lr", id)).as("l_returnflag"),
        pick(Seq("F", "O"), u(seed, "ll", id)).as("l_linestatus"),
        ntz(lit(day0 + 86400) + floor(u(seed, "lh", id) * 2498) * 86400)
          .as("l_shipdate")),
      "events" -> {
        val n = sz("events")
        val span = 30L * 86400 * 1000000 // 30 days in micros
        range("events").select(id.as("event_id"),
          timestamp_micros(lit(1704067200L * 1000000) +
            floor((id + u(seed, "et", id)) * (span.toDouble / n)).cast("long"))
            .cast(TimestampNTZType).as("ts"),
          floor(u(seed, "eu", id) * math.max(1L, sz("events") / 66))
            .cast("long").as("user_id"),
          pick(Seq("click", "error", "purchase", "signup", "view"),
            u(seed, "ey", id)).as("event_type"),
          round(least(-log(lit(1.0) - u(seed, "ev", id)) * 50, lit(490.0)), 2)
            .as("value"),
          format_string("{\"k\": %d}", floor(u(seed, "ek", id) * 100)
            .cast("int")).as("props"))
      },
      "documents" -> {
        def textOf(k: Column): Column = array_join(transform(
          sequence(lit(1), (floor(u(seed, "dn", k) * 90) + 8).cast("int")),
          w => element_at(array(Vocab.map(lit): _*),
            (pmod(xxhash64(lit(seed), lit("dw"), k, w), lit(Vocab.size.toLong))
              + 1).cast("int"))), " ")
        val dup = u(seed, "dd", id) < 0.05 && id > 0
        val src = id - 1 - floor(u(seed, "dj", id) * least(id, lit(50L)))
        range("documents").select(id.as("doc_id"),
          when(dup, concat(textOf(src), lit(" dup"))).otherwise(textOf(id))
            .as("text"),
          pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), u(seed, "dl", id))
            .as("lang"),
          concat(lit("src"), floor(u(seed, "dsrc", id) * 20).cast("string"))
            .as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> {
        val label = floor(u(seed, "vl", id) * 10).cast("int")
        range("embeddings").select(id.as("vec_id"),
          transform(sequence(lit(0), lit(63)), d =>
            (gauss(seed, "vc", label, d) * 0.12 +
              gauss(seed, "vn", id, d) * 0.06).cast("float")).as("embedding"),
          label.as("label"))
      })
    tabs.foreach { case (t, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    sz
  }

  /** The storage workload's events: `events` rows over trails whose
    * lengths follow a Pareto law (alpha 1.2, at least 3, at most 500),
    * with a low-cardinality field `kind`, a high-cardinality field `item`,
    * and about 10% empty values in each. The count is exact, so that every
    * seed stores the same amount of data; the last trail may be cut. */
  def trailCorpus(spark: SparkSession, events: Long, seed: Long): DataFrame = {
    // Trails average about 12 events; a quarter more than needed leaves
    // room for the length law's spread.
    val trails = math.max(1L, events * 5 / 4 / 12)
    val t = col("id")
    val len = least(lit(500L), ceil(lit(3.0) *
      pow(lit(1.0) - u(seed, "tl", t), lit(-1.0 / 1.2))).cast("long"))
    def hex16(salt: String): Column =
      lpad(lower(hex(xxhash64(lit(seed), lit(salt), t))), 16, "0")
    val j = col("j")
    spark.range(0, trails, 1, 4).toDF()
      .select(t, concat(hex16("ua"), hex16("ub")).as("uuid"),
        explode(sequence(lit(0L), len - 1)).as("j"))
      .orderBy(t, j).limit(events.toInt)
      .select(col("uuid"),
        (lit(1704067200L) + floor(u(seed, "tt", t, j) * 30 * 86400))
          .cast("long").as("time"),
        when(u(seed, "ke", t, j) < 0.1, lit("")).otherwise(
          concat(lit("k"), floor(pow(u(seed, "kv", t, j), lit(2.0)) * 8)
            .cast("string"))).as("kind"),
        when(u(seed, "ie", t, j) < 0.1, lit("")).otherwise(
          concat(lit("item"), floor(pow(u(seed, "iv", t, j), lit(3.0)) * 200000)
            .cast("string"))).as("item"))
  }
}
