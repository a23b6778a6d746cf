package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-like parquet tables with the schema of the project's
  * testdata (`Tables.All`), for the parity-query workload. Every value is a
  * hash of (row id, column salt, seed), so the tables depend only on the
  * seed and the scale, not on Spark's partitioning. Prices and rates are
  * exact two-decimal values, as the oracle SQL of the parity queries
  * expects. */
object ParityData {

  private def h(id: Column, seed: Long, salt: Int): Column =
    xxhash64(id, lit(seed * 1000003L + salt))
  private def pick(id: Column, seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pmod(h(id, seed, salt), lit(values.size.toLong)) + 1).cast("int"))
  private def upTo(id: Column, seed: Long, salt: Int, n: Long): Column =
    pmod(h(id, seed, salt), lit(n))

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Nations = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4,
    "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2,
    "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
    "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  private val Words = Seq("data", "migration", "table", "index", "query", "page",
    "copy", "schema", "column", "value", "spark", "join", "window", "merge",
    "cluster", "stream", "batch", "key", "row", "commit")

  /** Rows per table at scale `sf` (1.0 = 6M lineitem rows). */
  def sizes(sf: Double): Map[String, Long] = {
    val c = math.round(150000 * sf)
    Map("customer" -> c, "orders" -> 10 * c, "lineitem" -> 40 * c,
      "events" -> math.round(1000000 * sf), "documents" -> math.round(50000 * sf))
  }

  def generate(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    import spark.implicits._
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val n = sizes(sf)
    def range(from: Long, count: Long) = spark.range(from, from + count, 1, 4).toDF("id")
    val id = col("id")
    val day = 86400L

    val region = Regions.zipWithIndex.map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name")
    val nation = Nations.zipWithIndex.map { case ((nm, r), i) => (i, nm, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = range(1, n("customer")).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      upTo(id, seed, 1, 25).cast("int").as("c_nationkey"),
      ((upTo(id, seed, 2, 1100000L) - 100000) / 100.0).as("c_acctbal"),
      pick(id, seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val orders = range(1, n("orders")).select(
      id.as("o_orderkey"),
      (upTo(id, seed, 4, n("customer")) + 1).as("o_custkey"),
      pick(id, seed, 5, Seq("O", "F", "P")).as("o_orderstatus"),
      ((upTo(id, seed, 6, 50000000L) + 100000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + upTo(id, seed, 7, 2400) * day).as("o_orderdate"),
      pick(id, seed, 8, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = range(0, n("lineitem")).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (upTo(id, seed, 9, 20000) + 1).as("l_partkey"),
      (upTo(id, seed, 10, 1000) + 1).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
      (upTo(id, seed, 11, 50) + 1).cast("double").as("l_quantity"),
      ((upTo(id, seed, 12, 10000000L) + 90000) / 100.0).as("l_extendedprice"),
      (upTo(id, seed, 13, 11) / 100.0).as("l_discount"),
      (upTo(id, seed, 14, 9) / 100.0).as("l_tax"),
      pick(id, seed, 15, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, seed, 16, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + upTo(id, seed, 17, 2500) * day).as("l_shipdate"))
    val events = range(0, n("events")).select(
      id.as("event_id"),
      timestamp_seconds(lit(1704067200L) + upTo(id, seed, 18, 30 * day)).as("ts"),
      upTo(id, seed, 19, 5000).as("user_id"),
      pick(id, seed, 20, Seq("view", "click", "purchase", "signup", "logout")).as("event_type"),
      (upTo(id, seed, 21, 100000) / 100.0).as("value"),
      concat(lit("{\"k\": "), upTo(id, seed, 22, 10).cast("string"),
        lit(", \"src\": \""), pick(id, seed, 23, Seq("web", "app", "api")), lit("\"}")).as("props"))
    val words = array(Words.map(lit): _*)
    val documents = range(0, n("documents"))
      .select(id, array_join(transform(sequence(lit(1), (upTo(id, seed, 24, 20) + 5).cast("int")),
        x => element_at(words, (pmod(xxhash64(id, x, lit(seed)), lit(Words.size.toLong)) + 1)
          .cast("int"))), " ").as("text"))
      .select(id.as("doc_id"), col("text"),
        pick(id, seed, 25, Seq("en", "de", "fr", "es")).as("lang"),
        pick(id, seed, 26, Seq("src0", "src1", "src2", "src3", "src10", "src12", "web", "api"))
          .as("source"),
        length(col("text")).cast("long").as("n_chars"))

    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents)
      .foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
  }
}
