package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The events-like frame both Spark workloads transform, generated from the
  * seed with Spark SQL hash expressions of the row id, so the same seed gives
  * the same rows however the range is partitioned.
  *
  *  - `props` is a JSON payload on about a fifth of the rows and null on the
  *    rest. Its `n` field is the row id, so every payload is distinct and the
  *    1000-entry `$eval` compile cache never hits.
  *  - `payload_v` is the row's event fields as a variant, the input of the
  *    variant surface.
  *  - values are multiples of 1/4, so sums and doublings are exact in
  *    binary floating point on every path.
  */
object Frame {
  def session(slots: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.default.parallelism", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def generate(spark: SparkSession, seed: Long, rows: Long, slots: Int): DataFrame = {
    def h(k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
    def pick(k: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(k), lit(xs.size.toLong)) + 1).cast("int"))
    def item(i: Int): Column =
      struct(pick(20 + i, "a", "b", "c", "d").as("cat"), pmod(h(30 + i), lit(1000L)).as("price"))
    spark.range(0, rows, 1, slots * 2).select(
      col("id").as("event_id"),
      (lit(1700000000000L) + col("id") * 1000 + pmod(h(1), lit(1000L))).as("ts"),
      pmod(h(2), lit(50000L)).as("user_id"),
      when(pmod(h(3), lit(20L)) === 0, lit(null).cast("string"))
        .otherwise(pick(4, "click", "view", "purchase", "error", "signup")).as("event_type"),
      (pmod(h(5), lit(40000L)) / 4.0).as("value"),
      when(pmod(h(6), lit(5L)) === 0,
        concat(lit("{\"k\": "), pmod(h(7), lit(1000000000L)).cast("string"),
          lit(", \"src\": \""), pick(8, "web", "ios", "android"),
          lit("\", \"n\": "), col("id").cast("string"), lit("}"))).as("props"),
      struct((pmod(h(9), lit(400L)) / 4.0).as("a"), (pmod(h(10), lit(400L)) / 4.0).as("b"),
        (pmod(h(11), lit(400L)) / 4.0).as("c")).as("m"),
      slice(array(item(0), item(1), item(2)), lit(1), (pmod(h(12), lit(3L)) + 1).cast("int")).as("items"))
      .withColumn("payload_v", parse_json(to_json(struct(
        col("event_id"), col("user_id"), col("value"), col("event_type")))))
  }

  type Hash = (Long, Long, Long)

  /** Order-independent hash of a frame: row count, and the XOR and a bounded
    * sum of the per-row xxhash64. Rows differing anywhere change it; row
    * order and partitioning do not. */
  def hash(df: DataFrame): Hash = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1000003L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** The input digest: the hash of the generated columns. `payload_v` is left
    * out: it is a function of four of them, and hashing takes no variant. */
  def digest(df: DataFrame): String = {
    val (n, x, s) = hash(df.drop("payload_v"))
    s"$n:${java.lang.Long.toHexString(x)}:$s"
  }
}
