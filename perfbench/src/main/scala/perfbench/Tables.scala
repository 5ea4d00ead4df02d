package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the tables the measured queries read (`lineitem
  * events documents embeddings`), with the column names, types and value
  * domains of the query packs' test tables (TESTDATA.md). Every value is a
  * hash of (row id, seed, column), so a seed always yields the same tables,
  * at any parallelism.
  */
final case class Tables(seed: Long, orders: Long = 15000,
    parts: Long = 2000, suppliers: Long = 100, lineitems: Long = 30000,
    events: Long = 6000, documents: Long = 300, embeddings: Long = 300,
    dim: Int = 64) {

  def rowCounts: Map[String, Long] = Map("lineitem" -> lineitems,
    "events" -> events, "documents" -> documents, "embeddings" -> embeddings)

  private var salt = 0
  // a fresh hash stream per call site: columns never share draws
  private def h(): Column = {
    salt += 1
    xxhash64(col("id"), lit(seed), lit(salt))
  }
  private def int(n: Long): Column = pmod(h(), lit(n))
  private def unit(): Column = pmod(h(), lit(1000003L)).cast("double") / 1000003.0
  private def pick(xs: Seq[String]): Column =
    element_at(typedLit(xs), pmod(h(), lit(xs.size.toLong)).cast("int") + 1)
  private def money(lo: Double, hi: Double): Column =
    round(lit(lo) + unit() * (hi - lo), 2)
  private def day(from: String, days: Int): Column =
    date_add(lit(from).cast("date"), int(days.toLong).cast("int"))
      .cast("timestamp_ntz")

  private val words = Seq("a", "the", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "value", "vector", "window")

  def frames(spark: SparkSession): Map[String, DataFrame] = {
    salt = 0
    def rows(n: Long) = spark.range(n)
    Map(
      // keys reference the test tables' orders, parts and suppliers ranges
      "lineitem" -> rows(lineitems).select(int(orders).as("l_orderkey"),
        int(parts).as("l_partkey"), int(suppliers).as("l_suppkey"),
        (int(7) + 1).cast("int").as("l_linenumber"),
        (int(50) + 1).cast("double").as("l_quantity"),
        money(900.0, 105000.0).as("l_extendedprice"),
        (int(11) / 100.0).as("l_discount"),
        (int(9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R")).as("l_returnflag"),
        pick(Seq("F", "O")).as("l_linestatus"),
        day("1995-01-02", 2498).as("l_shipdate")),
      // events arrive in id order, ~30 days end to end, with a long-tailed
      // value (the QC masks cut at 400)
      "events" -> rows(events).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          col("id") * (2592000000000L / events) +
          int(2592000000000L / events)).cast("timestamp_ntz").as("ts"),
        int(150).as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"))
          .as("event_type"),
        round(lit(0.01) - log(lit(1.0) - unit() * 0.9999) * 50.0, 2)
          .as("value"),
        concat(lit("{\"k\": "), int(100).cast("string"), lit("}"))
          .as("props")),
      "documents" -> {
        val vocab = typedLit(words)
        val text = concat_ws(" ", transform(
          sequence(lit(1), (int(90) + 10).cast("int")),
          i => element_at(vocab, pmod(xxhash64(col("id"), lit(seed), i),
            lit(words.size.toLong)).cast("int") + 1)))
        rows(documents).select(col("id").as("doc_id"), text.as("text"),
          pick(Seq("en", "en", "en", "en", "en", "de", "es", "fr", "zh"))
            .as("lang"),
          concat(lit("src"), int(20).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      // ten label clusters: a label centre plus a small per-row offset
      "embeddings" -> {
        val label = int(10)
        def gauss(key: Column, j: Column): Column = {
          val a = pmod(xxhash64(key, lit(seed), j), lit(1000003L)) / 1000003.0
          val b = pmod(xxhash64(key, lit(seed + 1), j), lit(1000003L)) / 1000003.0
          sqrt(lit(-2.0) * log(a + 1e-9)) * cos(b * 2 * math.Pi)
        }
        rows(embeddings).withColumn("label", label.cast("int"))
          .select(col("id").as("vec_id"),
            transform(sequence(lit(1), lit(dim)), j =>
              ((gauss(col("label") - 100, j) + gauss(col("id"), j) * 0.5) /
                math.sqrt(dim * 1.25)).cast("float")).as("embedding"),
            col("label"))
      })
  }

  /** Writes every table as `<dir>/<name>.parquet`, the layout the query
    * packs read, and returns the bytes written.
    */
  def write(spark: SparkSession, dir: String): Long = {
    // the tables are independent small jobs: write them concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try frames(spark).toSeq.map { case (name, df) =>
        pool.submit(new Runnable {
          def run(): Unit = df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/$name.parquet")
        })
      }.foreach(_.get())
    finally pool.shutdown()
    Files.sizeOf(new java.io.File(dir))
  }
}

object Files {
  /** Every regular file under `f` with its size. */
  def listing(f: java.io.File): Map[String, Long] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .flatMap(listing).toMap
    else if (f.isFile) Map(f.getPath -> f.length())
    else Map.empty

  def sizeOf(f: java.io.File): Long = listing(f).values.sum

  def count(f: java.io.File): Long = listing(f).size.toLong

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete(): Unit
  }
}
