package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, column stream, row index) through `SoakGen.rand`, so the same
  * seed always writes the same tables, whatever the core count.
  *
  * Shapes follow the repository's test fixtures (TESTDATA.md, FIXTURES.md) at a
  * given scale factor: the TPC-H-ish star schema plus `events`, and the
  * SoakGen corpus shape for `documents` and `embeddings` (31-word vocab,
  * ~4% exact and ~2% near-duplicate clones, 10 centroids in 64-d). */
object Inputs {
  @inline def r(seed: Long, stream: Long, i: Long): Long =
    graft.SoakGen.rand(seed * 1000003L + stream, i)

  private val day = 86400000L
  private val jan2024 = 1704067200000L // 2024-01-01T00:00:00Z
  private val jan1995 = 788918400000L  // 1995-01-01T00:00:00Z

  private val vocab = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "join", "shuffle", "merge", "read", "write", "plan", "query", "stage",
    "task", "row", "key", "page", "index", "cache", "limit")
  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "de", "de", "zh", "zh", "zh", "fr", "fr", "fr", "es", "es", "es")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partAdj = Array("small", "large", "red", "blue", "hot", "old", "new", "green")
  private val partNoun = Array("ring", "bolt", "gear", "widget", "gizmo", "plate", "anvil", "nut")
  private val partTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")

  final case class Sizes(docs: Int, vecs: Int, events: Int, lineitem: Int)

  private def ts(ms: Long) = new Timestamp(ms)

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  // ---- corpus: documents / embeddings / events --------------------------

  private def nTokens(seed: Long, id: Long): Int = 44 + (r(seed, 1, id) % 21).toInt

  private def docText(seed: Long, id: Long): String = {
    val n = nTokens(seed, id)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(vocab((r(seed, 1000 + id, i) % vocab.length).toInt))
      i += 1
    }
    sb.toString
  }

  private def isOrganic(seed: Long, id: Long) = id < 100 || r(seed, 2, id) % 100 >= 6

  private def organicSource(seed: Long, id: Long, slot: Long): Long = {
    var src = id - 1 - r(seed, slot, id) % 100
    while (!isOrganic(seed, src)) src -= 1
    src
  }

  /** SoakGen's documents: clones copy an earlier organic doc, near-dups
    * swap one of its tokens. */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 4).map { id =>
      val roll = r(seed, 2, id) % 100
      val text =
        if (id >= 100 && roll < 4) docText(seed, organicSource(seed, id, 3))
        else if (id >= 100 && roll < 6) {
          val words = docText(seed, organicSource(seed, id, 4)).split(" ")
          val k = (r(seed, 5, id) % words.length).toInt
          words(k) = vocab((r(seed, 6, id) % vocab.length).toInt)
          words.mkString(" ")
        } else docText(seed, id)
      (id, text, langs((r(seed, 7, id) % langs.length).toInt),
        s"src${r(seed, 8, id) % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** SoakGen's `embeddings`: 10 centroids in 64-d plus uniform noise. */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 4).map { id =>
      val label = (r(seed, 10, id) % 10).toInt
      val v = Array.tabulate(64) { d =>
        ((r(seed, 11 + label, d) % 2001) - 1000) / 1000.0f +
          ((r(seed, 30 + d, id) % 2001) - 1000) / 2500.0f
      }
      (id, v, label)
    }.toDF("vec_id", "embedding", "label")
  }

  /** The fixture's event shape: ~67 events per user over 30 January days. */
  def events(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val users = math.max(150L, n / 67L)
    spark.range(0, n.toLong, 1, 4).map { id =>
      (id, ts(jan2024 + r(seed, 20, id) % (30L * day)), r(seed, 21, id) % users,
        eventTypes((r(seed, 22, id) % eventTypes.length).toInt),
        (r(seed, 23, id) % 49002 + 1) / 100.0, s"""{"k": ${r(seed, 24, id) % 100}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  def corpus(spark: SparkSession, seed: Long, s: Sizes, dir: String): Unit = {
    write(documents(spark, seed, s.docs), dir, "documents")
    write(embeddings(spark, seed, s.vecs), dir, "embeddings")
    write(events(spark, seed, s.events), dir, "events")
  }

  // ---- the star schema ---------------------------------------------------

  /** All ten `Tables.all` tables; `lineitem` rows set the scale
    * (sf0.01 = 60k lineitems, 15k orders, 1.5k customers). */
  def starSchema(spark: SparkSession, seed: Long, s: Sizes, dir: String): Unit = {
    import spark.implicits._
    val nOrders = s.lineitem / 4
    val nCust = math.max(10, nOrders / 10)
    val nSupp = math.max(10, s.lineitem / 600)
    val nPart = math.max(10, s.lineitem / 30)
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name"), dir, "region")
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey"),
      dir, "nation")
    write(spark.range(0, nCust, 1, 4).map { i =>
      (i, f"Customer#$i%09d", (r(seed, 40, i) % 25).toInt, (r(seed, 41, i) % 1099200 - 99999) / 100.0,
        segments((r(seed, 42, i) % 5).toInt))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), dir, "customer")
    write(spark.range(0, nSupp, 1, 4).map { i =>
      (i, f"Supplier#$i%09d", (r(seed, 43, i) % 25).toInt, (r(seed, 44, i) % 1099200 - 99999) / 100.0)
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), dir, "supplier")
    write(spark.range(0, nPart, 1, 4).map { i =>
      (i, partAdj((r(seed, 45, i) % 8).toInt) + " " + partNoun((r(seed, 46, i) % 8).toInt),
        s"Brand#${1 + r(seed, 47, i) % 25}", partTypes((r(seed, 48, i) % 6).toInt),
        (1 + r(seed, 49, i) % 50).toInt, 900.0 + (i % 1000) / 10.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), dir, "part")
    write(spark.range(0, nOrders, 1, 4).map { i =>
      (i, r(seed, 50, i) % nCust, "FOP".charAt((r(seed, 51, i) % 3).toInt).toString,
        (r(seed, 52, i) % 49887690 + 101370) / 100.0, ts(jan1995 + r(seed, 53, i) % 2400 * day),
        priorities((r(seed, 54, i) % 5).toInt))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority"), dir, "orders")
    write(spark.range(0, s.lineitem.toLong, 1, 4).map { i =>
      (r(seed, 60, i) % nOrders, r(seed, 61, i) % nPart, r(seed, 62, i) % nSupp,
        (1 + r(seed, 63, i) % 7).toInt, (1 + r(seed, 64, i) % 50).toDouble,
        (r(seed, 65, i) % 10409607 + 90182) / 100.0, (r(seed, 66, i) % 11) / 100.0,
        (r(seed, 67, i) % 9) / 100.0, "ANR".charAt((r(seed, 68, i) % 3).toInt).toString,
        "FO".charAt((r(seed, 69, i) % 2).toInt).toString, ts(jan1995 + day + r(seed, 70, i) % 2500 * day))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      dir, "lineitem")
    corpus(spark, seed, s, dir)
  }

  // ---- stream sources ----------------------------------------------------

  /** Time-ordered file slices of `df` by `tsCol`: one parquet file per
    * slice, ascending modification times, so a file source with
    * `maxFilesPerTrigger` replays them in event-time order. */
  private def timeSlices(df: DataFrame, tsCol: String, dir: String, nSlices: Int, spanMs: Long): Unit = {
    val tmp = s"$dir.tmp"
    df.withColumn("__slice", least(lit(nSlices - 1),
        floor(lit(nSlices) * (unix_millis(col(tsCol)) - lit(jan2024)) / lit(spanMs)).cast("int")))
      .repartition(nSlices, col("__slice"))
      .sortWithinPartitions(tsCol)
      .write.mode("overwrite").partitionBy("__slice").parquet(tmp)
    Files.createDirectories(Paths.get(dir))
    for (k <- 0 until nSlices) {
      val sub = Paths.get(s"$tmp/__slice=$k")
      if (Files.isDirectory(sub)) {
        val ls = Files.list(sub)
        val parts = try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".parquet")) finally ls.close()
        parts.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, j) =>
          val dst = Paths.get(dir, f"slice-$k%04d-$j%02d.parquet")
          Files.move(p, dst, StandardCopyOption.REPLACE_EXISTING)
          dst.toFile.setLastModified(jan2024 + k * 60000L + j)
        }
      }
    }
    Fs.delete(tmp)
  }

  /** Event and document stream sources over the generated tables: events
    * keep their own `ts` (30 days); documents arrive in doc_id order, one
    * every [[docArrivalMs]]. */
  def streamSources(spark: SparkSession, dir: String, nSlices: Int): Unit = {
    val ev = spark.read.parquet(s"$dir/events.parquet").drop("props")
    timeSlices(ev, "ts", s"$dir/events_stream", nSlices, 30L * day)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    val withTs = docs.select(col("doc_id"),
      timestamp_millis(lit(jan2024) + col("doc_id") * lit(docArrivalMs)).as("ingest_ts"),
      col("text"), col("lang"), col("source"))
    timeSlices(withTs, "ingest_ts", s"$dir/docs_stream", nSlices, n * docArrivalMs)
  }

  private val docArrivalMs = 36000L
}
