package lakebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, row id,
  * column salt), so one seed always yields the same tables and files.
  * Schemas and value domains follow the star-schema testdata the
  * engine's queries are written against (FIXTURES.md §A, §B2).
  */
object Gen {
  private def h(seed: Long, salt: Int, id: Column): Column = xxhash64(id, lit(seed), lit(salt))
  private def pick(seed: Long, salt: Int, id: Column, m: Long): Column = pmod(h(seed, salt, id), lit(m))
  private def oneOf(seed: Long, salt: Int, id: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(seed, salt, id, xs.size.toLong) + 1).cast("int"))
  private def cents(seed: Long, salt: Int, id: Column, lo: Long, hi: Long): Column =
    ((pick(seed, salt, id, hi - lo + 1) + lo) / 100.0).cast("double")
  private def day(seed: Long, salt: Int, id: Column, from: String, days: Int): Column =
    timestamp_seconds(unix_timestamp(lit(from + " 00:00:00")) + pick(seed, salt, id, days.toLong) * 86400L)

  /** TPC-H-shaped tables at scale factor `sf`, one parquet file each,
    * written as `<dir>/<table>.parquet` (the layout `graft.Tables` reads).
    */
  def tpch(s: SparkSession, dir: Path, seed: Long, sf: Double): Unit = {
    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrd = (1500000 * sf).toLong
    val nLine = (6000000 * sf).toLong
    val id = col("id")
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", s.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (id + 1).cast("int")).as("r_name")))
    write("nation", s.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    write("customer", s.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(seed, 1, id, 25).cast("int").as("c_nationkey"),
      cents(seed, 2, id, -99999, 999999).as("c_acctbal"),
      oneOf(seed, 3, id, Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"))
        .as("c_mktsegment")))
    write("supplier", s.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick(seed, 4, id, 25).cast("int").as("s_nationkey"),
      cents(seed, 5, id, -99999, 999999).as("s_acctbal")))
    val colors = Seq("blue", "old", "small", "new", "hot", "large", "cold", "red")
    val things = Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
    write("part", s.range(nPart).select(id.as("p_partkey"),
      concat(oneOf(seed, 6, id, colors), lit(" "), oneOf(seed, 7, id, things)).as("p_name"),
      concat(lit("Brand#"), (pick(seed, 8, id, 25) + 1).cast("string")).as("p_brand"),
      oneOf(seed, 9, id, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"))
        .as("p_type"),
      (pick(seed, 10, id, 50) + 1).cast("int").as("p_size"),
      ((id % 1000 + 9000) / 10.0).as("p_retailprice")))
    write("orders", s.range(nOrd).select(id.as("o_orderkey"),
      pick(seed, 11, id, nCust).as("o_custkey"),
      oneOf(seed, 12, id, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(seed, 13, id, 100000, 50000000).as("o_totalprice"),
      day(seed, 14, id, "1995-01-01", 2404).as("o_orderdate"),
      oneOf(seed, 15, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    write("lineitem", s.range(nLine).select(
      pick(seed, 16, id, nOrd).as("l_orderkey"),
      pick(seed, 17, id, nPart).as("l_partkey"),
      pick(seed, 18, id, nSupp).as("l_suppkey"),
      (pick(seed, 19, id, 7) + 1).cast("int").as("l_linenumber"),
      (pick(seed, 20, id, 50) + 1).cast("double").as("l_quantity"),
      cents(seed, 21, id, 90000, 10500000).as("l_extendedprice"),
      (pick(seed, 22, id, 11) / 100.0).as("l_discount"),
      (pick(seed, 23, id, 9) / 100.0).as("l_tax"),
      oneOf(seed, 24, id, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(seed, 25, id, Seq("F", "O")).as("l_linestatus"),
      day(seed, 26, id, "1995-01-02", 2499).as("l_shipdate")))
  }

  /** The word-salad vocabulary of the testdata `documents` table. */
  val Vocab: Seq[String] = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window",
    "data", "column", "join", "small", "big", "customer", "query", "order", "stream",
    "group", "filter", "vector")

  /** `nBase` word-salad documents (10–99 words) replicated `reps` times;
    * replica r > 0 prefixes one perturbation token, as the engine's dedup
    * stress scenario does, so every replica set is a near-duplicate
    * clique. Written as `<dir>/documents.parquet`.
    */
  def documents(s: SparkSession, dir: Path, seed: Long, nBase: Long, reps: Int): Unit = {
    val id = col("id")
    val vocab = array(Vocab.map(lit): _*)
    val nWords = pick(seed, 30, id, 90) + 10
    val words = transform(sequence(lit(1L), nWords), i =>
      element_at(vocab, (pmod(xxhash64(id, lit(seed), i), lit(Vocab.size.toLong)) + 1).cast("int")))
    val base = s.range(nBase).select(id.as("base_id"), array_join(words, " ").as("text"),
      oneOf(seed, 31, id, Seq("en", "en", "en", "zh", "de", "es", "fr")).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
    base.withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .select((col("base_id") * reps + col("rep")).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat(lit("rep"), col("rep").cast("string"), lit(" "), col("text")))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
  }

  /** One ingest row of the `{name,size,count}` stream shape. */
  final case class Item(name: String, size: String, count: Int)

  /** JSON-lines files of `rows` items each, plus one malformed line per
    * file at a seeded position. Item keys (`count`) are `file * rows + i`.
    * File modification times increase with the file index, so a file
    * stream with one file per trigger commits them in index order.
    * Returns the bytes of the valid lines.
    */
  def landing(dir: Path, seed: Long, files: Int, rows: Int): Long = {
    Files.createDirectories(dir)
    val t0 = 1700000000000L
    var userBytes = 0L
    (0 until files).foreach { f =>
      val rnd = new scala.util.Random(seed * 7919 + f)
      val bad = rnd.nextInt(rows + 1)
      val sb = new StringBuilder
      (0 until rows).foreach { i =>
        if (i == bad) sb.append(s"""{"name":"broken-$f","size":"sm\n""")
        val line = itemJson(item(seed, f * rows + i))
        userBytes += line.length + 1
        sb.append(line).append('\n')
      }
      if (bad == rows) sb.append(s"""{"name":"broken-$f","size":"sm\n""")
      val p = dir.resolve(f"part-$f%04d.json")
      Files.write(p, sb.toString.getBytes("UTF-8"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t0 + f * 1000L))
    }
    userBytes
  }

  def item(seed: Long, key: Int): Item = {
    val r = new scala.util.Random(seed * 1000003L + key)
    Item(f"s$seed-k$key%07d-${r.alphanumeric.take(6).mkString}",
      Seq("small", "medium", "large")(r.nextInt(3)), key)
  }

  private def itemJson(it: Item): String =
    s"""{"name":"${it.name}","size":"${it.size}","count":${it.count}}"""
}
