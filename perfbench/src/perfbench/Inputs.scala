package perfbench

import graft.operators.PoolAssign
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** Seeded input generators. Every random draw is a hash of (seed, row
  * key, salt), so a table depends only on the seed and its size, never
  * on partitioning or on the order tasks run in. The program under test
  * only ever sees the files written here. */
object Inputs {

  /** Uniform draw in [0, 1) for (seed, key, salt). */
  def u(seed: Long, salt: Int, key: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: key): _*), lit(1000000007L)).cast("double") /
      lit(1000000007.0)

  def pick(values: Seq[String], r: Column): Column =
    element_at(array(values.map(lit): _*), (floor(r * values.size) + 1).cast("int"))

  private def ntzDays(from: String, r: Column, span: Int): Column =
    date_add(lit(from).cast("date"), floor(r * span).cast("int")).cast("timestamp_ntz")

  val Vocab: Seq[String] = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg",
    "value", "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the")
  private val Adjectives = Seq("small", "red", "blue", "hot", "old", "large", "new", "green")
  private val Nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate")
  private val PartTypes = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")

  /** `n` space-separated vocabulary words drawn for (seed, key, salt). */
  private def words(seed: Long, salt: Int, key: Column, n: Column): Column = {
    val vocab = array(Vocab.map(lit): _*)
    concat_ws(" ", transform(sequence(lit(1), n), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), lit(salt), key, i), lit(Vocab.size.toLong)) + 1)
        .cast("int"))))
  }

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame = {
    val k = col("id")
    spark.range(n).select(
      k.as("o_orderkey"),
      floor(u(seed, 1, k) * customers).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), u(seed, 2, k)).as("o_orderstatus"),
      round(lit(1000.0) + u(seed, 3, k) * 499000.0, 2).as("o_totalprice"),
      ntzDays("1995-01-01", u(seed, 4, k), 2404).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), u(seed, 5, k))
        .as("o_orderpriority"))
  }

  /** Sizes of the star-schema tables the `queries` workload reads. */
  final case class Scale(orders: Long, lineitems: Long, customers: Long, suppliers: Long,
                         parts: Long, events: Long, documents: Long, embeddings: Long)

  /** The shape of the harness testdata at sf0.001 (FIXTURES.md). */
  val Sf0001: Scale = Scale(1500, 6000, 150, 10, 200, 1000, 500, 500)

  def tables(spark: SparkSession, seed: Long, s: Scale): Seq[(String, DataFrame)] = {
    val k = col("id")
    val region = spark.range(5).select(k.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (k + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(k.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), k).as("n_name"), (k % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(s.customers).select(k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      floor(u(seed, 10, k) * 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(seed, 11, k) * 10999.98, 2).as("c_acctbal"),
      pick(Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"), u(seed, 12, k))
        .as("c_mktsegment"))
    val supplier = spark.range(s.suppliers).select(k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      floor(u(seed, 20, k) * 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(seed, 21, k) * 10999.98, 2).as("s_acctbal"))
    val part = spark.range(s.parts).select(k.as("p_partkey"),
      concat(pick(Adjectives, u(seed, 30, k)), lit(" "), pick(Nouns, u(seed, 31, k))).as("p_name"),
      concat(lit("Brand#"), floor(u(seed, 32, k) * 25) + 1).as("p_brand"),
      pick(PartTypes, u(seed, 33, k)).as("p_type"),
      (floor(u(seed, 34, k) * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (k % 1000) / 10.0, 2).as("p_retailprice"))
    val lineitem = spark.range(s.lineitems).select(
      floor(u(seed, 40, k) * s.orders).cast("long").as("l_orderkey"),
      floor(u(seed, 41, k) * s.parts).cast("long").as("l_partkey"),
      floor(u(seed, 42, k) * s.suppliers).cast("long").as("l_suppkey"),
      (floor(u(seed, 43, k) * 7) + 1).cast("int").as("l_linenumber"),
      (floor(u(seed, 44, k) * 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(seed, 45, k) * 104100.0, 2).as("l_extendedprice"),
      (floor(u(seed, 46, k) * 11) / 100.0).as("l_discount"),
      (floor(u(seed, 47, k) * 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, 48, k)).as("l_returnflag"),
      pick(Seq("F", "O"), u(seed, 49, k)).as("l_linestatus"),
      ntzDays("1995-01-02", u(seed, 50, k), 2498).as("l_shipdate"))
    // events are time-ordered by id over 30 days, like an append log
    val step = 30L * 86400L * 1000000L / math.max(1L, s.events)
    val events = spark.range(s.events).select(k.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + k * step + floor(u(seed, 60, k) * step))
        .cast("timestamp_ntz").as("ts"),
      floor(u(seed, 61, k) * 150).cast("long").as("user_id"),
      pick(Seq("click", "signup", "error", "view", "purchase"), u(seed, 62, k)).as("event_type"),
      round(lit(0.01) + u(seed, 63, k) * 490.0, 2).as("value"),
      format_string("{\"k\": %d}", floor(u(seed, 64, k) * 100).cast("int")).as("props"))
    // 5% of documents are a copy of another document plus " dup"
    val base = spark.range(s.documents).select(k.as("doc_id"),
      words(seed, 70, k, (floor(u(seed, 71, k) * 90) + 10).cast("int")).as("body"),
      (u(seed, 72, k) < 0.05).as("is_dup"),
      pmod(k + 1 + floor(u(seed, 73, k) * (s.documents - 1)), lit(s.documents)).cast("long")
        .as("dup_of"))
    val docs = base.as("d").join(base.select(col("doc_id").as("src_id"), col("body").as("src_body")),
        col("d.dup_of") === col("src_id"), "left")
      .select(col("d.doc_id").as("doc_id"),
        when(col("d.is_dup"), concat(col("src_body"), lit(" dup"))).otherwise(col("d.body"))
          .as("text"),
        when(u(seed, 74, col("d.doc_id")) < 0.4, lit("en"))
          .otherwise(pick(Seq("de", "es", "fr", "zh"), u(seed, 75, col("d.doc_id")))).as("lang"),
        concat(lit("src"), col("d.doc_id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // unit vectors scattered around one centroid per label
    val dim = 64
    def gauss(salt: Int, a: Column, i: Column): Column =
      (pmod(xxhash64(lit(seed), lit(salt), a, i), lit(2000001L)) - 1000000).cast("double") / 1000000.0
    val raw = spark.range(s.embeddings).select(k.as("vec_id"),
        floor(u(seed, 80, k) * 10).cast("int").as("label"))
      .withColumn("v", transform(sequence(lit(0), lit(dim - 1)), i =>
        gauss(81, col("label").cast("long"), i) * 0.7 + gauss(82, col("vec_id"), i) * 0.3))
    val embeddings = raw.select(col("vec_id"),
      transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0), (acc, y) => acc + y * y)))
        .cast("float")).as("embedding"),
      col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders(spark, seed, s.orders, s.customers),
      "lineitem" -> lineitem, "events" -> events, "documents" -> docs.orderBy("doc_id"),
      "embeddings" -> embeddings)
  }

  /** Write the query tables as single-file parquet under `dir`. */
  def writeTables(spark: SparkSession, seed: Long, s: Scale, dir: String): Unit =
    tables(spark, seed, s).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  /** `rows` bronze product records derived from the 150k orders of sf0.1,
    * with user and shop keys drawn from the reference's pools (5k users,
    * 10k shops) by the program's own seeded pool assignment. The seed
    * picks which orders and in what order: one JSON line per record, in
    * the split order. */
  def bronzeLines(spark: SparkSession, seed: Long, rows: Long): Array[String] = {
    val users = spark.range(5000).select(format_string("user-%05d", col("id")).as("uid"))
    val shops = spark.range(10000).select(format_string("shop_%d", col("id")).as("sid"))
    // a large prime is coprime with both pool sizes, as PoolAssign requires
    val primes = Seq(100003L, 100019L, 100043L, 100049L, 100057L, 100069L, 100103L, 100109L)
    val a = primes(java.lang.Math.floorMod(seed, primes.size.toLong).toInt)
    val b = java.lang.Math.floorMod(seed * 2654435761L, 1000003L)
    val k = col("o_orderkey")
    val records = orders(spark, seed, 150000, 15000).select(k,
      (k + 1).as("idx"),
      concat(pick(Adjectives, u(seed, 90, k)), lit(" "), pick(Nouns, u(seed, 91, k)))
        .as("product_name"),
      round(col("o_totalprice") / 1000.0, 2).as("price"),
      (floor(u(seed, 92, k) * 10) + 1).cast("int").as("quantity"),
      pick(PartTypes, u(seed, 93, k)).as("category"),
      words(seed, 94, k, (floor(u(seed, 95, k) * 8) + 4).cast("int")).as("description"),
      (u(seed, 96, k) < 0.9).as("availability"),
      round(u(seed, 97, k) * 50.0, 1).as("discount_percentage"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("date"))
    val withUser = PoolAssign.assign(records, col("idx"), users, "uid", "id", a, b)
    val withShop = PoolAssign.assign(withUser, col("idx"), shops, "sid", "shop_id", a, b + 1)
    val fields = graft.sources.Bronze.productSchema.fieldNames.map(col)
    withShop
      .orderBy(xxhash64(lit(seed), lit(98), k), k)
      .limit(rows.toInt)
      .select(to_json(struct(fields: _*)))
      .collect().map(_.getString(0))
  }

  /** Split `lines` into `files` near-equal files with fixed names and
    * arrival times, so the trigger composition is fixed by the seed. */
  def writeBronze(lines: Array[String], files: Int, dir: Path): Unit = {
    Files.createDirectories(dir)
    val per = math.ceil(lines.length.toDouble / files).toInt
    lines.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val f = dir.resolve(f"bronze_$i%05d.json")
      Files.writeString(f, chunk.mkString("", "\n", "\n"))
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
  }

  /** Review texts for the `enrich_http` items; about a third mention
    * "good", which is what the stub model keys its answer on. */
  def reviews(spark: SparkSession, seed: Long, fromId: Long, n: Long): DataFrame = {
    val k = col("id")
    spark.range(fromId, fromId + n).select(k.as("item_id"),
      concat(words(seed, 100, k, (floor(u(seed, 101, k) * 12) + 6).cast("int")),
        when(u(seed, 102, k) < 0.33, lit(" good")).otherwise(lit(""))).as("review"))
  }

  /** SHA-256 over the contents of every data file under `root`. Spark
    * names part files with a random id, so a file counts by its
    * directory and its bytes, not its name. */
  def digest(root: Path): String = {
    def sha(bytes: Array[Byte]): String =
      MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
    val entries = filesUnder(root).map { p =>
      val dir = root.relativize(p.getParent).toString
      val name = if (p.getFileName.toString.startsWith("part-")) "" else p.getFileName.toString
      s"$dir/$name:${sha(Files.readAllBytes(p))}"
    }.sorted
    sha(entries.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).filter(Files.isRegularFile(_)).toArray
      .map(p => Files.size(p.asInstanceOf[Path])).sum

  def filesUnder(root: Path, suffix: String = ""): Seq[Path] =
    if (!Files.exists(root)) Nil
    else Files.walk(root).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.endsWith(suffix) &&
        !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
      .toSeq
}
