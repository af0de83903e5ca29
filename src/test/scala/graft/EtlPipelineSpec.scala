package graft

import graft.operators.EnrichConfig
import graft.queries.SentimentScorer
import graft.streaming.EtlPipeline
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The whole reference loop end to end: bronze product JSON in, silver
  * enriched records + gold KPI table out, with batch-25 null-fill
  * semantics visible in the results. */
class EtlPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def productJson(i: Int): String = {
    val desc = if (i % 3 == 0) "very fast gadget" else if (i % 3 == 1) "slow widget" else "plain thing"
    s"""{"product_name":"p$i","price":${10.0 + i},"quantity":1,"category":"c","description":"$desc",""" +
      s""""availability":true,"discount_percentage":0.0,"date":"2024-01-0${i % 9 + 1}",""" +
      s""""id":"user_${i % 4}","shop_id":"shop_${i % 3}"}"""
  }

  test("bronze → enrich → silver + gold KPI upsert, with batch-unit null-fill") {
    val base = Files.createTempDirectory("graft_etl_").toString
    val bronze = s"$base/bronze/new"
    new java.io.File(bronze).mkdirs()
    // 60 rows → 12 batches of 5; failEvery=4 → batch ids 3,7,11 null-fill
    Files.write(java.nio.file.Paths.get(bronze, "d1.json"),
      (0 until 40).map(productJson).mkString("\n").getBytes)
    Files.write(java.nio.file.Paths.get(bronze, "d2.json"),
      (40 until 60).map(productJson).mkString("\n").getBytes)

    val q = EtlPipeline.start(spark, bronze, s"$base/archive", s"$base/silver", s"$base/gold",
      s"$base/ckpt",
      SentimentScorer("signal", failEvery = 4, flakyEvery = 0),
      EnrichConfig(batchSize = 5))
    q.awaitTermination(120000)

    val silver = spark.read.json(s"$base/silver/batch_0")
    assert(silver.count() == 60)
    // every row has a dense item_id; failed batches are null-sentiment
    import org.apache.spark.sql.functions._
    val ids = silver.select("item_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 60L))
    val nullIds = silver.filter(col("sentiment").isNull)
      .select("item_id").collect().map(_.getLong(0)).toSet
    assert(nullIds == ((16L to 20L) ++ (36L to 40L) ++ (56L to 60L)).toSet)

    val gold = spark.read.parquet(s"$base/gold/user_kpis")
    assert(gold.count() == 4) // user_0..user_3
    val cols = gold.columns.toSet
    assert(Set("id", "average_spent", "positive_reviews", "negative_reviews",
      "likeness_score", "normalized_likeness_score").subsetOf(cols))
    // the swap left no backup or temp dirs behind
    val leftovers = new java.io.File(s"$base/gold").listFiles().map(_.getName).toSet
    assert(leftovers == Set("user_kpis"), s"unexpected gold leftovers: $leftovers")
  }

  test("serving leg: per-batch KPIs MERGE into a real JDBC store and converge to the gold table") {
    val base = Files.createTempDirectory("graft_etl_jdbc_").toString
    val bronze = s"$base/bronze/new"
    new java.io.File(bronze).mkdirs()
    Files.write(java.nio.file.Paths.get(bronze, "d1.json"),
      (0 until 30).map(productJson).mkString("\n").getBytes)
    val url = "jdbc:derby:memory:graftetlserve;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        st.execute(
          "CREATE TABLE user_kpis (id VARCHAR(64) NOT NULL PRIMARY KEY, average_spent DOUBLE, " +
            "positive_reviews BIGINT, negative_reviews BIGINT, likeness_score DOUBLE, " +
            "normalized_likeness_score DOUBLE)")
        st.execute(
          "CREATE TABLE shop_kpis (shop_id VARCHAR(64) NOT NULL PRIMARY KEY, average_profit DOUBLE, " +
            "positive_reviews BIGINT, negative_reviews BIGINT, likeness_score DOUBLE, " +
            "normalized_likeness_score DOUBLE)")
        st.execute(
          "CREATE TABLE date_kpis (day VARCHAR(10) NOT NULL PRIMARY KEY, " +
            "average_profit_per_day DOUBLE)")
      } finally st.close()
    } finally conn.close()

    val q = EtlPipeline.start(spark, bronze, s"$base/archive", s"$base/silver",
      s"$base/gold", s"$base/ckpt",
      SentimentScorer("signal", failEvery = 0, flakyEvery = 0),
      EnrichConfig(batchSize = 5), servingUrl = Some(url))
    q.awaitTermination(120000)

    import org.apache.spark.sql.functions._
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("average_spent").cast("double"), col("positive_reviews"),
        col("negative_reviews"), col("likeness_score"), col("normalized_likeness_score"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val gold = keyed(spark.read.parquet(s"$base/gold/user_kpis"))
    val served = keyed(spark.read.jdbc(url, "user_kpis", new java.util.Properties))
    assert(gold.nonEmpty && served == gold,
      s"serving store diverged from gold:\n gold=$gold\n served=$served")

    // all THREE reference tables serve (main.py:53-55); the single-file
    // fixture is one micro-batch, so per-batch KPIs == global KPIs and
    // the served shop/date tables must equal the operators recomputed
    // over the silver output
    val silver = spark.read.json(s"$base/silver/batch_0")
      .withColumn("sentiment", col("sentiment").cast("boolean"))
    val wantShop = graft.operators.Kpis.shopKpis(silver)
      .select(col("shop_id"), col("average_profit").cast("double"), col("positive_reviews"),
        col("negative_reviews"), col("likeness_score"), col("normalized_likeness_score"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val gotShop = spark.read.jdbc(url, "shop_kpis", new java.util.Properties)
      .select(col("shop_id"), col("average_profit"), col("positive_reviews"),
        col("negative_reviews"), col("likeness_score"), col("normalized_likeness_score"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(gotShop == wantShop, s"shop_kpis diverged:\n want=$wantShop\n got=$gotShop")
    val wantDate = graft.operators.Kpis.dateKpis(silver)
      .select(col("date"), col("average_profit_per_day").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gotDate = spark.read.jdbc(url, "date_kpis", new java.util.Properties)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotDate == wantDate, s"date_kpis diverged:\n want=$wantDate\n got=$gotDate")
  }

  test("the scorer runs ONCE per batch although silver AND gold consume the enrichment") {
    val base = Files.createTempDirectory("graft_etl_once_").toString
    val bronze = s"$base/bronze/new"
    new java.io.File(bronze).mkdirs()
    // 20 rows, batchSize 5 → exactly 4 batches
    Files.write(java.nio.file.Paths.get(bronze, "d1.json"),
      (0 until 20).map(productJson).mkString("\n").getBytes)
    CountingScorer.calls.set(0)
    val q = EtlPipeline.start(spark, bronze, s"$base/archive", s"$base/silver",
      s"$base/gold", s"$base/ckpt", CountingScorer,
      graft.operators.EnrichConfig(batchSize = 5))
    q.awaitTermination(120000)
    assert(CountingScorer.calls.get() == 4,
      s"scorer invoked ${CountingScorer.calls.get()} times for 4 batches — " +
        "an uncached enrichment frame re-scores for the second sink")
  }

  test("a pre-bucketing flat gold table is migrated to the partitioned layout, keeping its rows") {
    val base = Files.createTempDirectory("graft_etl_migrate_").toString
    val bronze = s"$base/bronze/new"
    new java.io.File(bronze).mkdirs()
    // old layout: flat parquet, no kbucket column
    import spark.implicits._
    Seq(("user_9", 99.0, 1L, 1L, 1.0, 0.0))
      .toDF("id", "average_spent", "positive_reviews", "negative_reviews",
        "likeness_score", "normalized_likeness_score")
      .write.parquet(s"$base/gold/user_kpis")
    Files.write(java.nio.file.Paths.get(bronze, "d1.json"),
      (0 until 10).map(productJson).mkString("\n").getBytes)
    val q = EtlPipeline.start(spark, bronze, s"$base/archive", s"$base/silver",
      s"$base/gold", s"$base/ckpt",
      SentimentScorer("signal", failEvery = 0, flakyEvery = 0),
      graft.operators.EnrichConfig(batchSize = 5))
    q.awaitTermination(120000)
    val gold = spark.read.parquet(s"$base/gold/user_kpis")
    // migrated rows survive alongside the new users, now bucketed
    assert(gold.select("id").collect().map(_.getString(0)).toSet ==
      Set("user_0", "user_1", "user_2", "user_3", "user_9"))
    assert(gold.columns.contains("kbucket"))
    val layout = new java.io.File(s"$base/gold/user_kpis").listFiles().map(_.getName)
    assert(layout.exists(_.startsWith("kbucket=")), layout.mkString(","))
    assert(!layout.exists(_.endsWith(".parquet")), s"flat files left behind: ${layout.mkString(",")}")
    // the swap cleaned up its staging dirs
    val leftovers = new java.io.File(s"$base/gold").listFiles().map(_.getName).toSet
    assert(leftovers == Set("user_kpis"), s"migration left staging dirs behind: $leftovers")
  }

  test("a crash between the migration's two renames is healed on replay (table parked at backup)") {
    val base = Files.createTempDirectory("graft_etl_heal_").toString
    val bronze = s"$base/bronze/new"
    new java.io.File(bronze).mkdirs()
    import spark.implicits._
    // simulate the worst crash window: the flat table was renamed to the
    // backup path but the bucketed tmp never made it to the live path
    // (tmp is also gone — the writer deletes stale tmps on replay anyway)
    Seq(("user_9", 99.0, 1L, 1L, 1.0, 0.0))
      .toDF("id", "average_spent", "positive_reviews", "negative_reviews",
        "likeness_score", "normalized_likeness_score")
      .write.parquet(s"$base/gold/user_kpis.__pre_bucketing")
    Files.write(java.nio.file.Paths.get(bronze, "d1.json"),
      (0 until 10).map(productJson).mkString("\n").getBytes)
    val q = EtlPipeline.start(spark, bronze, s"$base/archive", s"$base/silver",
      s"$base/gold", s"$base/ckpt",
      SentimentScorer("signal", failEvery = 0, flakyEvery = 0),
      graft.operators.EnrichConfig(batchSize = 5))
    q.awaitTermination(120000)
    val gold = spark.read.parquet(s"$base/gold/user_kpis")
    // the parked row was restored, then migrated and merged with the batch
    assert(gold.select("id").collect().map(_.getString(0)).toSet ==
      Set("user_0", "user_1", "user_2", "user_3", "user_9"))
    val leftovers = new java.io.File(s"$base/gold").listFiles().map(_.getName).toSet
    assert(leftovers == Set("user_kpis"), s"recovery left staging dirs behind: $leftovers")
  }

  test("gold upsert rewrites ONLY the buckets the batch touches (sub-linear growth)") {
    val base = Files.createTempDirectory("graft_etl_buckets_").toString
    val bronze = s"$base/bronze/new"
    new java.io.File(bronze).mkdirs()
    def run(): Unit = {
      val q = EtlPipeline.start(spark, bronze, s"$base/archive", s"$base/silver",
        s"$base/gold", s"$base/ckpt",
        SentimentScorer("signal", failEvery = 0, flakyEvery = 0),
        EnrichConfig(batchSize = 5))
      q.awaitTermination(120000)
    }
    // batch 1: users 0..3
    Files.write(java.nio.file.Paths.get(bronze, "d1.json"),
      (0 until 40).map(productJson).mkString("\n").getBytes)
    run()
    def goldFiles(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$base/gold/user_kpis"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
    }
    val before = goldFiles()
    assert(before.nonEmpty)
    // batch 2: rows for user_0 ONLY (ids ≡ 0 mod 4)
    Files.write(java.nio.file.Paths.get(bronze, "d2.json"),
      (0 until 40 by 4).map(productJson).mkString("\n").getBytes)
    run()
    val after = goldFiles()
    // which bucket holds user_0?
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val b0 = Seq("user_0").toDF("id")
      .select(pmod(xxhash64(col("id")), lit(EtlPipeline.GoldBuckets)).cast("int"))
      .head.getInt(0)
    // every file OUTSIDE user_0's bucket survived byte-identical in place;
    // the touched bucket was rewritten (fresh files)
    val untouchedBefore = before.filterNot(_._1.contains(s"kbucket=$b0"))
    val untouchedAfter = after.filterNot(_._1.contains(s"kbucket=$b0"))
    assert(untouchedBefore == untouchedAfter,
      s"untouched buckets were rewritten:\n$untouchedBefore\nvs\n$untouchedAfter")
    assert(after.keys.exists(_.contains(s"kbucket=$b0")))
    // and the table still carries all four users (user_0 from batch 2)
    val gold = spark.read.parquet(s"$base/gold/user_kpis")
    assert(gold.select("id").collect().map(_.getString(0)).toSet ==
      Set("user_0", "user_1", "user_2", "user_3"))
  }

  test("gold upsert writes ONE parquet file per bucket, on the first batch and on the upsert") {
    val base = Files.createTempDirectory("graft_etl_layout_").toString
    val bronze = s"$base/bronze/new"
    new java.io.File(bronze).mkdirs()
    // rows i < 1000 belong to 40 users spread over (nearly) every
    // bucket; each row i >= 1000 is a user of its own
    def rows(is: Seq[Int]): Array[Byte] = is.map { i =>
      val user = if (i < 1000) i % 40 else i
      productJson(i).replace(s""""id":"user_${i % 4}"""", s""""id":"user_$user"""")
    }.mkString("\n").getBytes
    def runAndCheck(file: String, is: Seq[Int]): Unit = {
      Files.write(java.nio.file.Paths.get(bronze, file), rows(is))
      val q = EtlPipeline.start(spark, bronze, s"$base/archive", s"$base/silver",
        s"$base/gold", s"$base/ckpt",
        SentimentScorer("signal", failEvery = 0, flakyEvery = 0),
        EnrichConfig(batchSize = 5))
      q.awaitTermination(120000)
      val buckets = new java.io.File(s"$base/gold/user_kpis").listFiles()
        .filter(_.getName.startsWith("kbucket=")).toSeq
      assert(buckets.size > 1, s"$file: expected several buckets")
      val perBucket = buckets.map(b => b.getName -> b.listFiles().count(_.getName.endsWith(".parquet")))
      assert(perBucket.forall(_._2 == 1), s"$file: parquet files per bucket: $perBucket")
    }
    runAndCheck("d1.json", 0 until 120)
    // second batch: half of the old users (an upsert of touched buckets) plus new ones
    runAndCheck("d2.json", (0 until 120 by 2) ++ (1000 until 1020))
    val gold = spark.read.parquet(s"$base/gold/user_kpis")
    assert(gold.select("id").distinct().count() == gold.count(), "one row per user")
    assert(gold.count() == 60)
  }

  test("validate-before-publish: a bad batch is quarantined, the stream and good batches proceed") {
    import graft.operators.Constraints.Satisfies
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_etl_validate_").toString
    val bronze = s"$base/bronze/new"
    new java.io.File(bronze).mkdirs()
    def start() = EtlPipeline.start(spark, bronze, s"$base/archive", s"$base/silver",
      s"$base/gold", s"$base/ckpt",
      SentimentScorer("signal", failEvery = 0, flakyEvery = 0),
      EnrichConfig(batchSize = 25),
      validate = Seq(
        Satisfies.notNull("product_name"),
        Satisfies.inRange("price", 0.0, 1e6)),
      quarantineDir = Some(s"$base/quarantine"))

    // batch 0: clean
    Files.write(java.nio.file.Paths.get(bronze, "good.json"),
      (0 until 10).map(productJson).mkString("\n").getBytes)
    val q1 = start(); assert(q1.awaitTermination(120000))
    val goldCount = spark.read.parquet(s"$base/gold/user_kpis").count()
    assert(goldCount > 0)

    // batch 1: one row violates each rule (null name; negative price)
    val bad = Seq(
      """{"product_name":null,"price":5.0,"quantity":1,"category":"c","description":"x","availability":true,"discount_percentage":0.0,"date":"2024-01-01","id":"user_9","shop_id":"shop_9"}""",
      """{"product_name":"ok","price":-3.0,"quantity":1,"category":"c","description":"x","availability":true,"discount_percentage":0.0,"date":"2024-01-01","id":"user_9","shop_id":"shop_9"}""")
    Files.write(java.nio.file.Paths.get(bronze, "bad.json"), bad.mkString("\n").getBytes)
    val q2 = start(); assert(q2.awaitTermination(120000))

    // quarantined: raw rows + report with the exact violation counts
    val qRows = spark.read.json(s"$base/quarantine/batch_1")
    assert(qRows.count() == 2)
    val report = spark.read.parquet(s"$base/quarantine/batch_1_report")
      .collect().map(r => r.getAs[String]("constraint") ->
        ((r.getAs[Long]("violations"), r.getAs[Int]("passed")))).toMap
    assert(report("not_null(product_name)") == ((1L, 0)))
    assert(report("in_range(price,0.0,1000000.0)") == ((1L, 0)))
    // nothing published: gold unchanged, no silver for batch 1, user_9 absent
    assert(spark.read.parquet(s"$base/gold/user_kpis").count() == goldCount)
    assert(!new java.io.File(s"$base/silver/batch_1").exists())
    assert(spark.read.parquet(s"$base/gold/user_kpis")
      .filter(col("id") === "user_9").count() == 0)
    // the stream is not wedged: a following good batch publishes
    // normally (the bad file was consumed and left behind; archival
    // itself is cleanSource's async business)
    Files.write(java.nio.file.Paths.get(bronze, "good2.json"),
      (10 until 20).map(productJson).mkString("\n").getBytes)
    val q3 = start(); assert(q3.awaitTermination(120000))
    assert(new java.io.File(s"$base/silver/batch_2").exists())
    assert(spark.read.parquet(s"$base/gold/user_kpis").count() >= goldCount)
  }
}

/** Echoes the signal and counts score() invocations (local-mode static —
  * executors share the JVM in tests). */
object CountingScorer extends graft.operators.Scorer {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  val outputFields = Seq(org.apache.spark.sql.types.StructField(
    "sentiment", org.apache.spark.sql.types.BooleanType, nullable = true))
  def score(bid: Long, batch: Seq[org.apache.spark.sql.Row], attempt: Int): scala.util.Try[Seq[(Long, Seq[Any])]] = {
    calls.incrementAndGet()
    scala.util.Success(batch.map(r =>
      (r.getLong(r.fieldIndex("item_id")), Seq[Any](r.getAs[Boolean]("signal")))))
  }
}
