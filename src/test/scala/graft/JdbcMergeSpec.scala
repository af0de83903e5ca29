package graft

import graft.sinks.{JdbcMerge, Sinks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.sql.DriverManager

/** The real-JDBC MERGE sink against embedded Derby: actual connections,
  * actual `MERGE INTO` statements, no mocks. Pins (1) the three
  * reference KPI tables round-tripping with conflict-key updates,
  * (2) JDBC MERGE ≡ the in-engine [[Sinks.upsertByKey]] algebra on the
  * same inputs, (3) replay idempotence (the foreachBatch retry story),
  * (4) the loud duplicate-key precondition on both entry points (target,
  * ledger and catalog untouched), (5) a live `writeStream.foreachBatch`
  * upsert across micro-batches, and (6) concurrent first use of the
  * ledger. */
class JdbcMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // one in-memory database per JVM run; tables are namespaced per test
  private val url = s"jdbc:derby:memory:graftjdbc;create=true"

  private def ddl(sql: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try { val st = conn.createStatement(); try st.execute(sql) finally st.close() }
    finally conn.close()
  }

  private def readTable(table: String): DataFrame =
    spark.read.jdbc(url, table, new java.util.Properties)

  private def query(url: String, sql: String): Seq[String] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val b = Seq.newBuilder[String]
      while (rs.next()) b += rs.getString(1)
      b.result()
    } finally conn.close()
  }

  /** Staging tables of `table` still in the catalog (Derby upper-cases
    * unquoted identifiers). */
  private def stagingLeft(table: String): Seq[String] =
    query(url, "SELECT TABLENAME FROM SYS.SYSTABLES " +
      s"WHERE TABLENAME LIKE '${table.toUpperCase}\\_STG\\_%' ESCAPE '\\'")

  private def ledgerIds(url: String, table: String): Seq[Long] =
    query(url, s"SELECT batch_id FROM ${JdbcMerge.LedgerTable} WHERE sink_table = '$table'")
      .map(_.toLong).sorted

  test("three KPI tables round-trip with conflict-key updates; MERGE equals upsertByKey algebra") {
    ddl("CREATE TABLE user_kpis (user_id BIGINT NOT NULL PRIMARY KEY, avg_spend DOUBLE, n_orders BIGINT)")
    ddl("CREATE TABLE shop_kpis (shop_id BIGINT NOT NULL PRIMARY KEY, revenue DOUBLE, n_items BIGINT)")
    ddl("CREATE TABLE date_kpis (day VARCHAR(10) NOT NULL PRIMARY KEY, revenue DOUBLE)")

    val users0 = Seq((1L, 10.0, 2L), (2L, 20.0, 4L), (3L, 30.0, 6L))
      .toDF("user_id", "avg_spend", "n_orders")
    val shops0 = Seq((10L, 100.0, 5L), (20L, 200.0, 7L)).toDF("shop_id", "revenue", "n_items")
    val dates0 = Seq(("2026-01-01", 12.5), ("2026-01-02", 17.5)).toDF("day", "revenue")
    JdbcMerge.mergeInto(users0, url, "user_kpis", Seq("user_id"))
    JdbcMerge.mergeInto(shops0, url, "shop_kpis", Seq("shop_id"))
    JdbcMerge.mergeInto(dates0, url, "date_kpis", Seq("day"))
    assert(readTable("user_kpis").collect().map(_.toSeq).toSet ==
      users0.collect().map(_.toSeq).toSet)
    assert(readTable("shop_kpis").count() == 2 && readTable("date_kpis").count() == 2)

    // second load: keys 2,3 update in place, key 4 inserts
    val users1 = Seq((2L, 25.0, 5L), (3L, 33.0, 7L), (4L, 40.0, 1L))
      .toDF("user_id", "avg_spend", "n_orders")
    JdbcMerge.mergeInto(users1, url, "user_kpis", Seq("user_id"))
    val want = Sinks.upsertByKey(users0, users1, Seq("user_id"))
      .collect().map(_.toSeq).toSet
    assert(readTable("user_kpis").collect().map(_.toSeq).toSet == want,
      "JDBC MERGE diverged from the upsertByKey MERGE algebra")

    // replay the SAME batch: idempotent (the foreachBatch retry contract)
    JdbcMerge.mergeInto(users1, url, "user_kpis", Seq("user_id"))
    assert(readTable("user_kpis").collect().map(_.toSeq).toSet == want)
  }

  test("duplicate keys within one batch are rejected before anything is written") {
    ddl("CREATE TABLE dup_tgt (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    JdbcMerge.mergeInto(Seq((1L, 1.0)).toDF("k", "v"), url, "dup_tgt", Seq("k"))
    val dupes = Seq((2L, 2.0), (2L, 3.0)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      JdbcMerge.mergeInto(dupes, url, "dup_tgt", Seq("k"))
    }
    assert(readTable("dup_tgt").count() == 1, "failed batch must not leave partial rows")
    assert(stagingLeft("dup_tgt").isEmpty, s"staging tables left: ${stagingLeft("dup_tgt")}")
    intercept[IllegalArgumentException] { // hostile identifier never reaches SQL
      JdbcMerge.mergeInto(Seq((1L, 1.0)).toDF("k", "v"), url, "dup_tgt; DROP TABLE x", Seq("k"))
    }
  }

  test("ledgered merge rejects duplicate keys; target, ledger and catalog are unchanged") {
    ddl("CREATE TABLE dup_ledger (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    assert(JdbcMerge.mergeIntoLedgered(Seq((1L, 1.0)).toDF("k", "v"), url, "dup_ledger",
      Seq("k"), batchId = 0L))
    // the duplicate key sits in different partitions, so no single task sees both rows
    val dupes = Seq((2L, 2.0), (3L, 3.0), (2L, 4.0)).toDF("k", "v").repartition(3)
    intercept[IllegalArgumentException] {
      JdbcMerge.mergeIntoLedgered(dupes, url, "dup_ledger", Seq("k"), batchId = 1L)
    }
    assert(readTable("dup_ledger").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 1.0), "a rejected batch changed the target")
    assert(ledgerIds(url, "dup_ledger") == Seq(0L), "a rejected batch was marked applied")
    assert(stagingLeft("dup_ledger").isEmpty,
      s"staging tables left: ${stagingLeft("dup_ledger")}")
    // the rejected id is still free: the corrected batch applies under it
    assert(JdbcMerge.mergeIntoLedgered(Seq((2L, 2.0), (3L, 3.0)).toDF("k", "v"), url,
      "dup_ledger", Seq("k"), batchId = 1L))
    assert(ledgerIds(url, "dup_ledger") == Seq(0L, 1L))
  }

  test("concurrent first use of the ledger: three tables, one batch id, all apply") {
    val fresh = "jdbc:derby:memory:graftledgerrace;create=true"
    val tables = Seq("race_a", "race_b", "race_c")
    val conn = DriverManager.getConnection(fresh)
    try tables.foreach(t => conn.createStatement().execute(
      s"CREATE TABLE $t (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)"))
    finally conn.close()
    val batches = tables.map(t => t -> Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    val start = new java.util.concurrent.CyclicBarrier(tables.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    val applied =
      try batches.map { case (t, b) =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await() // no ledger yet: all three race to create it
            JdbcMerge.mergeIntoLedgered(b, fresh, t, Seq("k"), batchId = 5L)
          }
        })
      }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      finally pool.shutdown()
    assert(applied == Seq(true, true, true))
    assert(query(fresh, s"SELECT sink_table FROM ${JdbcMerge.LedgerTable}").sorted == tables)
    tables.foreach(t => assert(spark.read.jdbc(fresh, t, new java.util.Properties).count() == 2))
  }

  test("a multi-partition 10k-row batch lands through concurrent executor connections") {
    ddl("CREATE TABLE wide_tgt (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    val big = spark.range(0, 10000).repartition(8)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) * 1.5 AS v")
    JdbcMerge.mergeInto(big, url, "wide_tgt", Seq("k"))
    val t = readTable("wide_tgt")
    assert(t.count() == 10000)
    // overlap half the keys with new values, add 1k new
    val upd = spark.range(5000, 11000).repartition(8)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) * 2.0 AS v")
    JdbcMerge.mergeInto(upd, url, "wide_tgt", Seq("k"))
    val got = readTable("wide_tgt")
    assert(got.count() == 11000)
    import org.apache.spark.sql.functions._
    assert(got.filter(col("k") < 5000 && col("v") =!= col("k") * 1.5).count() == 0)
    assert(got.filter(col("k") >= 5000 && col("v") =!= col("k") * 2.0).count() == 0)
  }

  test("writeStream.foreachBatch drives the sink across micro-batches") {
    ddl("CREATE TABLE stream_kpis (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("k", "v").writeStream
      .foreachBatch(JdbcMerge.foreachBatchMerge(url, "stream_kpis", Seq("k")))
      .start()
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      assert(readTable("stream_kpis").count() == 2)
      in.addData((2L, 9.0), (3L, 3.0)) // update + insert in the next batch
      q.processAllAvailable()
      val got = readTable("stream_kpis").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == Map(1L -> 1.0, 2L -> 9.0, 3L -> 3.0))
    } finally q.stop()
  }

  test("ledgered merge is EXACTLY-once: a replayed batch id with DIFFERENT rows is skipped") {
    ddl("CREATE TABLE ledger_kpis (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    val b0 = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    assert(JdbcMerge.mergeIntoLedgered(b0, url, "ledger_kpis", Seq("k"), batchId = 0L),
      "first apply of batch 0 must merge")
    // plain mergeInto would happily re-apply this; the ledger must not —
    // a nondeterministic recompute of batch 0 produced different rows
    val b0Corrupt = Seq((1L, 666.0), (9L, 9.0)).toDF("k", "v")
    assert(!JdbcMerge.mergeIntoLedgered(b0Corrupt, url, "ledger_kpis", Seq("k"), batchId = 0L),
      "replayed batch id must be skipped")
    val got = readTable("ledger_kpis").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 2.0),
      "the replayed batch's rows leaked into the table")
    // a NEW batch id still merges
    assert(JdbcMerge.mergeIntoLedgered(
      Seq((2L, 5.0), (3L, 3.0)).toDF("k", "v"), url, "ledger_kpis", Seq("k"), batchId = 1L))
    assert(readTable("ledger_kpis").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 1.0, 2L -> 5.0, 3L -> 3.0))
    // the ledger is per sink table: the same ids are fresh elsewhere
    ddl("CREATE TABLE ledger_kpis2 (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    assert(JdbcMerge.mergeIntoLedgered(b0, url, "ledger_kpis2", Seq("k"), batchId = 0L))
    assert(readTable("ledger_kpis2").count() == 2)
  }

  test("ledgered foreachBatch: crash-replay with a mutated source cannot double-apply") {
    ddl("CREATE TABLE ledger_stream (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val sink = JdbcMerge.foreachBatchMergeLedgered(url, "ledger_stream", Seq("k"))
    val q = in.toDF().toDF("k", "v").writeStream.foreachBatch(sink).start()
    try {
      in.addData((1L, 1.0)); q.processAllAvailable()
      in.addData((2L, 2.0)); q.processAllAvailable()
    } finally q.stop()
    // simulate the post-crash replay of batch 1 where the recomputed
    // batch no longer matches what was committed
    sink(Seq((2L, 777.0), (8L, 8.0)).toDF("k", "v"), 1L)
    assert(readTable("ledger_stream").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 1.0, 2L -> 2.0))
  }

  test("statement builders: ANSI MERGE vs Postgres ON CONFLICT, same upsert algebra") {
    val cols = Seq("id", "average_spent", "positive_reviews")
    assert(JdbcMerge.mergeStatement("user_kpis", "stg1", cols, Seq("id")) ==
      "MERGE INTO user_kpis t USING stg1 s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET average_spent = s.average_spent, " +
        "positive_reviews = s.positive_reviews " +
        "WHEN NOT MATCHED THEN INSERT (id, average_spent, positive_reviews) " +
        "VALUES (s.id, s.average_spent, s.positive_reviews)")
    assert(JdbcMerge.onConflictStatement("user_kpis", "stg1", cols, Seq("id")) ==
      "INSERT INTO user_kpis (id, average_spent, positive_reviews) " +
        "SELECT id, average_spent, positive_reviews FROM stg1 " +
        "ON CONFLICT (id) DO UPDATE SET average_spent = EXCLUDED.average_spent, " +
        "positive_reviews = EXCLUDED.positive_reviews")
  }

  test("statement builders: composite keys and all-key tables") {
    val cols = Seq("a", "b", "v")
    assert(JdbcMerge.mergeStatement("t1", "s1", cols, Seq("a", "b"))
      .contains("ON t.a = s.a AND t.b = s.b WHEN MATCHED THEN UPDATE SET v = s.v"))
    assert(JdbcMerge.onConflictStatement("t1", "s1", cols, Seq("a", "b"))
      .endsWith("ON CONFLICT (a, b) DO UPDATE SET v = EXCLUDED.v"))
    // all columns are keys: MERGE omits the MATCHED clause, Postgres DOES NOTHING
    assert(!JdbcMerge.mergeStatement("t1", "s1", Seq("a", "b"), Seq("a", "b"))
      .contains("WHEN MATCHED"))
    assert(JdbcMerge.onConflictStatement("t1", "s1", Seq("a", "b"), Seq("a", "b"))
      .endsWith("ON CONFLICT (a, b) DO NOTHING"))
  }

  test("dialect auto-selection: postgres urls take ON CONFLICT, others ANSI MERGE") {
    assert(JdbcMerge.UpsertDialect.forUrl("jdbc:postgresql://host/db") ==
      JdbcMerge.UpsertDialect.PostgresOnConflict)
    assert(JdbcMerge.UpsertDialect.forUrl("jdbc:derby:memory:x") ==
      JdbcMerge.UpsertDialect.AnsiMerge)
    assert(JdbcMerge.UpsertDialect.forUrl("jdbc:oracle:thin:@h:1521:s") ==
      JdbcMerge.UpsertDialect.AnsiMerge)
  }
}
