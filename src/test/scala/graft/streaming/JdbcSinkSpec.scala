package graft.streaming

import java.util.Properties

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.normalize.{Fixtures, Normalizers}

/** Exercises the JDBC sink for real against embedded Derby (ships with
  * Spark): DDL bootstrap idempotence, the one-transaction batched append,
  * and read-back — the executable twin of the Postgres path
  * (liq-stream `writer_pg.py:95-137`), which stays string-identical but
  * has no database to run against in this environment. */
class JdbcSinkSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val props = new Properties()

  test("PG dialect DDL is unchanged from the reference's writer_pg.py") {
    val stmts = JdbcSink.ddl("public.liquidations")
    assert(stmts.head.startsWith("CREATE TABLE IF NOT EXISTS public.liquidations"))
    // the reference's exact column list and types (writer_pg.py:23-36) —
    // the full unified schema in order, raw as JSONB (not TEXT)
    val cols = Seq(
      "exchange TEXT NOT NULL", "market TEXT NOT NULL",
      "symbol TEXT NOT NULL", "side TEXT",
      "qty DOUBLE PRECISION", "price DOUBLE PRECISION",
      "notional DOUBLE PRECISION",
      "ts_exch_ms BIGINT", "ts_ingest_ms BIGINT", "raw JSONB")
    cols.foreach(c => assert(stmts.head.contains(c), s"missing column: $c"))
    assert(cols.map(c => stmts.head.indexOf(c)).sliding(2)
      .forall { case Seq(a, b) => a >= 0 && a < b },
      "columns must appear in the reference's order")
    // the two serving indexes with the reference's names (idx_time and
    // idx_sym_time derive from the BARE table name, writer_pg.py:152-153)
    assert(stmts(1) ==
      "CREATE INDEX IF NOT EXISTS liquidations_ts_idx ON public.liquidations (ts_exch_ms)")
    assert(stmts(2) ==
      "CREATE INDEX IF NOT EXISTS liquidations_sym_ts_idx ON public.liquidations (exchange, market, symbol, ts_exch_ms)")
    assert(stmts.size == 3, "the default DDL is table + exactly two indexes")
  }

  test("pg dialect: stringtype=unspecified is injected, caller overrides win") {
    // Spark's JDBC writer binds strings as VARCHAR; PG rejects VARCHAR →
    // JSONB unless the connection carries stringtype=unspecified. The
    // dialect now owns that requirement: every connection the sink opens
    // gets it injected, so the raw JSONB column can't fail on a default
    // connection because a caller didn't read a comment.
    assert(JdbcSink.Postgres.requiredProps == Map("stringtype" -> "unspecified"))
    assert(JdbcSink.Derby.requiredProps.isEmpty)
    val empty = new java.util.Properties()
    val merged = JdbcSink.withDialectProps(empty, JdbcSink.Postgres)
    assert(merged.getProperty("stringtype") == "unspecified")
    assert(empty.getProperty("stringtype") == null,
      "the caller's Properties object must not be mutated")
    // an explicit caller choice is never overridden
    val custom = new java.util.Properties()
    custom.setProperty("stringtype", "varchar")
    assert(JdbcSink.withDialectProps(custom, JdbcSink.Postgres)
      .getProperty("stringtype") == "varchar")
    // a Properties built over a DEFAULTS table keeps its defaults: the
    // copy walks propertyNames()/getProperty, not the Hashtable view
    // (putAll would silently drop `user` here)
    val defaults = new java.util.Properties()
    defaults.setProperty("user", "svc")
    val layered = new java.util.Properties(defaults)
    layered.setProperty("password", "pw")
    val m2 = JdbcSink.withDialectProps(layered, JdbcSink.Postgres)
    assert(m2.getProperty("user") == "svc" && m2.getProperty("password") == "pw")
    assert(m2.getProperty("stringtype") == "unspecified")
  }

  test("derby: ensureSchema is idempotent, appendBatchExactlyOnce round-trips") {
    val tbl = "liq_events"
    JdbcSink.ensureSchema(url, tbl, props, JdbcSink.Derby, withBatchId = true)
    // second bootstrap must be a no-op (IF NOT EXISTS semantics via
    // tolerated already-exists SQLStates)
    JdbcSink.ensureSchema(url, tbl, props, JdbcSink.Derby, withBatchId = true)

    import spark.implicits._
    val unified = Normalizers.binance(
      Fixtures.binance.toDF("raw"), "usdt",
      ingestMs = org.apache.spark.sql.functions.lit(0L))
    val expected = unified.count()
    assert(expected > 0)

    JdbcSink.appendBatchExactlyOnce(unified, 0L, url, tbl, props,
      batchSize = 2, dialect = JdbcSink.Derby)
    // second batch: the append must not truncate
    JdbcSink.appendBatchExactlyOnce(unified, 1L, url, tbl, props,
      batchSize = 2, dialect = JdbcSink.Derby)

    val back = spark.read.jdbc(url, tbl, props)
    assert(back.count() == expected * 2)
    assert(back.columns.toSeq == Seq("batch_id", "exchange", "market",
      "symbol", "side", "qty", "price", "notional", "ts_exch_ms",
      "ts_ingest_ms", "raw"))
    assert(back.filter(col("exchange") === "binance").count() == expected * 2)
    // null pattern survives the round-trip (fixtures include a zero-qty
    // event whose notional is null by design)
    val nullsIn = unified.filter(col("notional").isNull).count()
    assert(back.filter(col("notional").isNull).count() == nullsIn * 2)
  }

  test("derby: exactly-once append — a replayed batch replaces its own rows") {
    val tbl = "liq_eo"
    JdbcSink.ensureSchema(url, tbl, props, JdbcSink.Derby, withBatchId = true)
    import spark.implicits._
    val unified = Normalizers.binance(
      Fixtures.binance.toDF("raw"), "usdt",
      ingestMs = org.apache.spark.sql.functions.lit(0L))
    val n = unified.count()
    def eo(batchId: Long) = JdbcSink.appendBatchExactlyOnce(
      unified, batchId, url, tbl, props, dialect = JdbcSink.Derby)
    eo(0L)
    // checkpoint replay of batch 0 (e.g. crash between sink commit and
    // offset commit): the rows are replaced, never duplicated
    eo(0L)
    assert(spark.read.jdbc(url, tbl, props).count() == n)
    // a genuinely new batch appends
    eo(1L)
    val back = spark.read.jdbc(url, tbl, props)
    assert(back.count() == 2 * n)
    assert(back.filter(col("batch_id") === 0L).count() == n)
    // where a plain append would have duplicated batch 2, its replay
    // replaces only its own rows: batches 0 and 1 are untouched
    eo(2L)
    eo(2L)
    assert(back.groupBy("batch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> n, 1L -> n, 2L -> n))
  }

  test("derby: a failed replay rolls back its delete, the first attempt's rows stay") {
    val tbl = "liq_eo_rollback"
    JdbcSink.ensureSchema(url, tbl, props, JdbcSink.Derby, withBatchId = true)
    import spark.implicits._
    val unified = Normalizers.binance(
      Fixtures.binance.toDF("raw"), "usdt",
      ingestMs = org.apache.spark.sql.functions.lit(0L))
    JdbcSink.appendBatchExactlyOnce(unified, 0L, url, tbl, props,
      dialect = JdbcSink.Derby)
    def rows() = spark.read.jdbc(url, tbl, props).collect().map(_.toSeq)
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val first = rows()
    // the replay carries the batch again, then one row that breaks the
    // NOT NULL on symbol; with batchSize = 2 some inserts run before it
    val bad = unified.limit(1)
      .withColumn("symbol", org.apache.spark.sql.functions.lit(null).cast("string"))
    intercept[Exception](JdbcSink.appendBatchExactlyOnce(
      unified.unionByName(bad).coalesce(1), 0L, url, tbl, props, batchSize = 2,
      dialect = JdbcSink.Derby))
    assert(rows() == first, "the failed replay must leave batch 0 as committed")
  }

  test("derby: raw frames longer than 4 KB insert (LONG VARCHAR payload column)") {
    // real WS frames (a full !forceOrder@arr array) routinely exceed 4 KB —
    // the payload column must not carry a VARCHAR(4096) bound
    val tbl = "liq_longraw"
    JdbcSink.ensureSchema(url, tbl, props, JdbcSink.Derby, withBatchId = true)
    import spark.implicits._
    val bigRaw = "x" * 20000
    val row = Seq(("binance", "usdt", "BTCUSDT", "long", 1.0, 2.0, 2.0,
      1L, 0L, bigRaw))
      .toDF("exchange", "market", "symbol", "side", "qty", "price",
        "notional", "ts_exch_ms", "ts_ingest_ms", "raw")
    JdbcSink.appendBatchExactlyOnce(row, 0L, url, tbl, props,
      dialect = JdbcSink.Derby)
    val back = spark.read.jdbc(url, tbl, props)
    assert(back.count() == 1)
    assert(back.select("raw").head.getString(0).length == 20000)
  }
}
