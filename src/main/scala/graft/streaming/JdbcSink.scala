package graft.streaming

import java.sql.{DriverManager, SQLException, Types}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}

/** JDBC sink with DDL bootstrap — the Postgres writer's table/index
  * bootstrap and batched append (liq-stream `writer_pg.py:23-57,95-137`).
  * There is one write path, [[appendBatchExactlyOnce]]: one transaction
  * over rows the caller already holds, on the `withBatchId = true` table.
  *
  * The DDL is dialect-parameterized: [[Postgres]] reproduces the reference's
  * exact types (`writer_pg.py:23-36` — string-locked by spec, unexecuted);
  * [[Derby]] targets the embedded engine that ships with Spark, which is how
  * JdbcSinkSpec exercises `ensureSchema` + `appendBatchExactlyOnce` +
  * read-back for real.
  *
  * CLOSED DECISION (round 13, final): the Postgres path cannot be executed
  * in this environment by ANY route — (a) a real/embedded server cannot be
  * vendored (offline coursier cache, zero egress, no new
  * libraryDependencies resolve), and (b) a PG wire-protocol FAKE is equally
  * dead because no PostgreSQL JDBC *client* driver exists on the classpath
  * either (`/opt/spark/jars` ships Derby only; the coursier cache carries no
  * pgjdbc) — there is no client to speak v3 to a fake server. The seam
  * therefore stays as designed: every PG-specific byte (DDL, JSONB raw
  * column, both indexes, the `stringtype=unspecified` connection property)
  * is pinned by JdbcSinkSpec string equality, and the execution path runs
  * against Derby through the same code. On a deployment with pgjdbc present
  * this class needs zero changes. Derby has
  * no `IF NOT EXISTS`, so idempotence is restored by tolerating the
  * already-exists SQLStates — same observable behavior as the reference's
  * `CREATE TABLE IF NOT EXISTS` bootstrap (`writer_pg.py:123-137`).
  *
  * Streaming callers call it from foreachBatch (see
  * [[graft.StreamCli.run]]). It is the reference's flush
  * (`writer_pg.py:187-215`): one connection, one INSERT batched every
  * --pg-batch rows.
  */
object JdbcSink {

  /** SQL dialect knobs the unified-schema DDL needs. */
  sealed trait SqlDialect {
    /** Type for short text columns (keys: exchange/market/symbol/side) —
      * must be indexable in the dialect. */
    def textType: String
    /** Type for unbounded payload text (`raw` carries whole WS frames —
      * a 4 KB bound would reject real captures at insert time). */
    def longTextType: String
    /** `IF NOT EXISTS ` when the dialect supports it, else "". */
    def ifNotExists: String
    /** SQLStates meaning "object already exists", tolerated during
      * bootstrap when the dialect lacks IF NOT EXISTS. */
    def alreadyExistsStates: Set[String]
    /** Identifier quote for column names — "" keeps the reference's
      * unquoted PG DDL byte-identical; Derby needs quoting so the stored
      * column names stay lowercase and match Spark's quoted INSERTs under
      * a case-sensitive session. */
    def quote: String
    final def col(name: String): String = quote + name + quote
    /** Connection properties the dialect REQUIRES for correct binding.
      * Injected by every connection this object opens ([[ensureSchema]],
      * [[appendBatchExactlyOnce]]) via
      * [[withDialectProps]] — a caller-set value for the same key wins,
      * but absence can no longer break the sink. */
    def requiredProps: Map[String, String] = Map.empty
  }

  /** The reference's dialect (`writer_pg.py:23-36`): `raw` is JSONB (the
    * normalizers emit compact JSON strings — PG parses them on insert).
    * pgjdbc binds a `setObject(String)` as VARCHAR, which PG rejects for a
    * JSONB column unless the connection sets `stringtype=unspecified`
    * (server-side coercion, the asyncpg-adaptation analog) — so that
    * property is part of the dialect itself and injected on every
    * connection, not a comment callers must remember to read. */
  case object Postgres extends SqlDialect {
    val textType = "TEXT"
    val longTextType = "JSONB"
    val ifNotExists = "IF NOT EXISTS "
    val alreadyExistsStates = Set.empty[String]
    val quote = ""
    override val requiredProps = Map("stringtype" -> "unspecified")
  }

  /** Embedded Derby (ships with Spark): no TEXT, no IF NOT EXISTS;
    * X0Y32 = object exists, X0Y68 = schema/object exists. Key columns are
    * VARCHAR (LONG VARCHAR is not indexable in Derby); the `raw` payload is
    * LONG VARCHAR (32,700 chars) so whole WS frames longer than 4 KB don't
    * fail the insert. */
  case object Derby extends SqlDialect {
    val textType = "VARCHAR(4096)"
    val longTextType = "LONG VARCHAR"
    val ifNotExists = ""
    val alreadyExistsStates = Set("X0Y32", "X0Y68")
    val quote = "\""
  }

  /** Unified-schema DDL — port of `writer_pg.py:23-36` (types) and `:38-57`
    * (the two serving indexes: time scan + composite lookup).
    *
    * `withBatchId = true` adds a `batch_id BIGINT` column and its index —
    * the deliberate schema extension [[appendBatchExactlyOnce]] needs (the
    * reference's table has no such column because its writer is
    * at-most-once, `writer_pg.py:211-215`); the default keeps the
    * reference's PG DDL byte-identical. */
  def ddl(table: String, dialect: SqlDialect = Postgres,
      withBatchId: Boolean = false): Seq[String] = {
    val t = dialect.textType
    val ine = dialect.ifNotExists
    def c(n: String) = dialect.col(n)
    val batchCol = if (withBatchId) s"  ${c("batch_id")} BIGINT,\n" else ""
    Seq(
      s"""CREATE TABLE $ine$table (
         |$batchCol  ${c("exchange")} $t NOT NULL,
         |  ${c("market")} $t NOT NULL,
         |  ${c("symbol")} $t NOT NULL,
         |  ${c("side")} $t,
         |  ${c("qty")} DOUBLE PRECISION,
         |  ${c("price")} DOUBLE PRECISION,
         |  ${c("notional")} DOUBLE PRECISION,
         |  ${c("ts_exch_ms")} BIGINT,
         |  ${c("ts_ingest_ms")} BIGINT,
         |  ${c("raw")} ${dialect.longTextType}
         |)""".stripMargin,
      s"CREATE INDEX $ine${idxName(table, "ts")} ON $table (${c("ts_exch_ms")})",
      s"CREATE INDEX $ine${idxName(table, "sym_ts")} ON $table (${c("exchange")}, ${c("market")}, ${c("symbol")}, ${c("ts_exch_ms")})",
    ) ++ (if (withBatchId)
      Seq(s"CREATE INDEX $ine${idxName(table, "bid")} ON $table (${c("batch_id")})")
    else Nil)
  }

  /** Index naming is the reference's (`writer_pg.py:152-153`): the BARE
    * table name (schema qualifier dropped) + `_ts_idx` / `_sym_ts_idx`. */
  private def idxName(table: String, suffix: String): String =
    table.split('.').last.replaceAll("[^A-Za-z0-9_]", "_") +
      "_" + suffix + "_idx"

  /** The caller's properties with the dialect's [[SqlDialect.requiredProps]]
    * filled in underneath (a caller-set key is never overridden). The
    * original Properties object is never mutated. Copies via
    * `propertyNames()`/`getProperty` — NOT `putAll`, which sees only the
    * Hashtable view and would silently drop the defaults of a Properties
    * built with `new Properties(defaults)`. */
  def withDialectProps(props: java.util.Properties,
      dialect: SqlDialect): java.util.Properties = {
    val merged = new java.util.Properties()
    val names = props.propertyNames()
    while (names.hasMoreElements) {
      val k = names.nextElement().toString
      merged.setProperty(k, props.getProperty(k)): Unit
    }
    dialect.requiredProps.foreach { case (k, v) =>
      if (!merged.containsKey(k)) merged.setProperty(k, v): Unit
    }
    merged
  }

  /** One-time DDL bootstrap over a plain JDBC connection
    * (`writer_pg.py:123-137`). Idempotent: IF NOT EXISTS where the dialect
    * has it, tolerated already-exists SQLStates where it doesn't. */
  def ensureSchema(url: String, table: String, props: java.util.Properties,
      dialect: SqlDialect, withBatchId: Boolean = false): Unit = {
    val conn = DriverManager.getConnection(url, withDialectProps(props, dialect))
    try {
      val st = conn.createStatement()
      try ddl(table, dialect, withBatchId).foreach { sql =>
        try st.execute(sql)
        catch {
          case e: SQLException
              if dialect.alreadyExistsStates.contains(e.getSQLState) => ()
        }
      }
      finally st.close()
    } finally conn.close()
  }

  /** Exactly-once micro-batch append: a retried batch REPLACES its own
    * rows instead of duplicating them. Structured Streaming re-runs a
    * foreachBatch with the same `batchId` after a failure; deleting that
    * batch's rows first makes the append idempotent, and committed batches
    * are never re-executed, so their rows are never touched. This is the
    * standard rung above a plain append's at-least-once (the reference is
    * at-most-once: failed batches are logged and dropped,
    * `writer_pg.py:211-215`). Requires the `withBatchId = true` schema.
    *
    * `df` is collected: pass a batch already held in memory (a local
    * relation collects without a Spark job). One connection runs
    * one transaction: `DELETE … WHERE batch_id = ?`, then one INSERT
    * prepared once and flushed every `batchSize` rows, then commit. Any
    * error rolls the whole batch back, the delete included, so a failed
    * replay leaves the earlier attempt's rows in place. */
  def appendBatchExactlyOnce(df: DataFrame, batchId: Long, url: String,
      table: String, props: java.util.Properties, batchSize: Int = 500,
      dialect: SqlDialect): Unit = {
    val fields = df.schema.fields
    val rows = df.collect()
    val cols = ("batch_id" +: fields.map(_.name).toSeq).map(dialect.col)
    val conn = DriverManager.getConnection(url, withDialectProps(props, dialect))
    try {
      conn.setAutoCommit(false)
      try {
        val del = conn.prepareStatement(
          s"DELETE FROM $table WHERE ${dialect.col("batch_id")} = ?")
        try { del.setLong(1, batchId); del.executeUpdate() } finally del.close()
        val ins = conn.prepareStatement(s"INSERT INTO $table (" +
          cols.mkString(", ") + ") VALUES (" + cols.map(_ => "?").mkString(", ") + ")")
        try rows.grouped(batchSize).foreach { chunk =>
          chunk.foreach { r =>
            ins.setLong(1, batchId)
            fields.indices.foreach { i =>
              if (r.isNullAt(i)) ins.setNull(i + 2, sqlType(fields(i).dataType))
              else ins.setObject(i + 2, r.get(i))
            }
            ins.addBatch()
          }
          ins.executeBatch()
        } finally ins.close()
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case r: SQLException => e.addSuppressed(r) }
          throw e
      }
    } finally conn.close()
  }

  /** JDBC type of a NULL bound for a unified-schema column. */
  private def sqlType(dt: DataType): Int = dt match {
    case StringType => Types.VARCHAR
    case DoubleType => Types.DOUBLE
    case LongType => Types.BIGINT
    case other => throw new IllegalArgumentException(s"no JDBC binding for $other")
  }
}
