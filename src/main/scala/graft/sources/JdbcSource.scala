package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

/** JDBC scan with watermark pushdown (SURVEY §2.1 S1/S2, §2.3 C3).
  *
  * The reference builds incremental SQL by hand and pulls rows through a
  * SQLAlchemy cursor (`src/ingestion/data_sources.py:128-164,217-239`).
  * Here the same predicates ride Spark's JDBC source: the watermark
  * filter lands in the pushed-down `query`, so the database — not the
  * cluster — prunes old rows; `numPartitions`+bounds split the read
  * across executors (the reference is single-cursor).
  */
case class JdbcSourceConfig(
    url: String,
    table: String,
    user: String = "",
    password: String = "",
    timestampColumn: String = "updated_at",
    fetchSize: Int = 1000, // reference batch_size (extractors.py:42)
    numPartitions: Int = 8,
    partitionColumn: Option[String] = None,
    lowerBound: Option[String] = None,
    upperBound: Option[String] = None)

object JdbcSource {

  /** Probe SQL for change detection — row count + max timestamp past the
    * watermark, one round trip (`data_sources.py:138-142`). */
  def probeSql(table: String, tsCol: String): String =
    s"SELECT COUNT(*) AS row_count, MAX($tsCol) AS max_timestamp " +
      s"FROM $table WHERE $tsCol > ?"

  /** Incremental extract SQL (`data_sources.py:224-231`): rows past the
    * watermark in timestamp order. */
  def incrementalSql(table: String, tsCol: String, lastTs: String): String =
    s"SELECT * FROM $table WHERE $tsCol > '$lastTs' ORDER BY $tsCol"

  /** Changelog probe for log-based CDC (`data_sources.py:166-209`):
    * unprocessed operations grouped by op code. */
  def changelogSql(table: String): String =
    s"SELECT operation, COUNT(*) AS row_count, " +
      s"MAX(change_timestamp) AS max_timestamp " +
      s"FROM ${table}_changelog WHERE processed = false GROUP BY operation"

  /** Map a changelog op code to a ChangeType
    * (`data_sources.py:188-193`): I/U/D, default UPDATE. */
  def opToChangeType(op: String): String = op match {
    case "I" => graft.core.ChangeType.Insert
    case "D" => graft.core.ChangeType.Delete
    case _ => graft.core.ChangeType.Update
  }

  /** Reader for a full-table scan, parallelized when partition bounds are
    * configured. */
  def reader(spark: SparkSession, cfg: JdbcSourceConfig): DataFrameReader = {
    val base = spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", cfg.table)
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("fetchsize", cfg.fetchSize)
    (cfg.partitionColumn, cfg.lowerBound, cfg.upperBound) match {
      case (Some(c), Some(lo), Some(hi)) =>
        base.option("partitionColumn", c)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", cfg.numPartitions)
      case _ => base
    }
  }

  /** Reader for an incremental extract: the watermark predicate is part
    * of the pushed `query` option — executed inside the database. */
  def incrementalReader(spark: SparkSession, cfg: JdbcSourceConfig,
      lastTs: String): DataFrameReader =
    spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("query", incrementalSql(cfg.table, cfg.timestampColumn, lastTs))
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("fetchsize", cfg.fetchSize)

  def load(spark: SparkSession, cfg: JdbcSourceConfig): DataFrame =
    reader(spark, cfg).load()

  /** S8 load side: write a DataFrame into a warehouse table over JDBC —
    * the loader ABC's `load(df, target_table, mode)` returning a
    * `LoadResult` (reference `src/interfaces/base.py:104-125`). Modes
    * map to Spark save modes (`append` / `overwrite`); `batchsize`
    * bounds each executor's insert round trips the same way `fetchsize`
    * bounds reads. Executors write their partitions in parallel — the
    * reference pushes rows through one cursor. The batch is persisted
    * across the count job and the insert job, so `rowsLoaded` always
    * equals what landed in the warehouse (an uncached plan would
    * re-execute between the two jobs — under any non-deterministic
    * upstream the count and the insert would disagree) and expensive
    * upstream transforms run once, not twice. Load batches are
    * micro-batch-sized (never the warehouse table), so MEMORY_AND_DISK
    * is safe. */
  def write(df: DataFrame, cfg: JdbcSourceConfig,
      mode: String = "append"): graft.core.LoadResult = {
    val t0 = System.nanoTime()
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = pinned.count()
      pinned.write.format("jdbc")
        .option("url", cfg.url)
        .option("dbtable", cfg.table)
        .option("user", cfg.user)
        .option("password", cfg.password)
        .option("batchsize", cfg.fetchSize)
        .mode(mode)
        .save()
      graft.core.LoadResult.since(t0, cfg.table, rows)
    } finally pinned.unpersist()
  }

  private def connect(cfg: JdbcSourceConfig): java.sql.Connection =
    if (cfg.user.nonEmpty)
      java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    else java.sql.DriverManager.getConnection(cfg.url)

  private def tableExists(conn: java.sql.Connection, name: String): Boolean = {
    // ANSI metadata lookup; unquoted DDL identifiers are stored
    // upper-case by Derby/ANSI catalogs, so probe both spellings.
    // getTables takes a LIKE pattern: '_' in a table name is a
    // single-char wildcard and would false-positive on similarly-named
    // tables — escape it with the driver's escape string
    val md = conn.getMetaData
    val esc = md.getSearchStringEscape
    def quote(n: String): String =
      n.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
    Seq(name, name.toUpperCase, name.toLowerCase).exists { n =>
      val rs = md.getTables(null, null, quote(n), Array("TABLE"))
      try rs.next() finally rs.close()
    }
  }

  /** EXACTLY-ONCE warehouse load (the streaming half of S8, reference
    * `src/orchestration/operators.py:336-378` whose loads are fire-and-
    * forget): replaying the same `batchId` leaves the warehouse table
    * byte-identical.
    *
    * Spark's JDBC writer commits per-partition — it cannot be atomic
    * with anything — so the load is STAGE-THEN-PUBLISH:
    *  1. executors bulk-write the batch to `<table>_stage` (overwrite:
    *     re-staging after a crash is harmless, nothing reads the stage
    *     outside step 2);
    *  2. ONE driver-side transaction publishes: with `mergeKeys` empty,
    *     `INSERT INTO target SELECT … FROM stage` (append); with
    *     `mergeKeys` given, UPSERT as delete-then-insert by key —
    *     `DELETE FROM target WHERE EXISTS (stage row with same keys)`
    *     followed by the same INSERT (the reference's declared
    *     warehouse upsert, `design.md:171-181`, done set-based and
    *     ANSI-portable instead of a dialect MERGE) — plus the
    *     `(batch_id, rows)` row into `<table>_batch_ledger`, COMMIT.
    *     The ledger row commits in the SAME transaction as the rows —
    *     there is no state where the data landed but the ledger missed
    *     it (or vice versa), and no state where the delete half of an
    *     upsert survives without its insert half.
    *
    * Replay decision is the ledger, not Spark's checkpoint: a crash
    * after the DB commit but before the streaming checkpoint commit
    * re-delivers the batch, the ledger hit skips it (LoadResult notes
    * the skip), and the table is unchanged. A crash before the commit
    * rolls the transaction back — re-staging + re-publishing sees no
    * partial rows. The stage table is per-target and single-writer
    * (one streaming query per target), matching every sink here.
    * Upsert batches must carry ONE row per key (the micro-batch is the
    * latest state per key — dedup upstream if the source re-delivers).
    *
    * Dialect note: identifiers are quoted through the Spark
    * [[org.apache.spark.sql.jdbc.JdbcDialects]] registry for the URL,
    * but the publish DDL/DML (`CREATE TABLE … AS SELECT … WITH NO
    * DATA`, correlated `DELETE … WHERE EXISTS`) is ANSI SQL — Derby
    * and PostgreSQL dialects; databases without ANSI CTAS (MySQL, SQL
    * Server) need the target table pre-created, after which the
    * INSERT/DELETE/ledger path is standard.
    *
    * INDEX REQUIREMENT (`mergeKeys`): the upsert's correlated
    * `DELETE … WHERE EXISTS` probes the TARGET once per staged row —
    * on a target with an index over the merge keys that is an index
    * probe each; on an UNINDEXED target the database degrades it to a
    * scan of the target per probe (or a full-table nested loop),
    * which at warehouse scale turns a micro-batch publish into hours.
    * Callers MUST ensure a (unique or plain) index/primary key exists
    * over exactly the `mergeKeys` columns — this is a hard operational
    * requirement stated here as API contract, like the ANSI-CTAS
    * dialect restriction below; JdbcIntegrationSpec exercises the
    * indexed path.
    *
    * Scale: step 1 is the same parallel executor write as [[write]]
    * (batches are micro-batch-sized); step 2 is one or two set-based
    * statements inside the database — no row movement through the
    * driver, and the keyed DELETE is an index probe per staged row,
    * not a table scan, on any warehouse with a key index. */
  def writeExactlyOnce(df: DataFrame, cfg: JdbcSourceConfig,
      batchId: Long, mergeKeys: Seq[String] = Nil): graft.core.LoadResult = {
    val t0 = System.nanoTime()
    val stage = s"${cfg.table}_stage"
    val ledger = s"${cfg.table}_batch_ledger"
    val cols = df.columns
    require(mergeKeys.forall(cols.contains),
      s"mergeKeys ${mergeKeys.mkString(",")} must be batch columns")
    val conn = connect(cfg)
    try {
      conn.setAutoCommit(true)
      val st = conn.createStatement()
      try {
        if (!tableExists(conn, ledger))
          st.execute(s"CREATE TABLE $ledger (" +
            "batch_id BIGINT NOT NULL PRIMARY KEY, " +
            "rows_loaded BIGINT NOT NULL, loaded_at TIMESTAMP NOT NULL)")
      } finally st.close()
      val probe = conn.prepareStatement(
        s"SELECT rows_loaded FROM $ledger WHERE batch_id = ?")
      val hit = try {
        probe.setLong(1, batchId)
        val rs = probe.executeQuery()
        try if (rs.next()) Some(rs.getLong(1)) else None finally rs.close()
      } finally probe.close()
      hit match {
        case Some(_) =>
          graft.core.LoadResult.since(t0, cfg.table, 0L,
            errorMessage = Some(s"batch $batchId already loaded; skipped"))
        case None =>
          // 1. parallel bulk write into the stage (overwrite replays fine)
          val staged = write(df, cfg.copy(table = stage), mode = "overwrite")
          // 2. one transaction: rows + ledger row commit together.
          // Spark's JDBC writer creates columns as QUOTED identifiers —
          // quote them through the URL's dialect too, or case folding
          // misses them
          val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(cfg.url)
          val colList = cols.map(dialect.quoteIdentifier).mkString(", ")
          val st2 = conn.createStatement()
          try {
            if (!tableExists(conn, cfg.table))
              st2.execute(s"CREATE TABLE ${cfg.table} AS " +
                s"SELECT $colList FROM $stage WITH NO DATA")
            conn.setAutoCommit(false)
            if (mergeKeys.nonEmpty) {
              // upsert = keyed delete, then the shared insert — both
              // halves inside this transaction
              val matchPred = mergeKeys.map(dialect.quoteIdentifier)
                .map(k => s"s.$k = t.$k").mkString(" AND ")
              st2.execute(s"DELETE FROM ${cfg.table} t WHERE EXISTS (" +
                s"SELECT 1 FROM $stage s WHERE $matchPred)")
            }
            st2.execute(
              s"INSERT INTO ${cfg.table} ($colList) SELECT $colList FROM $stage")
            val ins = conn.prepareStatement(
              s"INSERT INTO $ledger (batch_id, rows_loaded, loaded_at) " +
                "VALUES (?, ?, CURRENT_TIMESTAMP)")
            try {
              ins.setLong(1, batchId)
              ins.setLong(2, staged.rowsLoaded)
              ins.executeUpdate()
            } finally ins.close()
            conn.commit()
          } catch {
            case e: Throwable =>
              try conn.rollback() catch { case _: Throwable => () }
              throw e
          } finally st2.close()
          graft.core.LoadResult.since(t0, cfg.table, staged.rowsLoaded)
      }
    } finally conn.close()
  }
}
