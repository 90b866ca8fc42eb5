package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, when, length}
import org.apache.spark.sql.types._

/** Errors mirroring the reference's failure modes. */
final case class NotAResource(path: Seq[String]) extends IllegalArgumentException(
  s"destination path must be exactly one segment, got: ${path.mkString("/")}")

final case class ColumnTypesNotSupported(types: List[ColType]) extends IllegalArgumentException(
  s"unsupported column types: ${types.map(_.name).mkString(", ")}")

/** The H2 overwrite sink — the Spark-native re-expression of the
  * reference's entire data path (`H2CsvCreateSink.apply`,
  * H2CsvCreateSink.scala:37–64):
  *
  *   reference                         | here
  *   ----------------------------------|----------------------------------
  *   path must be one segment (:66–70) | [[validateTableName]]
  *   per-column type check, all errors
  *     accumulated (:72–83)            | [[validateColumns]]
  *   columnTypeToH2 (:85–99)           | [[ColType.toH2Ddl]] / [[ddl]]
  *   spool CSV + CSVREAD CTAS (:50–58) | executor-parallel batched INSERTs
  *   DROP TABLE IF EXISTS + CREATE
  *     (:55–58, 125–126)               | explicit DDL (exact H2 types) then Append
  *   hygienicIdent (package.scala:42)  | [[H2Dialect.quoteIdentifier]]
  *   empty CSV field ⇒ NULL
  *     (H2DestinationSpec.scala:253)   | [[emptyStringsAsNull]]
  *
  * Scale: the reference loads over ONE connection; Spark's JDBC writer
  * opens one connection per partition with `batchsize`d inserts. For a
  * single-node H2 target, `numPartitions` caps fan-in at the reference's
  * pool size (10). Overwrite is DROP+CREATE over one admin connection
  * (same weak atomicity as the reference — H2 auto-commits DDL) followed
  * by a Spark JDBC Append of the data.
  */
object H2Sink {

  val DefaultNumPartitions = 10   // reference ConnectionPoolSize (H2DestinationModule.scala:52)
  val DefaultBatchSize = 10000

  /** Reference rule: destination path is exactly one segment. */
  def validateTableName(path: Seq[String]): String = path match {
    case Seq(one) if one.nonEmpty => one
    case other                    => throw NotAResource(other)
  }

  /** Accumulate ALL unsupported column types before failing. */
  def validateColumns(cols: Seq[(String, ColType)]): Seq[(String, String)] = {
    val (bad, good) = cols.partitionMap { case (n, t) =>
      ColType.toH2Ddl(t) match {
        case Left(unsupported) => Left(unsupported)
        case Right(ddl)        => Right(n -> ddl)
      }
    }
    if (bad.nonEmpty) throw ColumnTypesNotSupported(bad.toList.distinct)
    good
  }

  /** `createTableColumnTypes` option value for a declared column list. */
  def ddl(cols: Seq[(String, ColType)]): String =
    validateColumns(cols).map { case (n, t) =>
      s"${H2Dialect.quoteIdentifier(n)} $t"
    }.mkString(", ")

  /** DDL derived from a DataFrame's Spark schema (undeclared push). */
  def ddlFromSchema(schema: StructType): String =
    ddl(schema.fields.toSeq.map(f => f.name -> ColType.fromSpark(f.dataType)))

  /** Reference semantics: an empty string loads as SQL NULL
    * (H2 CSVREAD behavior, asserted in H2DestinationSpec.scala:253–263). */
  def emptyStringsAsNull(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (f.dataType != StringType) c
      else when(length(c) === 0, null).otherwise(c).as(f.name)
    }: _*)

  /** Open one admin connection by instantiating the configured driver
    * directly (the same thing Spark's `DriverRegistry` does) — no
    * `DriverManager` registration dance, and a missing jar fails with the
    * driver class name in the message. */
  private def connect(config: H2Config): java.sql.Connection = {
    val d = Class.forName(config.driverClass).getDeclaredConstructor()
      .newInstance().asInstanceOf[java.sql.Driver]
    val c = d.connect(config.jdbcUrl, new java.util.Properties)
    if (c == null)
      throw new java.sql.SQLException(
        s"driver ${config.driverClass} does not accept ${config.jdbcUrl}")
    c
  }

  /** Explicit init-time connection probe mirroring the reference's
    * `validateConnection` (H2DestinationModule.scala:75–81): fail
    * destination setup on `Connection.isValid(10 s)` rather than at the
    * first write. Left carries the init error (driver jar missing from
    * the classpath, or the probe connection invalid/refused). */
  def validate(config: H2Config, timeoutSeconds: Int = 10): Either[String, Unit] = {
    // LinkageError too: a driver jar whose static init throws (or with a
    // missing transitive class) must also come back as Left — NonFatal in
    // the probe below would not catch it.
    val loadError: Option[String] =
      try { Class.forName(config.driverClass); None }
      catch {
        case _: ClassNotFoundException =>
          Some(s"JDBC driver ${config.driverClass} is not on the classpath")
        case e: LinkageError =>
          Some(s"JDBC driver ${config.driverClass} failed to load: $e")
      }
    if (loadError.isDefined)
      Left(loadError.get)
    else
      try {
        val c = connect(config)
        try {
          if (c.isValid(timeoutSeconds)) Right(())
          else Left(s"connection to ${config.sanitized.jdbcUrl} failed validation (isValid=false)")
        } finally c.close()
      } catch {
        // Any init failure (bad driver class shape, connect() throwing a
        // runtime exception, SQLException) is a Left — callers pattern
        // -match on the Either and must never see a thrown exception.
        case scala.util.control.NonFatal(e) =>
          Left(s"connection to ${config.sanitized.jdbcUrl} failed: ${e.getMessage}")
      }
  }

  /** Push `df` to H2 table `table` with full-overwrite semantics.
    *
    * DDL runs on ONE admin connection with exact H2 types — the analog of
    * the reference's `dropTableIfExistsQuery` + `createTableQuery`
    * (H2CsvCreateSink.scala:106–126). It is deliberately NOT Spark's
    * `createTableColumnTypes` option: that option is parsed as SPARK SQL
    * types (backtick idents, no `TIME(9)`/`WITH TIME ZONE`), so
    * H2-specific DDL can't pass through it. The data load then appends
    * through Spark's JDBC writer — one connection per partition, batched
    * inserts, idents quoted by [[H2Dialect]]. */
  def write(df: DataFrame, table: String, config: H2Config,
            declared: Option[Seq[(String, ColType)]] = None): Unit = {
    H2Dialect.register()
    val name = validateTableName(table.split('/').toSeq.filter(_.nonEmpty))
    val cols = declared.getOrElse(
      df.schema.fields.toSeq.map(f => f.name -> ColType.fromSpark(f.dataType)))
    val columnDdl = ddl(cols)   // validates, accumulating ALL bad columns
    val qName = H2Dialect.quoteIdentifier(name)
    // The admin connection stays open across the Append: for in-memory
    // targets (`h2:mem:` without DB_CLOSE_DELAY=-1) closing the last
    // connection destroys the database — and with it the just-created
    // table, which Spark would then silently re-create with
    // Spark-inferred types instead of the exact H2 DDL.
    val conn = connect(config)
    try {
      val st = conn.createStatement()
      try {
        st.executeUpdate(s"DROP TABLE IF EXISTS $qName")
        st.executeUpdate(s"CREATE TABLE $qName ($columnDdl)")
      } finally st.close()
      emptyStringsAsNull(df).write
        .format("jdbc")
        .mode(SaveMode.Append)
        .option("url", config.jdbcUrl)
        .option("driver", config.driverClass)
        .option("dbtable", qName)
        .option("numPartitions", config.numPartitions)
        .option("batchsize", config.batchSize)
        .option("isolationLevel", "READ_COMMITTED")
        .save()
    } finally conn.close()
  }

  /** Streaming micro-batch push with true idempotency: load into a
    * batchId-tagged staging table via [[write]], then swap it in (DROP old
    * target + RENAME staging→target) on an admin connection. A re-delivered
    * batchId rebuilds the SAME staging table from the same data and re-runs
    * the same swap, leaving the target identical; a crash mid-LOAD leaves
    * the previous target untouched (the staging table is the only partial
    * state, and the next attempt DROP+CREATEs it). Per micro-batch this is
    * the reference's overwrite semantics (H2CsvCreateSink.scala:106–126).
    *
    * The swap itself is NOT atomic — H2 auto-commits DDL and offers no
    * rename-over — so a crash BETWEEN the DROP and the RENAME leaves no
    * target table visible until the micro-batch is replayed, and a
    * concurrent reader can observe that missing-table window. Readers that
    * must tolerate a restarting stream should treat "table not found" as
    * retry-able. (Same exposure as the reference's own
    * dropTableIfExistsQuery-then-CTAS sequence.)
    *
    * After a successful swap, staging siblings (`<name>__stage_b*`) left
    * behind by batches that crashed mid-load and were never retried (a
    * restarted-from-checkpoint stream replays the SAME batchId and cleans
    * its own table; an abandoned stream doesn't) are dropped, so a
    * months-running target accumulates no junk. Single writer per target
    * assumed — the streaming-sink contract. */
  def writeBatch(df: DataFrame, table: String, batchId: Long, config: H2Config): Unit = {
    val name = validateTableName(table.split('/').toSeq.filter(_.nonEmpty))
    val stagePrefix = s"${name}__stage_b"
    val staging = s"$stagePrefix$batchId"
    val qName = H2Dialect.quoteIdentifier(name)
    val qStaging = H2Dialect.quoteIdentifier(staging)
    // Held open across write(): for `h2:mem:` targets the database dies
    // with its last connection, and write()'s own admin connection closes
    // before the swap below runs.
    val conn = connect(config)
    try {
      write(df, staging, config)
      val st = conn.createStatement()
      try {
        st.executeUpdate(s"DROP TABLE IF EXISTS $qName")
        st.executeUpdate(s"ALTER TABLE $qStaging RENAME TO $qName")
        // GC: our staging table was just renamed away, so every remaining
        // `<name>__stage_b<digits>` is an abandoned leftover. Exact-prefix
        // match via SUBSTRING (not LIKE) so wildcard chars in an
        // adversarial table name can never over-match; the suffix must
        // then be pure digits (a batchId this writer could have minted) —
        // an unrelated table that merely shares the prefix text (e.g. a
        // user's `t__stage_backup`, or another target named
        // `t__stage_b2_copy` and its own staging family) is never
        // touched. Catalog predicates bound it to real tables in the
        // current schema so a matching VIEW or another schema's table
        // can't make the post-swap DROP throw and wedge the stream.
        val rs = st.executeQuery(
          s"SELECT TABLE_NAME FROM INFORMATION_SCHEMA.TABLES WHERE " +
          s"SUBSTRING(TABLE_NAME, 1, ${stagePrefix.length}) = '${stagePrefix.replace("'", "''")}' " +
          s"AND TABLE_SCHEMA = SCHEMA() AND TABLE_TYPE = 'BASE TABLE'")
        val stale = scala.collection.mutable.ListBuffer.empty[String]
        try { while (rs.next()) stale += rs.getString(1) } finally rs.close()
        stale
          .filter(t => t.length > stagePrefix.length &&
            t.substring(stagePrefix.length).forall(_.isDigit))
          .foreach(t => st.executeUpdate(s"DROP TABLE IF EXISTS ${H2Dialect.quoteIdentifier(t)}"))
      } finally st.close()
    } finally conn.close()
  }

  /** Does `qName` (already-quoted) exist? Probed with a zero-row SELECT —
    * works on real H2 and on the recording stack alike. */
  private def tableExists(st: java.sql.Statement, qName: String): Boolean =
    try { st.executeQuery(s"SELECT 1 FROM $qName WHERE 1=0").close(); true }
    catch { case _: java.sql.SQLException => false }

  /** Bind one merge/delete parameter. The sink's value vocabulary is the
    * rollup schema: integral/floating numbers, booleans, strings, NULL.
    * Non-finite doubles bind as NULL (same contract the old literal
    * renderer had — H2 DOUBLE has no NaN). */
  private def setParam(ps: java.sql.PreparedStatement, i: Int, v: Any): Unit = v match {
    case null          => ps.setNull(i, java.sql.Types.NULL)
    case s: String     => ps.setString(i, s)
    case b: Boolean    => ps.setBoolean(i, b)
    case d: Double     =>
      if (d.isNaN || d.isInfinite) ps.setNull(i, java.sql.Types.DOUBLE) else ps.setDouble(i, d)
    case f: Float      => setParam(ps, i, f.toDouble)
    case l: Long       => ps.setLong(i, l)
    case n: Int        => ps.setInt(i, n)
    case n: Short      => ps.setShort(i, n)
    case n: Byte       => ps.setByte(i, n)
    case bd: java.math.BigDecimal  => ps.setBigDecimal(i, bd)
    case bd: scala.math.BigDecimal => ps.setBigDecimal(i, bd.bigDecimal)
    case other => throw new IllegalArgumentException(
      s"unsupported merge parameter ${other.getClass.getName}")
  }

  /** Continuous keyed UPSERT into H2 — the sink the reference never had
    * (its single sink is full-overwrite CSVREAD CTAS, SURVEY §2.2): one
    * micro-batch's TOUCHED groups land as H2 `MERGE INTO … KEY (…)`
    * upserts plus keyed DELETEs for fully-retracted groups, exactly once.
    *
    * Exactly-once protocol, H2-side: a meta table `<table>__merge_meta`
    * records every applied batchId; the sink reads MAX(last_batch) on the
    * SAME connection before emitting anything, so a replayed micro-batch
    * (foreachBatch is at-least-once) finds its id applied and emits
    * NOTHING. All DML of a batch — deletes, merges, the meta row — runs
    * in ONE transaction (autocommit off, single commit): a crash anywhere
    * leaves either the pre-batch state (the replay re-applies cleanly) or
    * the post-batch state (the replay no-ops); H2 auto-commits only the
    * one-time CREATEs, which are existence-guarded. Returns true if the
    * batch was applied, false if it was a recognized replay.
    *
    * `upserts` rows carry key values ++ value values (in `keyCols` ++
    * `valCols` order); `deletes` rows carry key values. The DML ships as
    * ONE prepared MERGE and ONE prepared DELETE with addBatch/
    * executeBatch — two driver round trips per micro-batch regardless of
    * how many groups it touched — over the one admin connection, which
    * is the correct fan-in for a single-node H2 target. */
  def mergeBatch(
      table: String, batchId: Long, config: H2Config,
      keyCols: Seq[(String, ColType)], valCols: Seq[(String, ColType)],
      upserts: Seq[Seq[Any]], deletes: Seq[Seq[Any]]): Boolean = {
    H2Dialect.register()
    val name = validateTableName(table.split('/').toSeq.filter(_.nonEmpty))
    val qName = H2Dialect.quoteIdentifier(name)
    val meta = s"${name}__merge_meta"
    val qMeta = H2Dialect.quoteIdentifier(meta)
    val qBatchCol = H2Dialect.quoteIdentifier("last_batch")
    val allCols = keyCols ++ valCols
    val qCols = allCols.map(c => H2Dialect.quoteIdentifier(c._1))
    val qKeys = keyCols.map(c => H2Dialect.quoteIdentifier(c._1))
    val conn = connect(config)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        if (!tableExists(st, qMeta)) {
          if (!tableExists(st, qName))
            st.executeUpdate(s"CREATE TABLE $qName (${ddl(allCols)})")
          st.executeUpdate(s"CREATE TABLE $qMeta ($qBatchCol BIGINT)")
        }
        val last: Long = {
          val rs = st.executeQuery(s"SELECT $qBatchCol FROM $qMeta")
          try {
            var m = -1L
            while (rs.next()) { val v = rs.getString(1); if (v != null) m = math.max(m, v.toLong) }
            m
          } finally rs.close()
        }
        if (last >= batchId) { conn.rollback(); return false }
        // ONE prepared DELETE and ONE prepared MERGE, addBatch-ed per
        // touched group and flushed with a single executeBatch each: two
        // driver round trips per micro-batch instead of one per group —
        // the path that stays flat when a batch touches 10⁵ groups — and
        // zero literal splicing. The delete predicate is null-safe
        // ("k = ? OR (k IS NULL AND ? IS NULL)") because a rollup group
        // key can legitimately be NULL; a plain "k = ?" would silently
        // never match it.
        if (deletes.nonEmpty) {
          val pred = qKeys.map(q => s"($q = ? OR ($q IS NULL AND ? IS NULL))")
            .mkString(" AND ")
          val ps = conn.prepareStatement(s"DELETE FROM $qName WHERE $pred")
          try {
            deletes.foreach { key =>
              key.zipWithIndex.foreach { case (v, i) =>
                setParam(ps, 2 * i + 1, v); setParam(ps, 2 * i + 2, v)
              }
              ps.addBatch()
            }
            ps.executeBatch()
          } finally ps.close()
        }
        if (upserts.nonEmpty) {
          val ps = conn.prepareStatement(
            s"MERGE INTO $qName (${qCols.mkString(", ")}) KEY (${qKeys.mkString(", ")}) " +
              s"VALUES (${allCols.map(_ => "?").mkString(", ")})")
          try {
            upserts.foreach { row =>
              row.zipWithIndex.foreach { case (v, i) => setParam(ps, i + 1, v) }
              ps.addBatch()
            }
            ps.executeBatch()
          } finally ps.close()
        }
        // Meta row through a prepared insert (the transactional DML half
        // of the fence; MAX over the rows is the applied watermark).
        val ps = conn.prepareStatement(s"INSERT INTO $qMeta ($qBatchCol) VALUES (?)")
        try { ps.setLong(1, batchId); ps.addBatch(); ps.executeBatch() } finally ps.close()
        conn.commit()
        true
      } finally st.close()
    } finally conn.close()
  }

  /** Read a table back from H2 (the reference reads back only in tests;
    * for us it is a first-class source). */
  def read(spark: org.apache.spark.sql.SparkSession, table: String,
           config: H2Config): DataFrame = {
    H2Dialect.register()
    spark.read.format("jdbc")
      .option("url", config.jdbcUrl)
      .option("driver", config.driverClass)
      .option("dbtable", H2Dialect.quoteIdentifier(table))
      .load()
  }
}
