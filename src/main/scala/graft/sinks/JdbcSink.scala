package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, Statement}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types._

/** Streaming JDBC sink via `foreachBatch` with **idempotent upsert** —
  * strictly stronger than the reference's sink path
  * (`ConnectSinkProducer.java:175-190,263-279`: fire-and-forget `send` with
  * a TODO for callbacks, transactions stubbed to no-ops → at-most/at-least
  * once). Here each micro-batch updates the keys that exist in place and
  * inserts the rest, inside one transaction per partition, so replayed
  * batches (at-least-once upstream) converge to exactly-once results in the
  * table.
  *
  * Scale: the upsert runs per PARTITION on the executors (no driver
  * collect); batch statements amortize round-trips. Key skew only matters
  * if the upstream agg is skewed — salt there, not here.
  */
object JdbcSink {

  /** Upsert `df` into `table` keyed on `keyCols`, one transaction per
    * partition: one batched `UPDATE … SET <other columns> WHERE <keys>`,
    * then an `INSERT` of exactly the rows whose update count was 0. A key is
    * never deleted, so its row is rewritten in place. The driver must
    * report per-row update counts; one that answers `SUCCESS_NO_INFO` gets
    * [[JdbcUpdateCountUnknownException]] and the partition rolls back.
    *
    * One row per key per batch: duplicate keys in a single batch would both
    * miss the update and insert twice (PK violation), and the same key on
    * two partitions would race update-vs-insert across concurrent
    * transactions. With `versionCol` set the survivor is the MAX-version
    * row, version ties broken by the ordering of the remaining columns —
    * fully deterministic across retries/replays even when two rows share
    * key AND version (sink columns are all scalar orderable types; `bind`
    * rejects anything else up front). Without it the survivor is
    * arbitrary-winner — fine for the primary use (update-mode aggregates
    * emit one row per key per batch), documented for the rest.
    */
  def upsertBatch(df: DataFrame, url: String, table: String, keyCols: Seq[String],
      versionCol: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.{col, max_by, struct}
    val deduped = versionCol match {
      case Some(v) =>
        val rowAlias = "__graft_upsert_row"
        require(!df.columns.contains(rowAlias),
          s"column name '$rowAlias' is reserved by JdbcSink.upsertBatch")
        val tieBreak = struct((col(v) +: df.columns.filterNot(_ == v).map(col)): _*)
        df.groupBy(keyCols.map(col): _*)
          .agg(max_by(struct(df.columns.map(col): _*), tieBreak).as(rowAlias))
          .select(rowAlias + ".*")
      case None => df.dropDuplicates(keyCols)
    }
    upsertDistinct(deduped, url, table, keyCols)
  }

  private def upsertDistinct(df: DataFrame, url: String, table: String, keyCols: Seq[String]): Unit = {
    graft.SqlIdent.table(table)
    keyCols.foreach(graft.SqlIdent.column)
    val schema = df.schema
    val cols = schema.fields.map(_.name)
    cols.foreach(graft.SqlIdent.column)
    val insertSql = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val keyIdx = keyCols.map(k => schema.fieldIndex(k))
    val valueIdx = cols.indices.filterNot(keyIdx.contains)
    // a key-only table still needs an UPDATE whose count says "exists"
    val setClause =
      if (valueIdx.isEmpty) s"${keyCols.head} = ${keyCols.head}"
      else valueIdx.map(i => s"${cols(i)} = ?").mkString(", ")
    val updateSql = s"UPDATE $table SET $setClause " +
      s"WHERE ${keyCols.map(k => s"$k = ?").mkString(" AND ")}"
    val updateIdx = valueIdx ++ keyIdx

    inTransactions(df, url) { (conn, rows) =>
      val batch = rows.toArray
      val upd = conn.prepareStatement(updateSql)
      batch.foreach { row =>
        updateIdx.zipWithIndex.foreach { case (ci, pi) => bind(upd, pi + 1, schema(ci).dataType, row, ci) }
        upd.addBatch()
      }
      val counts = upd.executeBatch()
      if (counts.contains(Statement.SUCCESS_NO_INFO)) throw new JdbcUpdateCountUnknownException(
        s"jdbc sink: the driver for $url reported SUCCESS_NO_INFO for a batched UPDATE of " +
          s"$table, so the keys to INSERT are unknown; the partition's transaction was rolled back")
      val ins = conn.prepareStatement(insertSql)
      batch.iterator.zip(counts.iterator).foreach { case (row, n) =>
        if (n == 0) {
          cols.indices.foreach(i => bind(ins, i + 1, schema(i).dataType, row, i))
          ins.addBatch()
        }
      }
      ins.executeBatch()
    }
  }

  /** One transaction per non-empty partition of `df`: `write` runs the
    * partition's statements, then one commit; any failure rolls the
    * partition back.
    */
  private def inTransactions(df: DataFrame, url: String)(
      write: (Connection, Iterator[Row]) => Unit): Unit =
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val conn: Connection = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          write(conn, rows)
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally conn.close()
      }
    }

  private def bind(ps: PreparedStatement, pos: Int, dt: DataType, row: Row, idx: Int): Unit =
    if (row.isNullAt(idx)) ps.setObject(pos, null)
    else dt match {
      case IntegerType => ps.setInt(pos, row.getInt(idx))
      case LongType => ps.setLong(pos, row.getLong(idx))
      case DoubleType => ps.setDouble(pos, row.getDouble(idx))
      case FloatType => ps.setFloat(pos, row.getFloat(idx))
      case BooleanType => ps.setBoolean(pos, row.getBoolean(idx))
      case StringType => ps.setString(pos, row.getString(idx))
      case TimestampType => ps.setTimestamp(pos, row.getTimestamp(idx))
      case _: DecimalType => ps.setBigDecimal(pos, row.getDecimal(idx))
      case other => throw new UnsupportedOperationException(s"jdbc sink: $other")
    }

  /** Append-only batch insert (for 1→N record streams like flatMap output
    * where rows have no natural key — reference `DatabaseFlatMap` sink).
    * Single transaction per partition.
    */
  def appendBatch(df: DataFrame, url: String, table: String): Unit = {
    graft.SqlIdent.table(table)
    val schema = df.schema
    val cols = schema.fields.map(_.name)
    cols.foreach(graft.SqlIdent.column)
    val insertSql = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    inTransactions(df, url) { (conn, rows) =>
      val ins = conn.prepareStatement(insertSql)
      rows.foreach { row =>
        cols.indices.foreach(i => bind(ins, i + 1, schema(i).dataType, row, i))
        ins.addBatch()
      }
      ins.executeBatch()
    }
  }

  /** Attach the upsert sink to a streaming DataFrame (update-mode friendly:
    * each batch's changed keys overwrite their previous rows).
    */
  def writeStream(df: DataFrame, url: String, table: String, keyCols: Seq[String],
      checkpointLocation: String, versionCol: Option[String] = None): StreamingQuery =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, url, table, keyCols, versionCol)
      }
      .start()
}

/** The JDBC driver answered a batched UPDATE with `Statement.SUCCESS_NO_INFO`,
  * so the upsert cannot tell which keys already exist.
  */
class JdbcUpdateCountUnknownException(msg: String) extends SQLException(msg)
