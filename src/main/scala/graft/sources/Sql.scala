package graft.sources

import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet, Types}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.ops.Errors

/** SQL connector family (SURVEY.md §2.2/§2.3; reference:
  * internal/impl/sql/input_sql_select.go, output_sql_insert.go,
  * processor_sql_raw.go, processor_sql_select.go).
  *
  * Spark mapping — the JDBC data source IS the distributed form of the
  * reference's database connectors:
  *  - `sql_select` input → `spark.read.format("jdbc")` over a
  *    (table, columns, where, args) select; `partitioned` variants split
  *    the scan into range predicates so N executors read N disjoint row
  *    ranges in parallel — the 100 TB shape (a single-connection read is
  *    the reference's shape, not a cluster's).
  *  - `sql_insert` output → per-partition batched PreparedStatement
  *    inserts via `df.write.jdbc` (each executor writes its own partition,
  *    exactly the reference's max_in_flight parallelism, but data-local).
  *  - `sql_raw` / `sql_select` processors → one connection per partition
  *    via `Errors.rowLoop`; per row the query runs with `?` args bound from
  *    columns; result rows come back as a JSON array string (the
  *    reference's result_codec json_array) or, with `execOnly`, the row
  *    passes through unchanged. Failures set the engine error column and
  *    keep the content (error contract, processor_sql_raw.go:21).
  *
  * The sandbox's engine is embedded Derby (the one JDBC engine the Spark
  * distribution ships); `dsn` is any JDBC URL, so the same code drives
  * postgres/mysql on a real cluster.
  */
object Sql {

  /** Spark's JDBC writer quotes identifiers on CREATE, while unquoted
    * names fold (to upper case in Derby/postgres): plain column names are
    * quoted so `columns` always means the exact names in the table;
    * expressions (anything beyond [A-Za-z0-9_]) pass through verbatim.
    */
  private def quoteId(c: String): String =
    if (c.forall(ch => ch.isLetterOrDigit || ch == '_')) "\"" + c + "\"" else c

  // ----------------------------------------------------------------- input

  /** sql_select input: one message per row. `where` may hold `?` markers
    * bound from `args` (static arguments, input_sql_select.go args_mapping).
    */
  def select(spark: SparkSession, dsn: String, table: String, columns: Seq[String],
      where: String = "", args: Seq[Any] = Nil): DataFrame = {
    val pred = if (where.isEmpty) "" else s" WHERE ${bindStatic(where, args)}"
    val q = s"SELECT ${columns.map(quoteId).mkString(", ")} FROM $table$pred"
    spark.read.format("jdbc")
      .option("url", dsn)
      .option("query", q)
      .load()
  }

  /** sql_select input, partitioned: the scan splits into `numPartitions`
    * disjoint ranges of `partitionCol` read concurrently by the executors.
    */
  def selectPartitioned(spark: SparkSession, dsn: String, table: String,
      columns: Seq[String], partitionCol: String, lower: Long, upper: Long,
      numPartitions: Int, where: String = ""): DataFrame = {
    val pred = if (where.isEmpty) "" else s" WHERE $where"
    spark.read.format("jdbc")
      .option("url", dsn)
      .option("dbtable", s"(SELECT ${columns.map(quoteId).mkString(", ")} FROM $table$pred) t")
      .option("partitionColumn", partitionCol)
      .option("lowerBound", lower.toString)
      .option("upperBound", upper.toString)
      .option("numPartitions", numPartitions.toString)
      .load()
  }

  /** Static `?` binding for the input's where clause (values are
    * driver-side constants, so literal substitution is exact).
    */
  private def bindStatic(where: String, args: Seq[Any]): String =
    args.foldLeft(where) { (w, a) =>
      val lit = a match {
        case s: String => "'" + s.replace("'", "''") + "'"
        case other => other.toString
      }
      w.replaceFirst("\\?", java.util.regex.Matcher.quoteReplacement(lit))
    }

  // ---------------------------------------------------------------- output

  /** sql_insert output: INSERT one row per message, batched per partition
    * (output_sql_insert.go; Spark's JDBC writer batches 1000 per round
    * trip and runs one connection per partition).
    */
  def insert(df: DataFrame, dsn: String, table: String): Unit =
    df.write.mode(SaveMode.Append).format("jdbc")
      .option("url", dsn)
      .option("dbtable", table)
      .save()

  /** Create-or-replace the target table from the frame's schema then
    * insert (the reference's init_statement convenience). `columnTypes`
    * overrides the dialect's default DDL types ("name VARCHAR(64)") —
    * Derby maps StringType to CLOB by default, which can't even compare
    * against literals.
    */
  def createAndInsert(df: DataFrame, dsn: String, table: String,
      columnTypes: String = ""): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("jdbc")
      .option("url", dsn)
      .option("dbtable", table)
    (if (columnTypes.isEmpty) w else w.option("createTableColumnTypes", columnTypes)).save()
  }

  // ------------------------------------------------------------ processors

  /** sql_raw / sql_select processor: per row, run `query` with `?` bound
    * from `argCols` (args_mapping). With `execOnly` the message passes
    * through unchanged (processor_sql_raw.go exec_only); otherwise the
    * result set lands in `resultCol` as a JSON array of objects
    * (json_array result codec). Errors set the engine error column.
    */
  def raw(df: DataFrame, dsn: String, query: String, argCols: Seq[String],
      execOnly: Boolean = false, resultCol: String = "sql_result"): DataFrame = {
    val argIdx = argCols.map(df.schema.fieldIndex)
    val outCols = if (execOnly) Nil else Seq(resultCol -> StringType)
    Errors.rowLoop(df, outCols: _*)(new Prepared(dsn, query)) { (p, row) =>
      try {
        val st = p.stmt()
        argIdx.zipWithIndex.foreach { case (ci, pi) =>
          st.setObject(pi + 1, row.get(ci))
        }
        if (st.execute() && !execOnly) {
          val rs = st.getResultSet
          try Errors.Put(resultCol -> resultSetToJson(rs)) finally rs.close()
        } else Errors.Put() // exec_only or a non-result statement → passthrough
      } catch {
        case e: Exception => Errors.Fail(s"sql query failed: ${e.getMessage}")
      }
    }
  }

  /** One partition's connection and prepared `query`, both opened on
    * first use so that a bad DSN or an unpreparable query fails each row
    * through the error column (the processor error contract), not the
    * task.
    */
  private final class Prepared(dsn: String, query: String) extends Errors.Resource {
    private var conn: Connection = null
    private var st: PreparedStatement = null

    def stmt(): PreparedStatement = {
      // reuse an already-open connection when only prepare failed:
      // re-connecting per row would leak the previous connection and
      // can exhaust the database's connection limit over a partition
      if (st == null) {
        if (conn == null) conn = DriverManager.getConnection(dsn)
        st = conn.prepareStatement(query)
      }
      st
    }

    def close(): Unit = {
      try { if (st != null) st.close() } catch { case _: Exception => () }
      try { if (conn != null) conn.close() } catch { case _: Exception => () }
      st = null; conn = null
    }
  }

  /** json_array result codec: every row an object keyed by lower-cased
    * column label (the reference lowercases via the Go driver's column
    * names; Derby upper-cases unquoted identifiers, so lower-casing gives
    * stable, dialect-independent keys).
    */
  private def resultSetToJson(rs: ResultSet): String = {
    val md = rs.getMetaData
    val n = md.getColumnCount
    val sb = new StringBuilder("[")
    var first = true
    while (rs.next()) {
      if (!first) sb.append(',')
      first = false
      sb.append('{')
      var i = 1
      while (i <= n) {
        if (i > 1) sb.append(',')
        sb.append('"').append(md.getColumnLabel(i).toLowerCase).append("\":")
        md.getColumnType(i) match {
          case Types.INTEGER | Types.BIGINT | Types.SMALLINT | Types.TINYINT |
               Types.DOUBLE | Types.FLOAT | Types.REAL | Types.NUMERIC | Types.DECIMAL |
               Types.BOOLEAN | Types.BIT =>
            val v = rs.getObject(i)
            sb.append(if (v == null) "null" else v.toString)
          case _ =>
            val v = rs.getString(i) // also materializes CLOB/CHAR padding
            if (v == null) sb.append("null")
            else sb.append('"')
              .append(v.replace("\\", "\\\\").replace("\"", "\\\""))
              .append('"')
        }
        i += 1
      }
      sb.append('}')
    }
    sb.append(']').toString
  }

  /** Driver-side DDL/maintenance helper (init_statement). */
  def exec(dsn: String, statements: String*): Unit = {
    val conn = DriverManager.getConnection(dsn)
    try statements.foreach { s =>
      val st = conn.createStatement()
      try st.execute(s) finally st.close()
    } finally conn.close()
  }
}
