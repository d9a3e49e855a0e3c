package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Error-handling operators (SURVEY.md §2.9). The reference marks failed
  * parts with an error flag and routes on it rather than aborting
  * (reference: internal/message/part.go:129-138); our rows carry a nullable
  * `error` column with the same contract.
  *
  * The processors that call out of the engine — a subprocess, awk, HTTP,
  * a schema registry, SQL — run through one row loop, [[rowLoop]]. Each
  * row's step has one of three outcomes: [[Keep]] (the row passes as it
  * is), [[Fail]] (the error column takes a message, the content stays)
  * or [[Put]] (named output columns are set and the error is cleared). A
  * failure the step can name (a stderr reply, a non-2xx status, a SQL
  * error) is a `Fail` and the partition's resource serves on. An
  * exception that escapes the step means the resource is broken: that
  * row fails with the exception's message, the resource is killed
  * without waiting on it, and a fresh one serves the rest of the
  * partition: a broken resource fails one row, not the task.
  */
object Errors {

  val ErrCol = "error"

  /** Ensure the error column exists (healthy = null). */
  def withErrorCol(df: DataFrame): DataFrame =
    if (df.columns.contains(ErrCol)) df
    else df.withColumn(ErrCol, lit(null).cast("string"))

  /** One row's outcome in [[rowLoop]]. */
  sealed trait Outcome
  /** Pass the row on as it is. */
  case object Keep extends Outcome
  /** Set the row's error to `msg`; every other column stays. */
  final case class Fail(msg: String) extends Outcome
  /** Set the named columns and clear the row's error. */
  final case class Put(cols: (String, Any)*) extends Outcome

  /** A per-partition resource of [[rowLoop]]: a child process, a
    * connection, a client.
    */
  trait Resource {
    /** Release once the partition is drained; may wait on the resource. */
    def close(): Unit
    /** Release a broken resource without waiting on it. */
    def kill(): Unit = close()
  }

  /** A resource with nothing to release (a shared HTTP client). */
  final case class Held[A](get: A) extends Resource {
    def close(): Unit = ()
  }

  /** The external-call processor loop. Adds the error column and
    * `outCols` (null-filled, replacing a column of the same name), then
    * runs `step` on each row with the partition's resource: `open` runs
    * at the first row (an empty partition opens none) and again at the
    * row after a broken one; the resource is closed when the partition
    * is drained and, should a downstream limit drop the iterator first,
    * when the task completes. See the object doc for the outcomes and
    * the broken-resource rule.
    */
  def rowLoop[R <: Resource](df: DataFrame, outCols: (String, DataType)*)(open: => R)(
      step: (R, Row) => Outcome): DataFrame = {
    val base = outCols.foldLeft(withErrorCol(df)) { case (d, (c, t)) =>
      d.withColumn(c, lit(null).cast(t))
    }
    val schema = base.schema
    val errIdx = schema.fieldIndex(ErrCol)
    base.mapPartitions { rows =>
      new Iterator[Row] {
        private var res: Option[R] = None
        private def release(): Unit = { res.foreach(_.close()); res = None }
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => release()))

        override def hasNext: Boolean = rows.hasNext || { release(); false }

        override def next(): Row = {
          val row = rows.next()
          val r = res.getOrElse { val o = open; res = Some(o); o }
          val outcome =
            try step(r, row)
            catch {
              case NonFatal(e) =>
                res = None
                r.kill()
                Fail(Option(e.getMessage).getOrElse(e.toString))
            }
          outcome match {
            case Keep => row
            case Fail(msg) =>
              val vals = row.toSeq.toArray
              vals(errIdx) = msg
              Row.fromSeq(vals.toIndexedSeq)
            case Put(cols @ _*) =>
              val vals = row.toSeq.toArray
              cols.foreach { case (c, v) => vals(schema.fieldIndex(c)) = v }
              vals(errIdx) = null
              Row.fromSeq(vals.toIndexedSeq)
          }
        }
      }
    }(Encoders.row(schema))
  }

  /** Mark rows failing `check` with `msg` — the processor-failure path
    * (internal/old/processor/util.go:149).
    */
  def markError(df: DataFrame, failWhen: Column, msg: Column): DataFrame =
    withErrorCol(df).withColumn(
      ErrCol,
      when(col(ErrCol).isNotNull, col(ErrCol)).when(failWhen, msg))

  /** try processor (internal/old/processor/try.go:83-153): apply the child
    * transform only to rows not already failed; failed rows pass through
    * untouched.
    */
  def tryProc(df: DataFrame, field: String, child: Column): DataFrame =
    withErrorCol(df).withColumn(
      field,
      when(col(ErrCol).isNull, child).otherwise(col(field)))

  /** catch processor (catch.go:120-152): apply the child transform only to
    * failed rows, then CLEAR the error flag (flag reset at 146-149).
    */
  def catchProc(df: DataFrame, field: String, child: Column): DataFrame =
    withErrorCol(df)
      .withColumn(field, when(col(ErrCol).isNotNull, child).otherwise(col(field)))
      .withColumn(ErrCol, lit(null).cast("string"))

  /** switch processor (switch.go:94-105,169-191): route each row to the
    * first matching case's transform.
    */
  def switchProc(df: DataFrame, field: String, cases: Seq[(Column, Column)]): DataFrame = {
    val routed = cases.foldRight(col(field)) { case ((check, out), acc) =>
      when(check, out).otherwise(acc)
    }
    df.withColumn(field, routed)
  }

  /** switch with `fallthrough` (switch.go:41-47 case field): when a
    * matching case has fallthrough=true, the NEXT case's transform also
    * runs (its check is ignored), chaining until a non-fallthrough case.
    * Fallthrough flags are static, so each entry point's chain folds into
    * one expression — the whole switch stays a single projection.
    */
  def switchProcFallthrough(
      df: DataFrame,
      field: String,
      cases: Seq[(Column, Column => Column, Boolean)]): DataFrame = {
    def chain(i: Int, v: Column): Column = {
      val (_, f, ft) = cases(i)
      val applied = f(v)
      if (ft && i + 1 < cases.size) chain(i + 1, applied) else applied
    }
    val routed = cases.zipWithIndex.foldRight(col(field)) {
      case (((check, _, _), i), acc) => when(check, chain(i, col(field))).otherwise(acc)
    }
    df.withColumn(field, routed)
  }

  /** The switch OUTPUT's routing rule (output_switch.go:193-238): each case
    * is checked in order; a match with continue=false stops routing, a
    * match with continue=true lets LATER cases also claim the row. Returns
    * the array of matched case labels (empty = unmatched — an error under
    * `strict_mode`, silently dropped otherwise).
    */
  def switchRoutes(cases: Seq[(String, Column, Boolean)]): Column = {
    val labels = cases.zipWithIndex.map { case ((label, check, _), i) =>
      val notStopped = cases.take(i)
        .map { case (_, c, cont) => !(c && lit(!cont)) }
        .foldLeft(lit(true))(_ && _)
      when(check && notStopped, lit(label))
    }
    filter(array(labels: _*), x => x.isNotNull)
  }

  /** strict_mode (output_switch.go:263-268): a row matching no case is a
    * routing failure — flag it instead of dropping.
    */
  def switchStrict(df: DataFrame, cases: Seq[(String, Column, Boolean)]): DataFrame =
    withErrorCol(df.withColumn("routes", switchRoutes(cases)))
      .withColumn(ErrCol,
        when(size(col("routes")) === 0, lit("message does not match any cases"))
          .otherwise(col(ErrCol)))

  /** output `reject` / DLQ split (internal/old/output/reject.go): failed
    * rows to a dead-letter frame, healthy rows onward.
    */
  def splitDlq(df: DataFrame): (DataFrame, DataFrame) = {
    val d = withErrorCol(df)
    (d.filter(col(ErrCol).isNull), d.filter(col(ErrCol).isNotNull))
  }
}
