package graft.model

import org.apache.spark.sql.Row

/** What a served query produced (reference: QueryResult +
  * api-service/src/main.py:115-123 / README.md:170-179): the column
  * names and the collected rows, cell `i` of each row under
  * `columns(i)`. The HTTP envelope's `success` and `cached` fields are
  * constants (a result exists only on success, and the reference never
  * sets `cached` true, query_engine.py:27), so HttpApi writes them as
  * literals.
  */
final case class QueryResult(
    columns: Seq[String],
    rows: IndexedSeq[Row],
    executionTimeMs: Double) {
  def rowCount: Long = rows.length.toLong
}
