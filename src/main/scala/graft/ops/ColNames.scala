package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** The ONE backtick-escaping rule for user-supplied column names (the
  * "StatsOps rule"): quote before `col()` resolution or SQL interpolation
  * so a dotted name resolves as a plain identifier (not struct access)
  * and embedded backticks stay literal instead of closing the quote — a
  * hostile name can neither break nor inject into a generated expression.
  * Every operator taking a column NAME goes through here; a private copy
  * of the idiom is how one call site silently misses the next fix.
  */
private[graft] object ColNames {

  /** Backtick-quoted identifier, for SQL-text interpolation. */
  def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** The column the quoted identifier resolves to. */
  def quotedCol(name: String): Column = col(quoted(name))

  /** A working column name `<base><i>` that misses every name in `taken`
    * — for operators that add scratch columns next to caller columns. */
  def free(taken: Seq[String], base: String): String =
    Iterator.from(0).map(i => s"$base$i").find(c => !taken.contains(c)).get
}
