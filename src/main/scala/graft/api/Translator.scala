package graft.api

/** SQL → sydraQL string-level translator, behavior-matched to the
  * reference's pg-compat layer
  * (`/root/reference/src/sydra/query/translator.zig:77-264`, fixture corpus
  * `tests/translator/cases.jsonl`):
  *
  *  - `SELECT 1` → `select 1` (trailing `;` trimmed)
  *  - `SELECT cols FROM t [WHERE c]` → lowercased keywords, columns joined
  *    with bare commas, table/condition preserved verbatim
  *  - `INSERT INTO t[(cols)] VALUES ...` → normalized `insert into t
  *    (cols) values ...`
  *  - `DELETE FROM t [WHERE c]` → preserved; empty WHERE → failure
  *  - UPDATE (all forms) and any RETURNING clause → SQLSTATE 0A000
  */
object Translator {

  sealed trait Result
  final case class Success(sydraql: String) extends Result
  final case class Failure(sqlstate: String, message: String) extends Result

  private val NotSupported = Failure(SqlState.FeatureNotSupported, "feature not supported")

  def translate(sql: String): Result = {
    val trimmed = sql.trim.replaceAll("[;\\s]+$", "")
    if (trimmed.equalsIgnoreCase("SELECT 1")) return Success("select 1")
    val upper = trimmed.toUpperCase

    if (upper.startsWith("UPDATE ") || upper == "UPDATE") return NotSupported
    if (upper.contains(" RETURNING ") || upper.endsWith(" RETURNING")) return NotSupported

    if (upper.startsWith("SELECT ")) {
      val fromIdx = upper.indexOf(" FROM ")
      if (fromIdx < 0) return NotSupported
      val cols = trimmed.substring("SELECT ".length, fromIdx).trim
      val remainder = trimmed.substring(fromIdx + " FROM ".length).trim
      if (cols.isEmpty || remainder.isEmpty) return NotSupported
      val (table, cond) = splitWhere(remainder)
      if (table.isEmpty) return NotSupported
      if (cond.exists(_.isEmpty)) return NotSupported
      val colList = cols.split(',').map(_.trim).filter(_.nonEmpty).mkString(",")
      if (colList.isEmpty) return NotSupported
      return Success(s"select $colList from $table" + cond.map(c => s" where $c").getOrElse(""))
    }

    if (upper.startsWith("INSERT INTO ")) {
      val rest = trimmed.substring("INSERT INTO ".length).trim
      if (rest.isEmpty) return NotSupported
      val tableEnd = rest.indexWhere(c => c == ' ' || c == '(')
      if (tableEnd <= 0) return NotSupported
      val table = rest.substring(0, tableEnd)
      var cursor = rest.substring(tableEnd).trim
      var cols: Option[String] = None
      if (cursor.startsWith("(")) {
        val close = cursor.indexOf(')')
        if (close < 0) return NotSupported
        cols = Some(cursor.substring(1, close).trim)
        cursor = cursor.substring(close + 1).trim
      }
      if (!cursor.toUpperCase.startsWith("VALUES")) return NotSupported
      val values = cursor.substring("VALUES".length).trim
      if (values.isEmpty) return NotSupported
      return Success(s"insert into $table" + cols.map(c => s" ($c)").getOrElse("") + s" values $values")
    }

    if (upper.startsWith("DELETE FROM ")) {
      val rest = trimmed.substring("DELETE FROM ".length).trim
      if (rest.isEmpty) return NotSupported
      if (rest.toUpperCase.endsWith(" WHERE") || rest.equalsIgnoreCase("WHERE")) return NotSupported
      val (table, cond) = splitWhere(rest)
      if (table.isEmpty) return NotSupported
      if (cond.exists(_.isEmpty)) return NotSupported
      return Success(s"delete from $table" + cond.map(c => s" where $c").getOrElse(""))
    }

    NotSupported
  }

  private def splitWhere(s: String): (String, Option[String]) = {
    val idx = s.toUpperCase.indexOf(" WHERE ")
    if (idx < 0) (s.trim, None)
    else (s.substring(0, idx).trim, Some(s.substring(idx + " WHERE ".length).trim))
  }
}

/** Canonical SQLSTATE codes used by the compat layer
  * (`/root/reference/src/sydra/compat/sqlstate.zig:4-45`).
  */
object SqlState {
  val Success = "00000"
  val FeatureNotSupported = "0A000"
  val SyntaxError = "42601"
  val UndefinedFunction = "42883"
  val UndefinedTable = "42P01"
  val InvalidParameterValue = "22023"
  val DivisionByZero = "22012"
  val DataException = "22000"
  val ProtocolViolation = "08P01"
  val ConnectionFailure = "08006"
  val InvalidAuthorization = "28000"
  val InsufficientPrivilege = "42501"
  val InternalError = "XX000"
  val OperatorIntervention = "57000"
  val QueryCanceled = "57014"
  val InvalidTextRepresentation = "22P02"

  /** The SQLSTATE of any error a statement raises, on every surface: an
    * engine [[graft.sydraql.QueryError]] by its code, an ANSI division by
    * zero (raised at row execution, after the lazy compile) as the
    * reference's 22012, anything else as an internal error.
    */
  def of(e: Throwable): String = e match {
    case qe: graft.sydraql.QueryError => fromQueryError(qe.code)
    case _ =>
      val msg = String.valueOf(e.getMessage)
      if (msg.contains("DIVIDE_BY_ZERO") || msg.contains("division by zero")) DivisionByZero
      else InternalError
  }

  /** The message an error reply carries: a QueryError's own message
    * (without the `[code]` prefix), else the exception's.
    */
  def message(e: Throwable): String = e match {
    case qe: graft.sydraql.QueryError => qe.message
    case _ => String.valueOf(e.getMessage)
  }

  /** Map engine QueryError codes onto SQLSTATE. */
  private def fromQueryError(code: String): String = code match {
    case graft.sydraql.QueryError.InvalidSyntax => SyntaxError
    case graft.sydraql.QueryError.UnknownFunction => UndefinedFunction
    case graft.sydraql.QueryError.InvalidFunctionArity => InvalidParameterValue
    case graft.sydraql.QueryError.TimeRangeRequired => DataException
    case graft.sydraql.QueryError.UnsupportedFillPolicy => FeatureNotSupported
    case graft.sydraql.QueryError.Unimplemented => FeatureNotSupported
    case _ => InternalError
  }
}
