package graft.sydraql

import Ast._
import Lexer._

/** Recursive-descent parser for sydraQL, precedence as in the reference:
  * or → and → equality(= != =~ !~) → comparison(< <= > >=) → term(+ -) →
  * factor(* / %) → unary → call/primary
  * (`/root/reference/src/sydra/query/parser.zig:378-540`; statements
  * :76-217; projections/aliases :219-269; selector :337-359; fill :280-320;
  * order/limit :322-376).
  */
final class Parser(tokens: Seq[Token]) {
  private var pos = 0

  private def peek: Token = tokens(pos)
  private def advance(): Token = { val t = tokens(pos); pos += 1; t }
  private def err(msg: String): Nothing =
    throw QueryError(QueryError.InvalidSyntax, msg, peek.pos)

  private def isKeyword(k: String): Boolean = peek match {
    case TKeyword(v, _) => v == k
    case _ => false
  }
  private def expectKeyword(k: String): Unit =
    if (isKeyword(k)) { advance(); () } else err(s"expected '$k'")
  private def isSym(s: String): Boolean = peek match {
    case TSym(v, _) => v == s
    case _ => false
  }
  private def expectSym(s: String): Unit =
    if (isSym(s)) { advance(); () } else err(s"expected '$s'")
  private def acceptSym(s: String): Boolean =
    if (isSym(s)) { advance(); true } else false
  private def expectIdent(): String = peek match {
    case TIdent(v, _) => advance(); v
    case _ => err("expected identifier")
  }
  private def expectInt(): Long = peek match {
    case TInt(v, _) => advance(); v
    case _ => err("expected integer literal")
  }

  def parseStatement(): Statement = {
    val stmt =
      if (isKeyword("explain")) { advance(); Explain(parseStatement()) }
      else if (isKeyword("select")) parseSelect()
      else if (isKeyword("insert")) parseInsert()
      else if (isKeyword("delete")) parseDelete()
      else err("expected statement")
    peek match {
      case TEof(_) => stmt
      case t => throw QueryError(QueryError.InvalidSyntax, "trailing tokens after statement", t.pos)
    }
  }

  private def parseSelect(): Select = {
    expectKeyword("select")
    val projections = parseProjections()
    val from =
      if (isKeyword("from")) { advance(); Some(parseSelector()) } else None
    val where =
      if (isKeyword("where")) { advance(); Some(parseExpr()) } else None
    var groupBy: Seq[Expr] = Nil
    if (isKeyword("group")) {
      advance(); expectKeyword("by")
      groupBy = parseExprList()
    }
    val fill =
      if (isKeyword("fill")) { advance(); Some(parseFill()) } else None
    var orderBy: Seq[SortKey] = Nil
    if (isKeyword("order")) {
      advance(); expectKeyword("by")
      orderBy = parseSortKeys()
    }
    var limit: Option[Long] = None
    var offset: Option[Long] = None
    if (isKeyword("limit")) {
      advance(); limit = Some(expectInt())
      if (isKeyword("offset")) { advance(); offset = Some(expectInt()) }
    }
    Select(projections, from, where, groupBy, fill, orderBy, limit, offset)
  }

  private def parseProjections(): Seq[Projection] = {
    val out = Seq.newBuilder[Projection]
    var more = true
    while (more) {
      if (isSym("*")) {
        advance()
        out += Projection(Star, None)
        more = acceptSym(",")
      } else {
      val e = parseExpr()
      val alias = peek match {
        case TKeyword("as", _) => advance(); Some(expectIdent())
        case TIdent(v, _) if !v.contains('.') => advance(); Some(v) // bare alias: `select x y`
        case _ => None
      }
      out += Projection(e, alias)
      more = acceptSym(",")
      }
    }
    out.result()
  }

  private def parseSelector(): Selector = peek match {
    case TIdent(v, _) if v.equalsIgnoreCase("by_id") =>
      advance(); expectSym("("); val id = expectInt(); expectSym(")")
      ById(id)
    case TIdent(v, _) => advance(); ByName(v)
    case _ => err("expected series selector")
  }

  private def parseFill(): FillPolicy = {
    expectSym("(")
    val policy = peek match {
      case TIdent(v, _) if v.equalsIgnoreCase("previous") => advance(); FillPrevious
      case TIdent(v, _) if v.equalsIgnoreCase("linear") => advance(); FillLinear
      case TKeyword("null", _) => advance(); FillNull
      case _ => FillConst(parseExpr())
    }
    expectSym(")")
    policy
  }

  private def parseSortKeys(): Seq[SortKey] = {
    val out = Seq.newBuilder[SortKey]
    var more = true
    while (more) {
      val e = parseExpr()
      val asc =
        if (isKeyword("asc")) { advance(); true }
        else if (isKeyword("desc")) { advance(); false }
        else true
      out += SortKey(e, asc)
      more = acceptSym(",")
    }
    out.result()
  }

  private def parseInsert(): Insert = {
    expectKeyword("insert"); expectKeyword("into")
    val series = expectIdent()
    var cols: Seq[String] = Nil
    if (acceptSym("(")) {
      val b = Seq.newBuilder[String]
      b += expectIdent()
      while (acceptSym(",")) b += expectIdent()
      expectSym(")")
      cols = b.result()
    }
    expectKeyword("values")
    val rows = Seq.newBuilder[Seq[Expr]]
    var more = true
    while (more) {
      expectSym("(")
      rows += parseExprList()
      expectSym(")")
      more = acceptSym(",")
    }
    Insert(series, cols, rows.result())
  }

  private def parseDelete(): Delete = {
    expectKeyword("delete"); expectKeyword("from")
    val sel = parseSelector()
    val where = if (isKeyword("where")) { advance(); Some(parseExpr()) } else None
    Delete(sel, where)
  }

  private def parseExprList(): Seq[Expr] = {
    val out = Seq.newBuilder[Expr]
    out += parseExpr()
    while (acceptSym(",")) out += parseExpr()
    out.result()
  }

  def parseExpr(): Expr = parseOr()

  private def parseOr(): Expr = {
    var left = parseAnd()
    while (isKeyword("or") || isSym("or")) { advance(); left = Binary(Or, left, parseAnd()) }
    left
  }
  private def parseAnd(): Expr = {
    var left = parseEquality()
    while (isKeyword("and") || isSym("and")) { advance(); left = Binary(And, left, parseEquality()) }
    left
  }
  private def parseEquality(): Expr = {
    var left = parseComparison()
    var done = false
    while (!done) {
      if (isSym("=")) { advance(); left = Binary(Eq, left, parseComparison()) }
      else if (isSym("!=")) { advance(); left = Binary(Ne, left, parseComparison()) }
      else if (isSym("=~")) { advance(); left = Binary(RegexMatch, left, parseComparison()) }
      else if (isSym("!~")) { advance(); left = Binary(RegexNotMatch, left, parseComparison()) }
      else done = true
    }
    left
  }
  private def parseComparison(): Expr = {
    var left = parseTerm()
    var done = false
    while (!done) {
      if (isSym("<=")) { advance(); left = Binary(Le, left, parseTerm()) }
      else if (isSym(">=")) { advance(); left = Binary(Ge, left, parseTerm()) }
      else if (isSym("<")) { advance(); left = Binary(Lt, left, parseTerm()) }
      else if (isSym(">")) { advance(); left = Binary(Gt, left, parseTerm()) }
      else done = true
    }
    left
  }
  private def parseTerm(): Expr = {
    var left = parseFactor()
    var done = false
    while (!done) {
      if (isSym("+")) { advance(); left = Binary(Add, left, parseFactor()) }
      else if (isSym("-")) { advance(); left = Binary(Sub, left, parseFactor()) }
      else done = true
    }
    left
  }
  private def parseFactor(): Expr = {
    var left = parseUnary()
    var done = false
    while (!done) {
      if (isSym("*")) { advance(); left = Binary(Mul, left, parseUnary()) }
      else if (isSym("/")) { advance(); left = Binary(Div, left, parseUnary()) }
      else if (isSym("%")) { advance(); left = Binary(Mod, left, parseUnary()) }
      else done = true
    }
    left
  }
  private def parseUnary(): Expr =
    if (isKeyword("not")) { advance(); Unary(Not, parseUnary()) }
    else if (isSym("-")) { advance(); Unary(Neg, parseUnary()) }
    else if (isSym("+")) { advance(); Unary(Pos, parseUnary()) }
    else parsePrimary()

  private def parsePrimary(): Expr = peek match {
    case TInt(v, _) => advance(); IntLit(v)
    case TFloat(v, _) => advance(); FloatLit(v)
    case TString(v, _) => advance(); StringLit(v)
    case TKeyword("true", _) => advance(); BoolLit(true)
    case TKeyword("false", _) => advance(); BoolLit(false)
    case TKeyword("null", _) => advance(); NullLit
    case TIdent(v, _) =>
      advance()
      if (isSym("(")) {
        // call — name must be undotted
        if (v.contains('.')) err(s"cannot call qualified name '$v'")
        advance()
        val args =
          if (isSym(")")) Nil
          else parseExprList()
        expectSym(")")
        Call(v.toLowerCase, args)
      } else Ident(v.split('.').toSeq.map(_.toLowerCase)) // identifiers are case-insensitive (expression.zig:64-80)
    case TSym("(", _) =>
      advance()
      val e = parseExpr()
      expectSym(")")
      e
    case t => throw QueryError(QueryError.InvalidSyntax, "expected expression", t.pos)
  }
}

object Parser {
  def parse(input: String): Statement =
    new Parser(Lexer.tokenize(input)).parseStatement()
}
