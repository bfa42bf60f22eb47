package graft.sydraql

/** The 27-function registry ported from
  * `/root/reference/src/sydra/query/functions.zig:208-406`: name, kind,
  * arity bounds. Type inference is delegated to Catalyst (the reference's
  * loose numeric⇄value coercions map onto Spark's implicit casts —
  * SURVEY.md §1.2).
  */
object FunctionRegistry {

  sealed trait Kind
  case object Aggregate extends Kind
  case object WindowFn extends Kind
  case object Scalar extends Kind
  case object FillFn extends Kind

  final case class Sig(name: String, kind: Kind, minArgs: Int, maxArgs: Int)

  // maxArgs = -1 means variadic.
  val all: Seq[Sig] = Seq(
    Sig("avg", Aggregate, 1, 1),
    Sig("sum", Aggregate, 1, 1),
    Sig("min", Aggregate, 1, 1),
    Sig("max", Aggregate, 1, 1),
    Sig("count", Aggregate, 0, 1),
    Sig("last", Aggregate, 1, 1),
    Sig("first", Aggregate, 1, 1),
    Sig("percentile", Aggregate, 2, 2),
    Sig("rate", Aggregate, 1, 1),
    Sig("irate", Aggregate, 1, 1),
    Sig("delta", Aggregate, 1, 1),
    Sig("integral", Aggregate, 1, 1),
    Sig("lag", WindowFn, 1, 2),
    Sig("lead", WindowFn, 1, 2),
    Sig("moving_avg", WindowFn, 2, 2),
    Sig("ema", WindowFn, 3, 3),
    Sig("abs", Scalar, 1, 1),
    Sig("ceil", Scalar, 1, 1),
    Sig("floor", Scalar, 1, 1),
    Sig("round", Scalar, 1, 1),
    Sig("pow", Scalar, 2, 2),
    Sig("ln", Scalar, 1, 1),
    Sig("sqrt", Scalar, 1, 1),
    Sig("now", Scalar, 0, 0),
    Sig("time_bucket", Scalar, 2, 3),
    Sig("coalesce", FillFn, 1, -1),
    Sig("fill_forward", FillFn, 1, 1),
    // superset (not in the reference's registry — validator.zig:124-139
    // ends at the list above): sketch-backed aggregates, served by the
    // graft t-digest / theta expressions; same syntax rules as
    // percentile/count
    Sig("percentile_approx", Aggregate, 2, 2),
    Sig("ndv", Aggregate, 1, 1))

  private val byName: Map[String, Sig] = all.map(s => s.name -> s).toMap

  /** Case-insensitive lookup (`functions.zig:412-418`). */
  def lookup(name: String): Option[Sig] = byName.get(name.toLowerCase)

  def isAggregate(name: String): Boolean =
    lookup(name).exists(_.kind == Aggregate)

  /** Arity check → invalid_function_arity (`functions.zig:84-149`). */
  def checkArity(name: String, n: Int): Unit = lookup(name) match {
    case None =>
      throw QueryError(QueryError.UnknownFunction, s"unknown function '$name'")
    case Some(sig) =>
      val ok = n >= sig.minArgs && (sig.maxArgs == -1 || n <= sig.maxArgs)
      if (!ok) throw QueryError(QueryError.InvalidFunctionArity,
        s"function '$name' expects ${sig.minArgs}${if (sig.maxArgs == -1) "+" else if (sig.maxArgs != sig.minArgs) s"..${sig.maxArgs}" else ""} args, got $n")
  }
}
