package graft.sydraql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-stage timings in microseconds, mirroring the reference's query stats
  * object (`/root/reference/src/sydra/query/exec.zig:48-58`,
  * `http.zig:335-395`).
  */
final case class QueryStats(
    parseUs: Long,
    validateUs: Long,
    compileUs: Long,
    traceId: String,
    // which execution route answered (r15 — EXPLAIN was the only
    // visibility): "raw", "served:cells:td", "served:cells:tdtag",
    // "served:hybrid:td", "served:hybrid:tdtag", "insert", "delete"
    route: String = "raw",
    // a served route's cell read: where its merge ran and what it read
    served: Option[ServedRead] = None)

/** A served answer's cell read: where its merge ran (`driver`: the cells
  * read and merged in-process, no Spark job; `spark`: a Spark plan), the
  * cell table, and the data files (path, bytes) of the window's days the
  * route read.
  */
final case class ServedRead(site: String, table: String, files: Seq[(String, Long)]) {
  def bytes: Long = files.map(_._2).sum

  /** The read as EXPLAIN shows it above a driver merge's plan, whose
    * local scan names no file: the table, the days and each file.
    */
  def explain: String = {
    val days = files.map { case (f, _) => new org.apache.hadoop.fs.Path(f).getParent.getName }.distinct
    val head = s"== Driver cell merge ==\nCellRead $table ${days.mkString("[", ", ", "]")} " +
      s"files=${files.size} bytes=$bytes"
    (head +: files.map { case (f, b) => s"  $f ($b bytes)" }).mkString("", "\n", "\n")
  }
}

final case class QueryResult(df: DataFrame, stats: QueryStats)

/** One executed statement's profile, built once after its rows were drawn:
  * the statement's [[QueryStats]], the rows drawn and the wall time from
  * the statement's start to its last row, Catalyst's `optimization` and
  * `planning` phases (`QueryPlanningTracker`) and the executed operators.
  * The reference builds one stats object per query
  * (`/root/reference/src/sydra/query/exec.zig:48-58`) and renders it in
  * the HTTP reply and the pgwire NOTICE block; so do `HttpApi` (`stats`)
  * and `PgWireServer`.
  */
final case class QueryProfile(
    stats: QueryStats,
    rows: Long,
    wallUs: Long,
    optimizeUs: Long,
    physicalUs: Long,
    operators: Seq[QueryProfile.Operator]) {
  /** Where a served merge ran (`driver` or `spark`); `none` off the served routes. */
  def mergeSite: String = stats.served.fold("none")(_.site)
  def cellFiles: Int = stats.served.fold(0)(_.files.size)
  def cellBytes: Long = stats.served.fold(0L)(_.bytes)
}

object QueryProfile {
  final case class Operator(name: String, rowsOut: Long, elapsedUs: Long)

  /** The profile of `executed`, the frame whose `rows` were drawn (the
    * result's frame, or one derived from it such as a row cap). It reads
    * the executed plan's tracker and metrics and runs no Spark action.
    * Both reads are best-effort: the rows are already answered, so a plan
    * that cannot report them profiles as zero phases and no operators.
    */
  def of(res: QueryResult, executed: DataFrame, rows: Long, wallUs: Long): QueryProfile = {
    val (optimizeUs, physicalUs) = scala.util.Try {
      val phases = executed.queryExecution.tracker.phases
      def us(k: String): Long =
        phases.get(k).map(p => (p.endTimeMs - p.startTimeMs) * 1000).getOrElse(0L)
      (us("optimization"), us("planning"))
    }.getOrElse((0L, 0L))
    val operators = scala.util.Try(
      org.apache.spark.sql.graftshim.GraftShim.operatorStatsTimed(executed)
        .map { case (name, rowsOut, elapsedUs) => Operator(name, rowsOut, elapsedUs) }
    ).getOrElse(Nil)
    QueryProfile(res.stats, rows, wallUs, optimizeUs, physicalUs, operators)
  }
}

/** sydraQL execution pipeline: parse → validate → compile → DataFrame
  * (`exec.execute`, `/root/reference/src/sydra/query/exec.zig:14-61`; the
  * plan/optimize/physical stages dissolve into Catalyst).
  */
object Engine {

  private val rng = new java.security.SecureRandom()
  private def traceId(): String = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz234567"
    (0 until 13).map(_ => alphabet(rng.nextInt(32))).mkString
  }

  /** Execute sydraQL text against a series source DataFrame (columns:
    * series, series_id, tags, time, value).
    */
  def execute(
      spark: SparkSession,
      source: DataFrame,
      sydraql: String,
      options: CompileOptions = CompileOptions()): QueryResult = {
    val t0 = System.nanoTime()
    val ast = Parser.parse(sydraql)
    val t1 = System.nanoTime()
    Validator.validate(ast)
    val t2 = System.nanoTime()
    executeAst(spark, source, ast, options,
      parseUs = (t1 - t0) / 1000, validateUs = (t2 - t1) / 1000)
  }

  /** Compile an already-parsed+validated statement — the store route
    * parses once for serving-route resolution and must not pay parse +
    * validate a second time on the raw fallthrough (r15).
    */
  private def executeAst(
      spark: SparkSession,
      source: DataFrame,
      ast: Ast.Statement,
      options: CompileOptions,
      parseUs: Long,
      validateUs: Long): QueryResult = {
    val t2 = System.nanoTime()
    val df = new Compiler(spark, source, options).compile(ast)
    QueryResult(df, QueryStats(
      parseUs = parseUs,
      validateUs = validateUs,
      compileUs = (System.nanoTime() - t2) / 1000,
      traceId = traceId()))
  }

  /** Convenience: DataFrame only. */
  def sql(spark: SparkSession, source: DataFrame, sydraql: String,
      options: CompileOptions = CompileOptions()): DataFrame =
    execute(spark, source, sydraql, options).df

  /** A WHERE's TOP-LEVEL conjuncts — the only terms routing reads:
    * anything under OR/NOT is not implied by the WHERE on its own.
    */
  private def conjuncts(where: Option[Ast.Expr]): Seq[Ast.Expr] = {
    def go(e: Ast.Expr): Seq[Ast.Expr] = e match {
      case Ast.Binary(Ast.And, l, r) => go(l) ++ go(r)
      case x => Seq(x)
    }
    where.toSeq.flatMap(go)
  }

  /** `tag.<k> = '<literal>'` in either operand order. Keys keep their
    * written case — the compiler's residual `try_element_at(tags, <key>)`
    * is case-sensitive the same way, so probe and match semantics agree.
    */
  private def tagEquality(e: Ast.Expr): Option[(String, String)] = e match {
    case Ast.Binary(Ast.Eq, id: Ast.Ident, Ast.StringLit(v))
      if id.parts.length == 2 && id.parts.head.equalsIgnoreCase("tag") =>
      Some((id.parts(1), v))
    case Ast.Binary(Ast.Eq, Ast.StringLit(v), id: Ast.Ident)
      if id.parts.length == 2 && id.parts.head.equalsIgnoreCase("tag") =>
      Some((id.parts(1), v))
    case _ => None
  }

  /** The store scan probe of a selector plus WHERE, from one walk over
    * the WHERE's top-level conjuncts. Every extracted term is implied by
    * the true predicate, so pruning on it is a SUPERSET — the compiler
    * (or DELETE's exact predicate) re-applies the full WHERE on whatever
    * is read:
    *  - `time`/`value` `<op> <literal>` comparisons, in either operand
    *    order, tighten inclusive bounds; `>`/`<` widen to `>=`/`<=`;
    *  - a `tag.<k> = '<literal>'` conjunct is a singleton tag group; an
    *    OR whose EVERY disjunct is a tag equality (r17 — `tag.host = 'a'
    *    or tag.host = 'b'`, the dashboard multi-select) is one group
    *    pruned as the union of its pairs; a mixed disjunct (`tag.host =
    *    'a' or value > 5`) is not implied by its tag terms and extracts
    *    nothing.
    */
  private[graft] def scanProbe(from: Option[Ast.Selector],
      where: Option[Ast.Expr]): graft.storage.ScanProbe = {
    def tighten[T](b: (Option[T], Option[T]), op: Ast.BinOp, v: T)(
        implicit o: Ordering[T]): (Option[T], Option[T]) = {
      val lo = Some(b._1.fold(v)(o.max(_, v)))
      val hi = Some(b._2.fold(v)(o.min(_, v)))
      op match {
        case Ast.Ge | Ast.Gt => (lo, b._2)
        case Ast.Le | Ast.Lt => (b._1, hi)
        case Ast.Eq => (lo, hi)
        case _ => b
      }
    }
    def flip(op: Ast.BinOp): Ast.BinOp = op match {
      case Ast.Ge => Ast.Le
      case Ast.Gt => Ast.Lt
      case Ast.Le => Ast.Ge
      case Ast.Lt => Ast.Gt
      case o => o
    }
    def orGroup(e: Ast.Expr): Option[Seq[(String, String)]] = e match {
      case Ast.Binary(Ast.Or, l, r) =>
        for (a <- orGroup(l); b <- orGroup(r)) yield a ++ b
      case other => tagEquality(other).map(Seq(_))
    }
    var time = (Option.empty[Long], Option.empty[Long])
    var value = (Option.empty[Double], Option.empty[Double])
    val tags = Seq.newBuilder[Seq[(String, String)]]
    conjuncts(where).foreach { c =>
      val cmp = c match {
        case Ast.Binary(op, id: Ast.Ident, lit) => Some((id.full, op, lit))
        case Ast.Binary(op, lit, id: Ast.Ident) => Some((id.full, flip(op), lit))
        case _ => None
      }
      cmp match {
        case Some((n, op, Ast.IntLit(v))) if n.equalsIgnoreCase("time") =>
          time = tighten(time, op, v)
        case Some((n, op, Ast.IntLit(v))) if n.equalsIgnoreCase("value") =>
          value = tighten(value, op, v.toDouble)(Ordering.Double.IeeeOrdering)
        case Some((n, op, Ast.FloatLit(v))) if n.equalsIgnoreCase("value") =>
          value = tighten(value, op, v)(Ordering.Double.IeeeOrdering)
        case _ => orGroup(c).foreach(tags += _)
      }
    }
    graft.storage.ScanProbe(lo = time._1, hi = time._2,
      vlo = value._1, vhi = value._2,
      seriesId = from.collect { case Ast.ById(id) => id },
      series = from.collect { case Ast.ByName(n) => n },
      tags = tags.result())
  }

  /** Rollup-routing rule (r12): serve a sydraQL sketch aggregate from the
    * store's at-rest t-digest cell store ([[graft.storage.SketchCells]])
    * instead of the raw scan, when the query's shape provably coarsens
    * the (series, day) cell keys:
    *  - every projection is `percentile_approx(value, <lit>) as <alias>`,
    *    `ndv(tag.<k>) as <alias>` for a tag key whose theta NDV cells
    *    the store carries (SketchCells `ndvTags`), or — r14 — a basic
    *    aggregate `avg/sum/min/max/count(value)` / `count()`, served
    *    EXACTLY from the cells' mergeable partials — mixed projections
    *    share one merge aggregate;
    *  - GROUP BY is any subset of {day-multiple `time_bucket`,
    *    `tag.<k>` with a tag-keyed tier} — at most one of each; they
    *    COMPOSE ("p95 per host per 2 days", r13). Tag tiers carry the
    *    store's theta NDV cells since r14, so `ndv(tag.j) GROUP BY
    *    tag.k` serves too (a pre-r14 tag tier without them falls
    *    through); ORDER BY at most the group keys, ascending or
    *    descending (r14); LIMIT/OFFSET serve only under a TOTAL order
    *    (no group keys, or ORDER BY covering every group key — applied
    *    to the served frame in the compiler's offset-then-limit order;
    *    a partial order's tie-breaking belongs to the raw route);
    *    FILL serves too (r14 — post-aggregation on the served buckets,
    *    the compiler's exact placement; a const fill whose expression
    *    isn't a plain literal falls through);
    *  - WHERE is exactly `time >= LO and time < HI` with literal bounds,
    *    plus (r16) at most one `tag.<k> = '<literal>'` equality served by
    *    filtering the tag tier's (series, day, tag value) cells to that
    *    value ("p95 for host X last week" — the raw route's null→false
    *    semantics for rows lacking the key hold, since those rows cell
    *    under a NULL tagval); a filter key differing from a tag group
    *    key, or a key without a tag tier, falls through.
    *    Day-aligned bounds read cells alone; RAGGED bounds (r14) serve
    *    HYBRID — interior whole days from cells, the sub-day edges from
    *    an hour-partition-pruned raw scan aggregated into the SAME
    *    mergeable partial shapes (digest/theta/sum/min/max/counts/struct
    *    extremes) and unioned before the one merge aggregate, so a 90-day
    *    dashboard window starting mid-afternoon reads ~89 cell rows plus
    *    at most 48 raw HOURS instead of 90 raw days. A window with no
    *    whole interior day falls through to raw (the hybrid would be all
    *    edge);
    *  - the selector is `by_id()`, a series name (the cell store keys),
    *    or ABSENT (r14): cells merge across series, so the fleet-wide
    *    dashboard shape serves from the same day-pruned blobs.
    * The served plan reads ONLY the probed days' cell partitions
    * (PlanSpec pins the PartitionFilters) and merges KB blobs — never
    * the raw points (edge hours excepted, pinned too). Estimates come
    * from merged day digests rather than one whole-window digest: both
    * satisfy the same t-digest error contract, which is what the sketch
    * gates pin (the same reason the at-rest tier q_ts_tdigest is
    * correct); edge digests/thetas are built by the raw route's own
    * aggregators, so the hybrid never mixes estimator families.
    *
    * Merge site: a window with no ragged edge and no FILL whose cells fit
    * one split (`SketchCells.mergePartitions`, the rule that coalesces the
    * Spark merge to one task) is answered on the DRIVER, with no Spark
    * job: `SketchCells.readLocal` reads only the window's `day=` cell
    * files, behind a freshness guard that lists them again and compares
    * them with the memoized (path, bytes); the selector, tag equality and
    * grouping apply in Scala; each needed partial merges by its
    * `Partial.local` twin of the Spark merge aggregate, in day, file, row
    * order; groups sort under Spark's orderings, OFFSET before LIMIT; and
    * one `LocalRelation` row per group carries the merged partials
    * (`__<name>`), projected by the same `Served.result` columns, which
    * Spark folds on the driver. A failed guard takes the Spark route,
    * which re-reads. Describe (`describe`) builds that frame over no cell
    * and reads no file: the schema does not depend on the rows. Basic
    * aggregates equal the Spark route's up to the fold order of double
    * sums; digests merge in another order than the one-task Spark merge
    * (which reads its files largest first), within the same error
    * contract. Larger windows, ragged windows and FILL keep the Spark
    * plan.
    */
  private def sketchServed(store: graft.storage.SeriesStore,
      s: Ast.Select, describe: Boolean): Option[(DataFrame, String, ServedRead)] = {
    import graft.storage.SketchCells
    import org.apache.spark.sql.functions.{col, lit}
    val spark = store.spark
    val dir = SketchCells.dirFor(store)
    // FILL serves too (r14): it applies POST-aggregation to the bucketed
    // frame, and the served frame has exactly the raw route's buckets
    // (cells coarsen losslessly), so the same Fill operator on the
    // served output is the same result. A const fill whose expression
    // isn't a plain literal falls through (evaluating it needs the
    // compiler's scalar context).
    s.fill match {
      case None | Some(Ast.FillNull) | Some(Ast.FillPrevious)
        | Some(Ast.FillLinear) | Some(Ast.FillConst(Ast.IntLit(_)))
        | Some(Ast.FillConst(Ast.FloatLit(_))) => ()
      case _ => return None
    }
    if (!SketchCells.exists(spark, dir)) return None
    // group keys: none (one global row), exactly
    // `time_bucket(<day-multiple literal>, time)` — a step the day cells
    // coarsen into exactly (every day maps wholly into one step bucket) —
    // or exactly `tag.<k>` for a key with a tag-keyed cell tier
    // ([[graft.storage.SketchCells.tagDir]], r13): its cells are keyed
    // (series, day, tag value), so a tag-grouped quantile is a day-pruned
    // per-value blob merge
    sealed trait GK { def e: Ast.Expr }
    case class BucketG(step: Long, origin: Long, e: Ast.Expr) extends GK
    case class TagG(key: String, e: Ast.Expr) extends GK
    // up to TWO keys compose (r13): one day-multiple bucket and one tag
    // key together coarsen the tag tier's (series, day, value) cells —
    // the "p95 per host per day" dashboard shape. The 3-arg form with a
    // DAY-ALIGNED literal origin serves too (r14 — "weeks starting
    // Monday"): bucket boundaries then sit on day boundaries, so every
    // day still maps wholly into one bucket; any other origin → raw.
    val groupKeys: Seq[GK] = {
      val parsed = s.groupBy.map {
        case c @ Ast.Call("time_bucket", Seq(Ast.IntLit(st), t: Ast.Ident))
          if t.full.equalsIgnoreCase("time") && st > 0 && st % 86400L == 0 =>
          Some(BucketG(st, 0L, c))
        case c @ Ast.Call("time_bucket", Seq(Ast.IntLit(st), t: Ast.Ident, Ast.IntLit(og)))
          if t.full.equalsIgnoreCase("time") && st > 0 &&
            st % 86400L == 0 && og % 86400L == 0 =>
          Some(BucketG(st, og, c))
        case id: Ast.Ident
          if id.parts.length == 2 && id.parts.head.equalsIgnoreCase("tag") =>
          Some(TagG(id.parts(1), id))
        case _ => None
      }
      if (parsed.exists(_.isEmpty)) return None
      val ks = parsed.flatten
      if (ks.count(_.isInstanceOf[BucketG]) > 1 ||
        ks.count(_.isInstanceOf[TagG]) > 1) return None
      ks
    }
    // WHERE must be exactly one `time >= LO` and one `time < HI` conjunct
    // with literal bounds — in EITHER order (r14; dashboards emit both) —
    // plus (r16) at most ONE `tag.<k> = '<literal>'` equality: the tag
    // tier's cells are keyed (series, day, tag value), so "p95 for host X
    // last week" serves by FILTERING that tier's cells to the one value
    // (the most common dashboard selector after name + time; raw rows
    // where the key is absent have NULL tagval cells and drop under the
    // same equality, matching the raw route's null→false semantics). Any
    // other conjunct means the cells can't answer → raw route.
    var tagEq: Option[(String, String)] = None
    val bounds: Option[(Long, Long)] = {
      var lo: Option[Long] = None
      var hi: Option[Long] = None
      var ok = true
      conjuncts(s.where).foreach { c =>
        (c, tagEquality(c)) match {
          case (_, te @ Some(_)) if tagEq.isEmpty => tagEq = te
          case (Ast.Binary(Ast.Ge, t: Ast.Ident, Ast.IntLit(l)), None)
            if t.full.equalsIgnoreCase("time") && lo.isEmpty => lo = Some(l)
          case (Ast.Binary(Ast.Lt, t: Ast.Ident, Ast.IntLit(h)), None)
            if t.full.equalsIgnoreCase("time") && hi.isEmpty => hi = Some(h)
          case _ => ok = false
        }
      }
      (lo, hi) match {
        case (Some(l), Some(h)) if ok && l < h => Some((l, h))
        case _ => None
      }
    }
    if (bounds.isEmpty) return None
    // every projection is either THE bucket key (aliased) or an aliased
    // aggregate from the cell store's served-aggregate table
    // (SketchCells.servedAggs): percentile_approx(value, <literal>),
    // ndv(tag.<k>) whose theta cells the store carries, or — since r14 —
    // a basic aggregate over value (`avg sum min max count(value)
    // count() first last delta rate`), served EXACTLY from the cells'
    // mergeable partials — the reference's own RollupHint shape,
    // plan.zig:19-21. Anything else → raw route.
    sealed trait P
    case class Grp(alias: String, k: GK) extends P
    case class Agg(alias: String, a: SketchCells.Served) extends P
    val projs: Seq[Option[P]] = s.projections.map {
      case Ast.Projection(c, Some(alias)) if groupKeys.exists(_.e == c) =>
        Some(Grp(alias, groupKeys.find(_.e == c).get))
      case Ast.Projection(
          Ast.Call("percentile_approx", Seq(v: Ast.Ident, p)), Some(alias))
        if v.full.equalsIgnoreCase("value") =>
        (p match {
          case Ast.FloatLit(f) if f >= 0 && f <= 1 => Some(f)
          case Ast.IntLit(i) if i >= 0 && i <= 1 => Some(i.toDouble)
          case _ => None
        }).map(f => Agg(alias, SketchCells.quantileServed(f)))
      case Ast.Projection(Ast.Call("ndv", Seq(id: Ast.Ident)), Some(alias))
        if id.parts.length == 2 && id.parts.head.equalsIgnoreCase("tag") =>
        Some(Agg(alias, SketchCells.ndvServed(id.parts(1))))
      case Ast.Projection(Ast.Call("count", Seq()), Some(alias)) =>
        Some(Agg(alias, SketchCells.servedAggs("count()")))
      case Ast.Projection(Ast.Call(fn, Seq(v: Ast.Ident)), Some(alias))
        if v.full.equalsIgnoreCase("value") =>
        SketchCells.servedAggs.get(if (fn == "count") "count(value)" else fn)
          .map(Agg(alias, _))
      case _ => None
    }
    if (projs.exists(_.isEmpty) ||
      !projs.flatten.exists(p => !p.isInstanceOf[Grp]))
      return None
    val ps = projs.flatten
    // a valid query may project the SAME group key under two aliases
    // ("tag.host as h1, tag.host as h2"); grpAliases keeps one per key,
    // so serving would throw on the other — fall through to the raw
    // route, which handles it fine
    val grpProjKeys = ps.collect { case Grp(_, k) => k }
    if (grpProjKeys.distinct.length != grpProjKeys.length) return None
    // every group key must be projected under an alias (the serving
    // frame's column names come from them)
    val grpAliases: Map[GK, String] = ps.collect { case Grp(a, k) => k -> a }.toMap
    if (groupKeys.exists(k => !grpAliases.contains(k))) return None
    val tagKeyOpt = groupKeys.collectFirst { case TagG(k, _) => k }
    // the tier that can serve: a tag GROUP key and a tag FILTER key must
    // be the SAME key (one tagval dimension per tier) — different keys →
    // raw route; either alone picks the tag tier
    if (tagEq.exists(te => tagKeyOpt.exists(_ != te._1))) return None
    val tierTagKey = tagKeyOpt.orElse(tagEq.map(_._1))
    if (tierTagKey.exists(k => !SketchCells.groupTagsOf(spark, dir).contains(k)))
      return None
    // ORDER BY: none, or keys (ascending OR descending — sorting the
    // SERVED frame either way is trivially the raw route's sort) each
    // naming a DISTINCT group key by expression or alias — anything
    // else → raw route
    val orderCols: Option[Seq[(String, Boolean)]] = {
      val resolved = s.orderBy.map {
        case Ast.SortKey(e, asc) =>
          groupKeys.find(_.e == e).map(grpAliases)
            .orElse(e match {
              case id: Ast.Ident =>
                grpAliases.values.find(a => id.full.equalsIgnoreCase(a))
              case _ => None
            }).map(a => (a, asc))
      }
      if (resolved.exists(_.isEmpty) ||
        resolved.flatten.map(_._1).distinct.length != resolved.length) None
      else Some(resolved.flatten)
    }
    if (orderCols.isEmpty) return None
    // LIMIT/OFFSET (r14 fix — they were silently DROPPED on served
    // shapes): applying them to the served frame equals the raw route
    // only when the result order is TOTAL — one row (no group keys) or
    // an ORDER BY covering every group key (result rows are unique per
    // key combination). A partial order leaves tie-breaking to the
    // engine, so which rows a LIMIT keeps is plan-dependent — fall
    // through and let the raw route own that semantics.
    if (s.limit.isDefined || s.offset.isDefined) {
      val totalOrder = groupKeys.isEmpty ||
        orderCols.exists(_.length == groupKeys.length)
      if (!totalOrder) return None
    }
    val (l, h) = bounds.get
    // hybrid window split (r14): whole days [dLo, dHi) come from cells;
    // the ragged sub-day edges [l, dLo) and [dHi, h) come from an
    // hour-pruned raw scan, aggregated into the same partial shapes and
    // unioned before the merge. No whole interior day → all edge → raw
    // route (nothing for the cells to save).
    val dLo = if (Math.floorMod(l, 86400L) == 0L) l
      else l - Math.floorMod(l, 86400L) + 86400L
    val dHi = h - Math.floorMod(h, 86400L)
    if (dLo >= dHi) return None
    // r17 crossover: the hybrid replaces the interior's raw scan with a
    // cells merge but still scans the edges raw AND pays the
    // union-of-partials machinery (~one small-window scan of overhead —
    // SCALE.md's honest serve table). When the edges are at least as
    // wide as the interior, the hybrid scans more than half the window
    // raw anyway and the tier cannot beat the raw route it wraps
    // (measured 1.02–1.2× AT BEST for edge-heavy sf0.1 windows) — fall
    // through. Only a 1-interior-day window can trip this (each edge is
    // < 24 h, so edges < 48 h ≤ interior at 2+ days); every multi-day
    // dashboard window keeps the hybrid.
    if ((dLo - l) + (h - dHi) >= dHi - dLo) return None
    // any tag grouping OR tag-equality filter reads the tag tier
    // (per-(series, day, value) digests); otherwise the td table (which
    // also carries theta cells)
    val tableName = tierTagKey.fold("td")(k => s"tdtag/$k")
    val needed = SketchCells.partialsNamed(ps.collect { case Agg(_, a) => a.reads }
      .flatten.toSet)
    val edges = Seq((l, dLo), (dHi, h)).filter { case (a, b) => a < b }
    // route attribution (r15): which tier answered and whether ragged
    // edges forced the hybrid union — surfaced in QueryStats so the
    // stats object (not just EXPLAIN) shows a raw-path fallthrough
    val route = "served:" + (if (edges.nonEmpty) "hybrid" else "cells") +
      ":" + (if (tierTagKey.isDefined) "tdtag" else "td")
    // the served projection over either route's merged frame, whose
    // columns are the group aliases and the merged partials `__<name>`
    def project(merged: DataFrame): DataFrame = merged.select(ps.map {
      case Grp(a, _) => col(a)
      case Agg(a, agg) => agg.result(n => col("__" + n)).as(a)
    }: _*)
    // the driver route (scaladoc above): the memoized schema must carry
    // every needed partial, or the Spark route below decides
    val meta = SketchCells.meta(spark, dir, tableName)
    if (edges.isEmpty && s.fill.isEmpty &&
        needed.forall(p => meta.schema.fieldNames.contains(p.name)) &&
        SketchCells.mergePartitions(spark, meta.bytesIn(dLo, dHi)) == 1) {
      val cols = s.from.toSeq.map {
        case Ast.ById(_) => "series_id"
        case Ast.ByName(_) => "series"
      } ++ tierTagKey.map(_ => "tagval") ++ needed.map(_.name)
      val read =
        if (describe) Some(SketchCells.LocalCells(Nil, Nil))
        else SketchCells.readLocal(dir, tableName, meta, dLo, dHi, cols)
      read match {
        case None => ()
        case Some(cells) =>
          import org.apache.spark.sql.catalyst.InternalRow
          import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
            Descending, InterpretedOrdering, SortOrder}
          import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
          import org.apache.spark.unsafe.types.UTF8String
          // a read row is `day`, then `cols`
          val at = cols.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
          def str(r: InternalRow, c: String): UTF8String =
            if (r.isNullAt(at(c))) null else r.getUTF8String(at(c))
          val tagV = tagEq.map { case (_, v) => UTF8String.fromString(v) }
          val kept = cells.rows.filter { r =>
            s.from.forall {
              case Ast.ById(id) => !r.isNullAt(at("series_id")) && r.getLong(at("series_id")) == id
              case Ast.ByName(n) => UTF8String.fromString(n) == str(r, "series")
            } && tagV.forall(_ == str(r, "tagval"))
          }
          val key: Option[InternalRow => Seq[Any]] =
            if (groupKeys.isEmpty) None
            else Some(r => groupKeys.map {
              case BucketG(st, og, _) => graft.core.Functions.timeBucketOf(st, r.getLong(0), og)
              case TagG(_, _) => str(r, "tagval")
            })
          val merged = SketchCells.mergeLocal(kept, key,
            needed.map(p => (p, at(p.name), meta.schema(p.name).dataType)))
          // ORDER BY's keys, then the other group keys ascending, under
          // Spark's orderings: ASC NULLS FIRST, DESC NULLS LAST, strings in
          // UTF-8 byte order
          val keyTypes = groupKeys.map {
            case _: BucketG => LongType
            case _: TagG => StringType
          }
          val keyAt = groupKeys.map(grpAliases).zipWithIndex.toMap
          val ordered = orderCols.get.map { case (a, asc) => (keyAt(a), asc) }
          val ordering = new InterpretedOrdering(
            (ordered ++ keyTypes.indices.filterNot(ordered.map(_._1).contains).map((_, true)))
              .map { case (i, asc) =>
                SortOrder(BoundReference(i, keyTypes(i), nullable = true),
                  if (asc) Ascending else Descending)
              })
          val rows = merged.sorted(ordering)
            .drop(s.offset.fold(0)(_.toInt)).take(s.limit.fold(Int.MaxValue)(_.toInt))
          val schema = StructType(groupKeys.zip(keyTypes).map { case (k, t) =>
            StructField(grpAliases(k), t) } ++
            needed.map(p => StructField("__" + p.name, meta.schema(p.name).dataType)))
          val frame = org.apache.spark.sql.graftshim.GraftShim.localFrame(spark, schema, rows)
          return Some((project(frame), route,
            ServedRead("driver", s"$dir/$tableName", cells.files)))
      }
    }
    // selector: by_id / name filter cells AND edge rows identically; an
    // absent selector (r14) is the fleet-wide shape — cells merge across
    // series, so no filter at all
    val sel: Option[org.apache.spark.sql.Column] = s.from.map {
      case Ast.ById(id) => col("series_id") === id
      case Ast.ByName(n) => col("series") === n
    }
    def selFiltered(df: DataFrame): DataFrame = sel.fold(df)(df.filter)
    // the tier's cells, filtered by the tag equality on its tagval key —
    // day-pruned KB cells of ONE tag value. Only the window's day
    // directories are read; the day filter below still prunes them in the
    // scan's PartitionFilters.
    val table = SketchCells.readTable(spark, dir, tableName, dLo, dHi)
    val base = tagEq.foldLeft(
      selFiltered(table.df).filter(col("day") >= dLo && col("day") < dHi)) {
      case (df, (_, v)) => df.filter(col("tagval") === v)
    }
    // the partials the projected aggregates read must exist IN THIS
    // TABLE: a store predating the r14 basic partials, or a tier without
    // a requested NDV key's theta cells, lacks them — fall through to
    // the raw route (correct, just unserved) until it is rebuilt. The
    // read above carries the table's schema memoized per refresh
    // generation (SketchCells.readTable), so this check costs no metadata
    // round-trip and no schema-inference job.
    if (!needed.forall(p => base.columns.contains(p.name))) return None
    // one merge aggregate carries every needed partial, merged by the
    // cell store's own merge aggregates (digest merge, theta union — the
    // raw route's estimator family at the raw route's lgK, so tier
    // presence changes which blobs merge, never which estimator answers
    // — sums, struct min/max, counts add)
    val aggs = needed.map(p => p.merge.as("__" + p.name))
    // group columns in declaration order: the bucket key is the same
    // floor expression the compiler emits for time_bucket, over the
    // cell's day — exact because step is a day multiple; the tag key is
    // the tier's tagval (per-(series, day, value) digests merge within
    // each group cell — the raw route's grouping, served from day-pruned
    // KB blobs)
    val groupCols = groupKeys.map {
      case k @ BucketG(st, og, _) =>
        // same floor arithmetic the compiler emits per arity, over the
        // cell's day — exact because step AND origin are day-aligned
        (if (og == 0L) graft.core.Functions.timeBucket(lit(st), col("day"))
        else graft.core.Functions.timeBucket(lit(st), col("day"), lit(og)))
          .as(grpAliases(k))
      case k @ TagG(_, _) => col("tagval").as(grpAliases(k))
    }
    // the keys plus the partials the merge aggregate actually reads —
    // both tiers of the hybrid project exactly these, so the union stays
    // KB-sized
    val readCols = Seq("day") ++ tagKeyOpt.map(_ => "tagval").toSeq ++ needed.map(_.name)
    // ragged-edge partials (r14, single-aggregate since r16): the raw
    // rows of each sub-day edge union FIRST and aggregate in ONE
    // partial-building groupBy into the SAME partial shapes the cells
    // carry — built by the cell table's own raw aggregates, so merging
    // them with cell blobs never mixes estimator families. The leading
    // edge lies wholly in day dLo−86400 and the trailing edge in day
    // dHi, so one day-keyed groupBy yields exactly the per-edge rows the
    // r14 two-subtree plan produced — minus one aggregation subtree +
    // exchange per query (the serve-latency floor the hybrid pays over
    // the cells-only path). One partial row per (day [, tag value]) per
    // edge — KB.
    def edgeRows(elo: Long, ehi: Long): DataFrame =
      // time is integer seconds and bounds are inclusive, so [elo, ehi)
      // is the inclusive range [elo, ehi - 1]. The store's pruned scan
      // reads only the edge: through the skip manifest when one exists
      // (the edge hours' surviving files, for one metadata read), else
      // through scanRange's edge hour directories — never a listing of
      // the whole segments table, which at the ScaleBench store's 3,400
      // hour dirs measured 16 s against 2 s. The probe's residual is the
      // exact edge filter.
      store.scanPruned(scanProbe(s.from, None).copy(lo = Some(elo),
        hi = Some(ehi - 1), tags = tagEq.toSeq.map(Seq(_)))).df
    def edgePartials(raw: DataFrame): DataFrame = {
      val eAggs = needed.map(p => p.raw.as(p.name))
      raw.groupBy((Seq(SketchCells.day.as("day")) ++ tagKeyOpt.map(SketchCells.tagval)): _*)
        .agg(eAggs.head, eAggs.tail: _*)
    }
    // the cells side of the merge, sized by the probed days' cell bytes
    // (SketchCells.mergePartitions: Spark's split-size rule without the
    // 4 MB openCostInBytes the file scan charges per KB-sized file). A
    // dashboard window's cells fit one split: one partition, so the merge
    // plans with no Exchange — one job, one task. Larger windows keep the
    // scan's parallel plan; the ragged edges' raw reads are not sized here
    val cellRows = base.select(readCols.map(col): _*)
    val cells =
      if (SketchCells.mergePartitions(spark, table.meta.bytesIn(dLo, dHi)) == 1) cellRows.coalesce(1)
      else cellRows
    val unioned =
      if (edges.isEmpty) cells
      else cells.unionByName(edgePartials(
        edges.map { case (a, b) => edgeRows(a, b) }.reduce(_ unionByName _)))
    val merged =
      if (groupCols.isEmpty) unioned.agg(aggs.head, aggs.tail: _*)
      else unioned.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
    val out = project(merged)
    // fill between the projection and the sort — the compiler's exact
    // placement (grouped → fill → project → order → offset → limit);
    // the served frame's columns ARE the output names, like `grouped`'s
    val filledOut = s.fill match {
      case None => out
      case Some(policy) =>
        val bkOpt = groupKeys.collectFirst {
          case k @ BucketG(st, _, _) => (grpAliases(k), st) }
        // validator guarantees a bucketed group for fill; defensive
        if (bkOpt.isEmpty) return None
        val (bkName, st) = bkOpt.get
        val fkeys = groupKeys.collect { case k: TagG => grpAliases(k) }
        val vcols = ps.collect { case Agg(a, _) => a }
        policy match {
          case Ast.FillConst(Ast.IntLit(v)) =>
            graft.operators.Fill.applyConst(out, bkName, fkeys, st,
              org.apache.spark.sql.functions.lit(v), vcols)
          case Ast.FillConst(Ast.FloatLit(v)) =>
            graft.operators.Fill.applyConst(out, bkName, fkeys, st,
              org.apache.spark.sql.functions.lit(v), vcols)
          case p => graft.operators.Fill(out, bkName, fkeys, st, p, vcols)
        }
    }
    val sorted = if (s.orderBy.nonEmpty)
      filledOut.orderBy(orderCols.get.map { case (a, asc) =>
        if (asc) col(a).asc else col(a).desc }: _*)
    else filledOut
    // same application order as the compiler (offset skips, then limit
    // takes) — reached only under a total order (the guard above)
    val withOffset = s.offset.map(o => sorted.offset(o.toInt)).getOrElse(sorted)
    val served = s.limit.map(n => withOffset.limit(n.toInt)).getOrElse(withOffset)
    Some((served, route,
      ServedRead("spark", s"$dir/$tableName", table.meta.filesIn(dLo, dHi))))
  }

  /** Execute against a [[graft.storage.SeriesStore]]: SELECT/EXPLAIN read
    * the store's source view — pruned by the WHERE's [[scanProbe]]
    * through [[graft.storage.SeriesStore.scanPruned]], and sketch aggregates
    * served from the at-rest cell store when the shape coarsens its keys
    * ([[sketchServed]]) — INSERT appends; DELETE rewrites affected hour
    * partitions. The reference parses+validates INSERT/DELETE but never
    * plans them (`plan.zig:99-104`) — here they run.
    */
  def executeOnStore(
      store: graft.storage.SeriesStore,
      sydraql: String,
      options: CompileOptions = CompileOptions()): QueryResult =
    // one MetaCache marker read per dir for this whole query's routing
    // (r16): resolution touches several metadata memos per tier dir, and
    // each was paying its own marker freshness read — at dashboard QPS
    // against an object store that is the overhead the memo removes
    graft.storage.MetaCache.scoped {
      onStore(store, sydraql, options, runWrites = true).get
    }

  /** The row schema [[executeOnStore]] answers `sydraql` with, from the
    * same route resolution: a SELECT or EXPLAIN compiles on the served or
    * pruned raw route it would execute on (lazily: the frame runs no job;
    * a driver-merged served shape reads no cell file). INSERT and DELETE
    * answer no rows; they are neither compiled nor run (None).
    */
  def describeOnStore(
      store: graft.storage.SeriesStore,
      sydraql: String,
      options: CompileOptions = CompileOptions()): Option[org.apache.spark.sql.types.StructType] =
    graft.storage.MetaCache.scoped {
      onStore(store, sydraql, options, runWrites = false).map(_.df.schema)
    }

  /** Parse, validate and route a statement; None only for an INSERT or
    * DELETE when `runWrites` is off.
    */
  private def onStore(
      store: graft.storage.SeriesStore,
      sydraql: String,
      options: CompileOptions,
      runWrites: Boolean): Option[QueryResult] = {
    import graft.storage.Maintenance
    import org.apache.spark.sql.functions._
    val spark = store.spark
    val t0 = System.nanoTime()
    val ast = Parser.parse(sydraql)
    val t1 = System.nanoTime()
    Validator.validate(ast)
    val t2 = System.nanoTime()
    // real stage timings on every arm (r15 — served/INSERT/DELETE used
    // to report zeros): parse/validate measured above; compileUs is
    // everything from validation to the built plan (serving-route
    // resolution, predicate/row compilation) — called BEFORE the arm's
    // side effect runs, so execution time never pollutes it
    def statsOf(route: String, served: Option[ServedRead] = None): QueryStats = QueryStats(
      parseUs = (t1 - t0) / 1000,
      validateUs = (t2 - t1) / 1000,
      compileUs = (System.nanoTime() - t2) / 1000,
      traceId = traceId(),
      route = route,
      served = served)
    // INSERT values and the DELETE predicate are scalars, which read only
    // the source's column names: compile them over an empty frame of the
    // source's schema, not a read of every hour directory
    def scalarCompiler = new Compiler(spark,
      store.scanHours(Nil).select("series", "series_id", "tags", "time", "value"), options)
    ast match {
      case _: Ast.Select | _: Ast.Explain =>
        val sel = ast match {
          case s: Ast.Select => Some(s)
          case Ast.Explain(s: Ast.Select) => Some(s)
          case _ => None
        }
        Some(sel.flatMap(sketchServed(store, _, describe = !runWrites)) match {
          case Some((df, route, read)) if ast.isInstanceOf[Ast.Select] =>
            QueryResult(df, statsOf(route, Some(read)))
          case Some((df, route, read)) =>
            // EXPLAIN of a served query shows the SERVED plan; a driver
            // merge's local scan names no file, so its read leads
            import spark.implicits._
            QueryResult(
              Seq((if (read.site == "driver") read.explain + "\n" else "") +
                df.queryExecution.explainString(
                  org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
                .toDF("plan"),
              statsOf(route, Some(read)))
          case _ =>
            // raw route: reuse the parse/validate this method already
            // did (and their measured times) — compile only
            executeAst(spark, sel.fold(store.source())(s =>
                store.scanPruned(scanProbe(s.from, s.where)).df
                  .select("series", "series_id", "tags", "time", "value")),
              ast, options, (t1 - t0) / 1000, (t2 - t1) / 1000)
        })
      case _ if !runWrites => None
      case Ast.Insert(series, cols, rows) =>
        val compiler = scalarCompiler
        val colNames = if (cols.isEmpty) Seq("time", "value") else cols.map(_.toLowerCase)
        if (!colNames.contains("time") || !colNames.contains("value"))
          throw QueryError(QueryError.InvalidSyntax, "insert columns must include time and value")
        val rowDfs = rows.map { vals =>
          if (vals.length != colNames.length)
            throw QueryError(QueryError.InvalidFunctionArity,
              s"insert row has ${vals.length} values for ${colNames.length} columns")
          val exprs = colNames.zip(vals).map { case (n, e) => compiler.scalar(e).as(n) }
          val tagCols = colNames.filterNot(Seq("time", "value").contains)
          spark.range(1).select(exprs: _*).select(
            lit(series).as("series"),
            (if (tagCols.isEmpty) map().cast("map<string,string>")
             else map(tagCols.flatMap(t => Seq(lit(t), col(t).cast("string"))): _*)).as("tags"),
            col("time").cast("long").as("time"),
            col("value").cast("double").as("value"))
        }
        val pts = rowDfs.reduce(_ union _)
        val st = statsOf("insert") // plan built; the append is execution
        store.append(pts)
        import spark.implicits._
        Some(QueryResult(Seq(rows.length.toLong).toDF("inserted"), st))
      case Ast.Delete(sel, where) =>
        val compiler = scalarCompiler
        val selPred = sel match {
          case Ast.ById(id) => col("series_id") === id
          case Ast.ByName(n) => col("series") === n
        }
        val pred = where.map(w => selPred && compiler.scalar(w)).getOrElse(selPred)
        // one pruned pass does everything: discovery reads the same
        // pruned scan as the matching SELECT (skip manifest when one
        // exists, hour pruning otherwise) and the per-partition rewrite
        // tallies the removed rows — no separate matched-row count scan;
        // the tier refresh after the rewrite keeps manifest + sketch
        // cells consistent
        val st = statsOf("delete") // predicate compiled; the rewrite is execution
        val report = Maintenance.deleteRows(store, pred, scanProbe(Some(sel), where))
        import spark.implicits._
        Some(QueryResult(Seq(report.deletedRows).toDF("deleted"), st))
    }
  }
}
