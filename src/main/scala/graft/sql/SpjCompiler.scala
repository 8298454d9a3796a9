package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Compiles an [[SpjAst.SpjQuery]] to a declarative DataFrame plan.
  *
  * This is where the reference's optimizer concerns live
  * (src/qp/optimizer/RandomOptimizer.java + PlanCost.java): join ORDER is
  * chosen by a cost-based dynamic program over the same statistics the
  * reference's PlanCost reads from its .stat files — per-table row counts
  * and per-attribute distinct-value counts — estimating every intermediate
  * cardinality as |L ⋈ R| = |L|·|R| / max(V(l), V(r)) (the PlanCost
  * formula) and minimizing the SUM of intermediate sizes over all
  * connected left-deep orders. Where the reference explores that space by
  * randomized iterative improvement (RandomOptimizer's 2^24-bounded
  * neighbor walk), an SPJ FROM list is small enough to search EXACTLY
  * (subset DP, ≤ 12 relations), so we return the true optimum of the same
  * cost model. When stats are missing the compiler falls back to greedy
  * smallest-relation-first. Either way we emit broadcast hints for small
  * build sides and let Catalyst + AQE finish the job (predicate pushdown,
  * column pruning, runtime join-strategy switch, skew handling). Join
  * METHOD selection (NestedJoin vs HashJoin vs BlockNested in the
  * reference) is deliberately NOT re-implemented: that is exactly what
  * Spark's physical planning + AQE does better.
  *
  * Semantics notes vs the reference:
  *  - selections are applied per-table BEFORE joins (the reference pushes
  *    them via RandomInitialPlan too); Catalyst pushes them into the scan.
  *  - a non-aggregated projected attribute that is missing from GROUPBY is
  *    added as a grouping key (the reference's GroupBy has undefined
  *    semantics there; we choose the strict-SQL reading).
  *  - literals are coerced to the column's type (the reference compares
  *    typed tuple fields the same way).
  *  - SUM/AVG on floating columns accumulate in DECIMAL(18,6) for
  *    deterministic, order-independent totals, surfaced as DOUBLE.
  */
object SpjCompiler {
  import SpjAst._

  /** Rows below which a join side gets an explicit broadcast hint. */
  val BroadcastRows = 500000L

  /** UNCOMPRESSED bytes above which a side is never hinted, whatever its
    * row count: the broadcast lives materialized on the driver and every
    * executor, so byte width — not row count — is the real budget (500k
    * rows of wide strings can be gigabytes). 64 MB decoded keeps the
    * relation comfortably inside executor broadcast memory at any
    * realistic parallelism; AQE may still broadcast larger sides at
    * runtime if its own measured size allows.
    */
  val BroadcastBytes = 64L << 20

  /** Default equality selectivity when the attribute's distinct count is
    * unknown (System R's 1/10). */
  val DefaultEqSel = 0.1
  /** Range-predicate selectivity when no range statistics are available
    * (System R's 1/3). When the dir has been ANALYZEd
    * (TableTools.analyze → `_graft_stats.parquet` min/max + equi-width
    * histogram, surfaced via Tables.columnRanges), range predicates are
    * priced by [[rangeSel]] instead. */
  val RangeSel = 1.0 / 3.0

  /** Estimated fraction of rows satisfying `col op x` from the column's
    * histogram: cumulative bucket counts below x, linearly interpolated
    * inside the boundary bucket; pure min/max interpolation when the
    * histogram is absent. Estimation only — plan choice, never
    * correctness — so Le/Lt (and Ge/Gt) share an estimate.
    */
  private[sql] def rangeSel(
      cs: graft.Tables.ColStats, op: CompOp, x: Double): Double = {
    def below: Double =
      if (x <= cs.min) 0.0
      else if (x >= cs.max) 1.0
      else if (cs.hist.nonEmpty && cs.max > cs.min) {
        val b = cs.hist.size
        val w = (cs.max - cs.min) / b
        val pos = (x - cs.min) / w
        val i = math.min(pos.toInt, b - 1)
        val total = cs.hist.sum.toDouble
        if (total <= 0) (x - cs.min) / (cs.max - cs.min)
        else (cs.hist.take(i).sum + cs.hist(i) * (pos - i)) / total
      } else (x - cs.min) / (cs.max - cs.min)
    val f = op match {
      case Lt | Le => below
      case Gt | Ge => 1.0 - below
      case Eq | Ne => RangeSel // not a range op; callers never pass these
    }
    math.min(1.0, math.max(f, 0.0))
  }

  /** SPJ literal → the double domain the ANALYZE artifact uses (numerics
    * as-is, dates as epoch days). Non-orderable literals → None. */
  private[sql] def litDouble(s: String): Option[Double] =
    s.trim.toDoubleOption.orElse(scala.util.Try(
      java.time.LocalDate.parse(s.trim).toEpochDay.toDouble).toOption)

  /** Cost-based join order over the query's join graph: exact subset DP
    * minimizing Σ intermediate cardinalities under the PlanCost estimate
    * |L ⋈ R| = |L|·|R| / max(V(l), V(r)). Per-table base cardinalities are
    * row counts reduced by selection selectivities (eq → 1/V or 1/10,
    * range → 1/3). Cardinality of a table SET is order-independent
    * (product of base cards × product of in-set join selectivities), so
    * the DP is over subsets with left-deep reconstruction; disconnected
    * extensions (cross joins) are only considered when no connected one
    * exists — mirroring RandomInitialPlan, which never volunteers a
    * cartesian product.
    *
    * Returns the lowercase table names in join order. `ndv` maps
    * lowercase table -> lowercase column -> distinct count.
    */
  def joinOrder(
      q: SpjQuery,
      rows: String => Long,
      ndv: Map[String, Map[String, Long]],
      ranges: Map[String, Map[String, graft.Tables.ColStats]] = Map.empty)
      : Seq[String] = {
    val tables = q.from.map(_.toLowerCase).distinct.toVector
    val n = tables.size
    val idx = tables.zipWithIndex.toMap
    def ndvOf(a: Attr): Option[Long] =
      ndv.get(a.table.toLowerCase).flatMap(_.get(a.column.toLowerCase))
    def rangeOf(a: Attr): Option[graft.Tables.ColStats] =
      ranges.get(a.table.toLowerCase).flatMap(_.get(a.column.toLowerCase))

    // base cardinality: rows after per-table selections. Equality → 1/V
    // (or 1/10 unknown); range → histogram fraction when the dir has been
    // ANALYZEd, System R's 1/3 otherwise.
    val base: Vector[Double] = tables.map { t =>
      val r = rows(t).toDouble
      val sel = q.selections.collect {
        case LitCond(a, op, v) if a.table.equalsIgnoreCase(t) =>
          op match {
            case Eq => ndvOf(a).map(x => 1.0 / math.max(x, 1L))
              .getOrElse(DefaultEqSel)
            case Ne => 1.0
            case _ => (rangeOf(a), litDouble(v)) match {
              case (Some(cs), Some(x)) => rangeSel(cs, op, x)
              case _ => RangeSel
            }
          }
        case AttrCond(l, op, r2) if l.table.equalsIgnoreCase(t) &&
          r2.table.equalsIgnoreCase(t) =>
          op match {
            case Eq => ndvOf(l).map(x => 1.0 / math.max(x, 1L))
              .getOrElse(DefaultEqSel)
            case Ne => 1.0
            case _ => RangeSel
          }
      }.product
      math.max(r * sel, 1.0)
    }

    // join selectivity per condition; conds keyed by their table pair
    def condSel(c: AttrCond): Double = {
      if (c.op == Eq) {
        val vl = ndvOf(c.lhs).getOrElse(rows(c.lhs.table.toLowerCase))
        val vr = ndvOf(c.rhs).getOrElse(rows(c.rhs.table.toLowerCase))
        1.0 / math.max(math.max(vl, vr), 1L).toDouble
      } else if (c.op == Ne) 1.0
      else RangeSel
    }
    val condEdges: Seq[(Int, Int, Double)] = q.joins.flatMap { c =>
      for {
        li <- idx.get(c.lhs.table.toLowerCase)
        ri <- idx.get(c.rhs.table.toLowerCase)
        if li != ri
      } yield (li, ri, condSel(c))
    }

    // card(mask) = Π base × Π sel(conds inside mask) — order-independent
    val cardMemo = new scala.collection.mutable.HashMap[Int, Double]
    def card(mask: Int): Double = cardMemo.getOrElseUpdate(mask, {
      var c = 1.0
      var i = 0
      while (i < n) { if ((mask & (1 << i)) != 0) c *= base(i); i += 1 }
      condEdges.foreach { case (l, r, s) =>
        if ((mask & (1 << l)) != 0 && (mask & (1 << r)) != 0) c *= s
      }
      math.max(c, 1.0)
    })
    def connected(mask: Int, t: Int): Boolean = condEdges.exists {
      case (l, r, _) =>
        (l == t && (mask & (1 << r)) != 0) || (r == t && (mask & (1 << l)) != 0)
    }

    // left-deep DP: best(mask) = min over last-joined t of
    //   best(mask - t) + card(mask)
    val best = new scala.collection.mutable.HashMap[Int, (Double, List[Int])]
    def solve(mask: Int): (Double, List[Int]) = best.getOrElseUpdate(mask, {
      val bits = (0 until n).filter(i => (mask & (1 << i)) != 0)
      if (bits.size == 1) (0.0, bits.toList)
      else {
        val conn = bits.filter(t => connected(mask & ~(1 << t), t))
        val pool = if (conn.nonEmpty) conn else bits
        pool.map { t =>
          val (subCost, subOrder) = solve(mask & ~(1 << t))
          (subCost + card(mask), subOrder :+ t)
        }.minBy(_._1)
      }
    })
    solve((1 << n) - 1)._2.map(tables)
  }

  /** The single order-selection rule shared by [[compile]] and
    * [[explainOrder]]: cost-based DP when row stats cover EVERY table and
    * the table count is in the DP's 2..12 range, greedy smallest-first
    * otherwise. Factored so the explain can never report an order the
    * executed plan would not choose (e.g. a table whose footer count
    * resolves to Long.MaxValue forces greedy in both). `ndv`/`ranges`
    * must be keyed by lowercase table/column names.
    */
  private[sql] def chooseOrder(
      q: SpjQuery, rowsOf: String => Long,
      ndv: Map[String, Map[String, Long]],
      ranges: Map[String, Map[String, graft.Tables.ColStats]]): Seq[String] = {
    val tableNames = q.from.map(_.toLowerCase).distinct
    val statsKnown = tableNames.forall(t => rowsOf(t) != Long.MaxValue)
    if (statsKnown && tableNames.size >= 2 && tableNames.size <= 12)
      joinOrder(q, rowsOf, ndv, ranges)
    else greedyOrder(q, rowsOf)
  }

  /** Greedy smallest-relation-first order (the no-stats fallback). */
  private[sql] def greedyOrder(q: SpjQuery, rows: String => Long): Seq[String] = {
    val joins = q.joins
    var remaining = q.from.map(_.toLowerCase).distinct
    var joined: Set[String] = Set.empty
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def connects(inSet: Set[String], t: String): Boolean = joins.exists { c =>
      val lt = c.lhs.table.toLowerCase; val rt = c.rhs.table.toLowerCase
      (inSet.contains(lt) && rt == t) || (inSet.contains(rt) && lt == t)
    }
    while (remaining.nonEmpty) {
      val next =
        if (joined.isEmpty) {
          val inJoin = remaining.filter(t => joins.exists(c =>
            c.lhs.table.equalsIgnoreCase(t) || c.rhs.table.equalsIgnoreCase(t)))
          (if (inJoin.nonEmpty) inJoin else remaining).minBy(rows)
        } else {
          val connected = remaining.filter(t => connects(joined, t))
          if (connected.nonEmpty) connected.minBy(rows)
          else remaining.minBy(rows)
        }
      out += next; joined += next; remaining = remaining.filterNot(_ == next)
    }
    out.toSeq
  }

  def compile(
      q: SpjQuery,
      catalog: Map[String, DataFrame],
      stats: Map[String, Long] = Map.empty,
      byteStats: Map[String, Long] = Map.empty,
      ndvStats: Map[String, Map[String, Long]] = Map.empty,
      rangeStats: Map[String, Map[String, graft.Tables.ColStats]] =
        Map.empty): DataFrame = {

    def lookup(name: String): DataFrame =
      catalog.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
        .getOrElse(throw new SpjParseException(s"unknown table $name"))
    def rowsOf(name: String): Long =
      stats.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
        .getOrElse(Long.MaxValue)
    // unknown byte size (no footer available) falls back to the row gate
    // alone — pre-byte-stats behavior
    def bytesOf(name: String): Long =
      byteStats.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
        .getOrElse(-1L)
    def broadcastable(name: String): Boolean =
      rowsOf(name) <= BroadcastRows &&
        (bytesOf(name) < 0L || bytesOf(name) <= BroadcastBytes)

    // Qualify every column as table_column so multi-table plans can't
    // collide; resolution below is case-insensitive on the column name.
    def qualified(name: String): DataFrame = {
      val df = lookup(name)
      df.select(df.columns.map(c =>
        col(c).as(s"${name.toLowerCase}_$c")): _*)
    }
    def colRef(dfs: Map[String, DataFrame], a: Attr): Column = {
      val df = dfs.collectFirst {
        case (k, v) if k.equalsIgnoreCase(a.table) => v
      }.getOrElse(throw new SpjParseException(s"unknown table ${a.table}"))
      val hit = df.columns.find(_.equalsIgnoreCase(
        s"${a.table.toLowerCase}_${a.column}"))
        .orElse(df.columns.find(_.split("_", 2).last.equalsIgnoreCase(a.column)))
        .getOrElse(throw new SpjParseException(
          s"unknown column ${a.table}.${a.column}"))
      col(hit)
    }
    def typeOf(a: Attr): DataType = {
      val df = lookup(a.table)
      df.schema.find(_.name.equalsIgnoreCase(a.column))
        .getOrElse(throw new SpjParseException(
          s"unknown column ${a.table}.${a.column}")).dataType
    }

    def cmp(op: CompOp)(l: Column, r: Column): Column = op match {
      case Lt => l < r; case Gt => l > r; case Le => l <= r
      case Ge => l >= r; case Eq => l === r; case Ne => l =!= r
    }

    // 1. Per-table selections, applied before any join.
    val perTableSel: Map[String, Seq[Cond]] =
      q.selections.groupBy {
        case LitCond(a, _, _) => a.table.toLowerCase
        case AttrCond(l, _, _) => l.table.toLowerCase
      }
    var rels: Map[String, DataFrame] = q.from.map { tname =>
      var df = qualified(tname)
      val one = Map(tname -> df)
      perTableSel.getOrElse(tname.toLowerCase, Nil).foreach {
        case LitCond(a, op, v) =>
          df = df.filter(cmp(op)(colRef(Map(tname -> df), a),
            lit(v).cast(typeOf(a))))
        case AttrCond(l, op, r) =>
          df = df.filter(cmp(op)(colRef(Map(tname -> df), l),
            colRef(Map(tname -> df), r)))
      }
      tname.toLowerCase -> df
    }.toMap

    // 2. Join ordering: exact cost-based DP when row stats cover every
    //    table (the PlanCost model — see joinOrder), greedy smallest-first
    //    otherwise. Components without a join condition are cross-joined
    //    as late as the order allows (reference: NestedJoin, no condition).
    val joins = q.joins
    val order: Seq[String] = chooseOrder(q, rowsOf,
      ndvStats.map { case (k, v) =>
        k.toLowerCase -> v.map { case (c, n) => c.toLowerCase -> n } },
      rangeStats.map { case (k, v) =>
        k.toLowerCase -> v.map { case (c, s) => c.toLowerCase -> s } })

    def joinCondsBetween(inSet: Set[String], t: String): Seq[AttrCond] =
      joins.filter { c =>
        val lt = c.lhs.table.toLowerCase; val rt = c.rhs.table.toLowerCase
        (inSet.contains(lt) && rt == t) || (inSet.contains(rt) && lt == t)
      }

    var joined: Set[String] = Set.empty
    var plan: DataFrame = null
    order.foreach { nextT =>
      if (plan == null) { plan = rels(nextT); joined = Set(nextT) }
      else {
        val conds = joinCondsBetween(joined, nextT)
        val rightRaw = rels(nextT)
        val right =
          if (broadcastable(nextT)) broadcast(rightRaw) else rightRaw
        val env = (joined.map(t => t -> plan) + (nextT -> rightRaw)).toMap
        plan =
          if (conds.isEmpty) plan.crossJoin(right)
          else {
            val expr = conds.map(c =>
              cmp(c.op)(colRef(env, c.lhs), colRef(env, c.rhs))).reduce(_ && _)
            plan.join(right, expr)
          }
        joined += nextT
      }
    }
    if (plan == null) throw new SpjParseException("empty FROM list")
    val env = joined.map(t => t -> plan).toMap

    // 3. Aggregation / projection.
    def outName(a: Attr): String = a.agg match {
      case NoAgg => s"${a.table.toLowerCase}_${a.column.toLowerCase}"
      case fn =>
        val f = fn.toString.toLowerCase
        s"${f}_${a.table.toLowerCase}_${a.column.toLowerCase}"
    }
    def isFloating(a: Attr): Boolean = typeOf(a) match {
      case DoubleType | FloatType => true
      case _ => false
    }
    def aggCol(a: Attr): Column = {
      val c = colRef(env, a)
      val agg = a.agg match {
        case Max => max(c)
        case Min => min(c)
        case Count => count(c)
        case Sum =>
          if (isFloating(a)) sum(c.cast(DecimalType(18, 6))).cast("double")
          else sum(c)
        case Avg =>
          if (isFloating(a))
            (sum(c.cast(DecimalType(18, 6))).cast("double") / count(c))
          else (sum(c).cast("double") / count(c))
        case NoAgg => throw new IllegalStateException("not an aggregate")
      }
      agg.as(outName(a))
    }

    val hasAgg = q.project.exists(_.agg != NoAgg)
    var out: DataFrame =
      if (hasAgg || (q.groupBy.nonEmpty && q.project.nonEmpty)) {
        val plainProjected = q.project.filter(_.agg == NoAgg)
        val keys = (q.groupBy ++ plainProjected)
          .map(a => a.copy(agg = NoAgg))
          .distinctBy(a => (a.table.toLowerCase, a.column.toLowerCase))
        val aggs = q.project.filter(_.agg != NoAgg).map(aggCol)
        val keyCols = keys.map(a => colRef(env, a).as(outName(a)))
        if (keys.isEmpty) plan.agg(aggs.head, aggs.tail: _*)
        else if (aggs.isEmpty)
          // GROUPBY with no aggregated projection (valid in the reference
          // dialect): grouping without aggregates is DISTINCT over the keys.
          plan.select(keyCols: _*).distinct()
            .select(q.project.map(a => col(outName(a))): _*)
        else {
          val grouped = plan.groupBy(keyCols: _*)
          grouped.agg(aggs.head, aggs.tail: _*)
            .select((q.project.map(a =>
              col(outName(a)))): _*)
        }
      } else if (q.projectAll || q.project.isEmpty) plan
      else plan.select(q.project.map(a => colRef(env, a).as(outName(a))): _*)

    if (q.distinct) out = out.distinct()
    if (q.orderBy.nonEmpty) {
      val obCols = q.orderBy.map { a =>
        val n = outName(a.copy(agg = NoAgg))
        if (out.columns.contains(n)) col(n) else colRef(env, a)
      }
      out = out.orderBy(obCols: _*)
    }
    out
  }

  /** Parse + compile + run against the parquet catalog under `dir`.
    * Loads only the tables the query references. Their schemas, footer
    * row counts and uncompressed bytes come from [[Tables]]' metadata memo
    * (keyed by path, file listing and schema-shaping confs), read from
    * the footers on the driver, so no compile starts a schema job.
    *
    * Distinct-value stats (the reference .stat files' second line) are
    * collected lazily for exactly the attributes the cost model consults —
    * join keys and eq-selection columns — one approx_count_distinct rollup
    * per table, memoized per (dir, table) in [[Tables.columnNdv]]. This is
    * the ANALYZE analog: at 100 TB the same map would come from a stats
    * catalog maintained offline, and the compiler takes it as plain data.
    */
  def run(spark: SparkSession, dir: String, sql: String): DataFrame = {
    val q = SpjParser.parse(sql)
    val (catalog, stats, bytes, ndv, ranges) = gatherStats(spark, dir, q)
    compile(q, catalog, stats, bytes, ndv, ranges)
  }

  /** The join order [[run]] would choose for `sql` against `dir` — the
    * user-facing EXPLAIN for the SPJ dialect, and the introspection hook
    * the specs pin plan decisions on. Same statistics path as run:
    * footer row counts, NDV (artifact-first via Tables.columnNdv), range
    * stats from the persisted ANALYZE artifact only.
    */
  def explainOrder(spark: SparkSession, dir: String, sql: String): Seq[String] = {
    val q = SpjParser.parse(sql)
    val (_, stats, _, ndv, ranges) = gatherStats(spark, dir, q)
    def rowsOf(n: String): Long = stats.getOrElse(n.toLowerCase, Long.MaxValue)
    chooseOrder(q, rowsOf, ndv, ranges)
  }

  private def gatherStats(spark: SparkSession, dir: String, q: SpjQuery): (
      Map[String, DataFrame], Map[String, Long], Map[String, Long],
      Map[String, Map[String, Long]],
      Map[String, Map[String, graft.Tables.ColStats]]) = {
    val names = q.from.map(_.toLowerCase).distinct
    val catalog = names.map(n => n -> Tables.load(spark, dir, n)).toMap
    val stats = names.map(n => n -> Tables.rowCount(spark, dir, n)).toMap
    val bytes = names.map(n => n -> Tables.uncompressedBytes(spark, dir, n)).toMap
    val wanted: Seq[Attr] = q.joins.flatMap(c => Seq(c.lhs, c.rhs)) ++
      q.selections.collect { case LitCond(a, Eq, _) => a }
    val ndv = wanted.groupBy(_.table.toLowerCase).map { case (t, attrs) =>
      t -> Tables.columnNdv(spark, dir, t,
        attrs.map(_.column.toLowerCase).distinct)
    }
    // range stats come only from the persisted ANALYZE artifact (no
    // in-session histogram jobs at compile time — an un-ANALYZEd dir
    // prices ranges at the System R 1/3 exactly as before)
    val rangeTables = q.selections.collect {
      case LitCond(a, op, _) if op != Eq && op != Ne => a.table.toLowerCase
    }.distinct
    val ranges = rangeTables
      .map(t => t -> Tables.columnRanges(spark, dir, t)).toMap
      .filter(_._2.nonEmpty)
    (catalog, stats, bytes, ndv, ranges)
  }
}
