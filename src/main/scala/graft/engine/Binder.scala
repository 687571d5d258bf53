package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.nutql.Ast._
import scala.util.Try

/** AST → DataFrame lowering (SURVEY §3.2).
  *
  * Uncorrelated and equality-correlated IN/EXISTS subqueries go through
  * Catalyst's subquery API; the binder does the rewrites Catalyst cannot:
  * theta and nested decorrelation, scalar subqueries, DISTINCT ON and
  * LIMIT WITH TIES window/threshold rewrites, AsOf-join lowering, and
  * right-semi/right-anti side swaps. Everything else — pushdown, pruning,
  * join strategy selection, partial aggregation, AQE — is left to
  * Catalyst by construction (declarative plan, public API only).
  */
final class Binder(
    spark: SparkSession,
    catalog: Catalog,
    params: Seq[Any] = Nil,
    config: collection.Map[String, Any] = Map.empty) {

  /** One named relation visible for identifier resolution. `df` is the
    * source DataFrame whose attributes survive later joins/filters (the
    * df("col") disambiguation pattern). `rename` maps a user-visible
    * column name (lowercased) to the actual df column — used by lowerings
    * that must flatten both join sides into one frame with unique names
    * (the AsOf union+window plan). */
  final case class Scope(qualifier: Option[String], df: DataFrame, cols: Seq[String],
      rename: Map[String, String] = Map.empty, hidden: Boolean = false) {
    def has(n: String): Boolean = !hidden && cols.exists(_.equalsIgnoreCase(n))
    def column(n: String): Column = df(rename.getOrElse(n.toLowerCase, n))
  }

  /** Internal machinery scope (scalar values, EXISTS flags, IN stats):
    * excluded from wildcard expansion and identifier resolution — its
    * columns are reached only through the Column the lowering returns. */
  private def hiddenScope(df: DataFrame, cols: Seq[String]): Scope =
    Scope(None, df, cols, hidden = true)
  final case class Rel(df: DataFrame, scopes: Seq[Scope])

  /** Mutable binding state: scalar subqueries are placed onto `rel` as
    * they are encountered inside expressions. */
  private final class Ctx(
      var rel: Rel,
      val outer: Option[Rel],
      val ctes: Map[String, DataFrame],
      var subst: Map[Expr, Column] = Map.empty)

  private var uniqueCounter = 0
  private def fresh(prefix: String): String = { uniqueCounter += 1; s"__${prefix}_$uniqueCounter" }

  /** DataFrames this binder persisted (multi-ref CTEs). The engine drains
    * and unpersists them once the consuming action completes — without
    * this, every multi-ref CTE pins executor memory for the session's
    * lifetime (ADVICE r2). */
  val persistedFrames: scala.collection.mutable.Buffer[DataFrame] =
    scala.collection.mutable.Buffer.empty[DataFrame]

  def err(msg: String): Nothing = throw GraftException(msg)

  /** Bind an expression against a single standalone relation (constraint
    * checks on an INSERT batch, ALTER defaults). */
  def bindAgainstDf(df: DataFrame, e: Expr): Column = {
    val ctx = new Ctx(Rel(df, Seq(Scope(None, df, df.columns.toSeq))), None, Map.empty)
    bindExpr(e, ctx)
  }

  /** Bind a constant expression (VALUES cells, DEFAULT exprs — no column
    * references, but scalar functions like toDate('…') are fine). */
  def bindConstant(e: Expr): Column = bindAgainstDf(spark.range(1).toDF("__c"), e)

  // ================== query binding ==================

  def bindQuery(q: Query, ctes: Map[String, DataFrame] = Map.empty): DataFrame = q match {
    case SetOpQuery(op, l, r) =>
      val ld = bindQuery(l, ctes)
      val rd = bindQuery(r, ctes)
      op match {
        case "union_all" => ld.union(rd) // positional, SQL semantics
        case "union_distinct" => ld.union(rd).distinct()
        case "intersect" => ld.intersect(rd)
        case "except" => ld.except(rd)
        case other => err(s"unknown set op $other")
      }
    case qb: QueryBody => bindBody(qb, ctes, outer = None)
  }

  /** Bind a body's WITH list (later CTEs see earlier ones; a CTE
    * referenced more than once is persisted so its exchange isn't
    * recomputed per consumer) and return the extended CTE map. CTEs are
    * bound UNCORRELATED — one referencing an enclosing scope fails with
    * the normal unresolved-column error. Shared by the main body path
    * and the subquery-body lowerings (EXISTS bodies, nested
    * grandparent bodies), so `EXISTS (WITH t AS … SELECT …)` works
    * anywhere a plain body does. */
  private def bindBodyCtes(qb: QueryBody,
      outerCtes: Map[String, DataFrame]): Map[String, DataFrame] =
    qb.ctes.foldLeft(outerCtes) { case (acc, (name, cteQ)) =>
      val df = bindQuery(cteQ, acc)
      val refs = countTableRefs(qb, name)
      val bound = if (refs > 1) {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        persistedFrames += p
        p
      } else df
      acc + (name.toLowerCase -> bound)
    }

  private def bindBody(qb: QueryBody, outerCtes: Map[String, DataFrame], outer: Option[Rel]): DataFrame = {
    val ctes = bindBodyCtes(qb, outerCtes)

    // ---- FROM + JOINs ----
    val baseRel: Rel = qb.from match {
      case Some(src) => bindSource(src, ctes)
      case None =>
        // SELECT with no FROM: one-row relation
        val df = spark.range(1).toDF("__dummy")
        Rel(df, Seq(Scope(None, df, Nil)))
    }
    val joinedRel = qb.joins.foldLeft(baseRel)((rel, jc) => bindJoin(rel, jc, ctes))

    val ctx = new Ctx(joinedRel, outer, ctes)

    // ---- WHERE: conjuncts that are EXISTS/IN-subqueries lower to
    // semi/anti joins; the rest become one filter ----
    qb.where.foreach(w => applyWhere(w, ctx))

    // ---- aggregation detection ----
    val aggSources = qb.selectList.map(_.expr) ++ qb.having.toSeq ++ qb.orderBy.map(_.expr)
    val aggCalls = aggSources.flatMap(collectAggs).distinct
    val grouped = qb.groupBy.nonEmpty || aggCalls.nonEmpty

    if (grouped) {
      // GROUP BY may reference select-list aliases (GROUP BY status_label)
      val keyPairs = qb.groupBy.map(substituteAliases(_, qb.selectList)).zipWithIndex.map {
        case (e @ Ident(_, n), _) => (e, n)
        case (e, i) => (e, s"__key_$i")
      }
      val keyCols = keyPairs.map { case (e, n) => bindExpr(e, ctx).as(n) }
      val aggPairs = aggCalls.map(fc => (fc, fresh("agg")))
      // GROUP BY with no aggregate in the query (the dedup idiom
      // `SELECT k FROM t GROUP BY k`) still needs one aggregate column
      // for the API — a placeholder count that nothing references
      val aggCols = aggPairs.map { case (fc, n) => bindAggCall(fc, ctx).as(n) } match {
        case Nil => Seq(count(lit(1)).as(fresh("gcnt")))
        case cs => cs
      }
      val pre = ctx.rel.df
      val aggDf =
        if (keyCols.isEmpty) pre.agg(aggCols.head, aggCols.tail: _*)
        else pre.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
      ctx.rel = Rel(aggDf, Seq(Scope(None, aggDf, aggDf.columns.toSeq)))
      ctx.subst =
        aggPairs.map { case (fc, n) => (fc: Expr) -> aggDf(n) }.toMap ++
        keyPairs.map { case (e, n) => e -> aggDf(n) }.toMap
    }

    // ---- HAVING (post-agg filter; may hold scalar subqueries) ----
    qb.having.foreach { h =>
      val c = bindPredicate(substituteAliases(h, qb.selectList), ctx)
      ctx.rel = Rel(ctx.rel.df.filter(c), ctx.rel.scopes)
    }

    // ---- projection ----
    // expand wildcards against the scopes BEFORE binding scalar-adding
    // expressions (a later placed scalar column must not leak into *)
    val preScopes = ctx.rel.scopes
    case class Out(col: Column, name: String)
    val outs: Seq[Out] = qb.selectList.zipWithIndex.flatMap {
      case (SelectItem(Wildcard(None), _), _) =>
        preScopes.filterNot(_.hidden).flatMap(s => s.cols.map(c => Out(s.column(c), c)))
      case (SelectItem(Wildcard(Some(q)), _), _) =>
        val s = preScopes.find(_.qualifier.exists(_.equalsIgnoreCase(q)))
          .getOrElse(err(s"unknown qualifier '$q' for wildcard"))
        s.cols.map(c => Out(s.column(c), c))
      case (SelectItem(e, alias), i) =>
        Seq(Out(bindExpr(e, ctx), alias.getOrElse(defaultName(e, i))))
    }

    // hidden ORDER BY keys that are not part of the output
    val aliasByExpr: Map[Expr, String] =
      qb.selectList.collect { case SelectItem(e, Some(a)) => e -> a }.toMap
    val outNames = outs.map(_.name.toLowerCase).toSet
    // order keys resolve to an output column name (select alias or bare
    // ident), or become a hidden projected column dropped after the sort
    var hiddenCols = Vector.empty[Out]
    val ordKeys: Seq[(String, Boolean)] = qb.orderBy.map { ok =>
      ok.expr match {
        case Ident(None, n) if outNames.contains(n.toLowerCase) => (n, ok.desc)
        case e if aliasByExpr.contains(e) => (aliasByExpr(e), ok.desc)
        case e =>
          val n = fresh("ord")
          hiddenCols :+= Out(bindExpr(e, ctx), n)
          (n, ok.desc)
      }
    }
    def sortCol(k: (String, Boolean)): Column = orderKey(col(k._1), k._2)
    if (hiddenCols.nonEmpty && qb.distinct.contains(Nil))
      err("ORDER BY key must appear in the select list when DISTINCT is used")

    // DISTINCT ON keys (bound pre-projection, carried as hidden columns)
    val distinctOnCols: Seq[Out] = qb.distinct match {
      case Some(on) if on.nonEmpty => on.zipWithIndex.map { case (e, i) =>
        Out(bindExpr(e, ctx), s"__don_$i")
      }
      case _ => Nil
    }

    var df = ctx.rel.df.select(
      (outs ++ hiddenCols ++ distinctOnCols).map(o => o.col.as(o.name)): _*)

    // ---- DISTINCT / DISTINCT ON ----
    qb.distinct match {
      case Some(on) if on.nonEmpty =>
        // keep-first per ON-key in ORDER BY order (DuckDB DISTINCT ON)
        val w = Window
          .partitionBy(distinctOnCols.map(o => col(o.name)): _*)
          .orderBy(
            (if (ordKeys.nonEmpty) ordKeys.map(sortCol)
             else Seq(lit(1).asc)): _*)
        val rn = fresh("rn")
        df = df.withColumn(rn, row_number().over(w))
          .filter(col(rn) === 1)
          .drop((rn +: distinctOnCols.map(_.name)): _*)
      case Some(_) => df = df.distinct()
      case None =>
        if (distinctOnCols.nonEmpty) df = df.drop(distinctOnCols.map(_.name): _*)
    }

    // ---- ORDER BY ----
    if (ordKeys.nonEmpty) df = df.orderBy(ordKeys.map(sortCol): _*)

    // ---- LIMIT / OFFSET / WITH TIES ----
    qb.limit.foreach { lc =>
      val n = evalLimitInt(lc.limit, "LIMIT")
      val off = lc.offset.map(evalLimitInt(_, "OFFSET"))
      if (lc.withTies) {
        if (ordKeys.isEmpty) err("LIMIT WITH TIES requires ORDER BY")
        df = withTies(df, ordKeys, n, off.getOrElse(0))
      } else {
        off.foreach(o => df = df.offset(o))
        df = df.limit(n)
      }
    }

    // hidden order keys leave the output last
    if (hiddenCols.nonEmpty) df = df.drop(hiddenCols.map(_.name): _*)
    df
  }

  /** LIMIT/OFFSET operand: integer literal or a bound `$n` parameter. */
  private def evalLimitInt(e: Expr, what: String): Int = e match {
    case IntLit(v) =>
      if (!v.isValidInt || v < 0) err(s"$what must be a non-negative 32-bit integer, got $v")
      v.toInt
    case Param(n) =>
      if (n >= params.size) err(s"query parameter $$$n not bound (${params.size} given)")
      val v = params(n) match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case other => err(s"$what parameter $$$n must be an integer, got $other")
      }
      if (v < 0) err(s"$what must be non-negative, got $v (parameter $$$n)")
      v
    case other => err(s"$what must be an integer literal or parameter, got $other")
  }

  /** LIMIT n [OFFSET o] WITH TIES, scale-safe for any key count: take the
    * top o+n rows (TakeOrderedAndProject — distributed top-k, never a
    * single-partition window), broadcast the (o+n)-th key tuple, and keep
    * every row whose key tuple sorts at-or-before it (null-aware
    * lexicographic compare that mirrors [[orderKey]]: nulls last in
    * either direction). OFFSET then drops the first o rows of the
    * re-sorted frame — the SQL-standard order (offset first, then fetch n
    * WITH TIES extending past the fetch boundary only). The final orderBy
    * is re-applied because Catalyst's EliminateSorts removes the sort
    * below the threshold join (ADVICE r2). */
  private def withTies(df: DataFrame, keys: Seq[(String, Boolean)], n: Int,
      off: Int = 0): DataFrame = {
    val thrName: Map[String, String] = keys.map { case (nm, _) => nm -> fresh("thr") }.toMap
    // each key's order, or (flip) its exact reverse: nulls first
    def sortCol(nm: String, desc: Boolean, flip: Boolean): Column =
      if (!flip) orderKey(col(nm), desc)
      else if (desc) col(nm).asc_nulls_first else col(nm).desc_nulls_first
    val topn = df
      .select(keys.map { case (nm, _) => col(nm).as(thrName(nm)) }: _*)
      .orderBy(keys.map { case (nm, d) => sortCol(thrName(nm), d, flip = false) }: _*)
      .limit(off + n)
    // the threshold is the LAST of the top o+n rows — re-sort the tiny
    // result in reverse and take one
    val thr = topn
      .orderBy(keys.map { case (nm, d) => sortCol(thrName(nm), d, flip = true) }: _*)
      .limit(1)
    def strictlyBefore(nm: String, desc: Boolean): Column = {
      val a = col(nm); val b = col(thrName(nm))
      (b.isNull && a.isNotNull) || (if (desc) a > b else a < b)
    }
    val atOrBefore = keys.foldRight(lit(true)) { case ((nm, d), tailCond) =>
      strictlyBefore(nm, d) || ((col(nm) <=> col(thrName(nm))) && tailCond)
    }
    val kept = df.join(broadcast(thr), atOrBefore)
      .drop(keys.map(k => thrName(k._1)): _*)
      .orderBy(keys.map { case (nm, d) => sortCol(nm, d, flip = false) }: _*)
    if (off > 0) kept.offset(off) else kept
  }

  /** The sort key of one ORDER BY item. NULLs sort last in either
    * direction, as in DuckDB and ClickHouse; Spark's own `asc` puts them
    * first. Every sort built from a query's ORDER BY takes its keys from
    * here. */
  private def orderKey(c: Column, desc: Boolean): Column =
    if (desc) c.desc else c.asc_nulls_last

  /** Per-bucket LIMIT/OFFSET [WITH TIES]: keep window rows (off, off+lim]
    * of each `partCols` bucket in `ordCols` order — the shared slice of
    * every correlated-body LIMIT lowering (buckets are correlation-key-
    * or rid-sized, never a global sort). WITH TIES keeps every row tying
    * with the (off+lim)-th on the sort key (rank cut); OFFSET + WITH
    * TIES drops the first `off` rows by POSITION, then keeps through the
    * RANK of the (off+lim)-th row — fewer than off+lim rows → no tie
    * cut, keep everything past the offset (the per-key window form of
    * the top-level withTies threshold semantics; reference grammar
    * parses `LIMIT o,n WITH TIES` freely,
    * /root/reference/src/parser/mod.rs:503-544). */
  private def slicePerKey(df0: DataFrame, partCols: Seq[Column],
      ordCols: Seq[Column], lim: Int, off: Int, ties: Boolean): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(ordCols: _*)
    if (ties && off > 0) {
      val rn = fresh("srn")
      val rk = fresh("srk")
      val thr = fresh("sthr")
      df0.withColumn(rn, row_number().over(w))
        .withColumn(rk, rank().over(w))
        .withColumn(thr,
          max(when(col(rn) === off + lim, col(rk)))
            .over(Window.partitionBy(partCols: _*)))
        .filter(col(rn) > off && (col(thr).isNull || col(rk) <= col(thr)))
        .drop(rn, rk, thr)
    } else {
      val rn = fresh("srn")
      val rnCol = if (ties) rank() else row_number()
      df0.withColumn(rn, rnCol.over(w))
        .filter(col(rn) > off && col(rn) <= off + lim).drop(rn)
    }
  }

  // ================== sources and joins ==================

  private def bindSource(src: DataSource, ctes: Map[String, DataFrame]): Rel = src match {
    case TableSource(name, alias) =>
      val base = ctes.get(name.toLowerCase)
        .orElse(resolveCatalog(name))
        .getOrElse(err(s"unknown table or view '$name'"))
      val q = alias.getOrElse(name)
      val df = base.alias(q)
      Rel(df, Seq(Scope(Some(q), df, df.columns.toSeq)))
    case SubquerySource(query, alias) =>
      val df0 = bindQuery(query, ctes)
      val df = alias.map(df0.alias).getOrElse(df0)
      Rel(df, Seq(Scope(alias, df, df.columns.toSeq)))
    case TableFnSource(fn, alias) =>
      val df0 = bindTableFn(fn)
      val df = alias.map(df0.alias).getOrElse(df0)
      Rel(df, Seq(Scope(alias, df, df.columns.toSeq)))
  }

  private def resolveCatalog(name: String): Option[DataFrame] =
    catalog.get(name).map {
      case t: catalog.TableEntry => t.df()
      case v: catalog.ViewEntry => bindView(v)
    }

  /** Views re-bind on read — unless a fresh materialization exists
    * (written by OPTIMIZE on the view), in which case the pre-aggregated
    * parquet is scanned instead of recomputing the definition. The
    * materialization is fresh while every source table's mutation
    * counter still matches what it was at refresh time (Engine bumps
    * them on INSERT/TRUNCATE/ALTER/DROP) — a stale one silently falls
    * back to recompute, so results are always current. */
  private def bindView(v: Catalog#ViewEntry): DataFrame =
    v.materialized match {
      case Some(m) if m.deps.forall { case (t, ver) => catalog.mutationOf(t) == ver } =>
        spark.read.schema(m.schema).parquet(m.path)
      case _ => bindViewFresh(v)
    }

  /** A Summing view folds the definition through groupBy(order/pk keys)
    * .agg(sum(numerics), min(others)) — the batch equivalent of a
    * SummingMergeTree merge (corpus 12.sql). */
  private[engine] def bindViewFresh(v: Catalog#ViewEntry): DataFrame = {
    val df = bindQuery(v.query, Map.empty)
    if (v.strategy.equalsIgnoreCase("summing")) summingFold(v, df) else df
  }

  /** The Summing merge fold over an already-bound frame. Idempotent under
    * re-application (sum of sums, min of mins), which is what makes the
    * incremental maintenance path sound: fold(old ∪ fold(delta)) =
    * fold(all rows). */
  private[engine] def summingFold(v: Catalog#ViewEntry, df: DataFrame): DataFrame = {
    // only plain column keys are supported — silently dropping an
    // expression key would merge rows across distinct key values
    val keyNames = (v.orderBy ++ v.primaryKey).map {
      case Ident(_, n) => n
      case other => err(s"Summing view ORDER BY/PRIMARY KEY must be plain columns, got $other")
    }.distinct
    if (keyNames.isEmpty) err("Summing view needs ORDER BY or PRIMARY KEY columns")
    val keyCols = keyNames.map(df(_))
    val others = df.schema.filterNot(f => keyNames.exists(_.equalsIgnoreCase(f.name)))
    val aggs = others.map { f =>
      if (f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        sum(df(f.name)).as(f.name)
      else min(df(f.name)).as(f.name) // deterministic pick for non-numerics
    }
    if (aggs.isEmpty) df.select(keyCols: _*).distinct()
    else df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Table-function argument evaluation: literals or bound `$n`
    * parameters (VERDICT r3 — `numbers($0)` / `file($0)` must work
    * anywhere LIMIT $n does). */
  private def tfnInt(e: Expr, what: String): Long = e match {
    case IntLit(v) =>
      if (!v.isValidLong) err(s"$what argument out of 64-bit range: $v")
      v.toLong
    case Param(n) =>
      if (n >= params.size) err(s"query parameter $$$n not bound (${params.size} given)")
      params(n) match {
        case i: Int => i.toLong
        case l: Long => l
        case other => err(s"$what expects an integer for parameter $$$n, got $other")
      }
    case ConfigId(n) => config.get(n) match {
      case Some(i: Int) => i.toLong
      case Some(l: Long) => l
      case Some(other) => err(s"$what expects an integer for @$n, got $other")
      case None => err(s"unknown config '@$n'")
    }
    case other => err(s"$what expects an integer literal, $$n parameter, or @config, got $other")
  }

  private def tfnStr(e: Expr, what: String): String = e match {
    case StringLit(s) => s
    case Param(n) =>
      if (n >= params.size) err(s"query parameter $$$n not bound (${params.size} given)")
      params(n) match {
        case s: String => s
        case other => err(s"$what expects a string for parameter $$$n, got $other")
      }
    case ConfigId(n) => config.get(n) match {
      case Some(s: String) => s
      case Some(other) => err(s"$what expects a string for @$n, got $other")
      case None => err(s"unknown config '@$n'")
    }
    case other => err(s"$what expects a string literal, $$n parameter, or @config, got $other")
  }

  private def bindTableFn(fn: FnCall): DataFrame = fn.name.toLowerCase match {
    case "numbers" =>
      fn.args match {
        case Seq(a) => spark.range(tfnInt(a, "numbers(n)")).toDF("number")
        case Seq(a, b) =>
          spark.range(tfnInt(a, "numbers(start, end)"), tfnInt(b, "numbers(start, end)"))
            .toDF("number")
        case _ => err("numbers(n) / numbers(start, end) expects 1 or 2 integer arguments")
      }
    case "file" =>
      fn.args match {
        case Seq(a) =>
          val path = tfnStr(a, "file('path')")
          val fmt =
            if (path.endsWith(".parquet")) "parquet"
            else if (path.endsWith(".csv")) "csv"
            else if (path.endsWith(".json")) "json"
            else err(s"cannot infer format of '$path'")
          val reader = spark.read
          (if (fmt == "csv") reader.option("header", "true").option("inferSchema", "true")
           else reader).format(fmt).load(path)
        case _ => err("file('path') expects exactly 1 string argument")
      }
    case other => err(s"unknown table function '$other'")
  }

  private def bindJoin(left: Rel, jc: JoinClause, ctes: Map[String, DataFrame]): Rel = {
    val right = bindSource(jc.source, ctes)
    jc.condition match {
      case UsingCondition(cols) if jc.joinType == "right_semi" ||
          jc.joinType == "right_anti" =>
        // swap sides: Spark only has the left-flavored variants; the
        // output carries the RIGHT side's columns (keys coalesce from
        // the join output like the left-flavored branch below)
        val how = if (jc.joinType == "right_semi") "left_semi" else "left_anti"
        val df = right.df.join(left.df, cols, how)
        val keyScope = Scope(None, df, cols)
        val rightRest = right.scopes.map(s =>
          s.copy(cols = s.cols.filterNot(c => cols.exists(_.equalsIgnoreCase(c)))))
        Rel(df, keyScope +: rightRest)
      case UsingCondition(cols) =>
        val how = jc.joinType match {
          case "inner" | "left" | "right" | "full" => jc.joinType
          case "left_semi" => "left_semi"
          case "left_anti" => "left_anti"
          case other => err(s"USING unsupported for join type $other")
        }
        val df = left.df.join(right.df, cols, how)
        // the coalesced key columns come from the join output itself
        val keyScope = Scope(None, df, cols)
        val rightRest = right.scopes.map(s => s.copy(cols = s.cols.filterNot(c => cols.exists(_.equalsIgnoreCase(c)))))
        val leftRest = left.scopes.map(s => s.copy(cols = s.cols.filterNot(c => cols.exists(_.equalsIgnoreCase(c)))))
        // semi/anti output carries only the left side's columns
        val visible = how match {
          case "left_semi" | "left_anti" => leftRest
          case _ => leftRest ++ rightRest
        }
        Rel(df, keyScope +: visible)
      case OnCondition(condExpr) =>
        val bothScopes = left.scopes ++ right.scopes
        // scalar subqueries in the condition are placed onto the LEFT
        // side while binding (bindScalarSubquery mutates condCtx.rel), so
        // join from condCtx.rel.df afterwards; correlation against the
        // right side is rejected by outerRefs
        jc.joinType match {
          case "asof" => bindAsOf(left, right, condExpr, ctes, leftOuter = false)
          case "asof_left" => bindAsOf(left, right, condExpr, ctes, leftOuter = true)
          case "inner" if splitAnd(condExpr).exists(containsSubquery) =>
            // INNER ON ≡ WHERE over the joined frame, so subquery-bearing
            // conjuncts defer to the full WHERE machinery AFTER the join —
            // which also lets their correlation reference the RIGHT side
            // (the pre-join scalar broadcast below sees only the left
            // frame).
            val (subq, plain) = splitAnd(condExpr).partition(containsSubquery)
            val condCtx = new Ctx(Rel(left.df, bothScopes), None, ctes)
            val cond = plain.map(bindExpr(_, condCtx)).reduceOption(_ && _)
              .getOrElse(lit(true))
            val jCtx = new Ctx(
              Rel(condCtx.rel.df.join(right.df, cond, "inner"), bothScopes),
              None, ctes)
            subq.foreach(applyWhere(_, jCtx))
            jCtx.rel
          case how @ ("left" | "right" | "full")
              if splitAnd(condExpr).exists(containsSubquery) =>
            // OUTER joins cannot defer ON conjuncts to a post-join filter
            // (that would change which rows null-extend), so each
            // subquery-bearing conjunct binds PRE-JOIN on whichever side
            // its subquery bodies' correlation resolves within — the
            // lowered value/flag columns ride that side through the join
            // as ordinary columns, and null-extension behaves like any
            // other column of that side. A conjunct whose subquery
            // correlates with BOTH sides cannot bind pre-join — those
            // take the candidate-pair route ([[outerJoinPairSubqueries]]).
            val (subq, plain) = splitAnd(condExpr).partition(containsSubquery)
            if (!subq.forall(c =>
                subqueryBodiesResolveWithin(c, Rel(left.df, left.scopes), ctes) ||
                subqueryBodiesResolveWithin(c, Rel(right.df, right.scopes), ctes)))
              outerJoinPairSubqueries(left, right, plain, subq, how, ctes)
            else {
              val lCtx = new Ctx(Rel(left.df, bothScopes), None, ctes)
              val rCtx = new Ctx(Rel(right.df, bothScopes), None, ctes)
              val boundSubq = subq.map { c =>
                if (subqueryBodiesResolveWithin(c, Rel(left.df, left.scopes), ctes))
                  bindExpr(c, lCtx)
                else bindExpr(c, rCtx)
              }
              val plainCond = plain.map(bindExpr(
                _, new Ctx(Rel(left.df, bothScopes), None, ctes)))
              val cond = (plainCond ++ boundSubq).reduceOption(_ && _)
                .getOrElse(lit(true))
              Rel(lCtx.rel.df.join(rCtx.rel.df, cond, how), bothScopes)
            }
          case how @ ("inner" | "left" | "right" | "full") =>
            val condCtx = new Ctx(Rel(left.df, bothScopes), None, ctes)
            val cond = bindExpr(condExpr, condCtx)
            Rel(condCtx.rel.df.join(right.df, cond, how), bothScopes)
          case how @ ("left_semi" | "left_anti") =>
            val condCtx = new Ctx(Rel(left.df, bothScopes), None, ctes)
            val cond = bindExpr(condExpr, condCtx)
            Rel(condCtx.rel.df.join(right.df, cond, how), left.scopes)
          case "right_semi" | "right_anti" =>
            // swap sides: Spark only has the left-flavored variants
            val condCtx = new Ctx(Rel(left.df, bothScopes), None, ctes)
            val cond = bindExpr(condExpr, condCtx)
            val how = if (jc.joinType == "right_semi") "left_semi" else "left_anti"
            Rel(right.df.join(condCtx.rel.df, cond, how), right.scopes)
          case other => err(s"unknown join type $other")
        }
    }
  }

  /** AsOf join (ClickHouse semantics: equality conjuncts + ONE inequality
    * bound on an ordering column). `leftOuter` keeps unmatched left rows
    * (ASOF LEFT JOIN).
    *
    * Primary lowering (equality key present): union both sides into one
    * frame, tag rows, and take last-non-null right payload over a window
    * partitioned by the equality keys and ordered by the bound column —
    * LINEAR in input with one shuffle on the key, where the naive
    * equi-join + per-row pick is O(left × matching-right) per key group.
    * This is the plan you want at 100 TB (see SCALE.md).
    *
    * Fallback (no equality key, or a conjunct that straddles both sides):
    * join on all conjuncts, then keep the right row closest to the bound
    * per left row via a row_number window on a synthetic left row id. */
  /** OUTER JOIN whose ON condition carries a subquery-bearing conjunct
    * correlating with BOTH sides (e.g. `LEFT JOIN r ON l.k = r.k AND
    * EXISTS (SELECT 1 FROM t WHERE t.a = l.a AND t.b = r.b)`). Neither
    * side can host the lowered flag pre-join, so the lowering works on
    * the CANDIDATE PAIR frame:
    *   1. flatten both sides to unique internal names (they may share
    *      user-visible names) and rid-tag each side (persisted —
    *      monotonically_increasing_id is not stable on recompute);
    *   2. join the pair candidates on the PLAIN conjuncts only (an
    *      equi-shaped plain condition keeps this a hash join).
    *      DEGENERATE CASE (ADVICE r8 #5): when EVERY ON conjunct
    *      carries a subquery, `plain` is empty and the candidate frame
    *      is the full cross product — the lowering stays correct but
    *      the two-hash-joins cost bound does not apply; the subquery
    *      prunes only AFTER pairing. Bounded-use stance, same as
    *      null-aware NOT IN (SCALE.md): an ON condition that is ONLY
    *      subqueries gives the optimizer nothing equi-shaped to join
    *      on in any engine;
    *   3. prune the pairs through the full WHERE machinery — on the
    *      pair frame every referenced scope is an ordinary column, so
    *      any subquery shape the engine lowers in WHERE position works
    *      in ON position too;
    *   4. null-extend: outer-side rows whose rid survives in no matched
    *      pair union back with NULL columns for the inner side (left /
    *      right / both per join type). Rid anti-joins are hash joins;
    *      each matched pair appears exactly once, preserving OUTER JOIN
    *      multiplicity.
    * Reference grammar allows any expression in ON
    * (/root/reference/src/parser/mod.rs:419-429). */
  private def outerJoinPairSubqueries(left: Rel, right: Rel,
      plain: Seq[Expr], subq: Seq[Expr], how: String,
      ctes: Map[String, DataFrame]): Rel = {
    val leftCols = left.scopes.flatMap(s => s.cols.map(c => (s, c, fresh("ojl"))))
    val rightCols = right.scopes.flatMap(s => s.cols.map(c => (s, c, fresh("ojr"))))
    val (lFlat, lrid) = ridFrame(
      left.df.select(leftCols.map { case (s, c, u) => s.column(c).as(u) }: _*), "ojlrid")
    val (rFlat, rrid) = ridFrame(
      right.df.select(rightCols.map { case (s, c, u) => s.column(c).as(u) }: _*), "ojrrid")
    def rescope(scopes: Seq[Scope], flat: Seq[(Scope, String, String)],
        df: DataFrame): Seq[Scope] =
      scopes.map { s =>
        val ren = flat.collect { case (s2, c, u) if s2 eq s => c.toLowerCase -> u }.toMap
        Scope(s.qualifier, df, s.cols, ren, hidden = s.hidden)
      }
    val pairScopes = rescope(left.scopes, leftCols, lFlat) ++
      rescope(right.scopes, rightCols, rFlat)
    val plainCond = plain.map(bindExpr(_, new Ctx(Rel(lFlat, pairScopes), None, ctes)))
      .reduceOption(_ && _).getOrElse(lit(true))
    val pairs = lFlat.join(rFlat, plainCond, "inner")
    val pCtx = new Ctx(Rel(pairs, pairScopes), None, ctes)
    subq.foreach(applyWhere(_, pCtx))
    // canonical positional order for the union: left cols, lrid, right
    // cols, rrid (the WHERE machinery returns the frame's own columns)
    val allNames = (leftCols.map(_._3) :+ lrid) ++ (rightCols.map(_._3) :+ rrid)
    val matched = pCtx.rel.df.select(allNames.map(col): _*)
    def nullsFor(cols: Seq[(Scope, String, String)], df: DataFrame): Seq[Column] =
      cols.map { case (_, _, u) => lit(null).cast(df.schema(u).dataType).as(u) }
    val mk = fresh("ojmk")
    lazy val unmatchedL = lFlat
      .join(matched.select(col(lrid).as(mk)).distinct(), col(lrid) === col(mk), "left_anti")
      .select((leftCols.map(t => col(t._3)) :+ col(lrid)) ++
        (nullsFor(rightCols, rFlat) :+ lit(null).cast("long").as(rrid)): _*)
    lazy val unmatchedR = rFlat
      .join(matched.select(col(rrid).as(mk)).distinct(), col(rrid) === col(mk), "left_anti")
      .select((nullsFor(leftCols, lFlat) :+ lit(null).cast("long").as(lrid)) ++
        (rightCols.map(t => col(t._3)) :+ col(rrid)): _*)
    val out0 = how match {
      case "left" => matched.union(unmatchedL)
      case "right" => matched.union(unmatchedR)
      case _ => matched.union(unmatchedL).union(unmatchedR)
    }
    val out = out0.drop(lrid, rrid)
    Rel(out, rescope(left.scopes, leftCols, out) ++
      rescope(right.scopes, rightCols, out))
  }

  private def bindAsOf(left: Rel, right: Rel, condExpr: Expr,
      ctes: Map[String, DataFrame], leftOuter: Boolean): Rel = {
    val conjuncts = splitAnd(condExpr)
    val (ineqs, eqs) = conjuncts.partition {
      case Binary(op, _, _) => Seq(">", ">=", "<", "<=").contains(op)
      case _ => false
    }
    if (ineqs.size != 1)
      err(s"ASOF join needs exactly one inequality conjunct, got ${ineqs.size}")

    // orient every conjunct as (left-side expr, right-side expr); None if
    // a side straddles both relations
    def flipOp(op: String): String = op match {
      case ">" => "<"; case ">=" => "<="; case "<" => ">"; case "<=" => ">="
      case o => o
    }
    def orient(l: Expr, r: Expr): Option[(Expr, Expr)] =
      if (resolvesWithin(l, left) && resolvesWithin(r, right)) Some((l, r))
      else if (resolvesWithin(r, left) && resolvesWithin(l, right)) Some((r, l))
      else None
    val Binary(op0, i0, i1) = ineqs.head: @unchecked
    val orientedIneq: Option[(Expr, Expr, String)] = orient(i0, i1).map {
      case (l, r) if l eq i0 => (l, r, op0)
      case (l, r) => (l, r, flipOp(op0))
    }
    val orientedEqs: Seq[Option[(Expr, Expr)]] = eqs.map {
      case Binary("=", a, b) => orient(a, b)
      case _ => None
    }

    val oriented = orientedIneq.getOrElse(
      err("ASOF inequality must compare a left-side expression with a " +
        s"right-side expression, got ${ineqs.head}"))
    if (eqs.nonEmpty && orientedEqs.forall(_.isDefined))
      unionAsOf(left, right, orientedEqs.map(_.get), oriented, ctes, leftOuter)
    else
      joinAsOf(left, right, eqs, ineqs.head, oriented, ctes, leftOuter)
  }

  /** Union + last-non-null window AsOf plan (see bindAsOf scaladoc). */
  private def unionAsOf(left: Rel, right: Rel, eqPairs: Seq[(Expr, Expr)],
      ineq: (Expr, Expr, String), ctes: Map[String, DataFrame],
      leftOuter: Boolean): Rel = {
    val (lOrd, rOrd, op) = ineq
    val lCtx = new Ctx(left, None, ctes)
    val rCtx = new Ctx(right, None, ctes)
    // flatten both sides to unique internal names (the two sides may share
    // user-visible column names — e.g. a self-asof-join on events)
    val leftCols = left.scopes.flatMap(s => s.cols.map(c => (s, c, fresh("al"))))
    val rightCols = right.scopes.flatMap(s => s.cols.map(c => (s, c, fresh("ar"))))
    val keyNames = eqPairs.indices.map(_ => fresh("asof_k"))
    val ordName = fresh("asof_ord")
    val payloadName = fresh("asof_payload")
    val isLeftName = fresh("asof_isleft")
    val tagName = fresh("asof_tag")

    val leftKeyCols = eqPairs.zip(keyNames).map { case ((le, _), kn) => bindExpr(le, lCtx).as(kn) }
    val leftOrdCol = bindExpr(lOrd, lCtx).as(ordName)
    val rightKeyCols = eqPairs.zip(keyNames).map { case ((_, re), kn) => bindExpr(re, rCtx).as(kn) }
    val rightOrdCol = bindExpr(rOrd, rCtx).as(ordName)
    // a scalar subquery in a key/ordering expression is placed onto the
    // side's frame during binding — select from the POST-BINDING
    // frames; the projection below keeps only the named columns, so the
    // scalar rider never leaks
    val leftPrep = lCtx.rel.df.select(
      leftCols.map { case (s, c, u) => s.column(c).as(u) } ++ leftKeyCols :+ leftOrdCol: _*)
      .withColumn(isLeftName, lit(true))
    // right rows with a null key or null ordering value can never match
    val rightPrep = rCtx.rel.df.select(
      rightKeyCols ++
        Seq(rightOrdCol,
          struct(rightCols.map { case (s, c, u) => s.column(c).as(u) }: _*).as(payloadName)): _*)
      .filter(keyNames.map(col(_).isNotNull).reduce(_ && _) && col(ordName).isNotNull)
      .withColumn(isLeftName, lit(false))

    val unioned = leftPrep.unionByName(rightPrep, allowMissingColumns = true)
    // tie order at equal ordering values: inclusive bound (>=, <=) makes
    // the right row visible to a left row at the same value (right sorts
    // first); strict bound hides it (left sorts first)
    val inclusive = op == ">=" || op == "<="
    val tagged = unioned.withColumn(tagName,
      when(col(isLeftName), lit(if (inclusive) 1 else 0))
        .otherwise(lit(if (inclusive) 0 else 1)))
    // `l >= r` wants the greatest right value at-or-before → ascending
    // traversal; `l <= r` wants the least right value at-or-after →
    // descending traversal. Nulls first so left rows with a null ordering
    // value see no right rows (SQL: null compare matches nothing).
    val ordCol =
      if (op == ">" || op == ">=") col(ordName).asc_nulls_first
      else col(ordName).desc_nulls_first
    val w = Window.partitionBy(keyNames.map(col): _*)
      // payload tiebreak makes duplicate right (key, ord) rows pick a
      // deterministic winner
      .orderBy(ordCol, col(tagName).asc, col(payloadName).asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = tagged
      .withColumn(payloadName, last(col(payloadName), ignoreNulls = true).over(w))
      .filter(col(isLeftName))
    val kept = if (leftOuter) matched else matched.filter(col(payloadName).isNotNull)
    val out = kept.select(
      leftCols.map { case (_, _, u) => col(u) } ++
        rightCols.map { case (_, _, u) => col(payloadName).getField(u).as(u) }: _*)

    def rescope(scopes: Seq[Scope], flat: Seq[(Scope, String, String)]): Seq[Scope] =
      scopes.map { s =>
        val ren = flat.collect { case (s2, c, u) if s2 eq s => c.toLowerCase -> u }.toMap
        Scope(s.qualifier, out, s.cols, ren)
      }
    Rel(out, rescope(left.scopes, leftCols) ++ rescope(right.scopes, rightCols))
  }

  /** Fallback AsOf plan: equi/theta join + closest-row pick per left row.
    * `oriented` carries the inequality as (left expr, right expr, op) so
    * the pick ranks by the RIGHT side's ordering value regardless of how
    * the condition was written (`b.ts <= a.ts` ≡ `a.ts >= b.ts`). */
  private def joinAsOf(left: Rel, right: Rel, eqs: Seq[Expr], ineq: Expr,
      oriented: (Expr, Expr, String), ctes: Map[String, DataFrame],
      leftOuter: Boolean): Rel = {
    val bothScopes = left.scopes ++ right.scopes
    val (_, rOrd, op) = oriented
    val id = fresh("asof_id")
    val leftDf = left.df.withColumn(id, monotonically_increasing_id())
    val ctx2 = new Ctx(Rel(leftDf, Scope(None, leftDf, Seq(id)) +: bothScopes), None, ctes)
    val cond = (eqs :+ ineq).map(bindExpr(_, ctx2)).reduce(_ && _)
    // the rank column binds BEFORE the frame snapshot: re-binding rOrd
    // joins its own scalar-subquery riders (a second, independent
    // instance) onto ctx2's frame, and the window below must see them
    val ordCol = bindExpr(rOrd, ctx2)
    // scalar subqueries in the condition are placed onto ctx2's frame
    // during binding — join FROM that frame and drop the fresh-named
    // riders after the pick
    val srcDf = ctx2.rel.df
    val riders = srcDf.columns.toSeq.diff(leftDf.columns.toSeq)
    val joined = srcDf.join(right.df, cond, if (leftOuter) "left" else "inner")
    // `left.ts >= right.ts` wants the greatest right.ts → desc
    val w = Window.partitionBy(col(id))
      .orderBy(if (op == ">" || op == ">=") ordCol.desc else ordCol.asc)
    val rn = fresh("rn")
    val picked = joined.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1).drop(rn +: id +: riders: _*)
    Rel(picked, bothScopes)
  }

  // ================== WHERE lowering ==================

  private def applyWhere(w: Expr, ctx: Ctx): Unit = {
    def existsOf(e: Expr): Option[(Query, Boolean)] = e match {
      case ExistsExpr(q, neg) => Some((q, neg))
      case FnCall(n, Seq(SubqueryExpr(q))) if n.equalsIgnoreCase("exists") => Some((q, false))
      case Unary("not", FnCall(n, Seq(SubqueryExpr(q)))) if n.equalsIgnoreCase("exists") =>
        Some((q, true))
      case _ => None
    }
    val (existsConjuncts, plain) = splitAnd(w).partition(existsOf(_).isDefined)
    // plain predicates filter first (best pushdown), then the EXISTS
    // conjuncts. Within the plain set, SUBQUERY-FREE conjuncts filter
    // BEFORE any subquery-bearing one binds: a mark join (e.g. EXISTS
    // under OR) materializes per-outer-row machinery over whatever
    // ctx.rel holds at bind time, so a literal cap like `o_orderkey <
    // 300` must land first — binding them together ran qe184/qe185's
    // theta mark joins over the FULL 150k-row outer at sf0.1 (71 s /
    // 212 s) instead of the 75 capped rows (~2 s). Conjunct reordering
    // in WHERE is semantics-free.
    val (pure, withSub) = plain.partition(!containsSubquery(_))
    if (pure.nonEmpty) {
      val cond = pure.map(bindExpr(_, ctx)).reduce(_ && _)
      ctx.rel = Rel(ctx.rel.df.filter(cond), ctx.rel.scopes)
    }
    withSub.foreach { e =>
      val c = e match {
        case InSubquery(l, q, neg) => bindInExpr(l, q, neg, ctx, predicate = true, conjunct = true)
        case _ => bindPredicate(e, ctx)
      }
      ctx.rel = Rel(ctx.rel.df.filter(c), ctx.rel.scopes)
    }
    existsConjuncts.flatMap(existsOf).foreach { case (q, neg) => lowerExists(q, neg, ctx) }
  }

  /** Post-aggregation DISTINCT [ON] tuple of a GROUPED body under
    * EXISTS-with-OFFSET: the ON keys, or for plain DISTINCT the select
    * tuple (alias-substituted). DISTINCT [ON] over grouped rows is
    * existence-neutral, but under OFFSET o "more than o rows survive"
    * counts post-DISTINCT tuples, NOT surviving groups — `SELECT
    * DISTINCT 1 FROM t GROUP BY k OFFSET 1` has ONE post-DISTINCT row
    * however many groups k makes. None ⇒ no DISTINCT clause (count the
    * surviving groups). Counting is NULL-safe (struct wrap — DISTINCT
    * keeps NULL-keyed tuples, the countUniqueRows rule). */
  private def groupedDistinctExprs(qb: QueryBody, what: String): Option[Seq[Expr]] =
    qb.distinct.map {
      case Nil =>
        val sels = qb.selectList.map(_.expr)
        if (sels.exists(_.isInstanceOf[Wildcard]))
          err(s"$what: DISTINCT * with OFFSET needs named columns")
        sels.map(substituteAliases(_, qb.selectList))
      case ks => ks.map(substituteAliases(_, qb.selectList))
    }

  /** The per-key "more than OFFSET rows survive" count column: distinct
    * post-aggregation tuples when the body has DISTINCT [ON], raw
    * surviving-group count otherwise. */
  private def existsOffCount(distinctExprs: Option[Seq[Expr]], gCtx: Ctx,
      name: String): Column = distinctExprs match {
    case Some(es) => count_distinct(struct(es.map(bindExpr(_, gCtx)): _*)).as(name)
    case None => count(lit(1)).as(name)
  }

  /** AST-level EXISTS folds, run once for both positions. LIMIT k>0
    * never changes existence; LIMIT 0 makes it constant-false. OFFSET
    * o>0 means "the pre-limit body yields MORE THAN o rows":
    *  - plain body → HAVING count > o, counting DISTINCT [ON] tuples
    *    NULL-safe (countUniqueRows — ADVICE r8 #1; the theta path's
    *    unmatched-row placeholder counts 1 for a true 0, which `> o`
    *    with o ≥ 1 fails alike);
    *  - ungrouped HAVING or aggregate-select body → at most ONE row, so
    *    constant-false;
    *  - GROUP BY body → more than o SURVIVING GROUPS per key: the
    *    offset is returned for the grouped lowerings to count.
    * An ungrouped aggregate select without HAVING always yields one row
    * (SQL's empty-set aggregate row): constant-true. Left = constant
    * existence; Right = the body and its surviving-group offset. */
  private def foldExistsBody(qb: QueryBody): Either[Boolean, (QueryBody, Int)] = {
    val selectAggs = qb.selectList.exists(si =>
      !si.expr.isInstanceOf[Wildcard] && collectAggs(si.expr).nonEmpty)
    val limOff = qb.limit.map { lc =>
      val o = lc.offset.map(evalLimitInt(_, "OFFSET")).getOrElse(0)
      (evalLimitInt(lc.limit, "LIMIT"), o)
    }
    limOff match {
      case Some((0, _)) => Left(false)
      case Some((_, o)) if o > 0 && qb.groupBy.isEmpty && qb.having.isEmpty && !selectAggs =>
        val onKeys = qb.distinct.toSeq.flatten
        val cntFn =
          if (onKeys.nonEmpty) FnCall("countUniqueRows", onKeys)
          else if (qb.distinct.contains(Nil)) {
            val sels = qb.selectList.map(_.expr)
            if (sels.exists(_.isInstanceOf[Wildcard]))
              err("EXISTS body: DISTINCT * with OFFSET needs named columns")
            FnCall("countUniqueRows", sels)
          } else FnCall("count", Seq(IntLit(BigInt(1))))
        Right((qb.copy(limit = None, distinct = None,
          having = Some(Binary(">", cntFn, IntLit(BigInt(o))))), 0))
      case Some((_, o)) if o > 0 =>
        if (qb.groupBy.isEmpty) Left(false) else Right((qb, o))
      case _ =>
        if (qb.groupBy.isEmpty && qb.having.isEmpty && selectAggs) Left(true)
        else Right((qb, 0))
    }
  }

  /** EXISTS / NOT EXISTS as a WHERE conjunct. An uncorrelated or
    * equality-correlated body lowers through Catalyst's subquery API
    * ([[existsFrame]] → `Dataset.exists()`; Spark plans a hash semi /
    * anti join). The rest keeps the binder's own decorrelation: inner
    * WHERE conjuncts that reference outer columns drive theta lowerings
    * (bands, scalar thresholds, candidate pair frames) or the nested
    * rails (grandparent correlation, which Spark cannot decorrelate),
    * and the local conjuncts filter the inner side first (via
    * applyWhere, so nested IN/EXISTS subqueries in them work). */
  private def lowerExists(sub: Query, negated: Boolean, ctx: Ctx): Unit = {
    def keep(c: Column): Unit =
      ctx.rel = Rel(ctx.rel.df.filter(if (negated) !c else c), ctx.rel.scopes)
    val (qb, existsOff) = sub match {
      case b: QueryBody => foldExistsBody(b) match {
        case Left(exists) => keep(lit(exists)); return
        case Right(r) => r
      }
      case q =>
        // set-op body (round 10): supported UNCORRELATED, the same rule
        // as IN bodies — a correlated branch raises the normal
        // unresolved-column error from bindQuery
        keep(bindQuery(q, ctx.ctes).exists()); return
    }
    // the body's own WITH list binds first (uncorrelated) — its names
    // are visible to the body's FROM/JOINs and to nested subqueries
    val bodyCtes = bindBodyCtes(qb, ctx.ctes)
    val innerRel = bodyRel(qb, bodyCtes, "EXISTS subquery")

    val conjuncts = qb.where.map(splitAnd).getOrElse(Nil)
    val (local0, correlated1) = conjuncts.partition(resolvesWithin(_, innerRel))
    // conjuncts whose TOP-LEVEL refs reach the outer scope AND that
    // carry a subquery cannot bind in expression position: the
    // expression machinery physically joins the lowered subquery onto
    // the INNER frame, where the outer column does not exist (an
    // EXISTS conjunct has no top-level refs, so only [NOT] IN with an
    // outer-referencing lhs — or a comparison against a subquery whose
    // body escapes — lands here). They take the nested-machinery route:
    // IN/EXISTS flatten, NOT IN/NOT EXISTS go per-row, anything else
    // gets flattenNested's explanatory error.
    val (corrDeep, correlated0) = correlated1.partition(c =>
      (c match {
        // ANY body shape, not just QueryBody: a set-op-bodied IN with
        // an outer-referencing lhs must also take the pair-frame route
        // — as a plain correlation conjunct its (uncorrelated) body
        // lowering would graft the membership flags onto the INNER
        // frame where the lhs does not exist (round-10 fuzzer find —
        // leaked a raw Spark MISSING_ATTRIBUTES)
        case InSubquery(_, _, _) => true
        case Unary(op, InSubquery(_, _, _)) if op.equalsIgnoreCase("not") => true
        case _ => false
      }) || (containsSubquery(c) && !subqueryBodiesResolveWithin(c, innerRel, bodyCtes)))
    // subquery-bearing "local" conjuncts whose bodies reference columns
    // beyond this subquery's reach (grandparent correlation) FLATTEN:
    // ∃m ∃i p(o,m,i) ≡ ∃(m,i) p(o,m,i), so a non-negated nested
    // EXISTS/IN joins its source onto the inner side and its
    // outer-referencing conjuncts hoist into THIS level's correlation
    // pool — EXISTS/IN are multiplicity-blind, so the join's row
    // duplication is invisible
    val (flattenable0, local) = local0.partition(c =>
      containsSubquery(c) && !resolvesWithinDeep(c, innerRel, bodyCtes))
    val flattenable = flattenable0 ++ corrDeep

    val innerCtx = new Ctx(innerRel, None, bodyCtes)
    applyLocal(local, innerCtx, "EXISTS subquery")
    // negated nested subqueries cannot flatten (anti-join semantics are
    // not multiplicity-blind) — they get the per-row anti-join lowering
    val (negNested, posFlattenable) =
      flattenable.partition(negatedNested(_).isDefined)
    if (flattenable.nonEmpty && (qb.groupBy.nonEmpty || qb.having.isDefined)) {
      // flattening would change the aggregate's input multiset — the
      // per-row candidate-pair lowering prunes with multiplicity-
      // preserving semi/anti joins and groups afterwards
      lowerExistsNestedAggregated(qb, flattenable, correlated0, innerCtx, ctx,
        negated, existsOff)
      return
    }
    // grandparent-referencing subqueries in EXPRESSION position (under
    // OR, CASE, …) can neither flatten (the subquery is not a conjunct)
    // nor anti-join — but on the rid-tagged (outer, middle) pair frame
    // every referenced scope is an ordinary column, so the expression-
    // position mark-join machinery binds them directly
    val (posTop, exprNested) = posFlattenable.partition(positiveNested(_).isDefined)
    // a positive nested body with GROUP BY / HAVING / aggregate select
    // cannot flatten either (the flatten join runs BELOW the body's own
    // aggregation), and neither can one with LIMIT/OFFSET (flattening
    // has no per-pair row counting) — those take the pair-frame route,
    // where joinNestedBody lowers them per rid
    def aggNestedBody(c: Expr): Boolean = positiveNested(c).exists {
      case (nqb, lhsOpt) =>
        nqb.groupBy.nonEmpty || nqb.having.isDefined || nqb.limit.isDefined ||
          // IN-form DISTINCT ON: membership depends on WHICH row
          // survives per ON key — no flattening; the pair-frame route
          // lowers it per rid ([[sliceInNestedBody]])
          (lhsOpt.isDefined && nqb.distinct.exists(_.nonEmpty)) ||
          // an AGGREGATE select cannot flatten in ANY form: the flatten
          // join runs BELOW the body's own aggregation. The EXISTS form
          // is an ungrouped aggregate body — one row ALWAYS exists, so
          // flattening it as a plain source silently turned
          // constant-true existence into match-dependent existence
          // (round-9 fuzzer find, `exists (select max(z) …)` nested)
          (nqb.selectList match {
            case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] =>
              collectAggs(e).nonEmpty
            case _ => false
          })
    }
    if (exprNested.nonEmpty || posTop.exists(aggNestedBody)) {
      lowerExistsExprNested(qb, flattenable, correlated0, innerCtx, ctx, negated)
      return
    }
    val hoisted =
      if (flattenable.isEmpty) Nil
      else
        posTop.flatMap(flattenNested(_, innerCtx, "EXISTS subquery",
          scopeQuals(ctx.rel.scopes)))
    val correlated = correlated0 ++ hoisted
    // a DEFERRED conjunct cannot bind as a join condition: either its
    // body reaches above this level, or it is a MEMBERSHIP conjunct
    // whose lhs references the outer side (the [NOT] IN machineries
    // join/filter the frame they mutate BY the lhs — an outer lhs on
    // the inner frame leaked a raw MISSING_ATTRIBUTES, fz123/fz450).
    // Both kinds lower on a candidate pair frame where every referenced
    // scope is an ordinary column — shared by the negated-nested rail
    // below (round 12: the combination was a clean error through r11)
    // and [[lowerExistsPairFrame]].
    def membershipOuterLhs(c: Expr): Boolean = c match {
      case InSubquery(l, _, _) => !resolvesWithin(l, innerCtx.rel)
      case Unary(op, i: InSubquery) if op.equalsIgnoreCase("not") =>
        membershipOuterLhs(i)
      case _ => false
    }
    def deferredConjunct(c: Expr): Boolean =
      containsSubquery(c) && (membershipOuterLhs(c) ||
        !subqueryBodiesResolveWithin(c, innerCtx.rel, innerCtx.ctes))
    if (negNested.nonEmpty) {
      val (defCorr, joinCorr) = correlated.partition(deferredConjunct)
      lowerExistsNegatedNested(negNested.map(negatedNested(_).get),
        joinCorr, innerCtx, ctx, negated, defCorr)
      return
    }
    val grouped = qb.groupBy.nonEmpty || qb.having.isDefined
    if (flattenable.isEmpty && equalityOrientable(correlated, innerRel, ctx.rel) &&
        (grouped || !correlated.exists(deferredConjunct))) {
      keep(existsFrame(qb, innerCtx,
        orientCorrelated(correlated, innerRel, ctx.rel, "EXISTS subquery"), existsOff, ctx)
        .exists())
    } else if (grouped) {
      thetaAggExists(qb, innerCtx, correlated, ctx, negated, existsOff)
    } else {
      // a hoisted-past-its-level SUBQUERY-BEARING conjunct (round 11,
      // VERDICT r10 missing #2): its body references scopes the nested
      // level could not see — OR it is a MEMBERSHIP conjunct whose lhs
      // references the outer side (the [NOT] IN machineries join/filter
      // the frame they mutate BY the lhs, so an outer lhs on the inner
      // frame leaked a raw MISSING_ATTRIBUTES — round-11 fuzzer find,
      // fz123/fz450 seed 1103, set-op bodies under depth-3 nesting).
      // Either way the explicit (outer × inner) pair frame makes every
      // referenced scope an ordinary column and the subquery lowers
      // through its normal machinery against the RIGHT frame.
      val (subCorr, plainCorr) = correlated.partition(deferredConjunct)
      if (subCorr.nonEmpty) {
        lowerExistsPairFrame(plainCorr, subCorr, innerCtx, ctx, negated)
        return
      }
      // single monotone theta conjunct: EXISTS collapses to one scalar
      // (the extreme of ce vs t) — no semi join at all; multi-conjunct
      // and hoisted correlations keep the join below
      thetaExistsScalarFlag(qb, innerCtx, correlated, ctx, plain = true) match {
        case Some(flag) => keep(flag)
        case None =>
          // resolve inner names first, then outer (SQL scoping); the
          // post-flatten scopes include the joined-in nested relations
          val innerDf = innerCtx.rel.df
          val corrCtx = new Ctx(Rel(innerDf, innerCtx.rel.scopes), Some(ctx.rel), innerCtx.ctes)
          val cond =
            try correlated.map(bindExpr(_, corrCtx)).reduceOption(_ && _).getOrElse(lit(true))
            catch {
              case e: GraftException if hoisted.nonEmpty => throw GraftException(
                s"${e.msg} (while binding conjuncts hoisted from a nested " +
                  "subquery — correlation may reach at most one enclosing scope)")
            }
          val how = if (negated) "left_anti" else "left_semi"
          ctx.rel = Rel(ctx.rel.df.join(innerDf, cond, how), ctx.rel.scopes)
      }
    }
  }

  /** Plain-body EXISTS whose correlation pool carries a subquery-bearing
    * conjunct hoisted PAST its own level (round 11, VERDICT r10 missing
    * #2 — the `Binder.scala` hoist guard was a clean error through round
    * 10). The r10 reroute attempt failed because a subquery lowering
    * inside a JOIN CONDITION rid-tags the wrong frame; the fix is to
    * build the pair frame FIRST: rid-tag the outer side, join the
    * (flattened) inner side on the plainly-bindable conjuncts, and bind
    * the subquery-bearing conjuncts as expression-position flags ON that
    * frame — every scope they reference is an ordinary column there, so
    * the IN/EXISTS/scalar machineries rid-tag the pair frame itself.
    * EXISTS is multiplicity-blind, so the surviving rid set drives a
    * semi/anti join back. Scale: the pair frame is bounded by the plain
    * conjuncts' join (typically the equality correlation); with none it
    * is outer × inner — the qe194 capped-outer stance, documented. */
  private def lowerExistsPairFrame(plainCorr: Seq[Expr],
      subCorr: Seq[Expr], innerCtx: Ctx, ctx: Ctx, negated: Boolean): Unit = {
    val (outerR, rid) = ridFrame(ctx.rel.df, "pfrid")
    val innerDf = innerCtx.rel.df
    val cond = {
      val cCtx = new Ctx(Rel(innerDf, innerCtx.rel.scopes),
        Some(Rel(outerR, ctx.rel.scopes)), innerCtx.ctes)
      plainCorr.map(bindExpr(_, cCtx)).reduceOption(_ && _)
    }
    val pair = cond match {
      case Some(c) => outerR.join(innerDf, c, "inner")
      case None => outerR.crossJoin(innerDf)
    }
    val pCtx = new Ctx(Rel(pair, ctx.rel.scopes ++ innerCtx.rel.scopes),
      None, innerCtx.ctes)
    // binding may join machinery frames onto pCtx.rel — filter the
    // POST-bind frame
    val flag = subCorr.map(bindPredicate(_, pCtx)).reduce(_ && _)
    joinBack(ctx, outerR, rid, pCtx.rel.df.filter(flag).select(col(rid)).distinct(),
      if (negated) "left_anti" else "left_semi")
  }

  /** Aggregated EXISTS under THETA (non-equality) correlation.
    *
    * GROUP BY body: existence ≡ more than `existsOff` HAVING-surviving
    * groups in this outer row's matching set — the per-rid grouped step
    * ([[thetaGroups]]), surviving groups counted per rid, semi/anti
    * join back by rid.
    *
    * Ungrouped HAVING body: [[thetaHavingFlag]]. */
  private def thetaAggExists(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx, negated: Boolean,
      existsOff: Int): Unit = {
    val what = "aggregated EXISTS (theta path)"
    // DISTINCT [ON] over the grouped body: existence-neutral without
    // OFFSET; under OFFSET it switches the count to post-DISTINCT
    // tuples (see groupedDistinctExprs)
    val distinctExprs =
      if (existsOff == 0) None else groupedDistinctExprs(qb, what)
    // LIMIT n (n >= 1; the caller rewrote LIMIT 0 to constant
    // existence) never changes "more than existsOff rows exist" — the
    // OFFSET part already arrived via existsOff, so the clause is
    // dropped here, matching the equality path's coverage (ADVICE r7).
    val flag =
      if (qb.groupBy.isEmpty) Some(thetaHavingFlag(qb, innerCtx, correlated, ctx, what))
      else thetaExistsMonotoneThreshold(qb, innerCtx, correlated, ctx, existsOff,
        distinctExprs)
    flag match {
      case Some(f) =>
        ctx.rel = Rel(ctx.rel.df.filter(if (negated) !f else f), ctx.rel.scopes)
      case None =>
        val (outer, rid, survivors) =
          thetaAggExistsSurvivors(qb, innerCtx, correlated, ctx, existsOff,
            distinctExprs, what)
        joinBack(ctx, outer, rid, survivors, if (negated) "left_anti" else "left_semi")
    }
  }

  /** Existence of an ungrouped-aggregate body under theta correlation:
    * SQL yields exactly ONE aggregate row per outer row, even over an
    * empty match set, so existence is its HAVING flag (constant TRUE
    * without one). A bare-count HAVING over a single monotone conjunct
    * collapses to one scalar, the K-th extreme of ce vs t
    * ([[thetaExistsScalarFlag]]); any other HAVING evaluates per rid
    * through [[thetaUngroupedAgg]] with a neutral select item (EXISTS
    * ignores the select list). */
  private def thetaHavingFlag(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx, what: String): Column =
    (if (qb.having.isDefined)
       thetaExistsScalarFlag(qb, innerCtx, correlated, ctx, plain = false)
     else None).getOrElse {
      val qb2 = qb.copy(selectList =
        Seq(SelectItem(FnCall("count", Seq(IntLit(BigInt(1)))), None)),
        limit = None)
      val (_, having) = thetaUngroupedAgg(qb2, innerCtx, correlated, ctx, what)
      having.map(h => coalesce(h, lit(false))).getOrElse(lit(true))
    }

  /** MONOTONE-THRESHOLD collapse for theta-correlated GROUP BY EXISTS
    * (round 10). With a SINGLE monotone correlated conjunct `ce OP t`
    * (ce pure-inner, t pure-outer, both numeric) the per-group passing
    * count is monotone in t, so a group survives a bare
    * `HAVING count(1|*) >/>= N` iff its K-th OP-directional extreme of
    * ce passes `OP t` (K = the demanded count; ties rank separately, so
    * duplicate ce values fall out of row_number), and "more than
    * existsOff post-DISTINCT rows survive" collapses to ONE scalar:
    * T* = the (existsOff+1)-th extreme of the per-group (DISTINCT
    * ON-merged) thresholds. The whole EXISTS is then `lit(T*) OP t`
    * per outer row — no join, no rid frame, no band machinery. The
    * inner side is scanned once (salted two-phase per-group rank, so a
    * single hot group — GROUP BY l_returnflag — cannot serialize one
    * reducer) and the driver collects existsOff+1 values (bounded, the
    * kmeans-centroid stance, SCALE.md). DISTINCT [ON] merging requires
    * every distinct expr to BE one of the GROUP BY exprs (each
    * post-DISTINCT tuple is then a fixed key slice whose threshold is
    * the extreme of its groups' thresholds); aggregate-bearing distinct
    * exprs, multi-conjunct correlations, non-count HAVINGs and
    * non-numeric sides keep the generic survivors plan. NULL ce rows
    * are excluded up front (they never satisfy the inequality); a NULL
    * outer t yields FALSE via the coalesce, matching the generic
    * empty-match-set semantics. */
  private def thetaExistsMonotoneThreshold(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx, existsOff: Int,
      distinctExprs: Option[Seq[Expr]]): Option[Column] = {
    if (qb.groupBy.isEmpty || existsOff > 4096) return None
    val (op, ce, oe) = orientMonotoneSingle(correlated, innerCtx.rel, ctx)
      .getOrElse(return None)
    val kNeeded = bareCountHaving(qb).map(math.max(_, 1)).getOrElse(return None)
    val groupExprs = qb.groupBy.map(substituteAliases(_, qb.selectList))
    // DISTINCT [ON] exprs must be aggregate-free (pure functions of the
    // group keys — enforced below by binding them over the thresholds
    // frame, which carries ONLY the group-key columns)
    if (distinctExprs.exists(_.exists(e => collectAggs(e).nonEmpty)))
      return None
    val ceB = bindExpr(ce, innerCtx)
    val ovB = bindExpr(oe, ctx)
    if (!numericCol(innerCtx.rel.df, ceB) || !numericCol(ctx.rel.df, ovB))
      return None
    val desc = op == ">" || op == ">="
    val gNames = groupExprs.indices.map(_ => fresh("mtg"))
    val thrN = fresh("mtthr")
    val thr = thetaGroupThresholds(innerCtx, groupExprs, gNames, ceB, desc,
      kNeeded, thrN)
    val merged = distinctExprs match {
      case None => thr.select(col(thrN))
      case Some(es) =>
        val tCtx = new Ctx(
          Rel(thr, Seq(Scope(None, thr, thr.columns.toSeq))), None,
          innerCtx.ctes,
          subst = groupExprs.zip(gNames).map { case (e, n) => e -> thr(n) }.toMap)
        val dCols = try es.map(bindExpr(_, tCtx)) catch {
          case _: GraftException => return None // not group-key-pure
        }
        val ext = if (desc) max(col(thrN)) else min(col(thrN))
        thr.groupBy(dCols: _*).agg(ext.as(thrN)).select(col(thrN))
    }
    val top = merged
      .orderBy(if (desc) col(thrN).desc else col(thrN).asc)
      .limit(existsOff + 1).collect()
    if (top.length <= existsOff) return Some(lit(false))
    Some(coalesce(cmpOp(op, lit(top.last.get(0)), ovB), lit(false)))
  }

  /** `left OP right` for an oriented comparison token. */
  private def cmpOp(op: String, l: Column, r: Column): Column = op match {
    case ">"  => l > r
    case ">=" => l >= r
    case "<"  => l < r
    case _    => l <= r
  }

  private def numericCol(df: DataFrame, c: Column): Boolean =
    Try(df.select(c.as("x")).schema.head.dataType).toOption
      .exists(_.isInstanceOf[org.apache.spark.sql.types.NumericType])

  /** The RAW row count the body's HAVING demands: 1 when HAVING is
    * absent, N(+1) for a BARE `count(1|*) >/>= N` comparison in either
    * literal orientation, None for every other HAVING (the threshold
    * collapses don't apply). May be ≤ 0 (`count(1) >= 0`) — GROUPED
    * callers floor it at 1 (a group exists only with ≥ 1 passing row);
    * the UNGROUPED caller treats ≤ 0 as constant-true (SQL's one
    * aggregate row exists and passes even over the empty set). */
  private def bareCountHaving(qb: QueryBody): Option[Int] = {
    def countsRows(fc: FnCall): Boolean =
      fc.name.equalsIgnoreCase("count") && (fc.args.isEmpty ||
        (fc.args.sizeIs == 1 && (fc.args.head match {
          case Wildcard(_) | IntLit(_) => true
          case _ => false
        })))
    qb.having.map(substituteAliases(_, qb.selectList)) match {
      case None => Some(1)
      case Some(Binary(cmp, fc: FnCall, IntLit(v)))
          if countsRows(fc) && (cmp == ">" || cmp == ">=") &&
            v.isValidInt && v <= 4096 =>
        Some(if (cmp == ">") v.toInt + 1 else v.toInt)
      case Some(Binary(cmp, IntLit(v), fc: FnCall))
          if countsRows(fc) && (cmp == "<" || cmp == "<=") &&
            v.isValidInt && v <= 4096 =>
        Some(if (cmp == "<") v.toInt + 1 else v.toInt)
      case _ => None
    }
  }

  /** The DISTINCT-tuple count the body's HAVING demands — the
    * `countUniqueRows(es) >/>= N` shape the OFFSET rewrite synthesizes
    * for DISTINCT [ON] bodies (either literal orientation). Returns
    * the counted exprs and the demanded tuple count. */
  private def distinctCountHaving(qb: QueryBody): Option[(Seq[Expr], Int)] = {
    def cur(fc: FnCall): Boolean =
      fc.name.equalsIgnoreCase("countUniqueRows") && fc.args.nonEmpty
    qb.having.map(substituteAliases(_, qb.selectList)) match {
      case Some(Binary(cmp, fc: FnCall, IntLit(v)))
          if cur(fc) && (cmp == ">" || cmp == ">=") &&
            v.isValidInt && v <= 4096 =>
        Some((fc.args, if (cmp == ">") v.toInt + 1 else v.toInt))
      case Some(Binary(cmp, IntLit(v), fc: FnCall))
          if cur(fc) && (cmp == "<" || cmp == "<=") &&
            v.isValidInt && v <= 4096 =>
        Some((fc.args, if (cmp == "<") v.toInt + 1 else v.toInt))
      case _ => None
    }
  }

  /** Scalar collapse for PLAIN and ungrouped-bare-count-HAVING theta
    * EXISTS: "more than K−1 rows pass `ce OP t`" ⟺ the K-th
    * OP-directional extreme of ce passes `OP t` — K = 1 for plain
    * bodies, the HAVING's demanded count otherwise. ONE distributed
    * top-K action over the (locally filtered) inner side replaces the
    * rid machinery entirely; the EXISTS becomes a literal comparison.
    *
    * DISTINCT-TUPLE counts collapse the same way (round 12 — the fuzz
    * plan cross-check surfaced the fz242 class as correct-but-generic):
    * a `countUniqueRows(es) > o` HAVING (the OFFSET rewrite of a
    * DISTINCT [ON] body) demands more than o distinct es-tuples among
    * the passers, and under a single monotone conjunct a tuple has a
    * passer iff its per-tuple extreme of ce passes — so existence is
    * the (o+1)-th best per-tuple extreme vs t, one grouped aggregate +
    * one bounded top-K action ([[thetaGroupThresholds]], K=1 per
    * tuple). NULL-keyed tuples group together, matching DISTINCT's
    * NULL-keeps semantics.
    * K ≤ 0 (`count(1) >= 0`) is constant TRUE: SQL's one ungrouped
    * aggregate row exists and passes even over the empty match set. */
  private def thetaExistsScalarFlag(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx, plain: Boolean): Option[Column] = {
    val (op, ce, oe) = orientMonotoneSingle(correlated, innerCtx.rel, ctx)
      .getOrElse(return None)
    val dcv = if (plain || qb.groupBy.nonEmpty) None else distinctCountHaving(qb)
    val k = if (plain) 1
            else if (dcv.isDefined) dcv.get._2
            else bareCountHaving(qb).getOrElse(return None)
    if (k <= 0) return Some(lit(true))
    if (k > 4096) return None
    val ceB = bindExpr(ce, innerCtx)
    val ovB = bindExpr(oe, ctx)
    if (!numericCol(innerCtx.rel.df, ceB) || !numericCol(ctx.rel.df, ovB))
      return None
    val desc = op == ">" || op == ">="
    val top = dcv match {
      case Some((es, _)) =>
        // per-distinct-tuple extreme of ce, then the K best tuples
        val gNames = es.indices.map(_ => fresh("dcg"))
        val thrN = fresh("dcthr")
        val thr = try thetaGroupThresholds(innerCtx, es, gNames, ceB, desc,
          1, thrN) catch { case _: GraftException => return None }
        thr.select(col(thrN))
          .orderBy(if (desc) col(thrN).desc else col(thrN).asc)
          .limit(k).collect()
      case None =>
        val ceN = fresh("sfce")
        innerCtx.rel.df.filter(ceB.isNotNull).select(ceB.as(ceN))
          .orderBy(if (desc) col(ceN).desc else col(ceN).asc)
          .limit(k).collect()
    }
    if (top.length < k) return Some(lit(false))
    Some(coalesce(cmpOp(op, lit(top.last.get(0)), ovB), lit(false)))
  }

  /** Per-group K-th OP-directional extreme of the correlation column —
    * the survival threshold each group compares against the outer
    * value. K=1 is a plain (map-side partial) extreme aggregate; K>1
    * ranks inside (group, physical-partition) salt buckets first — the
    * K-th overall is always inside the union of per-bucket top-Ks — so
    * a single hot group cannot serialize one reducer. NULL correlation
    * values are excluded up front (never inequality-passing); groups
    * with fewer than K qualifying rows yield no threshold row. */
  private def thetaGroupThresholds(innerCtx: Ctx, groupExprs: Seq[Expr],
      gNames: Seq[String], ceB: Column, desc: Boolean, kNeeded: Int,
      thrN: String): DataFrame = {
    val ceN = fresh("mtce")
    val base = innerCtx.rel.df.filter(ceB.isNotNull).select(
      (groupExprs.zip(gNames).map { case (e, n) =>
        bindExpr(e, innerCtx).as(n) } :+ ceB.as(ceN)): _*)
    val ordC = if (desc) col(ceN).desc else col(ceN).asc
    if (kNeeded == 1) {
      val ext = if (desc) max(col(ceN)) else min(col(ceN))
      base.groupBy(gNames.map(col): _*).agg(ext.as(thrN))
    } else {
      val saltN = fresh("mtsalt")
      val rn1 = fresh("mtrn1")
      val rn2 = fresh("mtrn2")
      base.withColumn(saltN, spark_partition_id())
        .withColumn(rn1, row_number().over(
          Window.partitionBy((gNames :+ saltN).map(col): _*).orderBy(ordC)))
        .filter(col(rn1) <= kNeeded).drop(rn1, saltN)
        .withColumn(rn2, row_number().over(
          Window.partitionBy(gNames.map(col): _*).orderBy(ordC)))
        .filter(col(rn2) === kNeeded)
        .select(gNames.map(col) :+ col(ceN).as(thrN): _*)
    }
  }

  /** MONOTONE-THRESHOLD collapse for theta-correlated GROUP BY IN
    * bodies whose select is a pure function of the group keys (round
    * 10; qe136's `SELECT s_nationkey … GROUP BY s_nationkey` shape).
    * Membership of a value v is `extreme over v's groups of the
    * per-group K-th extreme of ce` passing `OP t` — so the whole body
    * reduces to a (value, threshold) table joined to the outer side by
    * VALUE EQUALITY (at most one row per value), plus two precollected
    * scalars: the global extreme threshold (null-safe empty-set test)
    * and the NULL-valued members' extreme (the three-valued UNKNOWN
    * arm). The inner side is aggregated once, independent of outer
    * cardinality, and the join carries no rid frame and no theta
    * predicate — the value table, not the corpus, bounds the joined
    * volume. Aggregate-bearing selects, non-count HAVINGs and
    * multi-conjunct correlations keep [[thetaIn]]'s generic
    * survivors plan. */
  private def thetaGroupedInThreshold(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx, lhs: Column): Option[Column] = {
    val valueExpr = substituteAliases(qb.selectList.head.expr, qb.selectList)
    if (collectAggs(valueExpr).nonEmpty) return None
    val (op, ce, oe) = orientMonotoneSingle(correlated, innerCtx.rel, ctx)
      .getOrElse(return None)
    val kNeeded = bareCountHaving(qb).map(math.max(_, 1)).getOrElse(return None)
    val ceB = bindExpr(ce, innerCtx)
    val ovB = bindExpr(oe, ctx)
    if (!numericCol(innerCtx.rel.df, ceB) || !numericCol(ctx.rel.df, ovB))
      return None
    val groupExprs = qb.groupBy.map(substituteAliases(_, qb.selectList))
    val desc = op == ">" || op == ">="
    val gNames = groupExprs.indices.map(_ => fresh("vtg"))
    val thrN = fresh("vtthr")
    val thr = thetaGroupThresholds(innerCtx, groupExprs, gNames, ceB, desc,
      kNeeded, thrN)
    val tCtx = new Ctx(
      Rel(thr, Seq(Scope(None, thr, thr.columns.toSeq))), None, innerCtx.ctes,
      subst = groupExprs.zip(gNames).map { case (e, n) => e -> thr(n) }.toMap)
    val vB = try bindExpr(valueExpr, tCtx) catch {
      case _: GraftException => return None // select not group-key-pure
    }
    val vN = fresh("vtv")
    val ext = if (desc) max(col(thrN)) else min(col(thrN))
    val values = thr.select(vB.as(vN), col(thrN))
      .groupBy(col(vN)).agg(ext.as(thrN))
      .persist(StorageLevel.MEMORY_AND_DISK)
    persistedFrames += values
    // one bounded action: the global extreme (any group survives ⟺
    // set nonempty), the NULL-valued extreme (UNKNOWN arm) and the
    // non-null distinct-value count (broadcast gate)
    val stats = values.agg(ext.as("all"),
      (if (desc) max(when(col(vN).isNull, col(thrN)))
       else min(when(col(vN).isNull, col(thrN)))).as("nul"),
      count(when(col(vN).isNotNull, 1)).as("nn")).head()
    if (stats.isNullAt(0)) return Some(lit(false)) // no groups: empty set
    val anySurvives = coalesce(cmpOp(op, lit(stats.get(0)), ovB), lit(false))
    val nullSurvives =
      if (stats.isNullAt(1)) lit(false)
      else coalesce(cmpOp(op, lit(stats.get(1)), ovB), lit(false))
    val nonNullValues = values.filter(col(vN).isNotNull)
    val joined =
      if (stats.getLong(2) <= 32768)
        ctx.rel.df.join(broadcast(nonNullValues), lhs === col(vN), "left")
      else ctx.rel.df.join(nonNullValues, lhs === col(vN), "left")
    ctx.rel = Rel(joined.drop(vN),
      ctx.rel.scopes :+ hiddenScope(nonNullValues, Seq(thrN)))
    Some(when(coalesce(cmpOp(op, nonNullValues(thrN), ovB), lit(false)),
        lit(true))
      .when(!anySurvives, lit(false))
      .when(lhs.isNull || nullSurvives, lit(null).cast("boolean"))
      .otherwise(lit(false)))
  }

  /** The staircase lowering itself (see the call-site comment in
    * [[thetaIn]] for the math). Returns None — generic plan —
    * when the correlation is not a single numeric monotone conjunct,
    * an ORDER BY / ON / select expr does not bind pure-inner, or the
    * NULL-valued record set exceeds the literal when-chain gate. */
  private def staircaseDistinctOnIn(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx, outer: DataFrame, outerL: DataFrame,
      rid: String, lhsName: String, lhs: Column,
      selectExpr0: Expr, onKeys: Seq[Expr]): Option[Column] = {
    val (op, ce, oe) = orientMonotoneSingle(correlated, innerCtx.rel, ctx)
      .getOrElse(return None)
    val ceB = bindExpr(ce, innerCtx)
    val ovB = bindExpr(oe, ctx)
    if (!numericCol(innerCtx.rel.df, ceB) || !numericCol(ctx.rel.df, ovB))
      return None
    val gNames = onKeys.indices.map(_ => fresh("scg"))
    val ordNs = qb.orderBy.indices.map(_ => fresh("sco"))
    val ceN = fresh("scce")
    val vN = fresh("scv")
    val prevN = fresh("scprev")
    val base = try innerCtx.rel.df.filter(ceB.isNotNull).select(
      (onKeys.zip(gNames).map { case (e, n) => bindExpr(e, innerCtx).as(n) } ++
        qb.orderBy.zip(ordNs).map { case (ok, n) =>
          bindExpr(ok.expr, innerCtx).as(n) } :+
        ceB.as(ceN) :+ bindExpr(selectExpr0, innerCtx).as(vN)): _*)
    catch { case _: GraftException => return None } // outer-referencing keys
    val ordCols = qb.orderBy.zip(ordNs).map { case (ok, n) =>
      orderKey(col(n), ok.desc) }
    val maxima = op == ">" || op == ">="
    val wPrev = Window.partitionBy(gNames.map(col): _*).orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevExt = (if (maxima) max(col(ceN)) else min(col(ceN))).over(wPrev)
    val preN = fresh("scpre")
    val isRecord =
      if (maxima) col(preN).isNull || col(ceN) > col(preN)
      else col(preN).isNull || col(ceN) < col(preN)
    val cands = base.withColumn(preN, prevExt).filter(isRecord)
      .withColumn(prevN, lag(col(ceN), 1).over(
        Window.partitionBy(gNames.map(col): _*).orderBy(ordCols: _*)))
      .select(col(vN), col(ceN), col(prevN))
      .persist(StorageLevel.MEMORY_AND_DISK)
    persistedFrames += cands
    // one bounded action: record count, NULL-valued record count, and
    // the global extreme record ce (empty-set test — the LAST record of
    // each group carries the group's extreme)
    val ext = if (maxima) max(col(ceN)) else min(col(ceN))
    val stats = cands.agg(count(lit(1)).as("n"),
      count(when(col(vN).isNull, 1)).as("nv"), ext.as("all")).head()
    if (stats.getLong(0) == 0L) return Some(lit(false)) // no passing rows ever
    if (stats.getLong(1) > 256) return None // UNKNOWN arm outgrew the chain
    val anySurvives = coalesce(cmpOp(op, lit(stats.get(2)), ovB), lit(false))
    def keptTest(ceC: Column, prevC: Column): Column =
      coalesce(cmpOp(op, ceC, ovB), lit(false)) &&
        !coalesce(cmpOp(op, prevC, ovB), lit(false))
    val nullKept =
      if (stats.getLong(1) == 0L) lit(false)
      else cands.filter(col(vN).isNull).select(col(ceN), col(prevN)).collect()
        .map { r =>
          val c = cmpOp(op, lit(r.get(0)), ovB)
          val p = if (r.isNullAt(1)) lit(false)
            else coalesce(cmpOp(op, lit(r.get(1)), ovB), lit(false))
          coalesce(c, lit(false)) && !p
        }.reduce(_ || _)
    val nn = cands.filter(col(vN).isNotNull)
    val nnJ = if (stats.getLong(0) <= 32768) broadcast(nn) else nn
    val flagN = fresh("scflag")
    val hits = joinBack(ctx, outer, rid, outerL
      .join(nnJ, col(lhsName) === col(vN) && keptTest(col(ceN), col(prevN)),
        "inner")
      .select(col(rid)).distinct().withColumn(flagN, lit(true)))
    Some(when(coalesce(hits(flagN), lit(false)), lit(true))
      .when(!anySurvives, lit(false))
      .when(lhs.isNull || nullKept, lit(null).cast("boolean"))
      .otherwise(lit(false)))
  }

  /** The rid-tagged outer frame and the DISTINCT rid set whose GROUP BY
    * body yields more than `existsOff` surviving post-DISTINCT rows —
    * the core of [[thetaAggExists]], shared with the expression-position
    * mark-join form ([[thetaExistsExprFlag]]). */
  private def thetaAggExistsSurvivors(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx, existsOff: Int,
      distinctExprs: Option[Seq[Expr]],
      what: String): (DataFrame, String, DataFrame) = {
    val (outer, rid) = ridFrame(ctx.rel.df, "terid")
    val (filtered, gCtx) = thetaGroups(qb, innerCtx, outer, rid, correlated, ctx,
      distinctExprs.toSeq.flatten, what)
    val survivors =
      if (existsOff == 0) filtered.select(col(rid)).distinct()
      else {
        val cnt = fresh("teoff")
        filtered.groupBy(col(rid)).agg(existsOffCount(distinctExprs, gCtx, cnt))
          .filter(col(cnt) > existsOff).drop(cnt)
      }
    (outer, rid, survivors)
  }

  /** THETA-correlated EXISTS in EXPRESSION position (under OR/CASE):
    * the conjunct path's rid machinery surfaced as a mark-join COLUMN.
    * Plain bodies mark rids matched by the (banded) theta join; GROUP
    * BY bodies mark rids with more than `existsOff` surviving
    * post-DISTINCT rows; ungrouped-HAVING/aggregate bodies evaluate
    * the HAVING flag per outer row directly (one aggregate row exists
    * even over an empty match set). Closes the round-9 fuzzer's one
    * systematic SKIP class. */
  private def thetaExistsExprFlag(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx, negated: Boolean,
      existsOff: Int): Column = {
    val what = "EXISTS in expression position (theta path)"
    val selAggs = qb.selectList match {
      case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] => collectAggs(e)
      case _ => Nil
    }
    // the rids present in `hits` carry the flag
    def ridFlag(outer: DataFrame, rid: String, hits: DataFrame): Column = {
      val flagN = fresh("xtflag")
      coalesce(joinBack(ctx, outer, rid, hits.withColumn(flagN, lit(true)))(flagN),
        lit(false))
    }
    val f: Column =
      if (qb.groupBy.isEmpty && (qb.having.isDefined || selAggs.nonEmpty))
        thetaHavingFlag(qb, innerCtx, correlated, ctx, what)
      else if (qb.groupBy.nonEmpty) {
        val distinctExprs =
          if (existsOff == 0) None else groupedDistinctExprs(qb, what)
        thetaExistsMonotoneThreshold(qb, innerCtx, correlated, ctx,
            existsOff, distinctExprs).getOrElse {
          val (outer, rid, survivors) =
            thetaAggExistsSurvivors(qb, innerCtx, correlated, ctx, existsOff,
              distinctExprs, what)
          ridFlag(outer, rid, survivors)
        }
      } else thetaExistsScalarFlag(qb, innerCtx, correlated, ctx,
          plain = true).getOrElse {
        // plain body: the DISTINCT matched rids
        val (outer, rid) = ridFrame(ctx.rel.df, "xtrid")
        val (renamed, rScopes) =
          freshRenamed(innerCtx.rel.df, innerCtx.rel.scopes, what)
        ridFlag(outer, rid, thetaInnerJoin(outer, renamed, rScopes, correlated, ctx, what)
          .select(col(rid)).distinct())
      }
    if (negated) !f else f
  }

  /** Lower-cased visible relation qualifiers of a scope list. */
  private def scopeQuals(scopes: Seq[Scope]): Set[String] =
    scopes.filterNot(_.hidden).flatMap(_.qualifier.map(_.toLowerCase)).toSet

  /** The NEGATED nested shapes (any AST form) the per-row anti-join
    * lowering handles: NOT EXISTS (lhs = None) and NOT IN (lhs = the
    * tested expression). NOT IN's three-valued NULL semantics reduce,
    * in WHERE position (NULL ≡ FALSE), to a NULL-AWARE anti join: a
    * candidate row satisfies `lhs NOT IN (SELECT e …)` iff NO inner
    * row makes `lhs = e` TRUE or UNKNOWN — i.e. anti-join on
    * `lhs = e OR lhs IS NULL OR e IS NULL` (the same rewrite Spark's
    * own RewritePredicateSubquery uses for single-scope NOT IN). */
  private def negatedNested(c: Expr): Option[(QueryBody, Option[Expr])] = c match {
    case ExistsExpr(nqb: QueryBody, true) => Some((nqb, None))
    case Unary(op, ExistsExpr(nqb: QueryBody, false))
        if op.equalsIgnoreCase("not") => Some((nqb, None))
    case Unary(op, FnCall(n, Seq(SubqueryExpr(nqb: QueryBody))))
        if op.equalsIgnoreCase("not") && n.equalsIgnoreCase("exists") => Some((nqb, None))
    case InSubquery(lhs, nqb: QueryBody, true) => Some((nqb, Some(lhs)))
    case Unary(op, InSubquery(lhs, nqb: QueryBody, false))
        if op.equalsIgnoreCase("not") => Some((nqb, Some(lhs)))
    case _ => None
  }

  /** The POSITIVE nested shapes (EXISTS / IN, either AST form) the
    * per-row semi-join lowering handles — the aggregated-EXISTS path
    * uses these where the plain path would flatten (a flatten join
    * would change the aggregate's input multiset; a semi join keeps it). */
  private def positiveNested(c: Expr): Option[(QueryBody, Option[Expr])] = c match {
    case ExistsExpr(nqb: QueryBody, false) => Some((nqb, None))
    case FnCall(n, Seq(SubqueryExpr(nqb: QueryBody)))
        if n.equalsIgnoreCase("exists") => Some((nqb, None))
    case InSubquery(lhs, nqb: QueryBody, false) => Some((nqb, Some(lhs)))
    case _ => None
  }

  /** EXISTS body carrying a NEGATED nested subquery that references the
    * enclosing query's own outer scope: ∃m: p(o,m) ∧ ¬∃i: q(o,m,i)
    * (NOT EXISTS), or ∃m: p(o,m) ∧ v(o,m) NOT IN {e(i) : q(o,m,i)}.
    * Negation is not multiplicity-blind, so the nested level cannot
    * flatten as a join. Instead the candidate (outer, middle) pairs
    * materialize once — rid-tagged outer, inner join on the correlation
    * conjuncts, the theta-path pattern — and each negated nested body
    * prunes them with a LEFT ANTI join where BOTH scopes' columns are
    * plain join inputs (NULL-aware for NOT IN — see negatedNested).
    * Outer rows whose rid survives satisfy the EXISTS (anti for NOT
    * EXISTS). One extra shuffle vs the flattening path; candidate
    * volume is bounded by the correlation join.
    *
    * `deferred` (round 12): sibling conjuncts that cannot bind as join
    * conditions — subquery bodies reaching above this level, or
    * membership with an outer lhs — prune the same candidate pairs via
    * [[pruneDisjunctive]] (semi/anti for top-level forms, mark-join
    * expression filters otherwise); on the pair frame every scope they
    * reference is an ordinary column. Safe alongside the anti bodies:
    * every prune keeps each pair row at most once, and the consumer is
    * the DISTINCT rid set. This combination was a clean error through
    * round 11. */
  private def lowerExistsNegatedNested(bodies: Seq[(QueryBody, Option[Expr])],
      correlated: Seq[Expr], innerCtx: Ctx, ctx: Ctx, negated: Boolean,
      deferred: Seq[Expr] = Nil): Unit = {
    val what = "EXISTS subquery"
    val (outer, rid) = ridFrame(ctx.rel.df, "nerid")
    val (renamed, rScopes) = freshRenamed(innerCtx.rel.df, innerCtx.rel.scopes, what)
    val corrCtx = new Ctx(Rel(renamed, rScopes), Some(ctx.rel), ctx.ctes)
    val cond = correlated.map(bindExpr(_, corrCtx))
      .reduceOption(_ && _).getOrElse(lit(true))
    val joined =
      try outer.join(renamed, cond, "inner")
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          err(s"$what correlation here may only reference columns of the " +
            "outer relation — rewrite the correlated conjuncts")
      }
    var cur = Rel(joined, ctx.rel.scopes ++ rScopes)
    deferred.foreach { c => cur = pruneDisjunctive(c, cur, innerCtx.ctes) }
    bodies.foreach { case (nqb, lhsOpt) =>
      cur = antiJoinNestedBody(nqb, lhsOpt, cur, innerCtx.ctes)
    }
    joinBack(ctx, outer, rid, cur.df.select(col(rid)).distinct(),
      if (negated) "left_anti" else "left_semi")
  }

  private def antiJoinNestedBody(nqb: QueryBody, lhsOpt: Option[Expr], rel: Rel,
      ctes: Map[String, DataFrame]): Rel =
    joinNestedBody(nqb, lhsOpt, rel, ctes, anti = true)

  /** Aggregated EXISTS body (GROUP BY and/or HAVING) whose WHERE carries
    * nested subqueries referencing the OUTER query's own outer scope.
    * Flattening is out — the flatten join would duplicate middle rows
    * and change the aggregate's input multiset — so the candidate
    * (outer, middle) pairs materialize per row (the negated-nested
    * pattern) and each nested conjunct prunes them with a multiplicity-
    * PRESERVING left-semi (positive EXISTS/IN) or NULL-aware left-anti
    * (NOT EXISTS / NOT IN) join. The pruned pairs then group by
    * (rid ∪ explicit GROUP BY keys) with HAVING deciding survival:
    * with GROUP BY, EXISTS ⟺ some group of that rid survives; with an
    * UNGROUPED HAVING, SQL's one-aggregate-row-per-outer-row semantics
    * (count 0 over an empty candidate set — the qe85/qe93 corner) come
    * from a left join back with count-family aggregates coalesced to 0. */
  private def lowerExistsNestedAggregated(qb: QueryBody, nested: Seq[Expr],
      correlated: Seq[Expr], innerCtx: Ctx, ctx: Ctx, negated: Boolean,
      existsOff: Int = 0): Unit = {
    val what = "aggregated EXISTS subquery"
    val (outer, rid) = ridFrame(ctx.rel.df, "aerid")
    val (renamed, rScopes) = freshRenamed(innerCtx.rel.df, innerCtx.rel.scopes, what)
    val corrCtx = new Ctx(Rel(renamed, rScopes), Some(ctx.rel), ctx.ctes)
    val cond = correlated.map(bindExpr(_, corrCtx))
      .reduceOption(_ && _).getOrElse(lit(true))
    val joined =
      try outer.join(renamed, cond, "inner")
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          err(s"$what correlation here may only reference columns of the " +
            "outer relation — rewrite the correlated conjuncts")
      }
    var cur = Rel(joined, ctx.rel.scopes ++ rScopes)
    nested.foreach { c => cur = pruneNestedConjunct(c, cur, innerCtx.ctes) }
    val candCtx = new Ctx(cur, None, innerCtx.ctes)
    val groupPairs = qb.groupBy.map(substituteAliases(_, qb.selectList))
      .map(e => (e, fresh("gg")))
    val groupCols = col(rid) +: groupPairs.map { case (e, nm) =>
      bindExpr(e, candCtx).as(nm)
    }
    val havingExpr = qb.having.map(substituteAliases(_, qb.selectList))
    // DISTINCT [ON] over the grouped body: only the OFFSET count cares
    // (post-DISTINCT tuples, not groups — see groupedDistinctExprs)
    val distinctExprs =
      if (existsOff == 0) None else groupedDistinctExprs(qb, what)
    val aggPairs = (havingExpr.toSeq.flatMap(collectAggs) ++
      distinctExprs.toSeq.flatten.flatMap(collectAggs)).distinct
      .map(fc => (fc, fresh("gagg")))
    val aggCols = aggPairs.map { case (fc, n) => bindAggCall(fc, candCtx).as(n) } match {
      case Nil => Seq(count(lit(1)).as(fresh("gcnt")))
      case cs => cs
    }
    val grouped = cur.df.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)

    if (qb.groupBy.isEmpty && havingExpr.isDefined) {
      val scopes = ctx.rel.scopes
      val g = joinBack(ctx, outer, rid, grouped)
      val subst: Map[Expr, Column] = aggPairs.map { case (fc, n) =>
        (fc: Expr) -> (if (isCountFamily(fc.name)) coalesce(g(n), lit(0L)) else g(n))
      }.toMap
      val flag = bindExpr(havingExpr.get, new Ctx(ctx.rel, None, ctx.ctes, subst = subst))
      val keep = if (negated) !coalesce(flag, lit(false)) else coalesce(flag, lit(false))
      ctx.rel = Rel(ctx.rel.df.filter(keep).drop(g.columns.toSeq: _*), scopes)
    } else {
      val gCtx = new Ctx(
        Rel(grouped, Seq(Scope(None, grouped, grouped.columns.toSeq))),
        None, ctx.ctes,
        subst = aggPairs.map { case (fc, n) => (fc: Expr) -> grouped(n) }.toMap ++
          groupPairs.map { case (e, nm) => e -> grouped(nm) }.toMap)
      val filtered = havingExpr.map(h => grouped.filter(bindExpr(h, gCtx)))
        .getOrElse(grouped)
      // OFFSET o over the GROUP BY body: existence needs MORE THAN o
      // surviving post-DISTINCT rows for the rid (same counting as
      // lowerExists)
      val survivors =
        if (existsOff == 0) filtered.select(col(rid)).distinct()
        else {
          val cnt = fresh("goff")
          filtered.groupBy(col(rid))
            .agg(existsOffCount(distinctExprs, gCtx, cnt))
            .filter(col(cnt) > existsOff).select(col(rid))
        }
      joinBack(ctx, outer, rid, survivors, if (negated) "left_anti" else "left_semi")
    }
  }

  /** Prune the candidate (outer × middle) pair frame by one nested-
    * subquery-bearing conjunct, multiplicity-preserved: top-level
    * [NOT] EXISTS / [NOT] IN forms become left-semi/anti joins
    * ([[joinNestedBody]]); anything else (a subquery under OR/CASE/…)
    * binds as an EXPRESSION over the pair frame — the mark-join
    * machinery resolves parent and grandparent refs alike there, and
    * the mark joins themselves add columns, never rows — and filters
    * with WHERE's NULL ≡ FALSE rule. */
  private def pruneNestedConjunct(c: Expr, cur: Rel,
      ctes: Map[String, DataFrame]): Rel =
    negatedNested(c).map { case (nqb, lhsOpt) =>
      joinNestedBody(nqb, lhsOpt, cur, ctes, anti = true)
    }.orElse(positiveNested(c).map { case (nqb, lhsOpt) =>
      joinNestedBody(nqb, lhsOpt, cur, ctes, anti = false)
    }).getOrElse {
      val candCtx = new Ctx(cur, None, ctes)
      val bound = bindExpr(c, candCtx)
      Rel(candCtx.rel.df.filter(coalesce(bound, lit(false))), candCtx.rel.scopes)
    }

  /** Prune the pair frame by one conjunct, distributing over top-level
    * OR: survivors(A ∨ B) = survivors(A) ∪ survivors(B) — three-valued
    * OR is TRUE iff a branch is TRUE, and each branch then lowers with
    * the cheap conjunct machinery (a filter, or a hash-joinable
    * semi/anti join) instead of a per-pair mark-join aggregate (the
    * 40× qe110 difference). Branch outputs project back to the pair
    * frame's columns (a mark-join branch may have joined flag frames
    * on), so the union is column-aligned. ONLY safe where downstream
    * consumes the DISTINCT rid set — a pair satisfying both branches
    * appears twice — hence used by the plain-existence path, not the
    * aggregated one. */
  private def pruneDisjunctive(c: Expr, cur: Rel,
      ctes: Map[String, DataFrame]): Rel = c match {
    case Binary(op, l, r) if op.equalsIgnoreCase("or") =>
      val cols = cur.df.columns.map(col).toSeq
      val a = pruneDisjunctive(l, cur, ctes).df.select(cols: _*)
      val b = pruneDisjunctive(r, cur, ctes).df.select(cols: _*)
      Rel(a.unionByName(b), cur.scopes)
    case _ => pruneNestedConjunct(c, cur, ctes)
  }

  /** Plain EXISTS body whose WHERE carries grandparent-referencing
    * subqueries in EXPRESSION position (under OR, CASE, …): rid-tag the
    * outer frame, join the body's source on the directly-correlated
    * conjuncts, prune the pairs per conjunct ([[pruneDisjunctive]] —
    * semi/anti joins for top-level forms, OR distributed as a survivor
    * union, mark-join expression filters otherwise), and survival of
    * any pair decides [NOT] EXISTS. */
  private def lowerExistsExprNested(qb: QueryBody, nested: Seq[Expr],
      correlated: Seq[Expr], innerCtx: Ctx, ctx: Ctx, negated: Boolean): Unit = {
    val what = "EXISTS subquery"
    val (outer, rid) = ridFrame(ctx.rel.df, "xnrid")
    val (renamed, rScopes) = freshRenamed(innerCtx.rel.df, innerCtx.rel.scopes, what)
    val corrCtx = new Ctx(Rel(renamed, rScopes), Some(ctx.rel), ctx.ctes)
    val cond = correlated.map(bindExpr(_, corrCtx))
      .reduceOption(_ && _).getOrElse(lit(true))
    val joined =
      try outer.join(renamed, cond, "inner")
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          err(s"$what correlation here may only reference columns of the " +
            "outer relation — rewrite the correlated conjuncts")
      }
    var cur = Rel(joined, ctx.rel.scopes ++ rScopes)
    nested.foreach { c => cur = pruneDisjunctive(c, cur, innerCtx.ctes) }
    joinBack(ctx, outer, rid, cur.df.select(col(rid)).distinct(),
      if (negated) "left_anti" else "left_semi")
  }

  /** LEFT ANTI (negated) or LEFT SEMI (positive) join one nested body
    * onto the candidate (outer × middle) frame — every referenced
    * scope's columns are in `rel`, so the body's correlation (to parent
    * AND grandparent) binds as an ordinary join condition. Both joins
    * preserve the candidate frame's multiplicity (each pair row kept at
    * most once), which is what lets the aggregated-EXISTS path group
    * the pruned pairs afterwards. For the NOT IN form (`lhsOpt` present,
    * anti) the match condition is NULL-aware — `lhs = e OR lhs IS NULL
    * OR e IS NULL` — so a candidate is pruned whenever the membership
    * test is TRUE or UNKNOWN, which in WHERE position is exactly
    * three-valued NOT IN. For positive IN (semi) the plain equality is
    * right: IN is TRUE iff a true match exists, and NULL/UNKNOWN rows
    * simply fail the semi condition. */
  private def joinNestedBody(nqb0: QueryBody, lhsOpt: Option[Expr], rel: Rel,
      ctes: Map[String, DataFrame], anti: Boolean): Rel = {
    val what = if (anti) "negated nested subquery" else "nested subquery"
    // LIMIT n>=1 / plain DISTINCT over a one-row aggregate body are
    // no-ops here exactly as at depth 1 (the routing below would
    // otherwise reject the aggregate with the plain-body LIMIT error)
    val nqb = stripNoopLimit(nqb0)
    // plain DISTINCT is membership/existence-blind — ignore it. DISTINCT
    // ON keeps one row per ON-key: EXISTENCE is unchanged (≥1 row stays
    // ≥1 row) so the EXISTS form drops it, and under OFFSET the count
    // rewrite below counts DISTINCT ON-key tuples (= post-DISTINCT-ON
    // rows) instead of raw rows. The IN form depends on WHICH row
    // survives per key (the membership set is the kept rows' select
    // values in the body's ORDER BY) — it routes to the per-pair slice
    // lowering ([[sliceInNestedBody]], the depth-1 qe132 machinery
    // lifted one level). Only GROUP BY/HAVING keeps the clean error:
    // the ON keys would apply post-aggregation, same as depth 1.
    val nestOnKeys = nqb.distinct.toSeq.flatten
    // IN-form DISTINCT ON / LIMIT: membership is the kept slice of the
    // per-pair set — plain bodies go through [[sliceInNestedBody]] (the
    // depth-1 qe132 machinery lifted one level); GROUPED bodies slice
    // the per-pair GROUPS instead ([[joinNestedAggBody]]'s window
    // branch, round 9 — the same lift as depth-1 qe174/qe175).
    // Ungrouped-AGGREGATE bodies (≤1 pre-limit row) shortcut: DISTINCT
    // ON is a no-op, a post-strip-surviving LIMIT empties the set.
    val inSelAggs = lhsOpt.toSeq.flatMap(_ => nqb.selectList match {
      case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] => collectAggs(e)
      case _ => Nil
    })
    val inGrouped = lhsOpt.isDefined &&
      (nqb.groupBy.nonEmpty || nqb.having.isDefined || inSelAggs.nonEmpty)
    if (lhsOpt.isDefined && (nestOnKeys.nonEmpty || nqb.limit.isDefined)) {
      val constFalse =
        if (anti) rel else Rel(rel.df.filter(lit(false)), rel.scopes)
      if (nqb.limit.exists(lc => evalLimitInt(lc.limit, "LIMIT") == 0))
        return constFalse
      if (inGrouped && nqb.groupBy.isEmpty) {
        // ≤1-row body: any surviving LIMIT (OFFSET ≥ 1 post-strip)
        // empties the membership set; bare DISTINCT ON is a no-op
        if (nqb.limit.isDefined) return constFalse
        return joinNestedBody(nqb.copy(distinct = None), lhsOpt, rel, ctes, anti)
      }
      if (!inGrouped)
        return sliceInNestedBody(nqb, nqb.limit, lhsOpt.get, rel, ctes, anti)
      if (nqb.limit.isDefined && nqb.distinct.contains(Nil))
        err(s"a $what under IN with LIMIT does not combine with DISTINCT")
      if (nqb.orderBy.isEmpty)
        err(s"a $what under IN with LIMIT/DISTINCT ON needs an ORDER BY " +
          "(the kept rows are arbitrary without one)")
      return joinNestedAggBody(nqb.copy(distinct = None, limit = None), lhsOpt,
        rel, bindBodyCtes(nqb, ctes), anti,
        inOnKeys = nestOnKeys.map(substituteAliases(_, nqb.selectList)),
        inLimit = nqb.limit,
        inOrderBy = nqb.orderBy)
    }
    // LIMIT/OFFSET on an EXISTS-form body lowers by COUNTING (the same
    // rewrites as lowerExists): LIMIT k>0 never changes existence,
    // LIMIT 0 makes it constant, OFFSET o needs MORE THAN o pre-limit
    // rows (plain body → HAVING count(1) > o; ungrouped HAVING → at most
    // one row, constant-false; GROUP BY → more than o surviving groups).
    // An IN-form body's membership SET is the ordered slice the LIMIT
    // keeps, per candidate pair — the per-rid window lowering below
    // ([[sliceInNestedBody]], the depth-1 qe130 machinery lifted one
    // level).
    var body = nqb
    var existsOff = 0
    // EXISTS-form ungrouped AGGREGATE select: exactly ONE row whatever
    // the matches (SQL's empty-set aggregate row) — existence is
    // constant (the depth-1 lowerExists branch, which the nested route
    // was missing: round-9 fuzzer find)
    val exSelAggs = lhsOpt.isEmpty && (nqb.selectList match {
      case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] =>
        collectAggs(e).nonEmpty
      case _ => false
    })
    body.limit match {
      case Some(lc) =>
        val constFalse =
          if (anti) rel else Rel(rel.df.filter(lit(false)), rel.scopes)
        // LIMIT 0: the membership/existence set is empty — IN false,
        // NOT IN true — for both forms
        if (evalLimitInt(lc.limit, "LIMIT") == 0) return constFalse
        if (lhsOpt.isDefined)
          return sliceInNestedBody(body, Some(lc), lhsOpt.get, rel, ctes, anti)
        val o = lc.offset.map(evalLimitInt(_, "OFFSET")).getOrElse(0)
        body = body.copy(limit = None)
        if (o > 0) {
          if (body.groupBy.isEmpty && body.having.isEmpty && !exSelAggs) {
            // post-DISTINCT-ON the body has one row per ON-key tuple and
            // post-DISTINCT one row per select-value tuple, so "more
            // than o rows survive the offset" counts DISTINCT tuples —
            // NULL-safe via countUniqueRows (DISTINCT keeps NULL-keyed
            // rows, bare count_distinct drops them — ADVICE r8 #1);
            // a plain body counts raw rows
            val cntFn =
              if (nestOnKeys.nonEmpty) FnCall("countUniqueRows", nestOnKeys)
              else if (body.distinct.contains(Nil)) {
                val sels = body.selectList.map(_.expr)
                if (sels.exists(_.isInstanceOf[Wildcard]))
                  err(s"$what: DISTINCT * with OFFSET needs named columns")
                FnCall("countUniqueRows", sels)
              } else FnCall("count", Seq(IntLit(BigInt(1))))
            body = body.copy(having = Some(Binary(">", cntFn,
              IntLit(BigInt(o)))), distinct = None)
          }
          else if (body.groupBy.isEmpty) return constFalse // ≤1 row ever
          else existsOff = o
        }
      case None => ()
    }
    // an aggregated body (GROUP BY / HAVING / aggregate select item under
    // IN) cannot lower as a row-level semi/anti join — its membership set
    // is PER-GROUP values — so it takes the per-pair grouped lowering
    if (exSelAggs && body.groupBy.isEmpty && body.having.isEmpty)
      return (if (anti) Rel(rel.df.filter(lit(false)), rel.scopes) else rel)
    val selAggs = lhsOpt.toSeq.flatMap(_ => body.selectList match {
      case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] => collectAggs(e)
      case _ => err("IN subquery must produce exactly 1 column")
    })
    // the body's own WITH list binds first (uncorrelated)
    val bodyCtes = bindBodyCtes(body, ctes)
    if (body.groupBy.nonEmpty || body.having.isDefined || selAggs.nonEmpty) {
      // EXISTS-form DISTINCT [ON] over the grouped body: counted under
      // OFFSET (post-DISTINCT tuples), existence-neutral otherwise
      val distinctExprs =
        if (existsOff == 0 || lhsOpt.isDefined) None
        else groupedDistinctExprs(body, what)
      return joinNestedAggBody(body, lhsOpt, rel, bodyCtes, anti, existsOff,
        distinctExprs)
    }
    val base = body.from.map(bindSource(_, bodyCtes))
      .getOrElse(err(s"$what needs a FROM"))
    val nestedRel = body.joins.foldLeft(base)((r, j) => bindJoin(r, j, bodyCtes))
    val nConj = body.where.map(splitAnd).getOrElse(Nil)
    val (nLocal, nCorr) = nConj.partition(resolvesWithin(_, nestedRel))
    val nCtx = new Ctx(nestedRel, None, bodyCtes)
    applyLocal(nLocal, nCtx, what)
    val (renamed, rScopes) = freshRenamed(nCtx.rel.df, nCtx.rel.scopes, what)
    val quals = rel.scopes.filterNot(_.hidden)
      .flatMap(_.qualifier.map(_.toLowerCase)).toSet
    rScopes.filterNot(_.hidden).flatMap(_.qualifier)
      .find(q => quals(q.toLowerCase)).foreach { q =>
        err(s"$what: relation '$q' is named on more than one level — " +
          "alias one of them differently")
      }
    val bCtx = new Ctx(Rel(rel.df, rel.scopes ++ rScopes), None, bodyCtes)
    val how = if (anti) "left_anti" else "left_semi"
    val corrCond = nCorr.map(bindExpr(_, bCtx)).reduceOption(_ && _)
    lhsOpt match {
      case None =>
        Rel(rel.df.join(renamed, corrCond.getOrElse(lit(true)), how), rel.scopes)
      case Some(lhs) =>
        val sel = body.selectList match {
          case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] => e
          case _ => err("IN subquery must produce exactly 1 column")
        }
        // the NOT IN slices filter `renamed` ALONE by the select value —
        // a select item referencing enclosing scopes cannot slice that
        // way (ADVICE r6: it died with a raw AnalysisException); fail
        // with the explanation instead
        if (anti && !resolvesWithin(sel, nCtx.rel))
          err(s"the select item of a grandparent-correlated NOT IN must " +
            "reference only the subquery's own relations")
        Rel(membershipJoin(rel.df, renamed, corrCond, bindExpr(lhs, bCtx),
          bindExpr(sel, bCtx), anti), rel.scopes)
    }
  }

  /** AGGREGATED nested body (GROUP BY / HAVING / aggregate select item
    * under IN) pruning the candidate pair frame. The membership set is
    * per-GROUP values, so the row-level semi/anti join is out; instead
    * each pair row gets a rid, the body's source joins on the correlated
    * conjuncts (parent AND grandparent refs are plain columns of the
    * pair frame), and the joined rows group by (rid ∪ explicit GROUP BY
    * keys) — HAVING filters groups, the select item evaluates per group.
    *   - GROUP BY body: EXISTS ⟺ some group of the rid survives; IN ⟺
    *     some surviving group's value equals lhs; NOT IN prunes a rid
    *     when any surviving group makes the membership TRUE or UNKNOWN
    *     (value = lhs, lhs NULL, or value NULL) — three-valued NOT IN
    *     in WHERE position. Empty candidate sets yield no groups, which
    *     is exactly SQL: EXISTS false, NOT IN true.
    *   - UNGROUPED body (HAVING and/or aggregate select): SQL produces
    *     exactly ONE aggregate row per pair even over an empty set
    *     (count 0, other aggregates NULL), so the per-rid aggregates
    *     left-join back onto the pairs with count-family coalesced to 0
    *     and HAVING/membership evaluate per pair row.
    * All prune decisions join back on the rid — hash joins, never
    * nested-loop — and each pair row is kept at most once, preserving
    * the multiplicity the aggregated-EXISTS caller groups afterwards. */
  private def joinNestedAggBody(nqb: QueryBody, lhsOpt: Option[Expr], rel: Rel,
      ctes: Map[String, DataFrame], anti: Boolean, existsOff: Int = 0,
      distinctExprs: Option[Seq[Expr]] = None,
      inOnKeys: Seq[Expr] = Nil, inLimit: Option[LimitClause] = None,
      inOrderBy: Seq[OrderKey] = Nil): Rel = {
    val what = if (anti) "negated nested subquery" else "nested subquery"
    val lhsName = fresh("nglhs")
    // bind lhs over the PAIR frame now: it is functionally dependent on
    // the rid, so it can ride the grouping as an extra key
    val (pairs, prid) = ridFrame(lhsOpt.map(l => rel.df.withColumn(lhsName,
      bindExpr(l, new Ctx(rel, None, ctes)))).getOrElse(rel.df), "ngrid")
    val prid2 = fresh("ngrid2")

    val base = nqb.from.map(bindSource(_, ctes))
      .getOrElse(err(s"$what needs a FROM"))
    val nestedRel = nqb.joins.foldLeft(base)((r, j) => bindJoin(r, j, ctes))
    val nConj = nqb.where.map(splitAnd).getOrElse(Nil)
    val (nLocal, nCorr) = nConj.partition(resolvesWithin(_, nestedRel))
    val nCtx = new Ctx(nestedRel, None, ctes)
    applyLocal(nLocal, nCtx, what)
    val (renamed, rScopes) = freshRenamed(nCtx.rel.df, nCtx.rel.scopes, what)
    val quals = rel.scopes.filterNot(_.hidden)
      .flatMap(_.qualifier.map(_.toLowerCase)).toSet
    rScopes.filterNot(_.hidden).flatMap(_.qualifier)
      .find(q => quals(q.toLowerCase)).foreach { q =>
        err(s"$what: relation '$q' is named on more than one level — " +
          "alias one of them differently")
      }
    val bCtx = new Ctx(Rel(pairs, rel.scopes ++ rScopes), None, ctes)
    val corrCond = nCorr.map(bindExpr(_, bCtx)).reduceOption(_ && _)
      .getOrElse(lit(true))
    val joined =
      try pairs.join(renamed, corrCond, "inner")
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          err(s"$what correlation here may only reference columns of the " +
            "enclosing scopes — rewrite the correlated conjuncts")
      }
    val jCtx = new Ctx(Rel(joined, rel.scopes ++ rScopes), None, ctes)

    val groupPairs = nqb.groupBy.map(substituteAliases(_, nqb.selectList))
      .map(e => (e, fresh("ngg")))
    val havingExpr = nqb.having.map(substituteAliases(_, nqb.selectList))
    val selExpr = lhsOpt.map { _ =>
      nqb.selectList match {
        case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] => e
        case _ => err("IN subquery must produce exactly 1 column")
      }
    }
    // ON keys / ORDER BY of an IN-form grouped slice bind
    // POST-aggregation — their aggregate calls ride the agg set
    val inOrdExprs = inOrderBy.map(ok => substituteAliases(ok.expr, nqb.selectList))
    val aggCalls = (havingExpr.toSeq.flatMap(collectAggs) ++
      selExpr.toSeq.flatMap(collectAggs) ++
      distinctExprs.toSeq.flatten.flatMap(collectAggs) ++
      inOnKeys.flatMap(collectAggs) ++ inOrdExprs.flatMap(collectAggs)).distinct
    val aggPairs = aggCalls.map(fc => (fc, fresh("nga")))
    // HAVING / select-item identifiers OUTSIDE aggregate arguments that
    // belong to the ENCLOSING scopes (aggregate args bind over the
    // joined frame and need nothing): constant per rid, so they ride
    // the grouping as first() aggregates and substitute per group
    def nonAggIdents(e: Expr): Seq[Ident] = e match {
      case i: Ident => Seq(i)
      case fc: FnCall if collectAggs(fc) == Seq(fc) => Nil
      case FnCall(_, args) => args.flatMap(nonAggIdents)
      case Binary(_, l, r) => nonAggIdents(l) ++ nonAggIdents(r)
      case Unary(_, o) => nonAggIdents(o)
      case CaseExpr(s, bs, el) => (s.toSeq ++ bs.flatMap(b => Seq(b._1, b._2)) ++
        el.toSeq).flatMap(nonAggIdents)
      case BetweenExpr(a, lo, hi, _) => Seq(a, lo, hi).flatMap(nonAggIdents)
      case InList(a, items, _) => (a +: items).flatMap(nonAggIdents)
      case _ => Nil
    }
    val outerRiders = (havingExpr.toSeq ++ selExpr.toSeq ++
      distinctExprs.toSeq.flatten ++ inOnKeys ++ inOrdExprs).flatMap(nonAggIdents)
      .distinct
      .filterNot(i => resolvesWithin(i, nCtx.rel)) // body-side → group key
      .filter(i => resolvesWithin(i, rel))
      .map(i => (i, fresh("ngo")))
    val aggCols = (aggPairs.map { case (fc, n) => bindAggCall(fc, jCtx).as(n) } ++
      outerRiders.map { case (i, n) => first(bindExpr(i, jCtx)).as(n) }) match {
      case Nil => Seq(count(lit(1)).as(fresh("ngc")))
      case cs => cs
    }
    val groupCols = (col(prid) +: lhsOpt.toSeq.map(_ => col(lhsName))) ++
      groupPairs.map { case (e, nm) => bindExpr(e, jCtx).as(nm) }
    val grouped = joined.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)

    val how = if (anti) "left_anti" else "left_semi"
    if (nqb.groupBy.nonEmpty) {
      val gCtx = new Ctx(
        Rel(grouped, Seq(Scope(None, grouped, grouped.columns.toSeq))),
        None, ctes,
        subst = aggPairs.map { case (fc, n) => (fc: Expr) -> grouped(n) }.toMap ++
          groupPairs.map { case (e, nm) => e -> grouped(nm) }.toMap ++
          outerRiders.map { case (i, n) => (i: Expr) -> grouped(n) }.toMap)
      val filtered = havingExpr.map(h => grouped.filter(bindExpr(h, gCtx)))
        .getOrElse(grouped)
      val hits = (selExpr match {
        case None =>
          // OFFSET o over the GROUP BY body: existence needs MORE THAN
          // o surviving post-DISTINCT rows for the rid (same counting
          // as lowerExists — distinct tuples when the body has
          // DISTINCT [ON], surviving groups otherwise)
          if (existsOff == 0) filtered
          else {
            val cnt = fresh("ngoff")
            filtered.groupBy(col(prid))
              .agg(existsOffCount(distinctExprs, gCtx, cnt))
              .filter(col(cnt) > existsOff)
          }
        case Some(se) =>
          val v = bindExpr(se, gCtx)
          // IN-form grouped slice (round 9): DISTINCT ON keeps the
          // first group per (pair rid, ON keys) in the body's ORDER BY,
          // LIMIT/OFFSET slices the surviving groups per rid — the
          // depth-1 qe174/qe175 windows on the pair frame's groups
          val cand =
            if (inOnKeys.isEmpty && inLimit.isEmpty) filtered
              .select(col(prid), col(lhsName), v.as(fresh("ngv")))
            else {
              val vN = fresh("ngv")
              val onNames = inOnKeys.indices.map(_ => fresh("ngon"))
              val ordNames = inOrdExprs.indices.map(_ => fresh("ngord"))
              var df = filtered.select(
                (Seq(col(prid), col(lhsName)) ++
                  inOnKeys.zip(onNames).map { case (oe, on) =>
                    bindExpr(oe, gCtx).as(on) } ++
                  inOrdExprs.zip(ordNames).map { case (oe, on) =>
                    bindExpr(oe, gCtx).as(on) } :+
                  v.as(vN)): _*)
              val ordCols = inOrderBy.zip(ordNames).map { case (ok, on) =>
                orderKey(col(on), ok.desc) }
              if (inOnKeys.nonEmpty) {
                val rn = fresh("ngrn")
                df = df.withColumn(rn, row_number().over(
                    Window.partitionBy((col(prid) +: onNames.map(col)): _*)
                      .orderBy(ordCols: _*)))
                  .filter(col(rn) === 1).drop(rn)
              }
              inLimit.foreach { lc =>
                val off = lc.offset.map(evalLimitInt(_, "OFFSET")).getOrElse(0)
                val lim = evalLimitInt(lc.limit, "LIMIT")
                df = slicePerKey(df, Seq(col(prid)), ordCols, lim, off,
                  lc.withTies)
              }
              df
            }
          val vCol = col(cand.columns.last)
          if (!anti) cand.filter(col(lhsName) === vCol)
          // NOT IN: TRUE or UNKNOWN membership prunes the rid
          else cand.filter(col(lhsName) === vCol ||
            col(lhsName).isNull || vCol.isNull)
      }).select(col(prid)).distinct().withColumnRenamed(prid, prid2)
      Rel(pairs.join(hits, col(prid) === col(prid2), how)
        .drop(prid, lhsName), rel.scopes)
    } else {
      // ungrouped aggregate body: one aggregate row per rid, including
      // rids whose candidate set is empty — left join back, count → 0
      val g = grouped.drop(lhsName).withColumnRenamed(prid, prid2)
      val joinedBack = pairs.join(g, col(prid) === col(prid2), "left")
      val subst: Map[Expr, Column] = aggPairs.map { case (fc, n) =>
        (fc: Expr) -> (if (isCountFamily(fc.name)) coalesce(g(n), lit(0L))
                       else g(n))
      }.toMap
      val hCtx = new Ctx(
        Rel(joinedBack, rel.scopes :+ hiddenScope(g, g.columns.toSeq)),
        None, ctes, subst = subst)
      val flag = havingExpr.map(bindExpr(_, hCtx)).getOrElse(lit(true))
      val keep = selExpr match {
        case None =>
          if (anti) !coalesce(flag, lit(false)) else coalesce(flag, lit(false))
        case Some(se) =>
          val eq = col(lhsName) === bindExpr(se, hCtx)
          // the set is {value} when HAVING passes, {} otherwise
          if (anti) !(coalesce(flag, lit(false)) && coalesce(eq, lit(true)))
          else coalesce(flag, lit(false)) && coalesce(eq, lit(false))
      }
      Rel(joinedBack.filter(keep).drop(g.columns.toSeq: _*)
        .drop(prid, lhsName), rel.scopes)
    }
  }

  /** IN-form nested body with LIMIT [OFFSET] [WITH TIES] pruning the
    * candidate pair frame — the depth-1 correlated-IN LIMIT machinery
    * (qe130–qe132) lifted one level. The membership set is the ordered
    * slice PER candidate pair (its parent and grandparent refs select
    * the body's rows), so: rid-tag the pairs, inner-join the body's
    * source on the correlated conjuncts (any shape — equality or
    * theta — since both scopes are plain columns of the pair frame),
    * apply DISTINCT ON as keep-first per (rid ∪ ON keys), slice rows
    * (off, off+lim] per rid in the body's ORDER BY ([[slicePerKey]] —
    * rid-sized buckets, never a global sort), and
    * decide membership over the kept slice:
    *   - IN: some slice row's value equals lhs → semi join back by rid;
    *   - NOT IN: prune a rid when any slice row makes membership TRUE
    *     or UNKNOWN (value = lhs, lhs NULL, or value NULL) — an empty
    *     slice (no joined rows, or all past the offset) yields no hit,
    *     so the pair survives: three-valued NOT IN in WHERE position.
    * Each pair row is kept at most once (the hit set is a DISTINCT rid
    * set joined back by rid — hash joins), preserving the multiplicity
    * the aggregated-EXISTS caller groups afterwards. Reference grammar
    * composes IN bodies with LIMIT/OFFSET at any depth
    * (/root/reference/src/parser/mod.rs:503-544,1404,1439-1440). */
  private def sliceInNestedBody(nqb: QueryBody, lcOpt: Option[LimitClause],
      lhs: Expr, rel: Rel, ctes: Map[String, DataFrame], anti: Boolean): Rel = {
    val what = if (anti) "negated nested subquery" else "nested subquery"
    val selExpr = nqb.selectList match {
      case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] => e
      case _ => err("IN subquery must produce exactly 1 column")
    }
    val onKeys = nqb.distinct.toSeq.flatten
    if (nqb.groupBy.nonEmpty || nqb.having.isDefined ||
        collectAggs(selExpr).nonEmpty)
      err(s"a $what under IN with LIMIT/DISTINCT ON takes a plain body " +
        "(no GROUP BY/HAVING/aggregates)")
    if (lcOpt.isDefined && nqb.distinct.contains(Nil))
      err(s"a $what under IN with LIMIT does not combine with DISTINCT")
    if (nqb.orderBy.isEmpty)
      err(s"a $what under IN with LIMIT/DISTINCT ON needs an ORDER BY " +
        "(the kept rows are arbitrary without one)")
    val lim = lcOpt.map(lc => evalLimitInt(lc.limit, "LIMIT")).getOrElse(-1)
    val off = lcOpt.flatMap(_.offset).map(evalLimitInt(_, "OFFSET")).getOrElse(0)
    val bodyCtes = bindBodyCtes(nqb, ctes)

    val lhsName = fresh("nllhs")
    val (pairs, prid) = ridFrame(
      rel.df.withColumn(lhsName, bindExpr(lhs, new Ctx(rel, None, ctes))), "nlrid")
    val prid2 = fresh("nlrid2")

    val base = nqb.from.map(bindSource(_, bodyCtes))
      .getOrElse(err(s"$what needs a FROM"))
    val nestedRel = nqb.joins.foldLeft(base)((r, j) => bindJoin(r, j, bodyCtes))
    val nConj = nqb.where.map(splitAnd).getOrElse(Nil)
    val (nLocal, nCorr) = nConj.partition(resolvesWithin(_, nestedRel))
    val nCtx = new Ctx(nestedRel, None, bodyCtes)
    applyLocal(nLocal, nCtx, what)
    val (renamed, rScopes) = freshRenamed(nCtx.rel.df, nCtx.rel.scopes, what)
    val quals = rel.scopes.filterNot(_.hidden)
      .flatMap(_.qualifier.map(_.toLowerCase)).toSet
    rScopes.filterNot(_.hidden).flatMap(_.qualifier)
      .find(q => quals(q.toLowerCase)).foreach { q =>
        err(s"$what: relation '$q' is named on more than one level — " +
          "alias one of them differently")
      }
    val bCtx = new Ctx(Rel(pairs, rel.scopes ++ rScopes), None, bodyCtes)
    val corrCond = nCorr.map(bindExpr(_, bCtx)).reduceOption(_ && _)
      .getOrElse(lit(true))
    val joined =
      try pairs.join(renamed, corrCond, "inner")
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          err(s"$what correlation here may only reference columns of the " +
            "enclosing scopes — rewrite the correlated conjuncts")
      }
    val jCtx = new Ctx(Rel(joined, rel.scopes ++ rScopes), None, bodyCtes)
    // ORDER BY and the select value bind over the joined frame, so both
    // may reference enclosing scopes (constant per rid) freely
    val ordNames = nqb.orderBy.map(_ => fresh("nlo"))
    val onNames = onKeys.indices.map(_ => fresh("nlon"))
    val vName = fresh("nlv")
    val proj = joined.select(
      (Seq(col(prid), col(lhsName)) ++
        onKeys.zip(onNames).map { case (oe, on) =>
          bindExpr(oe, jCtx).as(on) } ++
        nqb.orderBy.zip(ordNames).map { case (ok, on) =>
          bindExpr(substituteAliases(ok.expr, nqb.selectList), jCtx).as(on) } :+
        bindExpr(selExpr, jCtx).as(vName)): _*)
    val ordCols = nqb.orderBy.zip(ordNames).map { case (ok, on) =>
      orderKey(col(on), ok.desc) }
    // DISTINCT ON: keep-first per (pair rid ∪ ON keys) in the body's
    // ORDER BY — DuckDB semantics scoped to each pair's result set —
    // then any LIMIT slices the kept rows (rid-sized buckets throughout)
    val kept =
      if (onKeys.isEmpty) proj
      else {
        val rn = fresh("nlrn")
        proj.withColumn(rn, row_number().over(
            Window.partitionBy((prid +: onNames).map(col): _*)
              .orderBy(ordCols: _*)))
          .filter(col(rn) === 1).drop(rn)
      }
    val sliced =
      if (lim < 0) kept
      else slicePerKey(kept, Seq(col(prid)), ordCols, lim, off,
        lcOpt.get.withTies)
    val hit =
      if (!anti) col(lhsName) === col(vName)
      else col(lhsName) === col(vName) || col(lhsName).isNull ||
        col(vName).isNull
    val hits = sliced.filter(hit)
      .select(col(prid)).distinct().withColumnRenamed(prid, prid2)
    val how = if (anti) "left_anti" else "left_semi"
    Rel(pairs.join(hits, col(prid) === col(prid2), how)
      .drop(prid, lhsName), rel.scopes)
  }

  /** One grandparent-correlated nested-subquery conjunct → join its
    * source into `innerCtx`'s frame and return the conjuncts that must
    * hoist into the ENCLOSING lowering's correlation pool. Only
    * non-negated EXISTS/IN with plain bodies flatten (negation and
    * aggregation are not multiplicity-blind). */
  private def flattenNested(c: Expr, innerCtx: Ctx, what: String,
      enclosingQuals: Set[String]): Seq[Expr] = c match {
    case ExistsExpr(nqb: QueryBody, false) =>
      flattenExistsBody(nqb, None, innerCtx, what, enclosingQuals)
    case FnCall(n, Seq(SubqueryExpr(nqb: QueryBody))) if n.equalsIgnoreCase("exists") =>
      flattenExistsBody(nqb, None, innerCtx, what, enclosingQuals)
    case InSubquery(lhs, nqb: QueryBody, false) =>
      flattenExistsBody(nqb, Some(lhs), innerCtx, what, enclosingQuals)
    // anything else — negated nested, scalar comparisons, subqueries
    // under OR — DEFERS upward whole (round 11): it is a pure per-row
    // predicate, and the enclosing plain-EXISTS pair frame binds it in
    // expression position where every scope is an ordinary column
    // ([[lowerExistsPairFrame]]; errors there stay clean dialect errors)
    case _ => Seq(c)
  }

  private def flattenExistsBody(nqb: QueryBody, lhsOpt: Option[Expr],
      innerCtx: Ctx, what: String, enclosingQuals: Set[String]): Seq[Expr] = {
    // the original conjunct, for whole-conjunct DEFERRAL (round 11):
    // bodies the flatten join cannot express (GROUP BY/HAVING/LIMIT —
    // the join runs BELOW the body's own aggregation/slice; aggregate
    // IN selects) hoist intact to the enclosing pair frame instead of
    // erroring — there they bind in expression position per pair row,
    // which is exactly their semantics
    def original: Expr = lhsOpt match {
      case Some(l) => InSubquery(l, nqb, negated = false)
      case None => ExistsExpr(nqb, negated = false)
    }
    if (nqb.groupBy.nonEmpty || nqb.having.isDefined || nqb.limit.isDefined)
      return Seq(original)
    // an ungrouped AGGREGATE select (no GROUP BY/HAVING/LIMIT — just
    // guarded) yields exactly one row whatever the WHERE matches, so the
    // EXISTS form is constant-TRUE: the conjunct contributes nothing and
    // flattening its source as a plain row stream would turn it
    // match-dependent (the round-9 silent-wrong, resurfacing at depth 3
    // through this recursion — round-10 fuzzer find fz203/seed 606). The
    // IN form's membership is the aggregate VALUE — not flattenable here.
    if (nqb.selectList.exists(si =>
        !si.expr.isInstanceOf[Wildcard] && collectAggs(si.expr).nonEmpty)) {
      if (lhsOpt.isEmpty) return Nil
      return Seq(original) // aggregate-valued IN: defer to the pair frame
    }
    // the body's own WITH list binds UNCORRELATED first (round 10,
    // VERDICT r9 task #8) — same rule as every other subquery-body
    // position (bindBodyCtes raises normally if a CTE body reaches an
    // enclosing scope)
    val nCtes = bindBodyCtes(nqb, innerCtx.ctes)
    val base = nqb.from.map(bindSource(_, nCtes))
      .getOrElse(err(s"nested subquery in a $what needs a FROM"))
    val nestedRel = nqb.joins.foldLeft(base)((r, j) => bindJoin(r, j, nCtes))
    val nConj = nqb.where.map(splitAnd).getOrElse(Nil)
    val (nLocal0, nRest) = nConj.partition(resolvesWithin(_, nestedRel))
    val (nFlatten, nLocal) = nLocal0.partition(x =>
      containsSubquery(x) && !resolvesWithinDeep(x, nestedRel, nCtes))
    val nestedCtx = new Ctx(nestedRel, None, nCtes)
    applyLocal(nLocal, nestedCtx, what)
    // plain DISTINCT is membership/existence-blind — drop it. DISTINCT ON
    // keeps ≥1 row per ON-key so the EXISTS form (no lhs) drops it too.
    // The IN form depends on WHICH row survives per ON key (the
    // membership set is the kept rows' select values) — round 10
    // (VERDICT r9 task #6) lowers it when the correlation is pure
    // equality: the kept row within a (correlation-key, ON-key)
    // partition is the SAME row for every binding that selects the
    // partition, so one keep-first window over the nested frame —
    // partitioned by the nested sides of the equalities plus the ON
    // keys, in the body's ORDER BY — precomputes the kept rows and the
    // flatten join proceeds over them unchanged. ONE additional
    // monotone inequality lowers through the prefix-extremum staircase
    // (round 11 — see the theta branch below); other non-equality
    // shapes keep a clean error, as does a deeper nested chain (its
    // flatten join multiplies rows BEFORE the window would run).
    var keptExtra: Seq[Expr] = Nil
    nqb.distinct.filter(_.nonEmpty && lhsOpt.isDefined).foreach { onKeys =>
      if (nqb.orderBy.isEmpty)
        err(s"a grandparent-correlated nested IN subquery with DISTINCT ON " +
          s"in a $what needs an ORDER BY (the kept rows are arbitrary without one)")
      if (nFlatten.nonEmpty)
        err(s"a grandparent-correlated nested IN subquery with DISTINCT ON " +
          s"in a $what does not compose with deeper nested subqueries")
      val mirror = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
      def nestedSideEq(c: Expr): Option[Expr] = c match {
        case Binary("=", a, b) if resolvesWithin(a, nestedRel) &&
            !resolvesWithin(b, nestedRel) => Some(a)
        case Binary("=", a, b) if resolvesWithin(b, nestedRel) &&
            !resolvesWithin(a, nestedRel) => Some(b)
        case _ => None
      }
      val (eqs, others) = nRest.partition(nestedSideEq(_).isDefined)
      val corrKeys = eqs.flatMap(nestedSideEq)
      // THETA correlation (round 11, VERDICT r10 missing #1): at most
      // ONE monotone inequality `ce OP outer` joins the equalities —
      // oriented inner-side-first like orientMonotoneSingle (which
      // can't be used here: the outer side binds one or two scopes up,
      // unreachable from this frame). SEVERAL outer-varying
      // inequalities (round 12, VERDICT r11 missing #1) make the kept
      // row per ON-group binding-dependent in a way no single record
      // table expresses — the 2-D analogue of the staircase is the
      // per-prefix Pareto frontier, whose record table is O(group²)
      // worst-case (SCALE.md §Staircase). Instead the WHOLE conjunct
      // defers to the enclosing pair frame, where the per-rid slice
      // window ([[sliceInNestedBody]] — the depth-2 plan, one level
      // up) keeps the right row under ARBITRARY correlation; the
      // pair-frame volume is bounded by the equality conjuncts exactly
      // as for every other deferred shape. Same deferral for
      // non-monotone / non-numeric correlation shapes.
      val theta: Option[(String, Expr, Expr)] = others match {
        case Nil => None
        case Seq(Binary(op0, a, b)) if mirror.contains(op0) &&
            resolvesWithin(a, nestedRel) && !resolvesWithin(b, nestedRel) =>
          Some((op0, a, b))
        case Seq(Binary(op0, a, b)) if mirror.contains(op0) &&
            resolvesWithin(b, nestedRel) && !resolvesWithin(a, nestedRel) =>
          Some((mirror(op0), b, a))
        case _ => return Seq(original)
      }
      val partCols = (corrKeys ++ onKeys.map(substituteAliases(_, nqb.selectList)))
        .map(bindExpr(_, nestedCtx))
      val ordCols = nqb.orderBy.map { ok =>
        val c = bindExpr(substituteAliases(ok.expr, nqb.selectList), nestedCtx)
        orderKey(c, ok.desc)
      }
      theta match {
        case None =>
          val rn = fresh("gfrn")
          nestedCtx.rel = Rel(nestedCtx.rel.df.withColumn(rn,
              row_number().over(Window.partitionBy(partCols: _*).orderBy(ordCols: _*)))
            .filter(col(rn) === 1).drop(rn), nestedCtx.rel.scopes)
        case Some((op, ce, oe)) =>
          // PREFIX-EXTREMUM STAIRCASE threaded into the flatten (the
          // depth-1 qe139 machinery): under `ce OP t` the kept row per
          // (equality-key, ON-key) group is binding-DEPENDENT — but it
          // is always a RECORD row (a prefix extremum of ce in the
          // body's sort), and a record r is the kept one iff its own ce
          // passes while the previous extremum fails. That is a PURE
          // per-row predicate over (record, outer threshold), so the
          // nested frame shrinks to its record table and the kept test
          // rides the flatten join as ordinary conjuncts: the original
          // theta stays in the pool (the banded planner still sees a
          // single monotone inequality for pre-thinning) and a second
          // conjunct rejects records whose predecessor also passes.
          // Record counts, not the corpus, bound the joined volume —
          // expected O(log group) records per group. NULL-ce rows never
          // pass any threshold and are excluded before the window.
          val ceB = bindExpr(ce, nestedCtx)
          if (!numericCol(nestedCtx.rel.df, ceB))
            return Seq(original) // non-numeric ce: pair-frame slice instead
          val preN = fresh("gfpre")
          val maxima = op == ">" || op == ">="
          val wPrev = Window.partitionBy(partCols: _*).orderBy(ordCols: _*)
            .rowsBetween(Window.unboundedPreceding, -1)
          val prevExt = (if (maxima) max(ceB) else min(ceB)).over(wPrev)
          val recDf = nestedCtx.rel.df.filter(ceB.isNotNull)
            .withColumn(preN, prevExt)
            .filter(if (maxima) col(preN).isNull || ceB > col(preN)
                    else col(preN).isNull || ceB < col(preN))
          // the record-extremum column joins the frame as a VISIBLE
          // scope so the synthesized conjunct below still binds after
          // fresh-renaming and (when the threshold references the
          // grandparent) after hoisting into the enclosing pool
          nestedCtx.rel = Rel(recDf,
            nestedCtx.rel.scopes :+ Scope(None, recDf, Seq(preN)))
          keptExtra = Seq(Binary("or", Unary("isnull", Ident(None, preN)),
            Unary("not", Binary(op, Ident(None, preN), oe))))
      }
    }
    // depth-3+ chains flatten level by level into the nested frame
    val nHoisted = nFlatten.flatMap(flattenNested(_, nestedCtx, what,
      enclosingQuals ++ scopeQuals(innerCtx.rel.scopes)))
    val eqConj = lhsOpt.map { l =>
      nqb.selectList match {
        case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] => Binary("=", l, e)
        case _ => err("IN subquery must produce exactly 1 column")
      }
    }
    val pool = nRest ++ nHoisted ++ eqConj.toSeq ++ keptExtra

    // fresh-rename the nested frame (self-join safety — the theta-path
    // pattern) and guard against relation names visible on both levels
    val (renamed, rScopes) = freshRenamed(nestedCtx.rel.df, nestedCtx.rel.scopes, what)
    // collision guard spans EVERY enclosing level, not just the middle
    // one: hoisted conjuncts later bind inner-first against the merged
    // scopes, so a nested relation sharing a qualifier with the OUTER
    // query would silently shadow outer references in the correlation
    // pool (wrong rows, no error)
    val visibleQuals = scopeQuals(innerCtx.rel.scopes) ++ enclosingQuals
    rScopes.filterNot(_.hidden).flatMap(_.qualifier)
      .find(q => visibleQuals(q.toLowerCase)).foreach { q =>
        err(s"flattening a nested subquery in a $what: relation '$q' is " +
          "named on more than one enclosing level — alias one of them differently")
      }
    val bCtx = new Ctx(Rel(innerCtx.rel.df, innerCtx.rel.scopes ++ rScopes),
      None, innerCtx.ctes)
    val (joinable0, hoist0) = pool.partition(resolvesWithin(_, bCtx.rel))
    // a SUBQUERY-BEARING conjunct cannot lower at this level unless it
    // resolves here COMPLETELY (body included): the correlation pool
    // binds conjuncts as join conditions, and a subquery lowering
    // inside a join condition rid-tags the WRONG frame (round-10 fuzzer
    // find — the old path leaked a raw Spark MISSING_ATTRIBUTES; the
    // old guard was a clean error). Round 11 DEFERS it upward instead —
    // at the enclosing plain-EXISTS lowering the explicit pair frame
    // makes every scope it references an ordinary column
    // ([[lowerExistsPairFrame]]); non-EXISTS consumers keep a clean
    // error at their own gates.
    val (defer, joinable) = joinable0.partition(c =>
      containsSubquery(c) && !resolvesWithinDeep(c, bCtx.rel, innerCtx.ctes))
    val hoist = hoist0 ++ defer
    val condOpt = joinable.map(bindExpr(_, bCtx)).reduceOption(_ && _)
    // scalar subqueries among the join conjuncts cross their value onto
    // the left side while binding — join from the (possibly mutated) frame
    val joined = condOpt match {
      case Some(cond) => bCtx.rel.df.join(renamed, cond, "inner")
      case None => bCtx.rel.df.crossJoin(renamed)
    }
    innerCtx.rel = Rel(joined, bCtx.rel.scopes)
    hoist
  }

  /** Result of [[groupedCorrelated]]: the grouped frame before and after
    * the HAVING filter, the fresh correlation-key column names, the
    * aggregate-call → column-name pairs, the binding context whose
    * substitutions map aggregate calls / GROUP BY exprs / correlation
    * keys onto the grouped columns, and the alias-substituted HAVING. */
  private final case class GroupedSub(grouped: DataFrame, filtered: DataFrame,
      keyNames: Seq[String], aggPairs: Seq[(FnCall, String)], gCtx: Ctx,
      having: Option[Expr])

  /** Core of every grouped correlated-subquery lowering (aggregated
    * EXISTS, grouped correlated IN, grouped correlated scalar): group
    * the inner side by (correlation keys ∪ alias-substituted explicit
    * GROUP BY keys — the ClickHouse GROUP-BY-select-alias form works
    * here like it does in the main query path), bind `selectAggs` plus
    * the HAVING's aggregates, and apply the HAVING filter. One
    * implementation — including the HAVING handling — so the three
    * lowerings cannot drift (VERDICT r4 review). */
  private def groupedCorrelated(qb: QueryBody, innerCtx: Ctx,
      keyPairs: Seq[(Expr, Expr)], selectAggs: Seq[FnCall],
      ctes: Map[String, DataFrame]): GroupedSub = {
    val keyNames = keyPairs.indices.map(_ => fresh("gk"))
    val keyCols = keyPairs.zip(keyNames).map { case ((ie, _), kn) =>
      bindExpr(ie, innerCtx).as(kn)
    }
    val groupExprs = qb.groupBy.map(substituteAliases(_, qb.selectList))
    val extraPairs = groupExprs.filterNot(keyPairs.map(_._1).contains)
      .map(e => (e, fresh("gg")))
    val extraCols = extraPairs.map { case (e, nm) => bindExpr(e, innerCtx).as(nm) }
    val havingExpr = qb.having.map(substituteAliases(_, qb.selectList))
    val aggCalls = (selectAggs ++ havingExpr.toSeq.flatMap(collectAggs)).distinct
    val aggPairs = aggCalls.map(fc => (fc, fresh("gagg")))
    val aggCols = aggPairs.map { case (fc, n) => bindAggCall(fc, innerCtx).as(n) } match {
      case Nil => Seq(count(lit(1)).as(fresh("gcnt")))
      case cs => cs
    }
    val pre = innerCtx.rel.df
    val allKeys = keyCols ++ extraCols
    val grouped =
      if (allKeys.isEmpty) pre.agg(aggCols.head, aggCols.tail: _*)
      else pre.groupBy(allKeys: _*).agg(aggCols.head, aggCols.tail: _*)
    val gCtx = new Ctx(Rel(grouped, Seq(Scope(None, grouped, grouped.columns.toSeq))),
      None, ctes,
      subst = aggPairs.map { case (fc, n) => (fc: Expr) -> grouped(n) }.toMap ++
        extraPairs.map { case (e, nm) => e -> grouped(nm) }.toMap ++
        keyPairs.map(_._1).zip(keyNames).map { case (e, kn) => e -> grouped(kn) }.toMap)
    val filtered = havingExpr.map(h => grouped.filter(bindExpr(h, gCtx)))
      .getOrElse(grouped)
    GroupedSub(grouped, filtered, keyNames, aggPairs, gCtx, havingExpr)
  }

  /** Aggregate names whose value over an EMPTY group is 0, not NULL. */
  private def isCountFamily(name: String): Boolean = {
    val n = name.toLowerCase
    n == "count" || n == "countif" || n == "countunique" || n == "uniqexact" ||
      n == "countuniqueapprox" || n == "uniq"
  }

  /** Bind a filter predicate. An IN subquery reached through AND / OR /
    * NOT only binds as Catalyst's own InSubquery, two-valued: a filter
    * drops NULL and FALSE alike, and Spark rewrites NOT IN null-aware
    * (an anti join, or an existence join whose condition also matches
    * NULLs), so SQL's three-valued result needs no extra machinery there.
    * Everything else binds as an expression. */
  private def bindPredicate(e: Expr, ctx: Ctx): Column = e match {
    case Binary("and", l, r) => bindPredicate(l, ctx) && bindPredicate(r, ctx)
    case Binary("or", l, r) => bindPredicate(l, ctx) || bindPredicate(r, ctx)
    case Unary("not", o) => !bindPredicate(o, ctx)
    case InSubquery(l, q, neg) => bindInExpr(l, q, neg, ctx, predicate = true)
    case other => bindExpr(other, ctx)
  }

  /** The body of an uncorrelated or equality-correlated EXISTS as one
    * frame for `Dataset.exists()`, which Catalyst decorrelates into a
    * hash semi / anti / existence join:
    *  - plain body: the inner rows on the correlation;
    *  - GROUP BY body: the HAVING-surviving groups of (correlation keys ∪
    *    GROUP BY keys) — more than `existsOff` of them per key under
    *    OFFSET — filtered on the lifted keys on top, since classic
    *    `groupBy` fails on a pending outer reference;
    *  - ungrouped HAVING body: [[correlatedAgg]] (count-bug order). */
  private def existsFrame(qb: QueryBody, innerCtx: Ctx,
      keyPairs: Seq[(Expr, Expr)], existsOff: Int, ctx: Ctx): DataFrame =
    if (qb.groupBy.nonEmpty) {
      // a DISTINCT [ON] clause over the grouped body matters only under
      // OFFSET, where it changes WHAT is counted (post-DISTINCT tuples,
      // not groups); without OFFSET it is existence-neutral and ignored
      val distinctExprs =
        if (existsOff == 0) None else groupedDistinctExprs(qb, "aggregated EXISTS")
      val gs = groupedCorrelated(qb, innerCtx, keyPairs,
        distinctExprs.toSeq.flatten.flatMap(collectAggs).distinct, innerCtx.ctes)
      val filtered =
        if (existsOff == 0) gs.filtered
        else {
          val cnt = fresh("goff")
          val cntAgg = existsOffCount(distinctExprs, gs.gCtx, cnt)
          val keys = gs.keyNames.map(gs.filtered(_))
          (if (keys.isEmpty) gs.filtered.agg(cntAgg) else gs.filtered.groupBy(keys: _*).agg(cntAgg))
            .filter(col(cnt) > existsOff)
        }
      correlate(filtered, gs.keyNames, keyPairs, ctx)
    } else qb.having.map(substituteAliases(_, qb.selectList)) match {
      case Some(h) =>
        val hn = fresh("hv")
        val (body, Seq(hc)) = correlatedAgg(innerCtx, keyPairs, Seq(h), ctx)
        body.select(hc.as(hn)).where(col(hn))
      case None => correlatedRows(innerCtx, keyPairs, Nil, ctx)
    }

  /** Expose `cols` (bound over the outer frame) to Catalyst subqueries:
    * each is added to the outer frame under a fresh, unique name, and
    * the returned `.outer()` reference resolves by that NAME. A
    * Dataset-resolved column (what Scope.column returns) must never be
    * wrapped: it fails with MISSING_ATTRIBUTES when the inner side lacks
    * the attribute, and when both sides read the same table it silently
    * resolves to the INNER column. The name carries no alias qualifier
    * because a later lowering may re-alias the outer frame before the
    * subquery column is placed, which would orphan the qualifier. */
  private def outerRefs(cols: Seq[Column], ctx: Ctx): Seq[Column] = {
    val names = cols.map(_ => fresh("okey"))
    val df = leftRelationOnly("correlated subquery") {
      ctx.rel.df.select(col("*") +: cols.zip(names).map { case (c, n) => c.as(n) }: _*)
    }
    ctx.rel = Rel(df, ctx.rel.scopes)
    names.map(n => col(n).outer())
  }

  /** `frame` filtered on its equality correlation, `frame.keyNames(i) =
    * outer(i)` per (inner, outer) pair of `keyPairs`. From this filter up
    * a Catalyst subquery body references columns by NAME only: when one
    * frame feeds several subqueries Spark renews its relations'
    * attributes, and it cannot rewrite Dataset-resolved references above
    * an operator still waiting for its outer reference
    * (MISSING_ATTRIBUTES). */
  private def correlate(frame: DataFrame, keyNames: Seq[String],
      keyPairs: Seq[(Expr, Expr)], ctx: Ctx): DataFrame =
    if (keyPairs.isEmpty) frame
    else {
      val refs = outerRefs(keyPairs.map { case (_, oe) => bindExpr(oe, ctx) }, ctx)
      frame.where(keyNames.zip(refs).map { case (kn, r) => col(kn) === r }.reduce(_ && _))
    }

  /** The inner rows projected to their correlation keys (fresh names)
    * and `extra`, filtered on the correlation ([[correlate]]). */
  private def correlatedRows(innerCtx: Ctx, keyPairs: Seq[(Expr, Expr)],
      extra: Seq[Column], ctx: Ctx): DataFrame = {
    val keyNames = keyPairs.map(_ => fresh("ek"))
    val cols = keyPairs.zip(keyNames).map { case ((ie, _), kn) =>
      bindExpr(ie, innerCtx).as(kn) } ++ extra
    correlate(if (cols.isEmpty) innerCtx.rel.df else innerCtx.rel.df.select(cols: _*),
      keyNames, keyPairs, ctx)
  }

  /** An ungrouped aggregate over the inner rows of ONE outer row: the
    * inner frame filtered on the correlation FIRST, then `select(aggs)`
    * — the count-bug-correct order (an empty set still yields its one
    * aggregate row), and it stays lazy under the pending outer
    * reference where `groupBy` does not. The aggregate arguments are
    * projected under fresh names below the filter, and each output
    * expression binds over those names. Returns the filtered rows and
    * the bound outputs: the caller's `select` of them is the aggregate.
    * A struct of outputs must be built in that same `select` — a
    * projection on top of it makes Catalyst add a domain join. */
  private def correlatedAgg(innerCtx: Ctx, keyPairs: Seq[(Expr, Expr)],
      outputs: Seq[Expr], ctx: Ctx): (DataFrame, Seq[Column]) = {
    val calls = outputs.flatMap(collectAggs).distinct.map { fc =>
      val star = fc.args.isEmpty || fc.args.exists(_.isInstanceOf[Wildcard])
      // constant arguments (a quantile level, …) stay literal
      val args = if (star) Nil else fc.args.map { a =>
        if (idents(a).isEmpty) Left(bindExpr(a, innerCtx))
        else Right((bindExpr(a, innerCtx), fresh("aarg")))
      }
      val agg = FunctionRegistry.bindAgg(fc.name, args.map(_.fold(identity, a => col(a._2))), star)
      // over an empty set only the count family is non-NULL; Catalyst
      // fills an unmatched key from each aggregate's own empty value
      // instead (`[]` for groupArray)
      (args.collect { case Right((c, n)) => c.as(n) },
        (fc: Expr) -> (if (isCountFamily(fc.name)) agg else when(count(lit(1)) > 0, agg)))
    }
    val body = correlatedRows(innerCtx, keyPairs, calls.flatMap(_._1), ctx)
    val aggCtx = new Ctx(innerCtx.rel, None, innerCtx.ctes, subst = calls.map(_._2).toMap)
    (body, outputs.map(bindExpr(_, aggCtx)))
  }

  /** A subquery body's FROM/JOIN relation, bound over `ctes`. */
  private def bodyRel(qb: QueryBody, ctes: Map[String, DataFrame], what: String): Rel = {
    val base = qb.from.map(bindSource(_, ctes)).getOrElse(err(s"$what needs a FROM"))
    qb.joins.foldLeft(base)((r, j) => bindJoin(r, j, ctes))
  }

  /** Identifiers of `e` outside nested subquery bodies. */
  private def idents(e: Expr): Seq[Ident] = e match {
    case i: Ident => Seq(i)
    case other => operands(other).flatMap(idents)
  }

  /** The outermost subquery bodies inside `e`. */
  private def subqueries(e: Expr): Seq[Query] = e match {
    case SubqueryExpr(q) => Seq(q)
    case ExistsExpr(q, _) => Seq(q)
    case InSubquery(a, q, _) => q +: subqueries(a)
    case other => operands(other).flatMap(subqueries)
  }

  /** True iff every identifier in `e` resolves inside `rel` (no outer
    * references) — the correlation test. Nested subquery bodies keep
    * their own scope and are not checked. */
  private def resolvesWithin(e: Expr, rel: Rel): Boolean =
    idents(e).forall { case Ident(q, nm) =>
      q match {
        case Some(qual) =>
          rel.scopes.exists(s => s.qualifier.exists(_.equalsIgnoreCase(qual)) && s.has(nm))
        case None => rel.scopes.exists(_.has(nm))
      }
    }

  private def containsSubquery(e: Expr): Boolean = subqueries(e).nonEmpty

  /** Like [[resolvesWithinDeep]] but tests ONLY identifiers inside
    * nested subquery BODIES — top-level references (e.g. an
    * outer-correlated IN lhs) are the enclosing lowering's business.
    * False means some body identifier escapes `rel` (grandparent
    * correlation inside the body), even when the conjunct's own refs
    * reach the immediate outer scope. */
  private def subqueryBodiesResolveWithin(e: Expr, rel: Rel,
      ctes: Map[String, DataFrame]): Boolean =
    subqueries(e).forall {
      case qb: QueryBody => resolvesWithinDeep(ExistsExpr(qb, negated = false), rel, ctes)
      case _ => true
    }

  /** Deep correlation test: like [[resolvesWithin]], but nested subquery
    * bodies are OPENED — their own FROM/JOIN scopes bind and every
    * expression in them must resolve within (own scopes ++ `rel`'s),
    * recursively. False means some identifier escapes `rel` entirely
    * (grandparent correlation). Bodies this cannot analyze (set-ops,
    * sources/join-conditions that fail to bind) count as resolving,
    * preserving the shallow classification and its error paths. */
  private def resolvesWithinDeep(e: Expr, rel: Rel, ctes: Map[String, DataFrame]): Boolean =
    resolvesWithin(e, rel) && subqueries(e).forall {
      case qb: QueryBody =>
        try {
          // a body's own WITH list binds (uncorrelated) before its FROM,
          // so a CTE-bearing body classifies like any other instead of
          // silently counting as "resolving" (round 7: that misrouted
          // grandparent-correlated WITH bodies to the local path)
          val bCtes = bindBodyCtes(qb, ctes)
          val bound = qb.from.map(_ => bodyRel(qb, bCtes, "subquery"))
          val merged = Rel(rel.df, bound.map(_.scopes).getOrElse(Nil) ++ rel.scopes)
          val exprs = qb.selectList.map(_.expr) ++ qb.where.toSeq ++ qb.groupBy ++
            qb.having.toSeq ++ qb.orderBy.map(_.expr) ++ qb.distinct.toSeq.flatten
          exprs.forall(resolvesWithinDeep(_, merged, bCtes))
        } catch { case _: GraftException => true }
      case _ => true
    }

  // ================== expressions ==================

  private def splitAnd(e: Expr): Seq[Expr] = e match {
    case Binary("and", l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Maximal aggregate-call subtrees (no recursion into agg args). */
  private def collectAggs(e: Expr): Seq[FnCall] = e match {
    case fc @ FnCall(n, _) if FunctionRegistry.isAgg(n) => Seq(fc)
    case Binary(_, l, r) => collectAggs(l) ++ collectAggs(r)
    case Unary(_, o) => collectAggs(o)
    case FnCall(_, args) => args.flatMap(collectAggs)
    case CaseExpr(s, bs, el) =>
      s.toSeq.flatMap(collectAggs) ++
        bs.flatMap { case (a, b) => collectAggs(a) ++ collectAggs(b) } ++
        el.toSeq.flatMap(collectAggs)
    case BetweenExpr(a, lo, hi, _) => collectAggs(a) ++ collectAggs(lo) ++ collectAggs(hi)
    case InList(a, items, _) => collectAggs(a) ++ items.flatMap(collectAggs)
    case TupleLit(xs) => xs.flatMap(collectAggs)
    case ArrayLit(xs) => xs.flatMap(collectAggs)
    case MapLit(es) => es.flatMap { case (k, v) => collectAggs(k) ++ collectAggs(v) }
    case _ => Nil
  }

  private def bindAggCall(fc: FnCall, ctx: Ctx): Column = {
    val star = fc.args.exists { case Wildcard(_) => true; case _ => false } || fc.args.isEmpty
    val cols = if (star) Nil else fc.args.map(bindExpr(_, ctx))
    FunctionRegistry.bindAgg(fc.name, cols, star)
  }

  /** Replace select-list aliases appearing as bare identifiers (HAVING may
    * reference them, ClickHouse-style). */
  private def substituteAliases(e: Expr, items: Seq[SelectItem]): Expr = {
    val aliasMap = items.collect { case SelectItem(ex, Some(a)) => a.toLowerCase -> ex }.toMap
    def rewrite(x: Expr): Expr = x match {
      case Ident(None, n) if aliasMap.contains(n.toLowerCase) => aliasMap(n.toLowerCase)
      case Binary(op, l, r) => Binary(op, rewrite(l), rewrite(r))
      case Unary(op, o) => Unary(op, rewrite(o))
      case FnCall(n, args) => FnCall(n, args.map(rewrite))
      case CaseExpr(s, bs, el) =>
        CaseExpr(s.map(rewrite), bs.map { case (a, b) => (rewrite(a), rewrite(b)) }, el.map(rewrite))
      case BetweenExpr(a, lo, hi, neg) => BetweenExpr(rewrite(a), rewrite(lo), rewrite(hi), neg)
      case InList(a, items2, neg) => InList(rewrite(a), items2.map(rewrite), neg)
      case other => other
    }
    rewrite(e)
  }

  private def defaultName(e: Expr, i: Int): String = e match {
    case Ident(_, n) => n
    case FnCall(n, _) => n.toLowerCase
    case _ => s"col$i"
  }

  private def resolveIdent(q: Option[String], n: String, rel: Rel): Option[Column] = q match {
    case Some(qual) =>
      rel.scopes.find(s => s.qualifier.exists(_.equalsIgnoreCase(qual)) && s.has(n))
        .map(_.column(n))
    case None =>
      val hits = rel.scopes.filter(_.has(n))
      hits.size match {
        case 0 => None
        case 1 => Some(hits.head.column(n))
        case _ =>
          // genuinely distinct same-named attributes in several scopes
          // would silently resolve to the first and produce a wrong
          // answer (VERDICT r2) — error instead. The USING-key case never
          // reaches here: bindJoin strips the key from both sides' scopes
          // and exposes it through a single coalesced key scope.
          err(s"ambiguous column '$n' (visible in ${hits.size} relations: " +
            hits.map(_.qualifier.getOrElse("<unaliased>")).mkString(", ") +
            ") — qualify it")
      }
  }

  def bindExpr(e: Expr, ctx: Ctx): Column = {
    ctx.subst.get(e) match {
      case Some(c) => return c
      case None => ()
    }
    e match {
      case IntLit(v) =>
        if (v.isValidInt) lit(v.toInt)
        else if (v.isValidLong) lit(v.toLong)
        else lit(new java.math.BigDecimal(v.bigInteger))
      case FloatLit(v) => lit(v.underlying())
      case StringLit(s) => lit(s)
      case BoolLit(b) => lit(b)
      case NullLit => lit(null)
      case IntervalLit(n, unit) => expr(s"INTERVAL $n ${unit.toUpperCase}")
      case Param(n) =>
        if (n >= params.size) err(s"query parameter $$$n not bound (${params.size} given)")
        lit(params(n))
      case ConfigId(n) =>
        config.get(n).map(v => lit(v)).getOrElse(err(s"unknown config '@$n'"))
      case Ident(q, n) =>
        resolveIdent(q, n, ctx.rel)
          .orElse(ctx.outer.flatMap(o => resolveIdent(q, n, o)))
          .getOrElse(err(s"cannot resolve column '${q.map(_ + ".").getOrElse("")}$n'"))
      case Wildcard(_) => err("'*' is only valid in a select list or count(*)")
      case TupleLit(items) =>
        // NutQL tuples address fields as _1.._n (TypeMap.TupleType) —
        // name them so tupleElement(t, i) resolves regardless of the
        // member expressions
        struct(items.zipWithIndex.map { case (it, i) =>
          bindExpr(it, ctx).as(s"_${i + 1}")
        }: _*)
      case ArrayLit(items) => array(items.map(bindExpr(_, ctx)): _*)
      case MapLit(entries) =>
        map(entries.flatMap { case (k, v) => Seq(bindExpr(k, ctx), bindExpr(v, ctx)) }: _*)
      case Unary(op, o) =>
        val c = bindExpr(o, ctx)
        op match {
          case "not" => !c
          case "~" => bitwise_not(c)
          case "isnull" => c.isNull
          case "isnotnull" => c.isNotNull
          case "-" => -c
          case "+" => c
          case other => err(s"unknown unary op $other")
        }
      case Binary(op, l, r) => bindBinary(op, l, r, ctx)
      case BetweenExpr(a, lo, hi, neg) =>
        val c = bindExpr(a, ctx).between(bindExpr(lo, ctx), bindExpr(hi, ctx))
        if (neg) !c else c
      case InList(a, items, neg) =>
        val c = bindExpr(a, ctx)
        // all-literal lists lower to isin → Catalyst In, which folds long
        // lists into InSet (hash lookup); the OR chain remains only for
        // lists with non-literal items (VERDICT r3: a 1,000-element list
        // must not become a 1,000-branch boolean chain)
        val litVals: Seq[Option[Any]] = items.map {
          case IntLit(v) =>
            if (v.isValidInt) Some(v.toInt)
            else if (v.isValidLong) Some(v.toLong)
            else Some(new java.math.BigDecimal(v.bigInteger))
          case FloatLit(v) => Some(v.underlying())
          case StringLit(s) => Some(s)
          case BoolLit(b) => Some(b)
          case _ => None
        }
        val cond =
          if (items.nonEmpty && litVals.forall(_.isDefined)) c.isin(litVals.map(_.get): _*)
          else items.map(i => c === bindExpr(i, ctx)).reduce(_ || _)
        if (neg) !cond else cond
      case CaseExpr(scrutinee, branches, elseExpr) =>
        val mk: (Expr => Column) = scrutinee match {
          case Some(s) =>
            val sc = bindExpr(s, ctx)
            (k: Expr) => sc === bindExpr(k, ctx)
          case None => (k: Expr) => bindExpr(k, ctx)
        }
        val first = when(mk(branches.head._1), bindExpr(branches.head._2, ctx))
        val chained = branches.tail.foldLeft(first) { case (acc, (k, v)) =>
          acc.when(mk(k), bindExpr(v, ctx))
        }
        elseExpr.map(el => chained.otherwise(bindExpr(el, ctx))).getOrElse(chained)
      case SubqueryExpr(q) => bindScalarSubquery(q, ctx)
      case FnCall(n, Seq(SubqueryExpr(q))) if n.equalsIgnoreCase("exists") =>
        bindExistsExpr(q, negated = false, ctx)
      case FnCall(n, args) =>
        if (FunctionRegistry.isAgg(n))
          err(s"aggregate function '$n' in invalid position (no GROUP BY context)")
        else FunctionRegistry.bindScalar(n, args.map(bindExpr(_, ctx)), args)
      case InSubquery(lhs, q, neg) => bindInExpr(lhs, q, neg, ctx)
      case ExistsExpr(q, neg) => bindExistsExpr(q, neg, ctx)
      case other => err(s"cannot bind expression $other")
    }
  }

  /** EXISTS in a general expression position (e.g. under OR) as a
    * boolean COLUMN — the WHERE-conjunct form filters instead
    * (lowerExists). An uncorrelated or equality-correlated body is
    * `Dataset.exists()` over [[existsFrame]] (Spark plans an existence
    * join, or a one-row subquery when uncorrelated); a theta-correlated
    * one takes the per-outer-row flag. */
  private def bindExistsExpr(sub: Query, negated: Boolean, ctx: Ctx): Column = {
    def sign(c: Column): Column = if (negated) !c else c
    val (qb, existsOff) = sub match {
      case b: QueryBody => foldExistsBody(b) match {
        case Left(exists) => return lit(exists != negated)
        case Right(r) => r
      }
      // set-op body (round 10): uncorrelated only, as in the conjunct form
      case q => return sign(bindQuery(q, ctx.ctes).exists())
    }
    // the body's own WITH list binds first (uncorrelated), as in the
    // WHERE-conjunct EXISTS lowering
    val bodyCtes = bindBodyCtes(qb, ctx.ctes)
    val innerRel = bodyRel(qb, bodyCtes, "EXISTS subquery")
    val conjuncts = qb.where.map(splitAnd).getOrElse(Nil)
    val (local, correlated) = conjuncts.partition(resolvesWithin(_, innerRel))
    val innerCtx = new Ctx(innerRel, None, bodyCtes)
    applyLocal(local, innerCtx, "EXISTS subquery")
    if (equalityOrientable(correlated, innerRel, ctx.rel))
      sign(existsFrame(qb, innerCtx, orientCorrelated(correlated, innerRel, ctx.rel,
        "EXISTS in expression position"), existsOff, ctx).exists())
    else thetaExistsExprFlag(qb, innerCtx, correlated, ctx, negated, existsOff)
  }

  /** IN (subquery) as a boolean column, in any position — a filter
    * predicate passes `predicate = true` ([[bindPredicate]]), a
    * top-level WHERE conjunct also `conjunct = true`, which lets a plain
    * theta body filter `ctx.rel` by joins instead ([[thetaMembership]];
    * the returned column is then TRUE).
    *
    * An uncorrelated or equality-correlated body is a Catalyst
    * InSubquery over its one-column value set ([[catalystIn]]). A
    * theta-correlated body keeps the per-outer-row lowerings, three-
    * valued by construction: TRUE on a match; FALSE when the outer row's
    * value set is empty or (no match, no NULL in the set, lhs non-NULL);
    * NULL when the lhs is NULL against a non-empty set or the unmatched
    * set holds a NULL. */
  private def bindInExpr(lhsExpr: Expr, sub: Query, negated: Boolean, ctx: Ctx,
      predicate: Boolean = false, conjunct: Boolean = false): Column = {
    // correlated probe (same shape as bindScalarSubquery). Detect
    // correlation FIRST and reject unsupported shapes cleanly — falling
    // through to the uncorrelated bindQuery would surface a bare
    // unresolved-column error for the outer reference
    val correlatedParts: Option[(QueryBody, Rel, Seq[Expr], Seq[Expr],
        Map[String, DataFrame])] = sub match {
      case qb: QueryBody if qb.from.isDefined && qb.where.isDefined =>
        // the body's own WITH list binds first (uncorrelated) — its
        // names are visible to FROM/JOINs and local conjuncts
        val bodyCtes = bindBodyCtes(qb, ctx.ctes)
        val innerRel = bodyRel(qb, bodyCtes, "IN subquery")
        val (local, correlated) = splitAnd(qb.where.get).partition(resolvesWithin(_, innerRel))
        if (correlated.isEmpty) None
        else Some((qb, innerRel, local, correlated, bodyCtes))
      case _ => None
    }
    val lhs = bindExpr(lhsExpr, ctx)

    val res = correlatedParts match {
      case None =>
        val inner = bindQuery(sub, ctx.ctes)
        if (inner.columns.length != 1)
          err(s"IN subquery must produce exactly 1 column, got ${inner.columns.length}")
        val n = fresh("in")
        return catalystIn(lhs, inner.toDF(n), n, negated, predicate)
      case Some((qb0, innerRel, local, correlated, bodyCtes))
          if !equalityOrientable(correlated, innerRel, ctx.rel) =>
        // per-outer-row theta path: non-equality correlation
        val qb1 = stripNoopLimit(qb0)
        if (conjunct &&
            thetaMembership(qb1, innerRel, local, correlated, ctx, lhs, negated, bodyCtes))
          return lit(true)
        thetaIn(qb1, innerRel, local, correlated, ctx, lhs, bodyCtes)
      case Some((qb0, innerRel, local, correlated, bodyCtes)) =>
        val qb = stripNoopLimit(qb0)
        if (qb.selectList.size != 1)
          err("IN subquery must produce exactly 1 column")
        val oneRowAgg = qb.groupBy.isEmpty &&
          (qb.having.isDefined || collectAggs(qb.selectList.head.expr).nonEmpty)
        // a LIMIT clause stripNoopLimit kept (LIMIT 0 / OFFSET ≥ 1)
        // EMPTIES a one-row aggregate's value set — IN FALSE for any lhs
        if (oneRowAgg && qb.limit.isDefined) return lit(negated)
        val n = fresh("in")
        return catalystIn(lhs,
          inValues(qb, innerRel, local, correlated, ctx, bodyCtes, n), n, negated, predicate)
    }
    if (negated) !res else res
  }

  /** `lhs [NOT] IN (plain body)` as a top-level WHERE conjunct under
    * theta correlation, where NULL counts as FALSE: the join form of
    * [[membershipJoin]] (a hash semi / anti join on `lhs = e` with the
    * correlation as residual) instead of the per-row three-valued
    * aggregate. False, with nothing lowered, for any other body:
    * aggregated, LIMIT, DISTINCT ON, a select item reading enclosing
    * columns (the NOT IN NULL slice filters the body alone by it), or a
    * subquery in the correlation. */
  private def thetaMembership(qb: QueryBody, innerRel: Rel, local: Seq[Expr],
      correlated: Seq[Expr], ctx: Ctx, lhs: Column, negated: Boolean,
      bodyCtes: Map[String, DataFrame]): Boolean = {
    val sel = qb.selectList match {
      case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] && collectAggs(e).isEmpty => e
      case _ => return false
    }
    if (qb.groupBy.nonEmpty || qb.having.isDefined || qb.limit.isDefined ||
        qb.distinct.exists(_.nonEmpty) || !resolvesWithin(sel, innerRel) ||
        correlated.exists(containsSubquery)) return false
    val what = "correlated IN subquery (theta path)"
    val innerCtx = new Ctx(innerRel, None, bodyCtes)
    applyLocal(local, innerCtx, what)
    val (renamed, rScopes) = freshRenamed(innerCtx.rel.df, innerCtx.rel.scopes, what)
    // correlation: inner names first, then outer (SQL scoping)
    val corr = correlated.map(bindExpr(_, new Ctx(Rel(renamed, rScopes), Some(ctx.rel), bodyCtes)))
      .reduce(_ && _)
    val e = bindExpr(sel, new Ctx(Rel(renamed, rScopes), None, bodyCtes))
    ctx.rel = Rel(membershipJoin(ctx.rel.df, renamed, Some(corr), lhs, e, negated),
      ctx.rel.scopes)
    true
  }

  /** The rows of `outer` that pass `lhs [NOT] IN {e(b) : b in body, corr}`
    * in WHERE position (NULL counts as FALSE); for NOT IN `e` must be
    * bound over `body` alone. IN is one semi join on `corr AND lhs = e` — hash-joinable
    * on `lhs = e`, the correlation its residual. NOT IN prunes a row
    * whose membership is TRUE or UNKNOWN, DECOMPOSED so the common case
    * stays hash-joinable (a single `lhs = e OR lhs IS NULL OR e IS NULL`
    * condition forces a nested-loop plan — ~5× on the qe101/qe110
    * shapes, and a scale-killer on a real corpus):
    *   1. prune TRUE memberships — equality anti join, correlation as
    *      residual;
    *   2. a NULL lhs against a NON-EMPTY set is UNKNOWN — the lhs-NULL
    *      slice anti joins on the correlation alone (degenerate-empty
    *      for non-null keys);
    *   3. a NULL value in the set makes membership UNKNOWN for every
    *      remaining lhs — anti join against the body's e-IS-NULL slice
    *      (small by the same argument). */
  private def membershipJoin(outer: DataFrame, body: DataFrame, corr: Option[Column],
      lhs: Column, e: Column, negated: Boolean): DataFrame = {
    val eq = corr.map(_ && lhs === e).getOrElse(lhs === e)
    if (!negated) outer.join(body, eq, "left_semi")
    else {
      val afterEq = outer.join(body, eq, "left_anti")
      val c = corr.getOrElse(lit(true))
      afterEq.filter(lhs.isNull).join(body, c, "left_anti").unionByName(
        afterEq.filter(lhs.isNotNull).join(body.filter(e.isNull), c, "left_anti"))
    }
  }

  /** `lhs [NOT] IN (set)` through Catalyst's InSubquery, `set` being a
    * one-column frame named `n`. Spark evaluates it two-valued, which a
    * filter predicate needs ([[bindPredicate]]); elsewhere the NULL arm
    * of SQL's three-valued IN is put back: no match, and either the lhs
    * is NULL over a non-empty set or the set holds a NULL. */
  private def catalystIn(lhs: Column, set: DataFrame, n: String,
      negated: Boolean, predicate: Boolean): Column = {
    val in = lhs.isin(set)
    val res =
      if (predicate) in
      else when(in, lit(true))
        .when((lhs.isNull && set.exists()) || set.where(col(n).isNull).exists(),
          lit(null).cast("boolean"))
        .otherwise(lit(false))
    if (negated) !res else res
  }

  /** Value set of an equality-correlated IN body as a one-column frame
    * `n`, filtered on its correlation:
    *  - ungrouped aggregate body: [[correlatedAgg]] — ONE value per outer
    *    row, even over an empty set, dropped when HAVING fails;
    *  - any other body: [[keyedRows]], so DISTINCT ON and LIMIT / OFFSET
    *    [WITH TIES] shape each outer row's set with windows partitioned
    *    by the lifted correlation keys (never a global sort). Plain
    *    DISTINCT needs nothing: IN is set membership. */
  private def inValues(qb: QueryBody, innerRel: Rel, local: Seq[Expr],
      correlated: Seq[Expr], ctx: Ctx, bodyCtes: Map[String, DataFrame],
      n: String): DataFrame = {
    val keyPairs = orientCorrelated(correlated, innerRel, ctx.rel, "correlated IN subquery")
    val innerCtx = new Ctx(innerRel, None, bodyCtes)
    applyLocal(local, innerCtx, "correlated IN subquery")
    val selectExpr = qb.selectList.head.expr
    if (qb.groupBy.isEmpty && (qb.having.isDefined || collectAggs(selectExpr).nonEmpty)) {
      val hn = fresh("hv")
      val having = qb.having.map(substituteAliases(_, qb.selectList))
      val (body, v +: h) = correlatedAgg(innerCtx, keyPairs, selectExpr +: having.toSeq, ctx)
      return if (h.isEmpty) body.select(v.as(n))
        else body.select(v.as(n), h.head.as(hn)).where(col(hn)).select(col(n))
    }
    if (qb.limit.isDefined && qb.distinct.contains(Nil))
      err("correlated IN with LIMIT does not combine with DISTINCT")
    if ((qb.limit.isDefined || qb.distinct.exists(_.nonEmpty)) && qb.orderBy.isEmpty)
      err("correlated IN with LIMIT/DISTINCT ON needs an ORDER BY " +
        "(the kept rows are arbitrary without one)")
    val rows = keyedRows(qb, innerCtx, keyPairs, n)
    val sliced = qb.limit.fold(rows.df) { lc =>
      val off = lc.offset.map(evalLimitInt(_, "OFFSET")).getOrElse(0)
      slicePerKey(rows.df, rows.keyNames.map(col), rows.ordCols,
        evalLimitInt(lc.limit, "LIMIT"), off, lc.withTies)
    }
    correlate(sliced, rows.keyNames, keyPairs, ctx).select(col(n))
  }

  /** Result of [[keyedRows]]: the row frame, its lifted correlation-key
    * column names and the body's ORDER BY over its columns. */
  private final case class KeyedRows(df: DataFrame, keyNames: Seq[String],
      ordCols: Seq[Column])

  /** The rows of a row-producing equality-correlated body, built
    * UNCORRELATED with the correlation keys lifted to fresh columns, so
    * [[correlate]] filters them on top (classic `groupBy` and windows
    * fail on a pending outer reference): the inner rows for a plain
    * body, the HAVING-surviving groups of (correlation keys ∪ GROUP BY
    * keys) for a GROUP BY body. The value is the column `n`. Under
    * LIMIT or DISTINCT ON the body's ORDER BY and ON keys are bound
    * (post-aggregation and alias-substituted for a GROUP BY body, so
    * their aggregate calls ride the grouped aggregate), and DISTINCT ON
    * keeps the first row per (correlation keys ∪ ON keys) — DuckDB
    * DISTINCT ON scoped to each outer row's rows. The reference grammar
    * composes DISTINCT ON / LIMIT with grouped bodies freely
    * (mod.rs:349-360,503-544). */
  private def keyedRows(qb: QueryBody, innerCtx: Ctx, keyPairs: Seq[(Expr, Expr)],
      n: String): KeyedRows = {
    val onKeys = qb.distinct.toSeq.flatten.map(substituteAliases(_, qb.selectList))
    val ordExprs =
      if (qb.limit.isEmpty && onKeys.isEmpty) Nil
      else qb.orderBy.map(ok => substituteAliases(ok.expr, qb.selectList))
    val selectExpr = qb.selectList.head.expr
    val (src, keyCols, bCtx) =
      if (qb.groupBy.isEmpty)
        (innerCtx.rel.df, keyPairs.map { case (ie, _) => bindExpr(ie, innerCtx) }, innerCtx)
      else {
        val gs = groupedCorrelated(qb, innerCtx, keyPairs,
          (selectExpr +: (onKeys ++ ordExprs)).flatMap(collectAggs).distinct, innerCtx.ctes)
        (gs.filtered, gs.keyNames.map(gs.grouped(_)), gs.gCtx)
      }
    val keyNames = keyCols.map(_ => fresh("ik"))
    val onNames = onKeys.map(_ => fresh("ion"))
    val ordNames = ordExprs.map(_ => fresh("iord"))
    val df = src.select(
      (keyCols.zip(keyNames).map { case (k, kn) => k.as(kn) } ++
        onKeys.zip(onNames).map { case (e, on) => bindExpr(e, bCtx).as(on) } ++
        ordExprs.zip(ordNames).map { case (e, on) => bindExpr(e, bCtx).as(on) } :+
        bindExpr(selectExpr, bCtx).as(n)): _*)
    val ordCols = qb.orderBy.zip(ordNames).map { case (ok, on) =>
      orderKey(col(on), ok.desc) }
    val rn = fresh("irn")
    val kept =
      if (onKeys.isEmpty) df
      else df.withColumn(rn, row_number().over(
          Window.partitionBy((keyNames ++ onNames).map(col): _*).orderBy(ordCols: _*)))
        .filter(col(rn) === 1).drop(rn)
    KeyedRows(kept, keyNames, ordCols)
  }

  /** Scalar subquery, placed on the outer frame with `Dataset.scalar()`
    * ([[placeScalar]]).
    *
    * Uncorrelated: aggregate to exactly one row (min + count). The count
    * guards SQL semantics: >1 row raises at execution, 0 rows yields
    * NULL. Spark runs it as a one-row subquery, not a join.
    *
    * Equality-correlated: [[correlatedScalar]], which Catalyst
    * decorrelates. Any other correlation: [[decorrelateScalarTheta]]. */
  private def bindScalarSubquery(q: Query, ctx: Ctx): Column = {
    q match {
      case qb: QueryBody if qb.from.isDefined && qb.where.isDefined =>
        // the body's own WITH list binds first (uncorrelated) — its
        // names are visible to FROM/JOINs and local conjuncts
        val bodyCtes = bindBodyCtes(qb, ctx.ctes)
        val innerRel = bodyRel(qb, bodyCtes, "scalar subquery")
        val (local, correlated) = splitAnd(qb.where.get).partition(resolvesWithin(_, innerRel))
        if (correlated.nonEmpty)
          return if (equalityOrientable(correlated, innerRel, ctx.rel))
            correlatedScalar(qb, innerRel, local, correlated, ctx, bodyCtes)
          else decorrelateScalarTheta(qb, innerRel, local, correlated, ctx, bodyCtes)
      case _ => ()
    }
    val sub = bindQuery(q, ctx.ctes)
    if (sub.columns.length != 1) err("scalar subquery must produce 1 column")
    val n = fresh("scalar")
    val cnt = fresh("scalar_cnt")
    val one = sub
      .agg(min(col(sub.columns.head)).as(n), count(lit(1)).as(cnt))
      .select(when(col(cnt) <= 1, col(n))
        .otherwise(raise_error(lit(tooManyRows)))
        .as(n))
    placeScalar(one.scalar(), ctx)
  }

  /** The engine's own >1-row scalar error text, raised lazily per outer
    * row (Spark's eager SCALAR_SUBQUERY_TOO_MANY_ROWS never fires). */
  private val tooManyRows = "scalar subquery returned more than one row"

  /** Equality-correlated scalar subquery as ONE frame for
    * `Dataset.scalar()`; Catalyst decorrelates it into a single left
    * join on the correlation keys:
    *  - ungrouped aggregate body: [[correlatedAgg]], whose empty-set row
    *    Catalyst's count-bug rewrite supplies for unmatched keys. A
    *    HAVING rides along as a second struct field and gates the value
    *    in the outer expression (filtering inside the body would add a
    *    domain join);
    *  - ORDER BY … LIMIT 1 [OFFSET k]: the (k+1)-th row of
    *    [[keyedRows]] (DISTINCT first, when present); Catalyst turns the
    *    correlated LIMIT into a row_number window over the keys;
    *  - any other body (bare lookup, DISTINCT, DISTINCT ON, GROUP BY
    *    [HAVING]): `struct(first(v), count(1))` over [[keyedRows]], and
    *    the outer expression raises on more than one row, so only outer
    *    rows that reach an offending key raise. Such a body never goes
    *    to `scalar()` bare: Spark plans a LeftSingle nested-loop join. */
  private def correlatedScalar(qb0: QueryBody, innerRel: Rel, local: Seq[Expr],
      correlated: Seq[Expr], ctx: Ctx, bodyCtes: Map[String, DataFrame]): Column = {
    val what = "correlated scalar subquery"
    val qb = stripNoopLimit(qb0)
    if (qb.selectList.size != 1) err("scalar subquery must produce 1 column")
    val valueExpr = qb.selectList.head.expr
    val hasAgg = collectAggs(valueExpr).nonEmpty
    val isDistinct = qb.distinct.contains(Nil)
    val off = qb.limit.map { lc =>
      if (evalLimitInt(lc.limit, "LIMIT") != 1)
        err(s"$what supports only LIMIT 1 (a scalar needs exactly one row)")
      if (lc.withTies)
        err(s"$what: LIMIT … WITH TIES is not scalar (ties can yield several rows)")
      lc.offset.map(evalLimitInt(_, "OFFSET")).getOrElse(0)
    }
    if (qb.groupBy.isEmpty && qb.having.isDefined && !hasAgg)
      err(s"$what with HAVING needs an aggregate or GROUP BY body")
    if (qb.groupBy.isEmpty && hasAgg && (off.isDefined || qb.distinct.isDefined))
      err(s"$what: an aggregate body already yields one row — drop its " +
        "LIMIT / DISTINCT")
    if (isDistinct && qb.groupBy.nonEmpty)
      err(s"$what: DISTINCT applies to plain bodies only (a GROUP BY " +
        "body already dedupes per group)")
    if ((off.isDefined || qb.distinct.exists(_.nonEmpty)) && qb.orderBy.isEmpty)
      err(s"$what with LIMIT / DISTINCT ON needs an ORDER BY (the kept " +
        "row is arbitrary without one)")
    // SELECT DISTINCT … ORDER BY: the sort keys must be the selected
    // value (standard SQL), so dedup-then-rank is DISTINCT-then-LIMIT
    if (isDistinct && off.isDefined &&
        qb.orderBy.exists(ok => substituteAliases(ok.expr, qb.selectList) != valueExpr))
      err(s"$what with DISTINCT: ORDER BY expressions must appear in the select list")
    val keyPairs = orientCorrelated(correlated, innerRel, ctx.rel, what)
    val innerCtx = new Ctx(innerRel, None, bodyCtes)
    applyLocal(local, innerCtx, what)

    if (qb.groupBy.isEmpty && hasAgg) {
      val having = qb.having.map(substituteAliases(_, qb.selectList))
      val (body, v +: h) = correlatedAgg(innerCtx, keyPairs, valueExpr +: having.toSeq, ctx)
      if (h.isEmpty) return placeScalar(body.select(v).scalar(), ctx)
      val s = placeScalar(body.select(struct(v.as("v"), h.head.as("h"))).scalar(), ctx)
      return when(s("h"), s("v"))
    }
    val vn = fresh("sv")
    val rows = keyedRows(qb, innerCtx, keyPairs, vn)
    val body = correlate(if (isDistinct) rows.df.distinct() else rows.df,
      rows.keyNames, keyPairs, ctx)
    off match {
      case Some(o) =>
        placeScalar(body.orderBy(rows.ordCols: _*).offset(o).limit(1).select(col(vn)).scalar(), ctx)
      case None =>
        val s = placeScalar(body.select(
          struct(first(col(vn)).as("v"), count(lit(1)).as("n"))).scalar(), ctx)
        when(s("n") > 1, raise_error(lit(tooManyRows))).otherwise(s("v"))
    }
  }

  /** Put a `Dataset.scalar()` column on the outer frame ONCE, under a
    * fresh hidden name, and return a reference to it. Every use of a
    * scalar-subquery Column is a subquery of its own — Catalyst plans
    * one join per use — so callers read fields of the placed column. */
  private def placeScalar(s: Column, ctx: Ctx): Column = {
    val n = fresh("scalar")
    val df = ctx.rel.df.select(col("*"), s.as(n))
    ctx.rel = Rel(df, ctx.rel.scopes :+ hiddenScope(df, Seq(n)))
    df(n)
  }

  /** Filter the inner side of a subquery by its local conjuncts (via
    * applyWhere, so nested IN/EXISTS inside them lower properly). The
    * correlation test treats nested subqueries as opaque, so a nested
    * subquery that itself references OUTER columns is misclassified as
    * local and fails to resolve here — wrap that failure with context
    * instead of surfacing a bare "cannot resolve column". */
  private def applyLocal(local: Seq[Expr], innerCtx: Ctx, what: String): Unit =
    try local.reduceOption(Binary("and", _, _)).foreach(applyWhere(_, innerCtx))
    catch {
      case e: GraftException => throw GraftException(
        s"${e.msg} (while binding the inner WHERE of a $what — a nested " +
          "subquery referencing outer-query columns is not supported; " +
          "rewrite it as a join)")
    }

  /** Orient correlated equality conjuncts as (inner expr, outer expr).
    * A conjunct lands here when it fails to resolve against the inner
    * relation alone — either genuine correlation, or a plain typo'd
    * column; the error text covers both readings. */
  private def orientCorrelated(correlated: Seq[Expr], innerRel: Rel, outerRel: Rel,
      what: String): Seq[(Expr, Expr)] =
    correlated.map {
      case Binary("=", a, b) =>
        if (resolvesWithin(a, innerRel) && resolvesWithin(b, outerRel)) (a, b)
        else if (resolvesWithin(b, innerRel) && resolvesWithin(a, outerRel)) (b, a)
        else err(s"$what: correlated conjunct must compare an inner column " +
          s"with an outer column (and every column must exist), got ${Binary("=", a, b)}")
      case other =>
        err(s"$what supports only equality correlation — this conjunct " +
          s"references a column outside the subquery (or one that does not " +
          s"exist): $other")
    }

  /** True when the correlated conjunct `c` is an equality with one side
    * fully inside the subquery and the other fully outside: a hash-join
    * key between the two relations. */
  private def isEqualityKey(c: Expr, innerRel: Rel, outerRel: Rel): Boolean =
    c match {
      case Binary("=", a, b) =>
        (resolvesWithin(a, innerRel) && resolvesWithin(b, outerRel)) ||
          (resolvesWithin(b, innerRel) && resolvesWithin(a, outerRel))
      case _ => false
    }

  /** True when every correlated conjunct is an equality key — the shape
    * the per-key grouped decorrelation handles. Anything else (range /
    * inequality correlation, mixed-side expressions) routes to the
    * per-outer-row theta path. */
  private def equalityOrientable(correlated: Seq[Expr], innerRel: Rel,
      outerRel: Rel): Boolean =
    correlated.forall(isEqualityKey(_, innerRel, outerRel))

  /** Re-project a subquery-side frame through fresh column names,
    * carrying the scopes across via rename maps — the self-join-safety
    * pattern shared by the theta per-row path and nested-subquery
    * flattening (without it, Spark's ambiguous-self-join analysis
    * rejects plans where both sides trace to the same cached table
    * frame). */
  private def freshRenamed(innerDf: DataFrame, innerScopes: Seq[Scope],
      what: String): (DataFrame, Seq[Scope]) = {
    val innerCols = innerDf.columns.toSeq
    val lower = innerCols.map(_.toLowerCase)
    if (lower.distinct.length != lower.length)
      err(s"$what: the subquery's FROM/JOIN relations have duplicate " +
        "column names — project distinct names first")
    val freshNames = innerCols.map(_ => fresh("tc"))
    val renamed = innerDf.toDF(freshNames: _*)
    val freshOf: Map[String, String] = lower.zip(freshNames).toMap
    val rScopes = innerScopes.map { s =>
      Scope(s.qualifier, renamed, s.cols,
        rename = s.cols.map { c =>
          val actual = s.rename.getOrElse(c.toLowerCase, c)
          c.toLowerCase -> freshOf(actual.toLowerCase)
        }.toMap, hidden = s.hidden)
    }
    (renamed, rScopes)
  }

  /** `df` tagged with a fresh per-row id column named from `prefix`,
    * persisted and registered with the engine's per-action cache drain.
    * The id feeds a per-row computation AND the join back by id, and
    * monotonically_increasing_id is not stable across recomputations
    * (post-shuffle row order is not), so both must read one
    * materialization. Returns the frame and the id column's name. */
  private def ridFrame(df: DataFrame, prefix: String): (DataFrame, String) = {
    val rid = fresh(prefix)
    val tagged = df.withColumn(rid, monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    persistedFrames += tagged
    (tagged, rid)
  }

  /** Join the per-rid frame `perRid` back onto the rid frame `outer` by
    * the id column `rid` and make the result `ctx.rel`. A `left` join
    * places the per-rid columns behind a hidden scope (an unmatched rid
    * reads NULL there) and returns the frame to read them from;
    * `left_semi` / `left_anti` keep the rows whose rid is present /
    * absent. */
  private def joinBack(ctx: Ctx, outer: DataFrame, rid: String, perRid: DataFrame,
      how: String = "left"): DataFrame = {
    val rid2 = s"${rid}_b"
    val p = perRid.withColumnRenamed(rid, rid2)
    val joined = outer.join(p, col(rid) === col(rid2), how).drop(rid, rid2)
    // the scope lists only columns the joined frame keeps: a later
    // freshRenamed of this frame maps every scope column to a fresh name
    ctx.rel = Rel(joined,
      if (how == "left") ctx.rel.scopes :+ hiddenScope(p, p.columns.toSeq.filterNot(_ == rid2))
      else ctx.rel.scopes)
    p
  }

  /** `body`, with Spark's failure to resolve an outer column turned into
    * the binder's error: in a JOIN ON condition the outer frame is the
    * LEFT relation only. */
  private def leftRelationOnly[T](what: String)(body: => T): T =
    try body
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        err(s"$what here may only reference columns of the current " +
          "(left) relation — move it to WHERE or rewrite the join")
    }

  /** Number of value-range bands for the theta-correlation pre-thin. */
  private val thetaBands = 64

  /** Outer-row-count threshold under which the theta lowerings skip the
    * band machinery entirely (VERDICT r8 #4): a literal-capped outer of
    * a few hundred rows bounds the direct-join candidate volume at
    * |outer|·|inner| ≤ threshold·|inner| — cheaper than paying the band
    * plan's quantile action plus the explode/suffix passes. */
  private val thetaSmallOuterRows = 1024L

  /** Per-bind memo of eager `count()` actions on persisted frames — the
    * band machinery needs the outer row count at up to three decision
    * points (small-outer skip, broadcast hint, banded-agg boundary
    * join); counting the same persisted frame once keeps those
    * decisions from stacking driver actions (VERDICT r8 #4: the
    * repeated counts were ~35 % of qe136/qe139). Keyed by reference —
    * DataFrame has identity equality — so only frames this binder
    * itself persisted ever hit the memo. */
  private val frameCounts = scala.collection.mutable.Map.empty[DataFrame, Long]
  private def cachedCount(df: DataFrame): Long =
    frameCounts.getOrElseUpdate(df, df.count())

  /** The single correlated conjunct as an inner-oriented monotone
    * inequality `(op, innerExpr, outerExpr)` — None when there are
    * several conjuncts, the operator is not a comparison, or the sides
    * do not split inner/outer. Shared by the band planner and the
    * prefix-closed DISTINCT [ON] / LIMIT fast paths. */
  private def orientMonotoneSingle(correlated: Seq[Expr], innerRel: Rel,
      ctx: Ctx): Option[(String, Expr, Expr)] =
    if (correlated.size != 1) None
    else {
      val mirror = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
      correlated.head match {
        case Binary(op0, a, b) if mirror.contains(op0) =>
          if (resolvesWithin(a, innerRel) && resolvesWithin(b, ctx.rel))
            Some((op0, a, b))
          else if (resolvesWithin(b, innerRel) && resolvesWithin(a, ctx.rel))
            Some((mirror(op0), b, a))
          else None
        case _ => None
      }
    }

  /** Lossless band-bucketed pre-thin for theta-correlation joins
    * (VERDICT r7 #3). When the correlated conjuncts contain a MONOTONE
    * inequality `e_inner cmp e_outer` (either orientation, both sides
    * numeric), the inner side is bucketed into at most [[thetaBands]]
    * EQUI-DEPTH ranges of e_inner and each outer row joins ONLY the
    * bands that can satisfy the inequality — an EQUI-join on the band
    * id with the full original correlation kept as the residual
    * predicate. Candidate volume drops from |outer|·|inner| (the
    * BroadcastNestedLoopJoin a bare theta join degrades to) to
    * |outer|·(matching fraction) plus one boundary band — the same
    * lossless pre-thin trick domainCap uses (SCALE.md).
    *
    * Band edges are percentiles of e_inner, not fixed-width slices of
    * [min,max] (VERDICT r8 #5): a clustered inner distribution — most
    * values inside 1 % of the range, routine for prices/timestamps at
    * scale — would collapse fixed-width bands into one hot band and the
    * boundary residual would lose its |inner|/bands bound. Equi-depth
    * edges keep every band near |inner|/bands rows regardless of the
    * value distribution (ties at a single hot VALUE are the only
    * residual skew — irreducible at band granularity). band(x) = number
    * of edges ≤ x, evaluated as a balanced comparison tree (depth
    * log₂ bands, plain when/otherwise — codegen-friendly, no
    * interpreted lambda on the hot path).
    *
    * Losslessness: double() is monotone and BOTH sides band through the
    * same edge-count function (monotone non-decreasing in x), so
    * `iv cmp ov` (exact) implies band(iv) lies inside the generated
    * band range; boundary-band false positives are removed by the
    * residual predicate. NULLs can never satisfy the inequality: an
    * inner NULL gets a NULL band (equi-join drops it), an outer NULL
    * gets an empty band array. Each matching (outer, inner) pair
    * survives EXACTLY once (an inner row has one band; the outer band
    * sequence is duplicate-free), so downstream count/sum
    * multiplicities are preserved.
    *
    * The stats are ONE driver-side action over the locally filtered
    * inner side collecting min, max, count and ≤ 63 approximate
    * percentiles — bounded, not data-sized (the kmeans-centroid
    * stance, SCALE.md). The percentile sketch runs over a 1/16 row
    * sample at accuracy 1000, both sized to the 63 edges it feeds: the
    * r9 full-scan accuracy-10000 sketch put an isolated-confirmed ~2×
    * constant on every banded-agg entry for precision the pre-thin
    * cannot use (VERDICT r9 #1 — the residual predicate keeps
    * exactness whatever the edges are). Returns None —
    * caller falls back to the direct theta join — when no conjunct has
    * the shape, a side is non-numeric, the inner side is empty, or the
    * distribution degenerates to a single value (one band ≡ the direct
    * join, minus the overhead). */
  /** A resolved band pre-thin: inner band id, the per-outer-row band
    * array (boundary + fully-matching bands) for the candidate join,
    * the per-outer-row BOUNDARY band alone (NULL when no band can
    * match), the oriented operator (`inner op outer`), and the actual
    * band count (≤ [[thetaBands]]; duplicate percentile edges merge) —
    * the last three drive the band-split grouped aggregation. */
  private case class BandPlan(innerBand: Column, outerBands: Column,
      outerBoundary: Column, op: String, bands: Int)

  /** Parallelize-only repartition WITHOUT the round-robin local sort:
    * a keyless `repartition(n)` first binary-sorts every input row so
    * retried tasks reproduce the same row-to-partition assignment
    * (`spark.sql.execution.sortBeforeRepartition`, SPARK-23207 — guide
    * §2.5), a per-row cost the theta inner side paid on every bound
    * query. Hashing the row CONTENT is deterministic under retry with
    * no sort; duplicate rows co-locating is the only skew exposure, and
    * a corpus whose theta inner is dominated by one exact duplicate row
    * explodes the join volume itself long before the partition skew
    * matters (round 16). */
  private def spreadRepartition(df: DataFrame, n: Int): DataFrame = {
    // MapType is not hashable by xxhash64 — skip such columns; if
    // nothing hashable remains (never with the current type surface),
    // keep the keyless round-robin as the safe fallback
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val hashable = df.schema.fields.filterNot(f => hasMap(f.dataType))
      .map(f => col(f.name))
    if (hashable.isEmpty) df.repartition(n)
    else df.repartition(n, xxhash64(hashable.toIndexedSeq: _*))
  }

  /** Per-bind memo of the band-plan stats action, keyed by (inner frame
    * reference, correlated conjuncts): the banded-agg attempt and the
    * thetaInnerJoin fallback inside ONE lowering probe the same inner
    * side, and without the memo the fallback path paid the stats scan
    * twice (round-10 find: qe136's tiny inner regressed 2× when the
    * grouped-IN paths started attempting the banded aggregation). */
  private val bandStatsMemo =
    scala.collection.mutable.Map.empty[(DataFrame, Seq[Expr]), Option[(BandPlan, Long)]]

  private def thetaBandStats(renamed: DataFrame, rScopes: Seq[Scope],
      correlated: Seq[Expr], ctx: Ctx): Option[(BandPlan, Long)] =
    bandStatsMemo.getOrElseUpdate((renamed, correlated),
      computeBandStats(renamed, rScopes, correlated, ctx))

  private def computeBandStats(renamed: DataFrame, rScopes: Seq[Scope],
      correlated: Seq[Expr], ctx: Ctx): Option[(BandPlan, Long)] = {
    val innerRel = Rel(renamed, rScopes)
    val mirror = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
    val oriented = correlated.iterator.flatMap {
      case Binary(op, a, b) if mirror.contains(op) =>
        if (resolvesWithin(a, innerRel) && resolvesWithin(b, ctx.rel))
          Iterator((op, a, b))
        else if (resolvesWithin(b, innerRel) && resolvesWithin(a, ctx.rel))
          Iterator((mirror(op), b, a))
        else Iterator.empty
      case _ => Iterator.empty
    }
    if (!oriented.hasNext) return None
    val (op, innerE, outerE) = oriented.next()
    val iv = bindExpr(innerE, new Ctx(innerRel, None, ctx.ctes))
    val ov = bindExpr(outerE, ctx)
    if (!numericCol(renamed, iv) || !numericCol(ctx.rel.df, ov)) return None
    val probes = (1 until thetaBands).map(_.toDouble / thetaBands)
    val ivd = iv.cast("double")
    // the sketch feeds ≤ 63 equi-depth edges that only STEER the
    // pre-thin (the residual predicate keeps exactness whatever the
    // edges are), so it runs over a 1/16 row sample inside the SAME
    // action as min/max/count: the quantile summary's per-row update —
    // not its accuracy knob — is what made the stats pass ~2× the
    // min/max scan (VERDICT r9 #1, measured this round), and sampling
    // removes 15/16 of those updates while a 63-edge split needs only
    // band-level balance. The sample is a deterministic VALUE hash
    // (Catalyst rejects nondeterministic rand() under an aggregate):
    // each distinct value is fully in or out, which keeps multiplicity
    // weights intact; a sampled-out hot value can only shift edges, and
    // single-value ties are already the documented irreducible band
    // skew. An all-but-empty sample (tiny inner) degrades to no edges →
    // the caller's fallback, the right plan for a tiny inner anyway.
    val sampled = when(pmod(xxhash64(lit(42), ivd), lit(16)) === 0, ivd)
    val row = renamed.agg(
      min(ivd).as("mn"), max(ivd).as("mx"), count(lit(1)).as("cnt"),
      percentile_approx(sampled,
        array(probes.map(lit(_)): _*), lit(1000)).as("qs")).head()
    if (row.isNullAt(0) || row.isNullAt(1)) return None
    val innerCnt = row.getLong(2)
    val (mn, mx) = (row.getDouble(0), row.getDouble(1))
    val qs = if (row.isNullAt(3)) Seq.empty[Double] else row.getSeq[Double](3)
    val edges = ThetaBanding.edges(qs, mn)
    if (edges.isEmpty) return None // single-valued inner: banding is a no-op
    val b = edges.length + 1
    def bandOf(c: Column): Column = ThetaBanding.bandOf(c, edges)
    val od = ov.cast("double")
    val pos = bandOf(od)
    // no band can match: for `>`/`>=` an outer value above the inner
    // max; for `<`/`<=` one below the inner min (boundary-equality
    // corners stay in range — the residual settles them exactly)
    val noMatch = op match {
      case ">" | ">=" => od.isNull || od > lit(mx)
      case _          => od.isNull || od < lit(mn)
    }
    val emptyBands = array().cast("array<bigint>")
    val outerBands = op match {
      case ">" | ">=" =>
        when(noMatch, emptyBands).otherwise(sequence(pos, lit((b - 1).toLong)))
      case _ => // "<" | "<="
        when(noMatch, emptyBands).otherwise(sequence(lit(0L), pos))
    }
    val outerBoundary = when(noMatch, lit(null).cast("long")).otherwise(pos)
    Some((BandPlan(bandOf(iv.cast("double")), outerBands, outerBoundary, op, b),
      innerCnt))
  }

  /** The inner theta-correlation join shared by the per-outer-row
    * lowerings (scalar top-1, grouped scalar / IN / EXISTS, LIMIT-IN):
    * binds the correlated conjuncts with inner-first-then-outer scoping
    * and inner-joins the rid-tagged outer frame to the fresh-renamed
    * inner side; an outer row without matches has no pair.
    *
    * Equality first: when any conjunct is an inner = outer equality
    * ([[isEqualityKey]]), the join is a plain hash join on that key with
    * the other conjuncts as its residual — no outer count, no band
    * stats, no repartition, so no Spark job at bind time. Banding beside
    * the hash key cost qe90, qe114 and qe163 1.6–4.1× at sf0.1.
    *
    * A correlation without an equality is band-bucket-pre-thinned via
    * [[thetaBandStats]] when a monotone inequality conjunct allows it
    * AND both sides are big enough for the pre-thin to pay (tiny outer /
    * tiny inner bound the direct-join volume by themselves — VERDICT r8
    * #4), otherwise it is the direct theta join over a hash-spread inner
    * side (a single-split parquet input would serialize the join
    * predicate and every downstream per-rid pass on one core). */
  private def thetaInnerJoin(outerDf: DataFrame, renamed: DataFrame,
      rScopes: Seq[Scope], correlated: Seq[Expr], ctx: Ctx,
      what: String): DataFrame = leftRelationOnly(what) {
    val innerRel = Rel(renamed, rScopes)
    val corrCtx = new Ctx(innerRel, Some(ctx.rel), ctx.ctes)
    val cond = correlated.map(bindExpr(_, corrCtx)).reduce(_ && _)
    if (correlated.exists(isEqualityKey(_, innerRel, ctx.rel)))
      return outerDf.join(renamed, cond, "inner")
    // a tiny (literal-capped) outer bounds the direct-join candidate
    // volume by itself — the band plan's quantile action plus the
    // explode pass would cost more than it saves (VERDICT r8 #4)
    val nOuter = cachedCount(outerDf)
    // a small inner side makes the pair-frame JOIN cheap by itself
    // (bounded BNLJ volume; at scale an inner this small is a
    // broadcast dim) — this join-mechanics caller opts out of the
    // band machinery below the small-inner gate (VERDICT r8 #4:
    // qe136's 1 000-row supplier inner paid band overhead for nothing)
    val plan = if (nOuter <= thetaSmallOuterRows) None
               else thetaBandStats(renamed, rScopes, correlated, ctx)
                 .collect { case (p, cnt) if cnt > 32768L => p }
    plan match {
      case Some(BandPlan(innerBand, outerBands, _, _, _)) =>
        val bi = fresh("tband")
        val bo = fresh("tbando")
        // the exploded outer frame is ≤ thetaBands× the rid frame;
        // counting it costs nothing extra (the rid frame is persisted
        // and materializes for the join anyway) and picks the join
        // strategy the way AQE would: small outer → BROADCAST HASH
        // join on the band id (each inner row residual-tests only the
        // outer rows whose band range covers it — no shuffle, full
        // scan parallelism, strictly less work than the BNLJ this
        // replaces); big outer → shuffle both sides by band id (the
        // only non-quadratic option once broadcasting is off the
        // table). The inner repartition keeps a single-split parquet
        // side parallel in the broadcast case.
        val nPart = renamed.sparkSession.sessionState.conf.numShufflePartitions
        val outerX = outerDf.withColumn(bo, explode(outerBands))
        val innerB = spreadRepartition(renamed, nPart).withColumn(bi, innerBand)
        val smallOuter = nOuter <= 32768
        val left = if (smallOuter) outerX.hint("broadcast") else outerX
        left.join(innerB, col(bo) === col(bi) && cond, "inner")
          .drop(bo, bi)
      case None =>
        outerDf.join(spreadRepartition(renamed,
          renamed.sparkSession.sessionState.conf.numShufflePartitions),
          cond, "inner")
    }
  }

  /** Band-split grouped aggregation for monotone theta correlations —
    * the scale path for `agg(…) … GROUP BY gk` bodies correlated
    * through one monotone inequality (VERDICT r7 #3). The generic
    * lowering materializes the candidate PAIR frame — |outer|·(matching
    * fraction) rows, 75–127M at sf0.1 for the qe146/qe147 family — and
    * the aggregation over it dominates the cost at any scale. For
    * decomposable aggregates (count/sum/min/max) the pair frame is
    * never built:
    *
    *   1. partial-aggregate the inner side ONCE per (band, gk):
    *      |inner| rows in, ≤ bands·|gk| rows out;
    *   2. explode those partials into a SUFFIX table: for each boundary
    *      position p, the merged partials of every band that FULLY
    *      satisfies the inequality for any outer value landing in band
    *      p (strictly-above bands for `>`, strictly-below for `<` —
    *      exact by double monotonicity, see [[thetaBandStats]]);
    *   3. equi-join outer rows to the suffix table on their boundary
    *      band — |outer|·|gk| rows, the size of the RESULT — and
    *      residual-join them to the boundary band's raw rows only —
    *      |outer|·|inner|/bands pairs instead of the full matching set;
    *   4. merge 2+3 per (rid, gk): counts and sums merge by sum,
    *      min/max by min/max.
    *
    * Equivalence with the generic lowering: unmatched rids are absent
    * from the output (inner-join semantics), inner rows with a NULL
    * band value can never satisfy the inequality and are filtered, and
    * each matching (outer, inner) pair lands in exactly one of the
    * full-band / boundary branches. Returns None — caller falls back
    * to the pair-frame lowering — when no band plan exists, an
    * aggregate is not decomposable, or a group key / aggregate
    * argument does not resolve within the inner relation. */
  private def thetaBandedGroupedAgg(outer: DataFrame, rid: String,
      renamed: DataFrame, rScopes: Seq[Scope], correlated: Seq[Expr],
      ctx: Ctx, groupPairs: Seq[(Expr, String)],
      aggPairs0: Seq[(FnCall, String)], bodyCtes: Map[String, DataFrame],
      what: String, passThru: Seq[String] = Nil): Option[DataFrame] = {
    // passThru: outer-frame columns functionally dependent on rid (the
    // IN lhs, stamped per outer row) carried through both branches and
    // the final merge — grouping by them alongside rid adds no groups.
    val innerRel = Rel(renamed, rScopes)
    // NO size-based skip here, unlike [[thetaInnerJoin]]: the banded
    // aggregation changes the ALGORITHM (the pair frame never
    // materializes — aggregate input is result-sized plus one boundary
    // band), so it dominates the pair-frame fallback at every outer and
    // inner size; qe146's 75-row outer was its 5× win, not a reason to
    // skip (VERDICT r8 #4 applies only to the join-mechanics path).
    //
    // The decomposition is only sound when the banded comparison IS the
    // ENTIRE correlation: fullPart credits whole bands by position
    // alone, so ANY additional conjunct (an equality, a second range)
    // would be honored in the boundary band but silently ignored in
    // the fully-matching bands — wrong aggregates, not just a slow
    // plan. (Found by the round-9 differential fuzzer on
    // `k > ok-2 AND k < ok+2` bodies; every shipped entry was
    // single-conjunct.) Multi-conjunct correlation falls back to the
    // pair-frame path, where [[thetaInnerJoin]] applies the FULL
    // condition as the join predicate.
    if (correlated.size != 1) return None
    if (!groupPairs.forall { case (e, _) => resolvesWithin(e, innerRel) })
      return None
    val aggPairs =
      if (aggPairs0.nonEmpty) aggPairs0
      else Seq((FnCall("count", Seq(IntLit(BigInt(1)))), fresh("tbc0")))
    def isStar(fc: FnCall) = fc.args.isEmpty ||
      fc.args.exists(_.isInstanceOf[Wildcard])
    def decomposable(fc: FnCall): Boolean = fc.name.toLowerCase match {
      case "count" => isStar(fc) ||
        (fc.args.size == 1 && resolvesWithin(fc.args.head, innerRel))
      case "sum" | "min" | "max" =>
        fc.args.size == 1 && resolvesWithin(fc.args.head, innerRel)
      case _ => false
    }
    // all shape checks precede the band plan: the band stats run a
    // driver-side action, wasted if a non-decomposable aggregate sends
    // the caller to the pair-frame fallback anyway (the memo still
    // de-duplicates it against the fallback's own probe)
    if (!aggPairs.forall { case (fc, _) => decomposable(fc) }) return None
    val (plan, innerCnt) = thetaBandStats(renamed, rScopes, correlated, ctx)
      .getOrElse(return None)
    // ONE action over the (persisted) outer frame collects its count —
    // seeded into the per-bind memo so the boundary-broadcast decision
    // and the fallback's thetaInnerJoin never re-count — together with
    // the avg matched-band count, which estimates the candidate pair
    // volume EXACTLY at band granularity:
    // vol ≈ |outer| · avg(bands matched) · innerCnt/bands.
    val oStats = outer.agg(count(lit(1)).as("c"),
      avg(size(plan.outerBands).cast("double")).as("ab")).head()
    val nOuter = oStats.getLong(0)
    frameCounts.getOrElseUpdate(outer, nOuter)
    // both sides tiny → the pair frame is trivially small and the
    // banded plan's extra stages are pure overhead (round-10: qe136's
    // 300-row outer × 1 000-row supplier inner regressed 2.2× through
    // the banded path). A BIG outer over a small inner still bands —
    // the pair frame is |outer|-linear, the banded input result-sized.
    if (innerCnt <= 32768L && nOuter <= 32768L) return None
    // a highly selective inequality (qe91: `o_custkey < c_custkey` with
    // a 49-key outer — ~22k pairs against a 150k inner) makes the
    // direct pair frame cheaper than the banded plan's fixed stages
    // (band-scan + suffix + boundary ≈ a few × innerCnt); fall back
    // when the estimated volume is within ~2 inner scans. Only applied
    // to bounded outers — an unbounded outer's pair frame grows
    // |outer|-linear and the banded plan must engage regardless.
    if (nOuter > 0L && nOuter <= 32768L) {
      val frac = if (oStats.isNullAt(1)) 0.0
                 else oStats.getDouble(1) / plan.bands
      if (nOuter.toDouble * frac * innerCnt <= 2.0 * innerCnt) return None
    }

    val iCtx = new Ctx(innerRel, None, bodyCtes)
    // (output name, partial aggregate over raw rows, merge of partials)
    val partials: Seq[(String, Column, Column => Column)] =
      aggPairs.map { case (fc, nm) =>
        fc.name.toLowerCase match {
          case "count" if isStar(fc) =>
            (nm, count(lit(1)), (c: Column) => sum(c))
          case "count" =>
            (nm, count(bindExpr(fc.args.head, iCtx)), (c: Column) => sum(c))
          case "sum" =>
            (nm, sum(bindExpr(fc.args.head, iCtx)), (c: Column) => sum(c))
          case "min" =>
            (nm, min(bindExpr(fc.args.head, iCtx)), (c: Column) => min(c))
          case _ =>
            (nm, max(bindExpr(fc.args.head, iCtx)), (c: Column) => max(c))
        }
      }
    val gkNames = groupPairs.map(_._2)
    val bandN = fresh("tbb")
    val innerG = groupPairs.foldLeft(
      renamed.filter(plan.innerBand.isNotNull).withColumn(bandN, plan.innerBand)) {
        case (df, (e, nm)) => df.withColumn(nm, bindExpr(e, iCtx))
      }
    val partialCols = partials.map { case (nm, p, _) => p.as(nm) }
    val mergeCols = partials.map { case (nm, _, m) => m(col(nm)).as(nm) }
    val bandAgg = innerG.groupBy((col(bandN) +: gkNames.map(col)): _*)
      .agg(partialCols.head, partialCols.tail: _*)
    // suffix table: band b's partials contribute to every boundary
    // position its rows FULLY match — p < b for `>`, p > b for `<`
    val pN = fresh("tbp")
    val emptyBands = array().cast("array<bigint>")
    val contrib = plan.op match {
      case ">" | ">=" =>
        when(col(bandN) === 0, emptyBands)
          .otherwise(sequence(lit(0L), col(bandN) - 1))
      case _ =>
        when(col(bandN) === (plan.bands - 1), emptyBands)
          .otherwise(sequence(col(bandN) + 1, lit((plan.bands - 1).toLong)))
    }
    val suffix = bandAgg.withColumn(pN, explode(contrib))
      .groupBy((col(pN) +: gkNames.map(col)): _*)
      .agg(mergeCols.head, mergeCols.tail: _*)
    val bN = fresh("tbon")
    val outerB = outer.withColumn(bN, plan.outerBoundary)
    val keyCols = (col(rid) +: passThru.map(col)) ++ gkNames.map(col)
    val outCols = keyCols ++ partials.map(p => col(p._1))
    val fullPart = outerB.join(suffix, col(bN) === col(pN), "inner")
      .select(outCols: _*)
    // boundary band: the only raw-row join left — band-equal pairs
    // with the exact predicate as residual
    val corrCtx = new Ctx(Rel(renamed, rScopes), Some(ctx.rel), ctx.ctes)
    val cond = correlated.map(bindExpr(_, corrCtx)).reduce(_ && _)
    val smallOuter = cachedCount(outer) <= 32768
    val bLeft = if (smallOuter) outerB.hint("broadcast") else outerB
    val boundaryPart = leftRelationOnly(what) {
      bLeft.join(innerG, col(bN) === col(bandN) && cond, "inner")
        .groupBy(keyCols: _*)
        .agg(partialCols.head, partialCols.tail: _*)
        .select(outCols: _*)
    }
    Some(fullPart.unionByName(boundaryPart)
      .groupBy(keyCols: _*)
      .agg(mergeCols.head, mergeCols.tail: _*))
  }

  /** The grouped step of the per-outer-row theta lowerings: for each
    * row of the rid frame `outer`, the body's groups of (rid ∪
    * `passThru` ∪ GROUP BY keys) over that row's matching inner rows,
    * HAVING applied. The aggregates of HAVING and of `aggSources` run
    * banded ([[thetaBandedGroupedAgg]]) when they decompose over a
    * single monotone conjunct, else over the [[thetaInnerJoin]] pair
    * frame. `passThru` names outer-frame columns constant per rid (the
    * IN lhs). Groups never span rids, and an outer row without matches
    * has no group. Returns the surviving groups and the context that
    * binds post-aggregation expressions over them. */
  private def thetaGroups(qb: QueryBody, innerCtx: Ctx, outer: DataFrame,
      rid: String, correlated: Seq[Expr], ctx: Ctx, aggSources: Seq[Expr],
      what: String, passThru: Seq[String] = Nil): (DataFrame, Ctx) = {
    val havingExpr = qb.having.map(substituteAliases(_, qb.selectList))
    val (renamed, rScopes) = freshRenamed(innerCtx.rel.df, innerCtx.rel.scopes, what)
    val groupPairs = qb.groupBy.map(substituteAliases(_, qb.selectList))
      .map(e => (e, fresh("tgk")))
    val aggPairs = (aggSources ++ havingExpr).flatMap(collectAggs).distinct
      .map(fc => (fc, fresh("tga")))
    val grouped = thetaBandedGroupedAgg(outer, rid, renamed, rScopes, correlated,
        ctx, groupPairs, aggPairs, innerCtx.ctes, what, passThru)
      .getOrElse {
        val joined = thetaInnerJoin(outer, renamed, rScopes, correlated, ctx, what)
        val jCtx = new Ctx(Rel(joined, rScopes), None, innerCtx.ctes)
        val aggCols = aggPairs.map { case (fc, nm) => bindAggCall(fc, jCtx).as(nm) } match {
          case Nil => Seq(count(lit(1)).as(fresh("tgc0")))
          case cs => cs
        }
        val groupCols = (rid +: passThru).map(col) ++
          groupPairs.map { case (e, nm) => bindExpr(e, jCtx).as(nm) }
        joined.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
      }
    val gCtx = new Ctx(
      Rel(grouped, Seq(Scope(None, grouped, grouped.columns.toSeq))),
      None, innerCtx.ctes,
      subst = aggPairs.map { case (fc, nm) => (fc: Expr) -> grouped(nm) }.toMap ++
        groupPairs.map { case (e, nm) => e -> grouped(nm) }.toMap)
    (havingExpr.map(h => grouped.filter(bindExpr(h, gCtx))).getOrElse(grouped), gCtx)
  }

  /** The presence-marker pair frame: the rid frame `outer` LEFT-joined
    * to the renamed inner frame on the raw correlation, the inner side
    * carrying a `true` marker; an outer row without matches keeps one
    * placeholder row whose marker is NULL. Returns the frame and the
    * marker column's name. The ungrouped-aggregate and plain unsliced
    * IN theta bodies take this join instead of [[thetaInnerJoin]]. For a
    * pure-theta correlation that builder's direct join hash-spreads the
    * whole inner frame, which keeps every inner column in the scan and
    * adds a shuffle: qe91 ran 1.37× slower on it at sf0.1. */
  private def markedPairs(outer: DataFrame, renamed: DataFrame, rScopes: Seq[Scope],
      correlated: Seq[Expr], ctx: Ctx, what: String): (DataFrame, String) = {
    val mk = fresh("tmk")
    val marked = renamed.withColumn(mk, lit(true))
    val corrCtx = new Ctx(Rel(marked, rScopes), Some(ctx.rel), ctx.ctes)
    val joined = leftRelationOnly(what) {
      outer.join(marked, correlated.map(bindExpr(_, corrCtx)).reduce(_ && _), "left_outer")
    }
    (joined, mk)
  }

  /** Ungrouped-aggregate subquery body through the theta path: returns
    * (value column, optional HAVING column) evaluated once per outer
    * row over per-rid aggregates joined back by rid. An outer row
    * without matches reads SQL's empty-set aggregates — the count family
    * 0, every other aggregate NULL (the rule [[correlatedAgg]] follows
    * on the equality path). A bare lookup body (no aggregate) carries
    * (first matched value, match count) per rid instead: several
    * matches raise at execution, none yields NULL. */
  private def thetaUngroupedAgg(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx, what: String): (Column, Option[Column]) = {
    if (qb.limit.isDefined || qb.distinct.isDefined || qb.groupBy.nonEmpty)
      err(s"$what supports ungrouped aggregate bodies only " +
        "(no GROUP BY/LIMIT/DISTINCT)")
    if (qb.selectList.size != 1) err(s"$what must produce 1 column")
    val valueExpr = qb.selectList.head.expr
    val havingExpr = qb.having.map(substituteAliases(_, qb.selectList))
    val aggPairs = (collectAggs(valueExpr) ++ havingExpr.toSeq.flatMap(collectAggs))
      .distinct.map(fc => (fc, fresh("tagg")))
    if (aggPairs.isEmpty && havingExpr.isDefined)
      err(s"$what with HAVING needs an aggregate body")
    val (outer, rid) = ridFrame(ctx.rel.df, "turid")
    val (renamed, rScopes) = freshRenamed(innerCtx.rel.df, innerCtx.rel.scopes, what)
    val vName = fresh("tbval")
    val cName = fresh("tbcnt")
    // decomposable aggregates over a monotone single-conjunct
    // correlation ride the banded aggregation with ZERO group keys
    // (round 10): per-rid partials are result-sized plus one boundary
    // band, where the pair frame holds the full rid×inner candidate
    // set (qe153's 122×~300k)
    val perRid = (if (aggPairs.isEmpty) None
      else thetaBandedGroupedAgg(outer, rid, renamed, rScopes, correlated, ctx,
        Nil, aggPairs, innerCtx.ctes, what)).getOrElse {
      // otherwise each per-rid output of the presence-marker pair frame
      // reads NULL when the marker matched nothing
      val (joined, mk) = markedPairs(outer, renamed, rScopes, correlated, ctx, what)
      val jCtx = new Ctx(Rel(joined, rScopes), None, innerCtx.ctes)
      val outs =
        if (aggPairs.isEmpty)
          Seq(vName -> first(bindExpr(valueExpr, jCtx)), cName -> count(lit(1)))
        else aggPairs.map { case (fc, n) => n -> bindAggCall(fc, jCtx) }
      val cols = outs.map { case (n, c) => when(count(col(mk)) > 0, c).as(n) }
      joined.groupBy(col(rid)).agg(cols.head, cols.tail: _*)
    }
    val p = joinBack(ctx, outer, rid, perRid)
    if (aggPairs.isEmpty)
      return (when(coalesce(p(cName), lit(0L)) <= 1, p(vName))
        .otherwise(raise_error(lit(tooManyRows))), None)
    val vCtx = new Ctx(ctx.rel, None, ctx.ctes, subst = aggPairs.map { case (fc, n) =>
      (fc: Expr) -> (if (isCountFamily(fc.name)) coalesce(p(n), lit(0L)) else p(n))
    }.toMap)
    (bindExpr(valueExpr, vCtx), havingExpr.map(bindExpr(_, vCtx)))
  }

  /** LIMIT / plain DISTINCT over a body that already yields AT MOST ONE
    * row (an ungrouped aggregate, with or without HAVING) are no-ops —
    * engines accept the compositions freely, so strip them instead of
    * routing to plain-body paths that would reject the aggregate. LIMIT
    * applies only for `n>=1 OFFSET 0`; LIMIT 0 / OFFSET>=1 (which EMPTY
    * the one-row set) keep the limit and surface the path's own clean
    * error, and DISTINCT ON keeps its own errors too. */
  private def stripNoopLimit(qb0: QueryBody): QueryBody = {
    def oneRowAggBody(b: QueryBody): Boolean =
      b.groupBy.isEmpty && b.selectList.size == 1 &&
        !b.selectList.head.expr.isInstanceOf[Wildcard] &&
        (collectAggs(b.selectList.head.expr).nonEmpty || b.having.isDefined)
    val qb =
      if (qb0.distinct.contains(Nil) && oneRowAggBody(qb0))
        qb0.copy(distinct = None)
      else qb0
    qb.limit match {
      case Some(lc) if oneRowAggBody(qb) &&
          lc.offset.forall(o => Try(evalLimitInt(o, "OFFSET")).toOption.contains(0)) &&
          Try(evalLimitInt(lc.limit, "LIMIT")).toOption.exists(_ >= 1) =>
        qb.copy(limit = None)
      case _ => qb
    }
  }

  /** Correlated scalar subquery with non-equality correlation: theta
    * decorrelation per outer row. An ungrouped aggregate yields exactly
    * one row per outer row, so no >1-row raise can occur; a HAVING that
    * fails (or is UNKNOWN) removes the row → NULL. */
  private def decorrelateScalarTheta(qb: QueryBody, innerRel: Rel,
      local: Seq[Expr], correlated: Seq[Expr], ctx: Ctx,
      bodyCtes: Map[String, DataFrame]): Column = {
    val what = "correlated scalar subquery (non-equality correlation)"
    val qbN = stripNoopLimit(qb)
    val innerCtx = new Ctx(innerRel, None, bodyCtes)
    applyLocal(local, innerCtx, what)
    if (qbN.groupBy.nonEmpty)
      // handles its own ORDER BY … LIMIT 1 group-ranking form
      return thetaGroupedAgg(qbN, innerCtx, correlated, ctx, what)
    if (qbN.limit.isDefined)
      return thetaScalarTop1(qbN, innerCtx, correlated, ctx)
    val (value, having) = thetaUngroupedAgg(qbN, innerCtx, correlated, ctx, what)
    having match {
      case Some(h) => when(coalesce(h, lit(false)), value).otherwise(lit(null))
      case None => value
    }
  }

  /** The value `vN` of the (off+1)-th row per rid of `rows` in `ordCols`
    * order, joined back onto the rid frame `outer`: NULL for an outer
    * row with fewer rows. */
  private def nthPerRid(ctx: Ctx, outer: DataFrame, rid: String, rows: DataFrame,
      ordCols: Seq[Column], off: Int, vN: String): Column =
    joinBack(ctx, outer, rid,
      slicePerKey(rows, Seq(col(rid)), ordCols, 1, off, ties = false)
        .select(col(rid), col(vN)))(vN)

  /** ORDER BY … LIMIT 1 [OFFSET k] body under THETA (non-equality)
    * correlation: the per-outer-row (k+1)-th matching row in sort
    * order — inner correlation join on a rid frame, a row_number window
    * PARTITIONED BY rid ([[nthPerRid]]). Fewer matching rows than the
    * offset — or none at all — yield NULL through the left join-back;
    * LIMIT 1 guarantees at most one row, so no >1-row raise is needed. */
  private def thetaScalarTop1(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx): Column = {
    val what = "correlated scalar subquery (theta path, LIMIT)"
    val lc = qb.limit.get
    val off = lc.offset.map(evalLimitInt(_, "OFFSET")).getOrElse(0)
    if (evalLimitInt(lc.limit, "LIMIT") != 1)
      err(s"$what supports only LIMIT 1 (a scalar needs exactly one row)")
    if (lc.withTies)
      err(s"$what: LIMIT … WITH TIES is not scalar (ties can yield " +
        "several rows)")
    if (qb.groupBy.nonEmpty || qb.having.isDefined ||
        collectAggs(qb.selectList.head.expr).nonEmpty)
      err(s"$what takes a plain body (no GROUP BY/HAVING/aggregates)")
    if (qb.orderBy.isEmpty)
      err(s"$what needs an ORDER BY (LIMIT 1 without one picks an " +
        "arbitrary row)")
    if (qb.selectList.size != 1) err("scalar subquery must produce 1 column")
    val valueExpr = qb.selectList.head.expr
    // DISTINCT ON (k) v … ORDER BY … LIMIT 1 [OFFSET o]: per outer row,
    // keep-first per ON-key tuple in the body's ORDER BY, then the rank
    // picks the (o+1)-th SURVIVOR — the equality path's qe144 shape
    // (correlatedScalar) lifted onto the rid frame (VERDICT r8 #5).
    // Reference grammar composes DISTINCT ON with scalar position
    // freely: /root/reference/src/parser/mod.rs:349-360,1229-1245.
    val onKeys = qb.distinct.toSeq.flatten
    // SELECT DISTINCT … ORDER BY … LIMIT 1: dedup per rid before the
    // rank — mirrors the equality path (qe141); standard SQL restricts
    // the sort keys of a DISTINCT body to the selected value.
    // Reference: /root/reference/src/parser/mod.rs:1229-1245,293-297.
    val isDistinct = qb.distinct.contains(Nil)
    if (isDistinct)
      qb.orderBy.foreach { ok =>
        if (substituteAliases(ok.expr, qb.selectList) != valueExpr)
          err(s"$what with DISTINCT: ORDER BY expressions must appear " +
            "in the select list")
      }
    // Two KEPT-TABLE fast paths under a single monotone theta conjunct
    // `ce OP outer_expr`: per outer row the value is the (off+1)-th
    // kept row, in the body's order, whose correlation column passes
    // `OP outer_expr` — a broadcast join against the kept table while it
    // stays small (a large one keeps the generic pair-frame plan).
    //  - DISTINCT body: the DISTINCT value IS the group key (ORDER BY is
    //    already restricted to the value), so a value is a member iff
    //    its group's BEST ce passes — one global groupBy(value).agg(
    //    max/min ce), no ordering constraint on ce (qe150: 2.8 s →
    //    ~1.2 s).
    //  - PREFIX-CLOSED DISTINCT ON (round 10): with `ce` the first ORDER
    //    BY key after the ON keys, aligned with OP (DESC for >/>=, ASC
    //    for </<=), the filter keeps a PREFIX of every ON-group's sort
    //    order — so each group's kept row over the FILTERED rows IS its
    //    kept row over ALL (non-NULL-ce) rows, surviving iff that row's
    //    own ce passes. The kept rows are computed ONCE (salted
    //    two-phase keep-first — a plain window would make one task per
    //    ON group), and the pair frame shrinks from outer × matching
    //    rows to outer × distinct-ON-groups (qe164: 5.6 s → ~1.3 s at
    //    sf0.1). NULL-ce rows are excluded up front: the filtered set
    //    never contains them, while Spark's NULLS-FIRST asc would
    //    otherwise let one be "kept" and veto its whole group through
    //    the NULL comparison.
    def viaKept(kept0: DataFrame, ridPrefix: String, pass: Column,
        ordCols: Seq[Column], vN: String): Option[Column] = {
      val kept = kept0.persist(StorageLevel.MEMORY_AND_DISK)
      persistedFrames += kept
      if (cachedCount(kept) > 32768) None
      else {
        val (outer, rid) = ridFrame(ctx.rel.df, ridPrefix)
        Some(nthPerRid(ctx, outer, rid, outer.join(broadcast(kept), pass, "inner"),
          ordCols, off, vN))
      }
    }
    val fast = orientMonotoneSingle(correlated, innerCtx.rel, ctx) match {
      case Some((op, ce, oe)) if isDistinct =>
        val vN = fresh("pdv")
        val bestN = fresh("pdbest")
        val base = innerCtx.rel.df.select(
          bindExpr(valueExpr, innerCtx).as(vN),
          bindExpr(ce, innerCtx).as(bestN))
        val bestAgg =
          if (op == ">" || op == ">=") max(col(bestN)) else min(col(bestN))
        viaKept(base.groupBy(col(vN)).agg(bestAgg.as(bestN)), "pdrid",
          cmpOp(op, col(bestN), bindExpr(oe, ctx)),
          qb.orderBy.map(ok => orderKey(col(vN), ok.desc)), vN)
      case Some((op, ce, oe)) if onKeys.nonEmpty =>
        val idx = qb.orderBy.indexWhere(_.expr == ce)
        if (idx < 0 || ((op == ">" || op == ">=") != qb.orderBy(idx).desc) ||
            !qb.orderBy.take(idx).forall(ok => onKeys.contains(ok.expr))) None
        else {
          val onNamesF = onKeys.indices.map(_ => fresh("pcon"))
          val ordNamesF = qb.orderBy.indices.map(_ => fresh("pcord"))
          val vN = fresh("pcv")
          val ceB = bindExpr(ce, innerCtx)
          val base = innerCtx.rel.df.filter(ceB.isNotNull).select(
            (onKeys.zip(onNamesF).map { case (oe2, on) =>
              bindExpr(oe2, innerCtx).as(on) } ++
              qb.orderBy.zip(ordNamesF).map { case (ok, on) =>
                bindExpr(ok.expr, innerCtx).as(on) } :+
              bindExpr(valueExpr, innerCtx).as(vN)): _*)
          val ordColsF = qb.orderBy.zip(ordNamesF).map { case (ok, on) =>
            orderKey(col(on), ok.desc) }
          val saltN = fresh("pcsalt")
          val phase1 = slicePerKey(base.withColumn(saltN,
              pmod(xxhash64((ordNamesF :+ vN).map(col): _*), lit(64))),
            (onNamesF :+ saltN).map(col), ordColsF, 1, 0, ties = false).drop(saltN)
          viaKept(slicePerKey(phase1, onNamesF.map(col), ordColsF, 1, 0, ties = false),
            "pcrid", cmpOp(op, col(ordNamesF(idx)), bindExpr(oe, ctx)), ordColsF, vN)
        }
      case _ => None
    }
    fast match {
      case Some(c) => return c
      case None => ()
    }
    val (outer, rid) = ridFrame(ctx.rel.df, "tsrid")
    val (renamed, rScopes) = freshRenamed(innerCtx.rel.df, innerCtx.rel.scopes, what)
    val joined = thetaInnerJoin(outer, renamed, rScopes, correlated, ctx, what)
    val jCtx = new Ctx(Rel(joined, rScopes), None, innerCtx.ctes)
    val vName = fresh("tsv")
    val ordNames = qb.orderBy.indices.map(_ => fresh("tsord"))
    val onNames = onKeys.indices.map(_ => fresh("tson"))
    val base0 = joined.select(
      (Seq(col(rid)) ++
        onKeys.zip(onNames).map { case (oe, on) =>
          bindExpr(oe, jCtx).as(on) } ++
        qb.orderBy.zip(ordNames).map { case (ok, on) =>
          bindExpr(ok.expr, jCtx).as(on) } :+
        bindExpr(valueExpr, jCtx).as(vName)): _*)
    val ordCols = qb.orderBy.zip(ordNames).map { case (ok, on) =>
      orderKey(col(on), ok.desc) }
    // DISTINCT dedups the per-rid value set before the rank (the sort
    // keys equal the value, so (rid, ords, value) dedup is exact);
    // DISTINCT ON keeps the FIRST row per (rid, ON-key) in the body's
    // ORDER BY — window buckets are per-outer-row match groups, never
    // global
    val base =
      if (isDistinct) base0.distinct()
      else if (onKeys.nonEmpty)
        slicePerKey(base0, (rid +: onNames).map(col), ordCols, 1, 0, ties = false)
      else base0
    nthPerRid(ctx, outer, rid, base, ordCols, off, vName)
  }

  /** SCALAR staircase for the theta-correlated GROUP BY top-1 shape
    * (round 11, VERDICT r10 #1 — qe146's plan):
    *
    *   SELECT v(g) FROM inner WHERE ce OP t(outer)
    *   GROUP BY g ORDER BY count(1|*) DESC, tb(g) [ASC|DESC] LIMIT 1
    *
    * Let e_g(n) be the n-th OP-directional extreme of ce within group g
    * (n-th largest for >/>=, n-th smallest for </<=). Then count_g(t) =
    * #{ce OP t} = max n with `e_g(n) OP t`, so the winning group at
    * threshold t is: among groups whose level-n* entry passes — n* the
    * highest level with ANY passing entry — the tb-best. Within one
    * level, sorted by ce in the worsening direction, the passing set is
    * a PREFIX of the sort for every t, so its tb-best is always a
    * RECORD row (one whose tb beats every better-ce row of its level) —
    * the qe139 membership staircase generalized from "kept row per ON
    * group" to "winning group per count level". The first row of each
    * level is always a record and carries the level's best ce, so the
    * max passing level is computable from records alone.
    *
    * The record table is expected O(max_count × log #groups) — two
    * well-partitioned windows (by group key, then by level) replace the
    * banded plan's fixed stats/probe/scan floor (~2 s, VERDICT r10 #2) —
    * and the probe is one broadcast range join plus a per-rid
    * max_by((level, idx)): no pair frame, no per-rid windows. The
    * BroadcastNestedLoopJoin this plans is over the GATED record table
    * (≤ 2^20 rows, expected thousands), so probe work is
    * |outer| × |records| with the second factor result-shaped, not
    * corpus-shaped. A bare `count(1) >= K` HAVING folds in as a level
    * floor. Returns None — the banded/generic plan — when the shape or
    * types don't match, a qualifying row's tie-break value is NULL
    * (Spark's NULLS-FIRST window sort and the null-skipping running
    * extreme would disagree with the generic path's rank), or the
    * record table outgrows the gate. Reference free-composition:
    * /root/reference/src/parser/mod.rs:349-360,1229-1245. */
  private def thetaScalarGroupTop1Staircase(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx): Option[Column] = {
    if (qb.orderBy.size != 2) return None
    val ordExprs = qb.orderBy.map(ok => substituteAliases(ok.expr, qb.selectList))
    def bareCount(e: Expr): Boolean = e match {
      case FnCall(n, args) if n.equalsIgnoreCase("count") =>
        args.isEmpty || (args.sizeIs == 1 && (args.head match {
          case Wildcard(_) | IntLit(_) => true
          case _ => false
        }))
      case _ => false
    }
    if (!bareCount(ordExprs.head) || !qb.orderBy.head.desc) return None
    val tbExpr = ordExprs(1)
    if (collectAggs(tbExpr).nonEmpty) return None
    val tbDesc = qb.orderBy(1).desc
    val minLvl = bareCountHaving(qb).map(math.max(_, 1)).getOrElse(return None)
    val valueExpr = substituteAliases(qb.selectList.head.expr, qb.selectList)
    val valueIsCount = bareCount(valueExpr)
    if (!valueIsCount && collectAggs(valueExpr).nonEmpty) return None
    val (op, ce, oe) = orientMonotoneSingle(correlated, innerCtx.rel, ctx)
      .getOrElse(return None)
    val ceB = bindExpr(ce, innerCtx)
    val ovB = bindExpr(oe, ctx)
    if (!numericCol(innerCtx.rel.df, ceB) || !numericCol(ctx.rel.df, ovB))
      return None
    val groupExprs = qb.groupBy.map(substituteAliases(_, qb.selectList))
    val gNames = groupExprs.indices.map(_ => fresh("ssg"))
    val ceN = fresh("ssce")
    // NULL-ce rows never satisfy the correlation for any threshold
    val base = innerCtx.rel.df.filter(ceB.isNotNull).select(
      (groupExprs.zip(gNames).map { case (e, n) =>
        bindExpr(e, innerCtx).as(n) } :+ ceB.as(ceN)): _*)
    // tb and v must be pure functions of the group keys — bound against
    // the projected frame through the subst map; anything else → generic
    val bCtx = new Ctx(
      Rel(base, Seq(Scope(None, base, base.columns.toSeq))), None,
      innerCtx.ctes,
      subst = groupExprs.zip(gNames).map { case (e, n) => e -> base(n) }.toMap)
    val tbN = fresh("sstb")
    val vN = fresh("ssv")
    val lvlN = fresh("sslvl")
    val idxN = fresh("ssidx")
    val preN = fresh("sspre")
    val (tbB, vB) = try {
      (bindExpr(tbExpr, bCtx),
        if (valueIsCount) lit(null) else bindExpr(valueExpr, bCtx))
    } catch { case _: GraftException => return None }
    val maxima = op == ">" || op == ">="
    val ceOrd = if (maxima) col(ceN).desc else col(ceN).asc
    val levels = base
      .withColumn(lvlN, row_number().over(
        Window.partitionBy(gNames.map(col): _*).orderBy(ceOrd)))
      .filter(col(lvlN) >= minLvl)
      .select(col(lvlN), col(ceN), tbB.as(tbN), vB.as(vN))
    val tbOrd = orderKey(col(tbN), tbDesc)
    val wL = Window.partitionBy(col(lvlN)).orderBy(ceOrd, tbOrd)
    val prevBest = (if (tbDesc) max(col(tbN)) else min(col(tbN)))
      .over(wL.rowsBetween(Window.unboundedPreceding, -1))
    val beats = if (tbDesc) col(tbN) > col(preN) else col(tbN) < col(preN)
    // NULL-tb rows are kept as pseudo-records so ONE action sees them;
    // the running extreme ignores them, so the non-null staircase stays
    // exact and the bail below routes any NULL-tb data to the generic
    // plan before the probe
    val records = levels.withColumn(preN, prevBest)
      .filter(col(tbN).isNull || col(preN).isNull || beats)
      .withColumn(idxN, row_number().over(
        Window.partitionBy(col(lvlN)).orderBy(ceOrd, tbOrd)))
      .select(col(lvlN), col(ceN), col(idxN), col(tbN), col(vN))
      .persist(StorageLevel.MEMORY_AND_DISK)
    persistedFrames += records
    // ONE bounded action: record volume (broadcast gate) and NULL
    // tie-break presence
    val stats = records.agg(count(lit(1)).as("n"),
      count(when(col(tbN).isNull, 1)).as("ntb")).head()
    if (stats.getLong(1) > 0 || stats.getLong(0) > (1 << 20)) return None
    val (outer, rid) = ridFrame(ctx.rel.df, "ssrid")
    val valName = fresh("ssval")
    val vOut = if (valueIsCount) col(lvlN).cast("long") else col(vN)
    val passing = outer.join(broadcast(records),
      cmpOp(op, col(ceN), ovB), "inner")
    Some(joinBack(ctx, outer, rid, passing.groupBy(col(rid))
      .agg(max_by(vOut, struct(col(lvlN), col(idxN))).as(valName)))(valName))
  }

  /** GROUP BY body under THETA (non-equality) correlation: the per-rid
    * grouped step ([[thetaGroups]]), and the per-rid surviving-group
    * count enforces the scalar contract the way [[correlatedScalar]]'s
    * grouped path does: 0 groups → NULL (unmatched rids never join
    * back), >1 → runtime raise deferred to the output expression. */
  private def thetaGroupedAgg(qb: QueryBody, innerCtx: Ctx,
      correlated: Seq[Expr], ctx: Ctx, what: String): Column = {
    // DISTINCT ON over the grouped body: keep-first per (rid ∪ ON
    // keys) among the surviving groups before the rank (round 9, the
    // correlatedScalar shape under theta); requires the top-1 form —
    // without LIMIT the scalar contract over ON-deduped groups is the
    // plain per-rid count guard below, which plain DISTINCT already
    // gets (a GROUP BY body dedupes per group)
    val onKeys = qb.distinct.toSeq.flatten
      .map(substituteAliases(_, qb.selectList))
    if (qb.distinct.contains(Nil))
      err(s"$what with GROUP BY takes an aggregate body with optional " +
        "HAVING (no plain DISTINCT — groups are already distinct)")
    if (onKeys.nonEmpty && qb.limit.isEmpty)
      err(s"$what: DISTINCT ON over a GROUP BY body needs ORDER BY … " +
        "LIMIT 1 (the kept group per ON key is arbitrary without one)")
    // GROUP BY … ORDER BY … LIMIT 1 [OFFSET k]: rank the surviving
    // groups per rid (the theta analog of correlatedScalar's) instead of
    // enforcing the one-group scalar contract
    val top1Off: Option[Int] = qb.limit.map { lc =>
      if (evalLimitInt(lc.limit, "LIMIT") != 1)
        err(s"$what supports only LIMIT 1 (a scalar needs exactly one row)")
      if (lc.withTies)
        err(s"$what: LIMIT … WITH TIES is not scalar (ties can yield " +
          "several rows)")
      if (qb.orderBy.isEmpty)
        err(s"$what with LIMIT needs an ORDER BY (LIMIT 1 without one " +
          "picks an arbitrary group)")
      lc.offset.map(evalLimitInt(_, "OFFSET")).getOrElse(0)
    }
    if (qb.selectList.size != 1) err(s"$what must produce 1 column")
    val valueExpr = qb.selectList.head.expr
    // ORDER BY terms may be aggregates (ranking groups by their
    // aggregate) — fold them into the grouped aggregate set below
    val ordExprs = qb.orderBy.map(ok => substituteAliases(ok.expr, qb.selectList))
    // scalar staircase (round 11): ORDER BY count(1) DESC, tb LIMIT 1
    // bodies skip the band machinery entirely — see the Scaladoc above
    if (top1Off.contains(0) && onKeys.isEmpty && qb.groupBy.nonEmpty)
      thetaScalarGroupTop1Staircase(qb, innerCtx, correlated, ctx) match {
        case Some(c) => return c
        case None => ()
      }
    val (outer, rid) = ridFrame(ctx.rel.df, "tgrid")
    val (groups, gCtx) = thetaGroups(qb, innerCtx, outer, rid, correlated, ctx,
      (valueExpr +: onKeys) ++ (if (top1Off.isDefined) ordExprs else Nil), what)
    val valName = fresh("tgval")
    top1Off match {
      case Some(off) =>
        // per-rid group ranking: window buckets are rid-sized group
        // sets, never a global sort; fewer than off+1 surviving groups
        // → NULL through the left join-back
        val ordNames = ordExprs.indices.map(_ => fresh("tgord"))
        val onNames = onKeys.indices.map(_ => fresh("tgon"))
        val base0 = groups.select(
          (Seq(col(rid), bindExpr(valueExpr, gCtx).as(valName)) ++
            onKeys.zip(onNames).map { case (oe, on) =>
              bindExpr(oe, gCtx).as(on) } ++
            ordExprs.zip(ordNames).map { case (oe, on) =>
              bindExpr(oe, gCtx).as(on) }): _*)
        val ordCols = qb.orderBy.zip(ordNames).map { case (ok, on) =>
          orderKey(col(on), ok.desc) }
        val base =
          if (onKeys.isEmpty) base0
          else slicePerKey(base0, (rid +: onNames).map(col), ordCols, 1, 0, ties = false)
        nthPerRid(ctx, outer, rid, base, ordCols, off, valName)
      case None =>
        val gcName = fresh("tggc")
        val p = joinBack(ctx, outer, rid, groups
          .select(col(rid), bindExpr(valueExpr, gCtx).as(valName))
          .groupBy(col(rid))
          .agg(min(col(valName)).as(valName), count(lit(1)).as(gcName)))
        when(coalesce(p(gcName), lit(0L)) <= 1, p(valName))
          .otherwise(raise_error(lit(tooManyRows)))
    }
  }

  /** `lhs IN (body)` under THETA (non-equality) correlation, three-valued
    * in any position. The membership set of each outer row is built on a
    * rid frame, in this order:
    *  1. fast paths that return the membership column themselves: the
    *     value-threshold table of a grouped body
    *     ([[thetaGroupedInThreshold]]) and the record staircase of a
    *     plain DISTINCT ON body ([[staircaseDistinctOnIn]]);
    *  2. the body rows: the global top-K of a prefix-closed plain LIMIT
    *     body joined to the outer rows, else the grouped step
    *     ([[thetaGroups]], the lhs riding as `passThru`; ON keys, ORDER
    *     BY and the value bind post-aggregation), else the projected
    *     [[thetaInnerJoin]] pair frame of a sliced body, else the
    *     [[markedPairs]] frame of a plain unsliced one (the tail counts
    *     only its marked rows);
    *  3. DISTINCT ON: the first row per (rid ∪ ON keys) in the body's
    *     ORDER BY — DuckDB DISTINCT ON scoped to each outer row's set;
    *  4. LIMIT / OFFSET [WITH TIES]: the per-rid slice ([[slicePerKey]]);
    *  5. the three-valued tail: TRUE on a match; FALSE when the set is
    *     empty (no surviving or marked row for the outer row) or (no
    *     match, no NULL in the set, lhs non-NULL); NULL when the lhs is
    *     NULL against a non-empty set or the unmatched set holds a NULL.
    * An ungrouped aggregate body has ONE value per outer row instead —
    * `x IN (v)` is the three-valued `x = v` ([[thetaUngroupedAgg]]).
    * Plain DISTINCT is membership-blind; ORDER BY is required only with
    * LIMIT or DISTINCT ON. */
  private def thetaIn(qb1: QueryBody, innerRel: Rel, local: Seq[Expr],
      correlated: Seq[Expr], ctx: Ctx, lhs: Column,
      bodyCtes: Map[String, DataFrame]): Column = {
    val what = "correlated IN subquery (theta path)"
    // ≤1-row ungrouped-aggregate body: DISTINCT ON is a no-op and a
    // surviving LIMIT clause (post-strip: LIMIT 0 / OFFSET ≥ 1)
    // empties the membership set — IN FALSE for any lhs
    val ungroupedAggBody = qb1.groupBy.isEmpty && (qb1.selectList match {
      case Seq(SelectItem(e, _)) if !e.isInstanceOf[Wildcard] => collectAggs(e).nonEmpty
      case _ => false
    })
    if (ungroupedAggBody && qb1.limit.isDefined) return lit(false)
    val qb = if (ungroupedAggBody) qb1.copy(distinct = None) else qb1
    val onKeys = qb.distinct.toSeq.flatten
    val sliced = qb.limit.isDefined || onKeys.nonEmpty
    if (qb.limit.isDefined && qb.distinct.contains(Nil))
      err("correlated IN with LIMIT does not combine with DISTINCT")
    if (sliced && qb.orderBy.isEmpty)
      err(s"$what needs an ORDER BY (the kept rows are arbitrary without one)")
    if (qb.selectList.size != 1) err("IN subquery must produce exactly 1 column")
    val selectExpr0 = qb.selectList.head.expr
    val isGrouped = qb.groupBy.nonEmpty || qb.having.isDefined ||
      collectAggs(selectExpr0).nonEmpty
    val innerCtx = new Ctx(innerRel, None, bodyCtes)
    applyLocal(local, innerCtx, what)
    if (isGrouped && qb.groupBy.isEmpty && !sliced) {
      // a HAVING that fails (or is UNKNOWN) empties the set: FALSE for
      // any lhs, NULL included
      val (value, having) = thetaUngroupedAgg(qb, innerCtx, correlated, ctx, what)
      return having.fold(lhs === value)(h =>
        when(coalesce(h, lit(false)), lhs === value).otherwise(lit(false)))
    }
    if (qb.groupBy.nonEmpty && !sliced)
      thetaGroupedInThreshold(qb, innerCtx, correlated, ctx, lhs) match {
        case Some(r) => return r
        case None => ()
      }
    val (outer, rid) = ridFrame(ctx.rel.df,
      if (sliced) "tlrid" else if (isGrouped) "tirid" else "trid")
    val lhsName = fresh("tilhs")
    // lhs is an outer-row expression — constant within a rid; stamp it
    // on the frame before the join so the set rows can test it
    val outerL = outer.withColumn(lhsName, lhs)
    // PREFIX-EXTREMUM STAIRCASE for DISTINCT ON bodies (round 10): with
    // a single monotone conjunct `ce OP t`, the kept row per ON-group
    // as t varies walks the group's prefix-extremum records in the
    // body's sort order — the first PASSING row is always a RECORD row
    // (any non-record has an earlier row with a no-worse ce), and along
    // the records ce is strictly monotone, so pass(t) is monotone and
    // the kept record is the unique one with `cmp(ce,t) ∧ ¬cmp(prev
    // record's ce, t)` — a PURE per-row predicate. Membership becomes a
    // value-EQUI join of the outer side against the record table
    // (expected O(log group) records per group — record counts, not
    // the corpus, bound the joined volume), plus one scalar (global
    // extreme record ce: the null-safe empty-set test) and a literal
    // when-chain over the NULL-valued records (the UNKNOWN arm). The
    // rid pair frame and its per-rid windows disappear; alignment of
    // the ORDER BY is NOT required (the prefix-closed path below needs
    // it, this one subsumes the misaligned shapes — qe139).
    if (qb.limit.isEmpty && onKeys.nonEmpty && !isGrouped)
      staircaseDistinctOnIn(qb, innerCtx, correlated, ctx, outer, outerL,
          rid, lhsName, lhs, selectExpr0, onKeys) match {
        case Some(r) => return r
        case None => ()
      }
    // PREFIX-CLOSED plain-body LIMIT fast path (round 10): with a single
    // monotone conjunct `ce OP outer_expr` and ce as the FIRST ORDER BY
    // key in the OP-aligned direction, the passing rows per outer row
    // are a PREFIX of the global sort order, so the per-row slice
    // (off, off+lim] is exactly the GLOBAL ranks (off, off+lim]
    // restricted to rows whose own ce passes — membership needs only
    // the global top-(off+lim) rows, broadcast against the outer side
    // (qe138: the per-rid window over the pair frame becomes a
    // ≤lim-rows-per-outer broadcast join). The slice rank is still
    // computed PER RID after the join — the rows joining a given outer
    // row are exactly the global passing prefix restricted to the
    // top-K, so their per-rid rank IS the global passing rank. WITH
    // TIES keeps the generic plan (a boundary tie extends the kept set
    // beyond any fixed K).
    val prefixClosed: Option[(DataFrame, Seq[Column], String)] = qb.limit match {
      case Some(lc) if !lc.withTies && !isGrouped && qb.distinct.isEmpty =>
        val kN = lc.offset.map(evalLimitInt(_, "OFFSET")).getOrElse(0).toLong +
          evalLimitInt(lc.limit, "LIMIT")
        orientMonotoneSingle(correlated, innerCtx.rel, ctx) match {
          case Some((op, ce, oe)) if kN <= 4096 && qb.orderBy.head.expr == ce &&
              ((op == ">" || op == ">=") == qb.orderBy.head.desc) =>
            val ordNamesF = qb.orderBy.indices.map(_ => fresh("plord"))
            val vN = fresh("plv")
            val ceB = bindExpr(ce, innerCtx)
            val base = innerCtx.rel.df.filter(ceB.isNotNull).select(
              (qb.orderBy.zip(ordNamesF).map { case (ok, on) =>
                bindExpr(ok.expr, innerCtx).as(on) } :+
                bindExpr(selectExpr0, innerCtx).as(vN)): _*)
            val ordColsF = qb.orderBy.zip(ordNamesF).map { case (ok, on) =>
              orderKey(col(on), ok.desc) }
            val kept = base.orderBy(ordColsF: _*).limit(kN.toInt)
              .persist(StorageLevel.MEMORY_AND_DISK)
            persistedFrames += kept
            Some((outerL.join(broadcast(kept),
              cmpOp(op, col(ordNamesF.head), bindExpr(oe, ctx)), "inner"), ordColsF, vN))
          case _ => None
        }
      case _ => None
    }
    // a plain unsliced body rides the presence-marker pair frame, whose
    // placeholder rows the tail must not count: `present` is its marker
    val (rows, ordCols, vName, present) = prefixClosed.map {
      case (r, o, v) => (r, o, v, Option.empty[String])
    }.getOrElse {
      // the select expression binds as written: its alias names the
      // expression itself (`max(v) AS v`), so only the ON keys, ORDER BY
      // and HAVING substitute it
      val onExprs = onKeys.map(substituteAliases(_, qb.selectList))
      val ordExprs =
        if (sliced) qb.orderBy.map(ok => substituteAliases(ok.expr, qb.selectList))
        else Nil
      val (src, bCtx, marker) =
        if (isGrouped) {
          val (g, gCtx) = thetaGroups(qb, innerCtx, outerL, rid, correlated, ctx,
            selectExpr0 +: (onExprs ++ ordExprs), what, passThru = Seq(lhsName))
          (g, gCtx, Option.empty[String])
        } else {
          val (renamed, rScopes) = freshRenamed(innerCtx.rel.df, innerCtx.rel.scopes, what)
          val (joined, mk) =
            if (sliced) (thetaInnerJoin(outerL, renamed, rScopes, correlated, ctx, what), None)
            else {
              val (j, m) = markedPairs(outerL, renamed, rScopes, correlated, ctx, what)
              (j, Some(m))
            }
          (joined, new Ctx(Rel(joined, rScopes), None, bodyCtes), mk)
        }
      val vN = fresh("tiv")
      val onNames = onExprs.map(_ => fresh("tlon"))
      val ordNames = ordExprs.map(_ => fresh("tlord"))
      val df = src.select(
        (Seq(col(rid), col(lhsName)) ++
          onExprs.zip(onNames).map { case (e, on) => bindExpr(e, bCtx).as(on) } ++
          ordExprs.zip(ordNames).map { case (e, on) => bindExpr(e, bCtx).as(on) } ++
          marker.map(col) :+
          bindExpr(selectExpr0, bCtx).as(vN)): _*)
      val ordCols = qb.orderBy.zip(ordNames).map { case (ok, on) =>
        orderKey(col(on), ok.desc) }
      (if (onKeys.isEmpty) df
       else slicePerKey(df, (rid +: onNames).map(col), ordCols, 1, 0, ties = false),
        ordCols, vN, marker)
    }
    val set = qb.limit.fold(rows) { lc =>
      slicePerKey(rows, Seq(col(rid)), ordCols, evalLimitInt(lc.limit, "LIMIT"),
        lc.offset.map(evalLimitInt(_, "OFFSET")).getOrElse(0), lc.withTies)
    }
    val matchN = fresh("timatch")
    val cntN = fresh("ticnt")
    val nullN = fresh("tinull")
    val p = joinBack(ctx, outer, rid, set.groupBy(col(rid)).agg(
      max(when(col(vName) === col(lhsName), lit(1))).as(matchN),
      present.fold(count(lit(1)))(n => count(col(n))).as(cntN),
      (count(when(col(vName).isNull &&
        present.fold(lit(true))(col(_).isNotNull), 1)) > 0).as(nullN)))
    when(p(matchN) === 1, lit(true))
      .when(coalesce(p(cntN), lit(0L)) === 0, lit(false))
      .when(lhs.isNull || p(nullN), lit(null).cast("boolean"))
      .otherwise(lit(false))
  }

  private def bindBinary(op: String, l: Expr, r: Expr, ctx: Ctx): Column = {
    // date ± INTERVAL stays special-cased so the interval literal is not
    // bound as a standalone column
    (op, r) match {
      case ("+", IntervalLit(n, u)) =>
        return bindExpr(l, ctx) + expr(s"INTERVAL $n ${u.toUpperCase}")
      case ("-", IntervalLit(n, u)) =>
        return bindExpr(l, ctx) - expr(s"INTERVAL $n ${u.toUpperCase}")
      case _ => ()
    }
    val lc = bindExpr(l, ctx)
    val rc = bindExpr(r, ctx)
    op match {
      case "+" =>
        // NutQL `+` doubles as string concat (corpus 10.sql) — type-directed
        if (isString(l, lc, ctx) || isString(r, rc, ctx)) concat(lc, rc) else lc + rc
      case "-" => lc - rc
      case "*" => lc * rc
      case "/" => lc / rc
      case "%" => lc % rc
      case "=" => lc === rc
      case "!=" => lc =!= rc
      case "<" => lc < rc
      case "<=" => lc <= rc
      case ">" => lc > rc
      case ">=" => lc >= rc
      case "and" => lc && rc
      case "or" => lc || rc
      case "xor" => lc =!= rc // logical xor over booleans
      case "&" => lc.bitwiseAND(rc)
      case "|" => lc.bitwiseOR(rc)
      case "^" => lc.bitwiseXOR(rc)
      case "<<" => call_function("shiftleft", lc, rc)
      case ">>" => call_function("shiftright", lc, rc)
      // LIKE/ILIKE accept ANY expression as the pattern (reference
      // mod.rs:1404-1406): literal patterns take the Column method (plan
      // shows a StartsWith/Contains-optimizable Like), dynamic ones go
      // through the SQL function, which takes a per-row pattern
      case "like" | "not_like" | "ilike" | "not_ilike" =>
        val fn = if (op == "ilike" || op == "not_ilike") "ilike" else "like"
        val base = litText(r) match {
          case Some(p) => if (fn == "like") lc.like(p) else lc.ilike(p)
          case None => call_function(fn, lc, rc)
        }
        if (op.startsWith("not_")) !base else base
      case "[]" => element_at(lc, rc) // 1-based arrays / map keys
      case other => err(s"unknown binary op $other")
    }
  }

  private def litText(e: Expr): Option[String] = e match {
    case StringLit(s) => Some(s)
    case _ => None
  }

  /** Bind-time string-typedness for the `+`-as-concat decision, resolved
    * from the AST plus the scopes' (cached) schemas — the previous
    * implementation ran a driver-side `select().schema` analysis per `+`
    * operand (VERDICT r3), quadratic-ish on concat-heavy select lists.
    * Only genuinely argument-dependent shapes (element access, coalesce,
    * min/max, …) still fall back to a one-off schema probe. */
  private def isString(e: Expr, c: Column, ctx: Ctx): Boolean = e match {
    case StringLit(_) => true
    case IntLit(_) | FloatLit(_) | BoolLit(_) | NullLit | IntervalLit(_, _) => false
    case Param(n) => n < params.size && params(n).isInstanceOf[String]
    case ConfigId(n) => config.get(n).exists(_.isInstanceOf[String])
    case Ident(q, n) => identIsString(q, n, ctx).getOrElse(probeIsString(c, ctx))
    case Binary("+", l, r) => isString(l, c, ctx) || isString(r, c, ctx)
    case Binary("[]", _, _) => probeIsString(c, ctx) // element type unknown
    case Binary(_, _, _) => false // arith/compare/logic/bit — never string
    case Unary(_, _) => false
    case BetweenExpr(_, _, _, _) | InList(_, _, _) | InSubquery(_, _, _) |
         ExistsExpr(_, _) => false
    case CaseExpr(_, branches, els) =>
      branches.exists { case (_, v) => isString(v, c, ctx) } ||
        els.exists(isString(_, c, ctx))
    case FnCall(n, _) => FunctionRegistry.returnsString(n) match {
      case Some(b) => b
      case None => probeIsString(c, ctx)
    }
    case _ => probeIsString(c, ctx)
  }

  /** Type of a bare/qualified identifier from the owning scope's cached
    * schema (`df.schema` analyzes once per DataFrame, not per lookup).
    * Ambiguity is not re-checked here — bindExpr has already bound the
    * operand and would have raised on a genuinely ambiguous name.
    * None when no scope claims the name — e.g. an ident bound through
    * ctx.subst onto a fresh-named grouped column (groupedCorrelated's
    * gk/gg keys); the caller probes the already-bound column instead
    * of guessing non-string (ADVICE r4). */
  private def identIsString(q: Option[String], n: String, ctx: Ctx): Option[Boolean] = {
    def fieldIsString(s: Scope): Boolean = {
      val actual = s.rename.getOrElse(n.toLowerCase, n)
      s.df.schema.fields.find(_.name.equalsIgnoreCase(actual))
        .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.StringType])
    }
    def from(rel: Rel): Option[Boolean] = (q match {
      case Some(qual) =>
        rel.scopes.find(s => s.qualifier.exists(_.equalsIgnoreCase(qual)) && s.has(n))
      case None => rel.scopes.find(_.has(n))
    }).map(fieldIsString)
    from(ctx.rel).orElse(ctx.outer.flatMap(from))
  }

  /** Fallback schema probe for argument-dependent result types — one
    * analysis round on a single-column projection, used only when the
    * AST walk cannot classify the expression. */
  private def probeIsString(c: Column, ctx: Ctx): Boolean =
    Try(ctx.rel.df.select(c).schema.head.dataType
      .isInstanceOf[org.apache.spark.sql.types.StringType]).getOrElse(false)

  /** # of references to table `name` anywhere in the body (FROM/JOIN
    * sources, subqueries in every expression position) — drives CTE
    * persist decisions. Shared Ast walker, same traversal the engine's
    * view-dependency tracking uses. */
  private def countTableRefs(qb: QueryBody, name: String): Int = {
    var count = 0
    graft.nutql.Ast.foreachTableSource(qb)(n => if (n.equalsIgnoreCase(name)) count += 1)
    count
  }
}
