package graft.nutql

/** NutQL AST — case-class mirror of the reference AST
  * (src/parser/ast/{mod,query,expr,item,alter}.rs), with the two documented
  * superset fixes: `ASC` is accepted in ORDER BY (reference rejects it,
  * mod.rs:494) and `Map(K,V)` keeps declared key/value order (reference
  * swaps them, mod.rs:1780). `ASOF JOIN` is accepted (the reference enum
  * has AsOf but its parser never emits it).
  */
object Ast {

  // ---------------- statements ----------------
  sealed trait Statement
  final case class SelectStmt(query: Query) extends Statement
  final case class InsertStmt(table: String, columns: Seq[String], source: InsertSource) extends Statement
  final case class ExplainStmt(inner: Statement) extends Statement
  final case class CreateTableStmt(
      name: String, ifNotExists: Boolean, columns: Seq[ColumnDef],
      indexes: Seq[IndexDef], constraints: Seq[ConstraintDef],
      primaryKey: Seq[Expr], orderBy: Seq[Expr], partitionBy: Option[Expr],
      comment: Option[String]) extends Statement
  final case class CreateViewStmt(
      name: String, ifNotExists: Boolean, strategy: String,
      primaryKey: Seq[Expr], orderBy: Seq[Expr], partitionBy: Option[Expr],
      comment: Option[String], query: Query) extends Statement
  final case class AlterTableStmt(table: String, action: AlterAction) extends Statement
  final case class DescribeStmt(entity: EntityKind, name: Option[String]) extends Statement
  final case class DropStmt(entity: EntityKind, name: String, ifExists: Boolean) extends Statement
  final case class TruncateStmt(entity: EntityKind, name: String, ifExists: Boolean) extends Statement
  final case class OptimizeStmt(table: String, partition: Option[Expr]) extends Statement
  final case class SetStmt(config: String, value: Expr) extends Statement

  sealed trait InsertSource
  final case class InsertValues(rows: Seq[Seq[Expr]]) extends InsertSource
  final case class InsertQuery(query: Query) extends InsertSource
  final case class InsertFn(fn: FnCall) extends InsertSource

  sealed trait EntityKind
  case object TableEntity extends EntityKind
  case object ViewEntity extends EntityKind
  case object DatabaseEntity extends EntityKind

  sealed trait AlterAction
  final case class AddColumn(col: ColumnDef, ifNotExists: Boolean, position: Option[ColumnPosition]) extends AlterAction
  final case class AddIndex(index: IndexDef, ifNotExists: Boolean) extends AlterAction
  final case class AddConstraint(constraint: ConstraintDef, ifNotExists: Boolean) extends AlterAction
  final case class DropColumn(name: String, ifExists: Boolean) extends AlterAction
  final case class DropIndex(name: String, ifExists: Boolean) extends AlterAction
  final case class DropConstraint(name: String, ifExists: Boolean) extends AlterAction
  final case class DropPartition(partition: String) extends AlterAction
  final case class RenameColumn(from: String, to: String) extends AlterAction
  final case class RenameIndex(from: String, to: String) extends AlterAction
  final case class RenameConstraint(from: String, to: String) extends AlterAction
  final case class RenameTable(to: String) extends AlterAction

  sealed trait ColumnPosition
  case object PositionFirst extends ColumnPosition
  final case class PositionAfter(column: String) extends ColumnPosition

  final case class ColumnDef(name: String, dataType: NutType, default: Option[Expr], comment: Option[String])
  final case class IndexDef(name: String, indexer: FnCall)
  final case class ConstraintDef(name: String, check: Expr)

  // ---------------- types ----------------
  sealed trait NutType
  final case class ScalarType(name: String, params: Seq[Int]) extends NutType // Int32, Decimal32(s), Chars(n), String(n)…
  final case class ArrayType(elem: NutType) extends NutType
  final case class EnumType(binds: Seq[(String, Int)]) extends NutType
  final case class TupleType(items: Seq[NutType]) extends NutType
  final case class MapType(key: NutType, value: NutType) extends NutType
  final case class DictionaryType(value: NutType) extends NutType
  final case class NullableType(inner: NutType) extends NutType

  // ---------------- query ----------------
  sealed trait Query
  /** UNION ALL | UNION DISTINCT | INTERSECT | EXCEPT (precedence
    * INTERSECT > UNION > EXCEPT, left-assoc — reference mod.rs:1929-1974). */
  final case class SetOpQuery(op: String, left: Query, right: Query) extends Query
  final case class QueryBody(
      ctes: Seq[(String, Query)],
      distinct: Option[Seq[Expr]], // Some(Nil)=DISTINCT, Some(exprs)=DISTINCT ON
      selectList: Seq[SelectItem],
      from: Option[DataSource],
      joins: Seq[JoinClause],
      where: Option[Expr],
      groupBy: Seq[Expr],
      having: Option[Expr],
      orderBy: Seq[OrderKey],
      limit: Option[LimitClause]) extends Query

  final case class SelectItem(expr: Expr, alias: Option[String])

  sealed trait DataSource { def alias: Option[String] }
  final case class TableSource(name: String, alias: Option[String]) extends DataSource
  final case class SubquerySource(query: Query, alias: Option[String]) extends DataSource
  final case class TableFnSource(fn: FnCall, alias: Option[String]) extends DataSource

  final case class JoinClause(joinType: String, source: DataSource, condition: JoinCondition)
  sealed trait JoinCondition
  final case class OnCondition(expr: Expr) extends JoinCondition
  final case class UsingCondition(columns: Seq[String]) extends JoinCondition

  final case class OrderKey(expr: Expr, desc: Boolean)
  final case class LimitClause(limit: Expr, offset: Option[Expr], withTies: Boolean)

  // ---------------- expressions ----------------
  sealed trait Expr
  final case class IntLit(value: BigInt) extends Expr
  final case class FloatLit(value: BigDecimal) extends Expr
  final case class StringLit(value: String) extends Expr
  final case class BoolLit(value: Boolean) extends Expr
  case object NullLit extends Expr
  /** `interval <uint> second|minute|hour|day|month|year` (item.rs:116-124). */
  final case class IntervalLit(n: Long, unit: String) extends Expr
  final case class Ident(qualifier: Option[String], name: String) extends Expr
  final case class Wildcard(qualifier: Option[String]) extends Expr
  final case class ConfigId(name: String) extends Expr
  final case class Param(n: Int) extends Expr
  final case class TupleLit(items: Seq[Expr]) extends Expr
  final case class ArrayLit(items: Seq[Expr]) extends Expr
  final case class MapLit(entries: Seq[(Expr, Expr)]) extends Expr
  final case class Unary(op: String, e: Expr) extends Expr // "-" "+" "~" "not" "isnull" "isnotnull"
  final case class Binary(op: String, l: Expr, r: Expr) extends Expr
  final case class FnCall(name: String, args: Seq[Expr]) extends Expr
  final case class SubqueryExpr(query: Query) extends Expr
  /** scrutinee=None → searched CASE (MultiIf); Some → simple CASE. */
  final case class CaseExpr(scrutinee: Option[Expr], branches: Seq[(Expr, Expr)], elseExpr: Option[Expr]) extends Expr
  final case class BetweenExpr(e: Expr, lo: Expr, hi: Expr, negated: Boolean) extends Expr
  final case class InList(e: Expr, items: Seq[Expr], negated: Boolean) extends Expr
  final case class InSubquery(e: Expr, query: Query, negated: Boolean) extends Expr
  final case class ExistsExpr(query: Query, negated: Boolean) extends Expr

  /** Direct sub-expressions of `e`. A subquery body is a query, not an
    * operand, so it is not entered; an IN-subquery's lhs is. */
  def operands(e: Expr): Seq[Expr] = e match {
    case Binary(_, l, r) => Seq(l, r)
    case Unary(_, o) => Seq(o)
    case FnCall(_, args) => args
    case CaseExpr(s, bs, el) => s.toSeq ++ bs.flatMap { case (a, b) => Seq(a, b) } ++ el
    case BetweenExpr(a, lo, hi, _) => Seq(a, lo, hi)
    case InList(a, items, _) => a +: items
    case TupleLit(xs) => xs
    case ArrayLit(xs) => xs
    case MapLit(es) => es.flatMap { case (k, v) => Seq(k, v) }
    case InSubquery(a, _, _) => Seq(a)
    case _ => Nil
  }

  /** Visit every table-source name reachable from `q` — FROM/JOIN sources
    * plus subqueries in every expression position (WHERE, HAVING, select
    * list, JOIN conditions, GROUP BY, ORDER BY, DISTINCT ON, CTEs). One
    * shared walker so consumers (CTE ref counting, view dependency
    * tracking) cannot drift apart. */
  def foreachTableSource(q: Query)(f: String => Unit): Unit = {
    def walkSrc(s: DataSource): Unit = s match {
      case TableSource(n, _) => f(n)
      case SubquerySource(sub, _) => walkQuery(sub)
      case _ => ()
    }
    def walkExpr(e: Expr): Unit = e match {
      case SubqueryExpr(sub) => walkQuery(sub)
      case InSubquery(a, sub, _) => walkExpr(a); walkQuery(sub)
      case ExistsExpr(sub, _) => walkQuery(sub)
      case other => operands(other).foreach(walkExpr)
    }
    def walkQuery(sub: Query): Unit = sub match {
      case SetOpQuery(_, a, b) => walkQuery(a); walkQuery(b)
      case b: QueryBody =>
        b.ctes.foreach { case (_, cq) => walkQuery(cq) }
        b.from.foreach(walkSrc)
        b.joins.foreach { j =>
          walkSrc(j.source)
          j.condition match {
            case OnCondition(e) => walkExpr(e)
            case _ => ()
          }
        }
        b.where.foreach(walkExpr)
        b.groupBy.foreach(walkExpr)
        b.having.foreach(walkExpr)
        b.orderBy.foreach(k => walkExpr(k.expr))
        b.selectList.foreach(i => walkExpr(i.expr))
        b.distinct.foreach(_.foreach(walkExpr))
    }
    walkQuery(q)
  }
}
