package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec}

/** Round-4 binder/engine hardening: dynamic LIKE/ILIKE patterns,
  * IN-list → isin/InSet plan shape, aggregated EXISTS under OR,
  * correlated IN with DISTINCT / GROUP BY bodies, `$n` parameters in
  * table-function args, and Serial32 overflow rejection. */
class Round4Spec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private var engine: Engine = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .appName("round4-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine.forTestdata(spark, dir)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sql(s: String): DataFrame = engine.execute(s)
  private def rows(s: String): Seq[Row] = sql(s).collect().toSeq

  // ---- dynamic LIKE / ILIKE ------------------------------------------

  test("LIKE accepts a dynamic (non-literal) pattern expression") {
    // every customer name ends with its zero-padded key, so a per-row
    // suffix pattern built from c_custkey matches every row
    val n = rows(
      """select count(*) as n from customer
         where c_name like '%' + toString(c_custkey)""").head.getLong(0)
    val total = graft.Tables.load(spark, dir, "customer").count()
    assert(n == total, s"dynamic suffix pattern matched $n of $total")
    // and a selective dynamic pattern agrees with the DataFrame compute
    val got = rows(
      """select count(*) as n from customer
         where c_name ilike 'customer#%' + toString(c_custkey % 7)""").head.getLong(0)
    val want = graft.Tables.load(spark, dir, "customer")
      .filter(col("c_name").ilike("Customer#%").and(
        expr("substring(c_name, length(c_name), 1) = cast(c_custkey % 7 as string)")))
      .count()
    assert(got == want, s"dynamic ILIKE got $got want $want")
  }

  test("literal LIKE patterns still go through the literal path") {
    val n = rows(
      "select count(*) as n from customer where c_name like 'Customer#%'")
      .head.getLong(0)
    assert(n == graft.Tables.load(spark, dir, "customer").count())
  }

  // ---- IN (list) plan shape ------------------------------------------

  test("long literal IN list lowers to isin (InSet), not an OR chain") {
    val vals = (1 to 300).mkString(", ")
    val df = sql(s"select count(*) as n from part where p_size in ($vals)")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.toUpperCase.contains("INSET"),
      s"expected InSet in optimized plan, got:\n$plan")
    // and the result is right
    val want = graft.Tables.load(spark, dir, "part")
      .filter(col("p_size").isin((1 to 300): _*)).count()
    assert(df.head().getLong(0) == want)
  }

  test("IN list with non-literal items still evaluates correctly") {
    val got = rows(
      """select count(*) as n from part
         where p_size in (p_partkey % 10, 25, 50)""").head.getLong(0)
    val want = graft.Tables.load(spark, dir, "part")
      .filter(col("p_size") === col("p_partkey") % 10 ||
        col("p_size") === 25 || col("p_size") === 50).count()
    assert(got == want)
  }

  // ---- aggregated EXISTS under OR ------------------------------------

  test("EXISTS with GROUP BY/HAVING works under OR (expression position)") {
    val got = rows(
      """select p_partkey from part
         where p_partkey < 20
            or exists (select 1 from lineitem where l_partkey = p_partkey
                       group by l_partkey
                       having sum(toDecimal(l_quantity, 12, 2)) > 150)
         order by p_partkey""").map(_.getLong(0))
    val part = graft.Tables.load(spark, dir, "part")
    val li = graft.Tables.load(spark, dir, "lineitem")
    val heavy = li.groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("q"))
      .filter(col("q") > 150).select(col("l_partkey"))
      .collect().map(_.getLong(0)).toSet
    val want = part.select(col("p_partkey")).collect().map(_.getLong(0))
      .filter(k => k < 20 || heavy.contains(k)).sorted.toSeq
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
  }

  test("NOT EXISTS with HAVING under OR negates the group flag") {
    val got = rows(
      """select count(*) as n from part
         where p_partkey >= 9999999
            or not exists (select 1 from lineitem where l_partkey = p_partkey
                           group by l_partkey having count(*) > 0)""").head.getLong(0)
    val part = graft.Tables.load(spark, dir, "part")
    val withLines = graft.Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey")).distinct().collect().map(_.getLong(0)).toSet
    val want = part.select(col("p_partkey")).collect()
      .count(r => !withLines.contains(r.getLong(0)))
    assert(got == want)
  }

  // ---- correlated IN: DISTINCT and GROUP BY bodies -------------------

  test("correlated IN with DISTINCT body") {
    val got = rows(
      """select count(*) as n from orders
         where o_orderstatus in (select distinct o_orderstatus from orders as o2
                                 where o2.o_custkey = orders.o_custkey
                                   and o2.o_totalprice > 200000)""").head.getLong(0)
    val o = graft.Tables.load(spark, dir, "orders")
    val hi = o.filter(col("o_totalprice") > 200000)
      .select(col("o_custkey").as("k"), col("o_orderstatus").as("s")).distinct()
    val want = o.join(hi, col("o_custkey") === col("k") &&
      col("o_orderstatus") === col("s"), "left_semi").count()
    assert(got == want)

    // the same table on both sides of an equality-correlated EXISTS: an
    // outer reference that silently bound to the inner `orders` would
    // turn the correlation into `k = k` and keep every row
    val topKeys = o.filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("k")).distinct()
    val semi = o.join(topKeys, col("o_custkey") === col("k"), "left_semi").count()
    val anti = o.join(topKeys, col("o_custkey") === col("k"), "left_anti").count()
    assert(semi > 0 && anti > 0, "fixture must split orders both ways")
    val asO2 = "from orders as o2 where o2.o_custkey = orders.o_custkey " +
      "and o2.o_totalprice > 400000"
    val unaliased = "from orders where o_custkey = o1.o_custkey " +
      "and o_totalprice > 400000"
    for ((outer, body) <- Seq("orders" -> asO2, "orders as o1" -> unaliased)) {
      def n(where: String): Long =
        rows(s"select count(*) as n from $outer where $where").head.getLong(0)
      assert(n(s"exists (select 1 $body)") == semi, s"EXISTS, $outer")
      assert(n(s"not exists (select 1 $body)") == anti, s"NOT EXISTS, $outer")
      assert(n(s"o_orderkey < 0 or exists (select 1 $body)") == semi,
        s"EXISTS under OR, $outer")
    }
  }

  test("correlated IN with GROUP BY + HAVING body (aggregate value set)") {
    val got = rows(
      """select c_custkey from customer
         where 5 in (select count(*) from orders where o_custkey = c_custkey
                     group by o_orderstatus having count(*) >= 2)
         order by c_custkey""").map(_.getLong(0))
    val o = graft.Tables.load(spark, dir, "orders")
    val groups = o.groupBy(col("o_custkey"), col("o_orderstatus"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2 && col("c") === 5)
      .select(col("o_custkey")).distinct().collect().map(_.getLong(0)).toSet
    val want = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey")).collect().map(_.getLong(0))
      .filter(groups.contains).sorted.toSeq
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
  }

  test("correlated NOT IN with grouped body keeps 3-valued semantics") {
    // count(*) is never NULL, so NOT IN here is a clean complement
    val in = rows(
      """select count(*) as n from customer
         where 5 in (select count(*) from orders where o_custkey = c_custkey
                     group by o_orderstatus)""").head.getLong(0)
    val notIn = rows(
      """select count(*) as n from customer
         where 5 not in (select count(*) from orders where o_custkey = c_custkey
                         group by o_orderstatus)""").head.getLong(0)
    val total = graft.Tables.load(spark, dir, "customer").count()
    assert(in + notIn == total,
      s"IN ($in) + NOT IN ($notIn) must partition all $total customers " +
        "(empty value sets make NOT IN true, not null)")
  }

  test("correlated IN with LIMIT still errors cleanly") {
    val e = intercept[GraftException](rows(
      """select count(*) as n from customer
         where 5 in (select count(*) from orders where o_custkey = c_custkey
                     group by o_orderstatus limit 1)"""))
    assert(e.msg.contains("LIMIT"))
  }

  // ---- $n parameters in table functions ------------------------------

  test("numbers($n) and file($n) take bound parameters") {
    val r = engine.execute(
      "select count(*) as n, sum(number) as s from numbers($0)", Seq(50))
      .head()
    assert(r.getLong(0) == 50 && r.getLong(1) == 1225L)
    val f = engine.execute(
      "select count(*) as n from file($0)", Seq(s"$dir/region.parquet"))
      .head()
    assert(f.getLong(0) == 5)
    val range = engine.execute(
      "select count(*) as n from numbers($0, $1)", Seq(10, 20)).head()
    assert(range.getLong(0) == 10)
  }

  test("@config values work in table-function args") {
    engine.execute("set @lim = 25")
    val r = engine.execute("select count(*) as n from numbers(@lim)").head()
    assert(r.getLong(0) == 25)
  }

  test("unbound / mistyped table-fn parameters error cleanly") {
    val e = intercept[GraftException](
      engine.execute("select count(*) as n from numbers($3)", Seq(1)))
    assert(e.msg.contains("$3"))
    val e2 = intercept[GraftException](
      engine.execute("select count(*) as n from numbers($0)", Seq("nope")))
    assert(e2.msg.contains("integer"))
  }

  // ---- Serial32 overflow rejection -----------------------------------

  test("Serial32 insert past Int.MaxValue raises instead of wrapping") {
    sql("drop table if exists t_ser_ovf")
    sql("create table t_ser_ovf (id Serial32, v Int32)")
    sql(s"insert into t_ser_ovf (id, v) values (${Int.MaxValue - 1}, 1)")
    // next id = Int.MaxValue (fits), the one after overflows
    sql("insert into t_ser_ovf (v) values (2)")
    val e = intercept[Exception](sql("insert into t_ser_ovf (v) values (3)"))
    assert(e.getMessage.contains("overflow"),
      s"expected overflow error, got: ${e.getMessage}")
    val ids = rows("select id from t_ser_ovf order by id").map(_.getInt(0))
    assert(ids == Seq(Int.MaxValue - 1, Int.MaxValue))
    sql("drop table t_ser_ovf")
  }

  // ---- correlated scalar subqueries: GROUP BY / HAVING bodies --------

  test("correlated scalar with GROUP BY on the correlation key (1 group per key)") {
    val got = rows(
      """select c_custkey,
                (select count(*) from orders where o_custkey = c_custkey
                 group by o_custkey) as ocnt
         from customer order by c_custkey limit 20""")
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    val counts = graft.Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey")).orderBy(col("c_custkey")).limit(20)
      .collect().map(_.getLong(0))
      .map(k => (k, counts.getOrElse(k, -1L))).toSeq // grouped: empty → NULL
    assert(got == want, s"got $got")
  }

  test("correlated scalar with GROUP BY raises when a key has several groups") {
    val df = sql(
      """select c_custkey,
                (select sum(o_totalprice) from orders where o_custkey = c_custkey
                 group by o_orderstatus) as s
         from customer""")
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("more than one row"), e.getMessage)
  }

  test("uncorrelated and equality-correlated scalars plan no nested-loop join") {
    // one row per shape: the scalar subquery and the number of joins its
    // executed plan may hold (one per correlated scalar, none for the
    // uncorrelated one-row subquery)
    val shapes = Seq(
      "(select max(o_totalprice) from orders)" -> 0,
      "(select count(*) from orders where o_custkey = c_custkey)" -> 1,
      """(select sum(o_totalprice) from orders where o_custkey = c_custkey
         having count(*) > 5)""" -> 1,
      "(select n_name from nation where n_nationkey = c_nationkey)" -> 1,
      "(select distinct n_regionkey from nation where n_nationkey = c_nationkey)" -> 1,
      """(select count(*) from orders where o_custkey = c_custkey
         group by o_custkey having count(*) > 1)""" -> 1,
      """(select distinct on (o_custkey) o_orderkey from orders
         where o_custkey = c_custkey order by o_custkey, o_orderdate desc, o_orderkey)""" -> 1,
      """(select o_orderkey from orders where o_custkey = c_custkey
         order by o_orderdate desc, o_orderkey limit 1)""" -> 1,
      """(select o_orderkey from orders where o_custkey = c_custkey
         order by o_orderdate desc, o_orderkey limit 1 offset 1)""" -> 1,
      """(select o_orderstatus from orders where o_custkey = c_custkey
         group by o_orderstatus order by count(*) desc, o_orderstatus limit 1)""" -> 1)
    shapes.foreach { case (sub, want) =>
      val df = sql(s"select c_custkey, $sub as v from customer")
      df.collect()
      val joins = collectWithSubqueries(df.queryExecution.executedPlan) {
        case j: BaseJoinExec => j
      }
      val names = joins.map(j => s"${j.nodeName}(${j.joinType})")
      assert(!joins.exists(j => j.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        j.isInstanceOf[CartesianProductExec] || j.joinType.toString == "LeftSingle"),
        s"$sub: $names")
      assert(joins.size == want, s"$sub: $names")
    }
  }

  test("multi-group raise is lazy: outer rows that avoid the offending key pass") {
    // pick a customer whose orders all share ONE status, while other
    // customers have several — SQL evaluates the subquery per outer
    // row, so restricting the outer query to the single-status customer
    // must NOT raise even though offending keys exist in the data
    sql("drop table if exists t_lzout"); sql("drop table if exists t_lzin")
    sql("create table t_lzout (k Int32)")
    sql("create table t_lzin (k Int32, g String, v Int64)")
    sql("insert into t_lzout values (1), (2)")
    // key 1 has ONE group, key 2 has TWO (the offending key)
    sql("insert into t_lzin values (1, 'a', 10), (2, 'a', 20), (2, 'b', 30)")
    val ok = rows(
      """select k, (select sum(v) from t_lzin where t_lzin.k = t_lzout.k
                    group by g) as s
         from t_lzout where k = 1""")
    assert(ok.size == 1 && ok.head.getLong(1) == 10L)
    // touching the offending key must still raise (SQL scalar semantics)
    val e = intercept[Exception](sql(
      """select k, (select sum(v) from t_lzin where t_lzin.k = t_lzout.k
                    group by g) as s
         from t_lzout where k = 2""").collect())
    assert(e.getMessage.contains("more than one row"))
    // the same contract for every other row-producing body: key 1
    // yields one row, key 2 two — raised with the engine's own message,
    // never Spark's SCALAR_SUBQUERY_TOO_MANY_ROWS
    Seq(
      "select v from t_lzin where t_lzin.k = t_lzout.k" -> 10L,
      "select distinct g from t_lzin where t_lzin.k = t_lzout.k" -> "a",
      """select distinct on (g) v from t_lzin where t_lzin.k = t_lzout.k
         order by g, v""" -> 10L
    ).foreach { case (body, want) =>
      val one = rows(s"select k, ($body) as s from t_lzout where k = 1")
      assert(one.map(r => (r.getInt(0), r.get(1))) == Seq((1, want)), body)
      val e2 = intercept[Exception](
        rows(s"select k, ($body) as s from t_lzout where k = 2"))
      assert(e2.getMessage.contains("scalar subquery returned more than one row") &&
        !e2.getMessage.contains("SCALAR_SUBQUERY_TOO_MANY_ROWS"), body)
    }
    // an ungrouped groupArray over no rows is NULL, not Spark's empty
    // array default for collect_list — under equality and theta
    // correlation alike
    val arrs = rows(
      """select k,
                (select groupArray(v) from t_lzin where t_lzin.k = t_lzout.k) as hit,
                (select groupArray(v) from t_lzin where t_lzin.k = t_lzout.k + 10) as miss,
                (select groupArray(v) from t_lzin where t_lzin.k > t_lzout.k + 10) as tmiss
         from t_lzout order by k""")
    assert(arrs.map(r => (r.getInt(0), r.getSeq[Long](1).sorted, r.isNullAt(2),
      r.isNullAt(3))) ==
      Seq((1, Seq(10L), true, true), (2, Seq(20L, 30L), true, true)), arrs)
    sql("drop table t_lzout"); sql("drop table t_lzin")
  }

  test("GROUP BY may reference select-list aliases inside subquery bodies") {
    val got = rows(
      """select c_custkey from customer
         where 'O' in (select o_orderstatus as st from orders
                       where o_custkey = c_custkey group by st)
         order by c_custkey limit 10""").map(_.getLong(0))
    val want = rows(
      """select c_custkey from customer
         where 'O' in (select o_orderstatus from orders
                       where o_custkey = c_custkey group by o_orderstatus)
         order by c_custkey limit 10""").map(_.getLong(0))
    assert(got == want && got.nonEmpty)
  }

  test("correlated scalar with HAVING over an ungrouped aggregate") {
    val got = rows(
      """select c_custkey,
                (select count(*) from orders where o_custkey = c_custkey
                 having count(*) > 5) as big
         from customer order by c_custkey limit 30""")
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    val counts = graft.Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey")).orderBy(col("c_custkey")).limit(30)
      .collect().map(_.getLong(0))
      .map { k =>
        val c = counts.getOrElse(k, 0L) // zero-order keys still have count 0
        (k, if (c > 5) c else -1L)      // HAVING false → NULL
      }.toSeq
    assert(got == want, s"got $got")
  }

  // ---- incremental Summing-view maintenance --------------------------

  test("INSERT delta-merges a fresh Summing materialization (no recompute)") {
    sql("drop view if exists t_mv")
    sql("drop table if exists t_mvsrc")
    sql("create table t_mvsrc (k Int32, v Int64)")
    sql("insert into t_mvsrc values (1, 10), (2, 20)")
    sql("create view t_mv update by Summing order by k as select k, v from t_mvsrc")
    sql("optimize table t_mv")
    def mat: Option[ViewMaterialization] = engine.catalog.get("t_mv") match {
      case Some(v: Catalog#ViewEntry) => v.materialized
      case _ => None
    }
    val before = mat.get
    sql("insert into t_mvsrc values (1, 5), (3, 7)")
    val after = mat.get
    // the materialization was UPDATED in place-fresh (new path, current
    // deps) rather than left stale for a later full recompute
    assert(after.path != before.path, "materialization not refreshed")
    assert(after.deps.forall { case (t, ver) => engine.catalog.mutationOf(t) == ver },
      s"materialization stale after delta merge: ${after.deps}")
    val r = rows("select k, v from t_mv order by k").map(x => (x.getInt(0), x.getLong(1)))
    assert(r == Seq((1, 15L), (2, 20L), (3, 7L)), s"wrong merged sums: $r")
    sql("drop view t_mv"); sql("drop table t_mvsrc")
  }

  test("non-mergeable Summing bodies fall back to invalidate + recompute") {
    sql("drop view if exists t_mv2")
    sql("drop table if exists t_mvsrc2")
    sql("create table t_mvsrc2 (k Int32, v Int64)")
    sql("insert into t_mvsrc2 values (1, 10)")
    // DISTINCT body is not distributive over row unions — must not merge
    sql("""create view t_mv2 update by Summing order by k as
           select distinct k, v from t_mvsrc2""")
    sql("optimize table t_mv2")
    sql("insert into t_mvsrc2 values (1, 10), (2, 2)")
    // duplicate (1,10) must NOT double k=1's sum (DISTINCT first)
    val r = rows("select k, v from t_mv2 order by k").map(x => (x.getInt(0), x.getLong(1)))
    assert(r == Seq((1, 10L), (2, 2L)), s"wrong recomputed sums: $r")
    sql("drop view t_mv2"); sql("drop table t_mvsrc2")
  }

  test("delta merge over a UNION ALL of TWO tables does not double the other table") {
    sql("drop view if exists t_mv4")
    sql("drop table if exists t_mva"); sql("drop table if exists t_mvb")
    sql("create table t_mva (k Int32, v Int64)")
    sql("create table t_mvb (k Int32, v Int64)")
    sql("insert into t_mva values (1, 1)")
    sql("insert into t_mvb values (1, 100), (2, 200)")
    sql("""create view t_mv4 update by Summing order by k as
           select k, v from t_mva union all select k, v from t_mvb""")
    sql("optimize table t_mv4")
    // insert into ONE branch: the other branch's rows must be counted once
    sql("insert into t_mva values (1, 2), (2, 3)")
    val r = rows("select k, v from t_mv4 order by k").map(x => (x.getInt(0), x.getLong(1)))
    assert(r == Seq((1, 103L), (2, 203L)), s"B-branch rows double-counted: $r")
    // and a second insert stays correct (no compounding)
    sql("insert into t_mvb values (2, 1)")
    val r2 = rows("select k, v from t_mv4 order by k").map(x => (x.getInt(0), x.getLong(1)))
    assert(r2 == Seq((1, 103L), (2, 204L)), s"wrong after second insert: $r2")
    sql("drop view t_mv4"); sql("drop table t_mva"); sql("drop table t_mvb")
  }

  test("correlated IN over an ungrouped aggregate sees empty groups as one value") {
    // customers with NO order above the floor: the subquery value set is
    // {0}, so `0 IN (...)` must be TRUE for them (ungrouped-agg row)
    val q =
      """select count(*) as n from customer
         where 0 %s (select count(*) from orders
                     where o_custkey = c_custkey and o_totalprice > 300000)"""
    val got = rows(q.format("in")).head.getLong(0)
    val o = graft.Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey")).distinct().collect().map(_.getLong(0)).toSet
    val want = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey")).collect().count(r => !o.contains(r.getLong(0)))
    assert(want > 0, "fixture vacuous: every customer clears the floor")
    assert(got == want, s"customers below the floor: got $got want $want")
    // and the complement: NOT IN must exclude exactly those customers
    val notIn = rows(q.format("not in")).head.getLong(0)
    val total = graft.Tables.load(spark, dir, "customer").count()
    assert(got + notIn == total)
  }

  test("EXISTS with HAVING over an ungrouped aggregate counts empty sets") {
    // parts with NO high-quantity lineitems: count(*) = 0 for them, so
    // HAVING count(*) = 0 makes EXISTS true — as a conjunct and under OR
    val partKeys = graft.Tables.load(spark, dir, "part")
      .select(col("p_partkey")).collect().map(_.getLong(0)).toSet
    val withLines = graft.Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_partkey")).distinct().collect().map(_.getLong(0)).toSet
    val orphans = (partKeys -- withLines).size.toLong
    assert(orphans > 0, "fixture vacuous: every part has a high-qty line")
    val conjunct = rows(
      """select count(*) as n from part
         where exists (select 1 from lineitem
                       where l_partkey = p_partkey and l_quantity > 45
                       having count(*) = 0)""").head.getLong(0)
    assert(conjunct == orphans, s"conjunct: got $conjunct want $orphans")
    val underOr = rows(
      """select count(*) as n from part
         where p_partkey >= 9999999
            or exists (select 1 from lineitem
                       where l_partkey = p_partkey and l_quantity > 45
                       having count(*) = 0)""").head.getLong(0)
    assert(underOr == orphans, s"under OR: got $underOr want $orphans")
    val negated = rows(
      """select count(*) as n from part
         where not exists (select 1 from lineitem
                           where l_partkey = p_partkey and l_quantity > 45
                           having count(*) = 0)""").head.getLong(0)
    assert(negated == partKeys.size - orphans)
  }

  test("delta merge over a UNION ALL body") {
    sql("drop view if exists t_mv3")
    sql("drop table if exists t_mvsrc3")
    sql("create table t_mvsrc3 (k Int32, v Int64)")
    sql("insert into t_mvsrc3 values (1, 1)")
    sql("""create view t_mv3 update by Summing order by k as
           select k, v from t_mvsrc3
           union all select k, v + 100 as v from t_mvsrc3""")
    sql("optimize table t_mv3")
    sql("insert into t_mvsrc3 values (1, 2)")
    val r = rows("select k, v from t_mv3 order by k").map(x => (x.getInt(0), x.getLong(1)))
    // k=1: (1 + 2) + (101 + 102) = 206
    assert(r == Seq((1, 206L)), s"wrong union-all merged sums: $r")
    sql("drop view t_mv3"); sql("drop table t_mvsrc3")
  }

  // ---- `+`-as-concat still correct under bind-time type tracking -----

  test("string concat via + across idents, functions, and params") {
    val r = engine.execute(
      """select n_name + '!' as a, upper(n_name) + $0 as b,
                n_nationkey + 1 as c, substring(n_name, 1, 2) + n_name as d
         from nation order by n_nationkey limit 1""", Seq("?")).head()
    assert(r.getString(0).endsWith("!"))
    assert(r.getString(1).endsWith("?"))
    assert(r.get(2).toString == "1") // numeric + stays arithmetic
    assert(r.getString(3).length > 2)
  }
}
