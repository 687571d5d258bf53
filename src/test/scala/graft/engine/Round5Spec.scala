package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Round-5 hardening (ADVICE r4): bind-time string typing must never
  * silently misclassify (unlisted functions and subst-bound idents fall
  * back to a schema probe instead of defaulting to non-string), and
  * incremental Summing-view maintenance must stay correct for
  * self-referencing INSERTs by reading the delta back from the files
  * the statement wrote. */
class Round5Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var engine: Engine = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .appName("round5-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine.forTestdata(spark, dir)
    // temp views for the spark.sql oracle side of the nested-subquery tests
    Seq("customer", "orders", "lineitem", "nation", "supplier").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sql(s: String): DataFrame = engine.execute(s)
  private def rows(s: String): Seq[Row] = sql(s).collect().toSeq

  // ---- returnsString: unlisted names must probe, not guess ------------

  test("returnsString yields None for names in neither hand-maintained set") {
    assert(FunctionRegistry.returnsString("someFutureFn").isEmpty)
    // arg-dependent shapes stay unlisted (concat: string OR array)
    assert(FunctionRegistry.returnsString("concat").isEmpty)
    assert(FunctionRegistry.returnsString("min").isEmpty)
    assert(FunctionRegistry.returnsString("maxIf").isEmpty)
    // the fast paths still classify without a probe
    assert(FunctionRegistry.returnsString("upper").contains(true))
    assert(FunctionRegistry.returnsString("toYear").contains(false))
  }

  test("`+` on an unlisted function result still concats when it is a string") {
    // max(c_name) is arg-dependent (unlisted) — the probe must classify
    // it as string so `+` concats instead of producing arithmetic NULLs
    val r = rows("select max(c_name) + '!' as s from customer")
    assert(r.size == 1 && r.head.getString(0).endsWith("!"), s"got $r")
  }

  // ---- identIsString: subst-bound group keys ------------------------

  test("string concat of a group key inside a grouped correlated subquery") {
    // inside groupedCorrelated the key column is renamed (gk*) and the
    // ident binds via ctx.subst — no scope claims the original name, so
    // identIsString must fall back to the probe; a false default turns
    // `o_orderstatus + '!'` into arithmetic NULL and matches nothing
    val concat = rows(
      """select c_custkey from customer
         where 'O!' in (select o_orderstatus + '!' from orders
                        where o_custkey = c_custkey group by o_orderstatus)
         order by c_custkey""").map(_.getLong(0))
    val plain = rows(
      """select c_custkey from customer
         where 'O' in (select o_orderstatus from orders
                       where o_custkey = c_custkey group by o_orderstatus)
         order by c_custkey""").map(_.getLong(0))
    assert(plain.nonEmpty, "vacuous fixture: no customer has an 'O' order")
    assert(concat == plain, s"concat path diverged: ${concat.size} vs ${plain.size}")
  }

  // ---- theta decorrelation: 3-valued edges ---------------------------

  test("non-equi correlated IN/NOT IN are 3-valued over NULLs") {
    sql("drop table if exists r5_o"); sql("drop table if exists r5_i")
    sql("create table r5_o (k Int32, v Nullable(Int32))")
    sql("create table r5_i (w Nullable(Int32), lim Int32)")
    // k=1: match (v=10 in {10}); k=2: no match, but a NULL w is in range
    //   → UNKNOWN; k=3: NULL v against non-empty range → UNKNOWN;
    // k=4: empty range → FALSE (IN) / TRUE (NOT IN) even for NULL v
    sql("insert into r5_o values (1, 10), (2, 20), (3, null), (4, null)")
    sql("""insert into r5_i values (10, 10), (null, 20), (99, 30), (7, 30)""")
    def keys(q: String): Seq[Int] = rows(q).map(_.getInt(0)).sorted
    val inq = keys("""select k from r5_o
      where v in (select w from r5_i where lim <= k * 10) order by k""")
    assert(inq == Seq(1), s"IN: $inq")
    val notin = keys("""select k from r5_o
      where v not in (select w from r5_i where lim <= k * 10) order by k""")
    assert(notin == Seq(), s"NOT IN: $notin")
    // k=4 with an empty range: shrink every lim out of reach
    val empty = keys("""select k from r5_o
      where v not in (select w from r5_i where lim < k) order by k""")
    assert(empty == Seq(1, 2, 3, 4), s"NOT IN empty sets: $empty")
    sql("drop table r5_o"); sql("drop table r5_i")
  }

  test("theta scalar over empty match set: count 0, max NULL, having gates") {
    val r = rows("""select c_custkey,
        (select count(*) from orders where o_custkey < c_custkey) as cnt,
        (select max(o_orderkey) from orders where o_custkey < c_custkey) as m
        from customer where c_custkey < 2 order by c_custkey""")
    assert(r.head.getLong(0) == 0 && r.head.getLong(1) == 0L && r.head.isNullAt(2),
      s"custkey 0 should see count 0 / max NULL: ${r.head}")
    assert(r(1).getLong(1) > 0, s"custkey 1 should see orders: ${r(1)}")
    val hv = rows("""select c_custkey,
        (select sum(o_orderkey) from orders where o_custkey < c_custkey
         having count(*) > 1000000) as s
        from customer where c_custkey < 5 order by c_custkey""")
    assert(hv.forall(_.isNullAt(1)), "failed HAVING must NULL the scalar")
  }

  test("theta scalar self-correlation on the same table (rank-by-comparison)") {
    // the fresh-name re-projection of the inner side keeps the two
    // customer lineages distinct — without it Spark's ambiguous-self-
    // join detection rejects the plan
    val r = rows("""select c_custkey,
        (select count(*) from customer as c2 where c2.c_acctbal > customer.c_acctbal) as richer
        from customer where c_custkey < 10 order by c_custkey""")
    assert(r.size == 10)
    val vals = r.map(_.getLong(1))
    assert(vals.exists(_ > 0) && vals.distinct.size > 1,
      s"rank counts should vary: $vals")
  }

  test("theta aggregates with literal args skip the left-join placeholder row") {
    // count(1)/sum(1) reference no inner column, so an unmatched
    // outer key must not count a placeholder row — SQL's empty set
    // says count 0 / sum NULL, not 1
    val r = rows("""select c_custkey,
        (select count(1) from orders where o_custkey < c_custkey) as c1,
        (select sum(1) from orders where o_custkey < c_custkey) as s1
        from customer where c_custkey < 2 order by c_custkey""")
    assert(r.head.getLong(1) == 0L, s"count(1) over empty set must be 0: ${r.head}")
    assert(r.head.isNullAt(2), s"sum(1) over empty set must be NULL: ${r.head}")
    assert(r(1).getLong(1) > 0 && !r(1).isNullAt(2), s"non-empty set: ${r(1)}")
  }

  test("correlated scalar LIMIT: only ORDER BY … LIMIT 1 is accepted") {
    val ok = rows("""select c_custkey,
        (select o_orderkey from orders where o_custkey = c_custkey
         order by o_orderdate desc, o_orderkey desc limit 1) as last_ok
        from customer where c_custkey < 20 order by c_custkey""")
    assert(ok.size == 20 && ok.exists(!_.isNullAt(1)), "top-1 rows expected")
    val e1 = intercept[Exception](rows("""select c_custkey,
        (select o_orderkey from orders where o_custkey = c_custkey
         order by o_orderkey limit 2) as x from customer"""))
    assert(e1.getMessage.contains("LIMIT 1"), e1.getMessage)
    val e2 = intercept[Exception](rows("""select c_custkey,
        (select o_orderkey from orders where o_custkey = c_custkey limit 1) as x
        from customer"""))
    assert(e2.getMessage.toLowerCase.contains("order by"), e2.getMessage)
  }

  // ---- depth-2 nested subqueries --------------------------------------

  test("EXISTS body with an uncorrelated IN subquery conjunct") {
    val r = rows("""select c_custkey from customer
        where exists (select 1 from orders
                      where o_custkey = c_custkey
                        and o_orderkey in (select l_orderkey from lineitem
                                           where l_quantity > 49))
        order by c_custkey""")
    val oracle = spark.sql("""select c_custkey from customer
        where exists (select 1 from orders
                      where o_custkey = c_custkey
                        and o_orderkey in (select l_orderkey from lineitem
                                           where l_quantity > 49))
        order by c_custkey""").collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("EXISTS body with an EXISTS correlated to the immediate parent") {
    val q =
      """select n_name from nation
         where exists (select 1 from supplier
                       where s_nationkey = n_nationkey
                         and exists (select 1 from lineitem
                                     where l_suppkey = s_suppkey
                                       and l_quantity > 49))
         order by n_name"""
    val r = rows(q)
    val oracle = spark.sql(q).collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("IN-subquery body with a nested uncorrelated IN conjunct") {
    val q =
      """select c_custkey from customer
         where c_custkey in (select o_custkey from orders
                             where o_orderkey in (select l_orderkey from lineitem
                                                  where l_quantity > 49))
         order by c_custkey"""
    val r = rows(q)
    val oracle = spark.sql(q).collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("EXISTS body with an uncorrelated scalar-subquery conjunct") {
    val q =
      """select c_custkey from customer
         where exists (select 1 from orders
                       where o_custkey = c_custkey
                         and o_totalprice > (select avg(o_totalprice) from orders))
         order by c_custkey"""
    val r = rows(q)
    val oracle = spark.sql(q).collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  // ---- grandparent correlation (nested-subquery flattening) -----------

  // Spark's own analyzer rejects outer references that skip a scope
  // level, so each oracle below is the HAND-FLATTENED single-level
  // equivalent (∃m ∃i ≡ ∃ over the m⋈i join)

  test("grandparent-correlated nested EXISTS flattens to a join") {
    val r = rows(
      """select c_custkey from customer
         where exists (select 1 from orders
                       where o_custkey = c_custkey
                         and exists (select 1 from lineitem
                                     where l_orderkey = o_orderkey
                                       and l_partkey < c_custkey))
         order by c_custkey""")
    val oracle = spark.sql(
      """select c_custkey from customer
         where exists (select 1 from orders join lineitem on l_orderkey = o_orderkey
                       where o_custkey = c_custkey and l_partkey < c_custkey)
         order by c_custkey""").collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("grandparent-correlated nested IN flattens to a join") {
    val r = rows(
      """select n_nationkey from nation
         where exists (select 1 from supplier
                       where s_nationkey = n_nationkey
                         and s_suppkey in (select l_suppkey from lineitem
                                           where l_partkey < n_nationkey * 10))
         order by n_nationkey""")
    val oracle = spark.sql(
      """select n_nationkey from nation
         where exists (select 1 from supplier join lineitem on s_suppkey = l_suppkey
                       where s_nationkey = n_nationkey and l_partkey < n_nationkey * 10)
         order by n_nationkey""").collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("three-scope predicate inside a depth-2 body binds across all levels") {
    val r = rows(
      """select c_custkey from customer
         where c_custkey < 200
           and exists (select 1 from orders
                       where o_custkey = c_custkey
                         and exists (select 1 from lineitem
                                     where l_orderkey = o_orderkey
                                       and l_extendedprice > o_totalprice - c_acctbal))
         order by c_custkey""")
    val oracle = spark.sql(
      """select c_custkey from customer
         where c_custkey < 200
           and exists (select 1 from orders join lineitem on l_orderkey = o_orderkey
                       where o_custkey = c_custkey
                         and l_extendedprice > o_totalprice - c_acctbal)
         order by c_custkey""").collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("NOT EXISTS at the middle level still anti-joins the flattened frame") {
    val r = rows(
      """select c_custkey from customer
         where c_custkey < 200
           and not exists (select 1 from orders
                           where o_custkey = c_custkey
                             and exists (select 1 from lineitem
                                         where l_orderkey = o_orderkey
                                           and l_partkey < c_custkey))
         order by c_custkey""")
    val oracle = spark.sql(
      """select c_custkey from customer
         where c_custkey < 200
           and not exists (select 1 from orders join lineitem on l_orderkey = o_orderkey
                           where o_custkey = c_custkey and l_partkey < c_custkey)
         order by c_custkey""").collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("depth-3 chain: innermost references the outermost scope") {
    val r = rows(
      """select n_nationkey from nation
         where exists (select 1 from supplier
                       where s_nationkey = n_nationkey
                         and exists (select 1 from customer
                                     where c_nationkey = s_nationkey
                                       and exists (select 1 from orders
                                                   where o_custkey = c_custkey
                                                     and o_orderkey < n_nationkey * 20)))
         order by n_nationkey""")
    val oracle = spark.sql(
      """select n_nationkey from nation
         where exists (select 1 from supplier
                         join customer on c_nationkey = s_nationkey
                         join orders on o_custkey = c_custkey
                       where s_nationkey = n_nationkey
                         and o_orderkey < n_nationkey * 20)
         order by n_nationkey""").collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("nested NOT EXISTS with grandparent-only correlation lowers per row") {
    // the nested body references ONLY the grandparent, so the whole
    // predicate factorizes — the factored form is the Spark-checkable
    // oracle (Spark itself rejects the two-scope original)
    val r = rows(
      """select c_custkey from customer
         where c_custkey < 200
           and exists (select 1 from orders
                       where o_custkey = c_custkey
                         and not exists (select 1 from lineitem
                                         where l_orderkey = c_custkey))
         order by c_custkey""")
    val oracle = spark.sql(
      """select c_custkey from customer
         where c_custkey < 200
           and exists (select 1 from orders where o_custkey = c_custkey)
           and not exists (select 1 from lineitem where l_orderkey = c_custkey)
         order by c_custkey""").collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("nested NOT EXISTS referencing BOTH parent and grandparent lowers per row") {
    // q(o, m, i): the anti-join condition spans all three scopes — the
    // oracle is the manual candidate-pairs decorrelation
    val r = rows(
      """select c_custkey from customer
         where c_custkey < 200
           and exists (select 1 from orders
                       where o_custkey = c_custkey
                         and not exists (select 1 from lineitem
                                         where l_orderkey = o_orderkey
                                           and l_extendedprice > c_acctbal))
         order by c_custkey""")
    // Spark rejects two-scope outer refs, so the oracle decorrelates by
    // hand: candidate (customer, order) pairs, anti-joined, semi'd back
    val oracle = spark.sql(
      """select c_custkey from customer
         where c_custkey < 200
           and c_custkey in (
             select cp.c_custkey from (
               select c_custkey, c_acctbal, o_orderkey
               from customer join orders on o_custkey = c_custkey
               where c_custkey < 200) cp
             where not exists (select 1 from lineitem
                               where l_orderkey = cp.o_orderkey
                                 and l_extendedprice > cp.c_acctbal))
         order by c_custkey""").collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("NOT EXISTS over a body with a grandparent nested NOT EXISTS") {
    // outer negation over the per-row lowering (anti join-back on rid)
    val r = rows(
      """select c_custkey from customer
         where c_custkey < 100
           and not exists (select 1 from orders
                           where o_custkey = c_custkey
                             and not exists (select 1 from lineitem
                                             where l_orderkey = o_orderkey
                                               and l_partkey < c_custkey))
         order by c_custkey""")
    val oracle = spark.sql(
      """select c_custkey from customer
         where c_custkey < 100
           and c_custkey not in (
             select cp.c_custkey from (
               select c_custkey, o_orderkey
               from customer join orders on o_custkey = c_custkey
               where c_custkey < 100) cp
             where not exists (select 1 from lineitem
                               where l_orderkey = cp.o_orderkey
                                 and l_partkey < cp.c_custkey))
         order by c_custkey""").collect().toSeq
    assert(r.nonEmpty && r == oracle, s"${r.size} vs ${oracle.size}")
  }

  test("nested relation sharing the OUTER query's alias errors instead of shadowing") {
    // the nested customer is aliased 'c' like the OUTER customer; after
    // flattening, the middle level's correlated conjunct `c.c_custkey`
    // would bind inner-first against the nested copy — silently wrong
    // rows. Must be a bind error, not a silent shadow.
    val e = intercept[Exception](rows(
      """select c.c_custkey from customer as c
         join nation as n on n.n_nationkey = c.c_nationkey
         where exists (select 1 from orders
                       where o_custkey = c.c_custkey
                         and exists (select 1 from customer as c
                                     where c.c_custkey = o_orderkey
                                       and c.c_acctbal > n.n_nationkey))"""))
    assert(e.getMessage.toLowerCase.contains("more than one enclosing level"),
      e.getMessage)
  }

  // (r5's "nested NOT IN with grandparent correlation stays a clean
  // error" test retired in r6 — the shape now lowers via the NULL-aware
  // per-row anti join; Round6Spec carries its correctness tests.)

  test("grandparent-nested conjunct inside an aggregated EXISTS body lowers per row") {
    // round 6 implemented the shape this test used to pin as an error
    // (lowerExistsNestedAggregated). The nested conjunct here depends
    // only on the GRANDPARENT (c_custkey), so the whole query factors
    // into two independently-lowerable pieces — which the engine itself
    // can compute as the oracle.
    val got = rows(
      """select c_custkey from customer
         where exists (select 1 from orders
                       where o_custkey = c_custkey
                         and exists (select 1 from lineitem
                                     where l_orderkey = c_custkey)
                       group by o_orderstatus
                       having count(*) > 1)
         order by c_custkey""").map(_.getLong(0))
    val want = rows(
      """select c_custkey from customer
         where c_custkey in (select l_orderkey from lineitem)
           and exists (select 1 from orders
                       where o_custkey = c_custkey
                       group by o_orderstatus
                       having count(*) > 1)
         order by c_custkey""").map(_.getLong(0))
    assert(want.nonEmpty, "fixture produced an empty oracle — test is vacuous")
    assert(got == want)
  }

  // ---- Summing maintenance: self-referencing INSERT -------------------

  test("self-referencing INSERT delta-merges from the written files") {
    sql("drop view if exists r5_mv")
    sql("drop table if exists r5_src")
    sql("create table r5_src (k Int32, v Int64)")
    sql("insert into r5_src values (1, 10), (2, 20)")
    sql("create view r5_mv update by Summing order by k as select k, v from r5_src")
    sql("optimize table r5_mv")
    // INSERT INTO t SELECT … FROM t: the delta must be the two rows as
    // of statement start, read back from the written files — never a
    // recompute against the post-append table (which would double-count)
    sql("insert into r5_src select k, v from r5_src")
    def mat: Option[ViewMaterialization] = engine.catalog.get("r5_mv") match {
      case Some(v: Catalog#ViewEntry) => v.materialized
      case _ => None
    }
    assert(mat.exists(_.deps.forall { case (t, ver) =>
      engine.catalog.mutationOf(t) == ver }), "materialization left stale")
    val r = rows("select k, v from r5_mv order by k").map(x => (x.getInt(0), x.getLong(1)))
    assert(r == Seq((1, 20L), (2, 40L)), s"wrong merged sums: $r")
    val base = rows("select count(*) as c from r5_src").head.getLong(0)
    assert(base == 4L, s"base table should have doubled: $base")
    sql("drop view r5_mv"); sql("drop table r5_src")
  }

  test("delta merge on a partitioned table reads partition columns back") {
    sql("drop view if exists r5_mvp")
    sql("drop table if exists r5_srcp")
    sql("create table r5_srcp (k Int32, p String) partition by p")
    sql("insert into r5_srcp values (1, 'a'), (2, 'b')")
    sql("create view r5_mvp update by Summing order by p as select p, k from r5_srcp")
    sql("optimize table r5_mvp")
    // partitioned appends put the partition value in the directory, not
    // the data file — the read-back must restore it via basePath
    sql("insert into r5_srcp values (3, 'a')")
    val r = rows("select p, k from r5_mvp order by p").map(x => (x.getString(0), x.getLong(1)))
    assert(r == Seq(("a", 4L), ("b", 2L)), s"wrong partitioned sums: $r")
    sql("drop view r5_mvp"); sql("drop table r5_srcp")
  }
}
