package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Round-10 semantics: the grandparent-flatten lifts (WITH-bearing
  * bodies; nested IN with DISTINCT ON under equality correlation) and
  * their guard rails, plus the banded grouped-IN routing corners. */
class Round10Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var engine: Engine = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .appName("round10-spec").master("local[4]")
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

  // ---- grandparent flatten: WITH-bearing plain bodies (task #8) --------

  test("WITH-bearing nested body with grandparent correlation flattens") {
    val got = rows(
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 30 AND EXISTS (
           SELECT 1 FROM customer WHERE c_custkey = o_custkey AND EXISTS (
             WITH t AS (SELECT n_nationkey AS nk FROM nation WHERE n_regionkey < 3)
             SELECT 1 FROM t WHERE t.nk = c_nationkey AND t.nk < o_orderkey % 30))
         ORDER BY o_orderkey""").map(_.getLong(0))
    // equivalent without WITH — the CTE is just a named filter
    val want = rows(
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 30 AND EXISTS (
           SELECT 1 FROM customer WHERE c_custkey = o_custkey AND EXISTS (
             SELECT 1 FROM nation WHERE n_regionkey < 3
               AND n_nationkey = c_nationkey AND n_nationkey < o_orderkey % 30))
         ORDER BY o_orderkey""").map(_.getLong(0))
    assert(got.nonEmpty && got == want)
  }

  test("a CTE body reaching an enclosing scope still errors cleanly") {
    val e = intercept[Exception](rows(
      """SELECT o_orderkey FROM orders
         WHERE EXISTS (
           SELECT 1 FROM customer WHERE c_custkey = o_custkey AND EXISTS (
             WITH t AS (SELECT n_nationkey AS nk FROM nation
                        WHERE n_nationkey < o_orderkey)
             SELECT 1 FROM t WHERE t.nk = c_nationkey))"""))
    assert(e.getMessage != null)
  }

  // ---- grandparent flatten: nested IN with DISTINCT ON (task #6) -------

  test("depth-3 nested IN DISTINCT ON keeps the per-key first row") {
    // keep-first per (n_nationkey, n_regionkey): n_name DESC picks the
    // LAST nation name per (key, region) — flipping the direction must
    // change the membership set, proving the window is live
    def q(dirn: String) = rows(
      s"""SELECT o_orderkey FROM orders
          WHERE o_orderkey < 300 AND EXISTS (
            SELECT 1 FROM customer WHERE c_custkey = o_custkey AND EXISTS (
              SELECT 1 FROM supplier WHERE s_nationkey = c_nationkey AND
                s_suppkey IN (SELECT DISTINCT ON (n_regionkey) n_nationkey
                              FROM nation WHERE n_nationkey = o_orderkey % 8
                              ORDER BY n_regionkey, n_name $dirn)))
          ORDER BY o_orderkey""").map(_.getLong(0))
    // the partition key here makes ASC/DESC agree only if each
    // (key, region) group is single-row; with n_nationkey = ok % 8 the
    // body has ≤1 row anyway, so instead assert against the windowless
    // equivalent: a single-row-per-partition body's DISTINCT ON is the
    // identity, and the result must equal the plain-IN form
    val want = rows(
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 300 AND EXISTS (
           SELECT 1 FROM customer WHERE c_custkey = o_custkey AND EXISTS (
             SELECT 1 FROM supplier WHERE s_nationkey = c_nationkey AND
               s_suppkey IN (SELECT n_nationkey FROM nation
                             WHERE n_nationkey = o_orderkey % 8)))
         ORDER BY o_orderkey""").map(_.getLong(0))
    assert(q("ASC").nonEmpty && q("ASC") == want && q("DESC") == want)
  }

  test("nested IN DISTINCT ON keep-first window is live on multi-row partitions") {
    // fixture where the kept row per (correlation key, ON key) differs
    // by direction: two rows share (k, oc) with different values
    sql("DROP TABLE IF EXISTS r10_o"); sql("DROP TABLE IF EXISTS r10_m")
    sql("DROP TABLE IF EXISTS r10_t")
    sql("CREATE TABLE r10_o (ok Int64)")
    sql("INSERT INTO r10_o VALUES (1), (2), (3)")
    sql("CREATE TABLE r10_m (g Int64)")
    sql("INSERT INTO r10_m VALUES (1), (2), (3)")
    sql("CREATE TABLE r10_t (k Int64, oc Int64, v Int64, ord Int64)")
    sql("""INSERT INTO r10_t VALUES
           (1, 10, 100, 1), (1, 10, 200, 2),
           (2, 10, 200, 1), (2, 10, 100, 2), (3, 10, 300, 1)""")
    def q(lhs: Int, dirn: String) = rows(
      s"""SELECT ok FROM r10_o
          WHERE EXISTS (
            SELECT 1 FROM r10_m WHERE g = ok AND
              $lhs IN (SELECT DISTINCT ON (oc) v FROM r10_t
                       WHERE k = ok ORDER BY oc, ord $dirn))
          ORDER BY ok""").map(_.getLong(0))
    // ord ASC keeps v=100 for ok=1 and v=200 for ok=2; DESC flips both
    assert(q(100, "ASC") == Seq(1L) && q(200, "ASC") == Seq(2L))
    assert(q(100, "DESC") == Seq(2L) && q(200, "DESC") == Seq(1L))
    assert(q(300, "ASC") == Seq(3L))
    // the depth-2 form above rides the pair-frame route; the SAME
    // semantics wrapped one level deeper ride the r10 flatten-path
    // window (the IN body references ok THREE scopes up) — both
    // lowerings must agree
    // (columns qualified through the n alias: the flatten join merges
    // the u and n scopes, so bare v/oc/ord would be ambiguous — the
    // same pre-existing rule as every flattened nested body)
    def q3(lhs: Int, dirn: String) = rows(
      s"""SELECT ok FROM r10_o
          WHERE EXISTS (
            SELECT 1 FROM r10_m WHERE g = ok AND EXISTS (
              SELECT 1 FROM r10_t AS u WHERE u.k = g AND
                $lhs IN (SELECT DISTINCT ON (n.oc) n.v FROM r10_t AS n
                         WHERE n.k = ok ORDER BY n.oc, n.ord $dirn)))
          ORDER BY ok""").map(_.getLong(0))
    assert(q3(100, "ASC") == Seq(1L) && q3(200, "ASC") == Seq(2L))
    assert(q3(100, "DESC") == Seq(2L) && q3(200, "DESC") == Seq(1L))
    assert(q3(300, "ASC") == Seq(3L))
  }

  test("nested IN DISTINCT ON guard rails: theta correlation and no ORDER BY") {
    // depth-2 theta DISTINCT ON takes the pair-frame route (qe157/qe158
    // machinery) — the flatten-path guards only apply at depth 3, where
    // the innermost body references the great-grandparent
    def depth3(body: String) =
      s"""SELECT ok FROM r10_o
          WHERE EXISTS (
            SELECT 1 FROM r10_m WHERE g = ok AND EXISTS (
              SELECT 1 FROM r10_t AS u WHERE u.k = g AND $body))"""
    // round 11: a single monotone inequality now LOWERS through the
    // prefix-extremum staircase (Round11Spec pins the semantics); the
    // depth-2 manual flatten is the oracle. Ties are broken by v so the
    // two plans must pick identical kept rows.
    val theta3 = rows(depth3(
      """u.v IN (SELECT DISTINCT ON (t2.oc) t2.v FROM r10_t AS t2
                 WHERE t2.k < ok ORDER BY t2.oc, t2.ord, t2.v)""") +
      " ORDER BY ok").map(_.getLong(0))
    val theta2 = rows(
      """SELECT ok FROM r10_o
         WHERE EXISTS (
           SELECT 1 FROM r10_m JOIN r10_t AS u ON u.k = g
           WHERE g = ok AND
             u.v IN (SELECT DISTINCT ON (t2.oc) t2.v FROM r10_t AS t2
                     WHERE t2.k < ok ORDER BY t2.oc, t2.ord, t2.v))
         ORDER BY ok""").map(_.getLong(0))
    assert(theta3 == Seq(2L) && theta2 == theta3)
    val noOrder = intercept[Exception](rows(depth3(
      """u.v IN (SELECT DISTINCT ON (oc) v FROM r10_t WHERE k = ok)""")))
    assert(noOrder.getMessage.contains("ORDER BY"))
  }

  // ---- EXISTS over set-op bodies (round-10 lift) ------------------------

  test("[NOT] EXISTS over uncorrelated set-op bodies, both positions") {
    // region keys = nation regionkeys → EXCEPT is empty → NOT EXISTS true
    val keep = rows(
      """SELECT n_nationkey FROM nation
         WHERE NOT EXISTS (SELECT r_regionkey FROM region
                           EXCEPT SELECT n_regionkey FROM nation)
         ORDER BY n_nationkey""")
    assert(keep.size == rows("SELECT n_nationkey FROM nation").size)
    // INTERSECT nonempty → EXISTS true everywhere; flipping to an
    // impossible branch empties it
    val f = rows(
      """SELECT n_nationkey,
           CASE WHEN EXISTS (SELECT r_regionkey FROM region WHERE r_regionkey > 3
                             INTERSECT SELECT n_regionkey FROM nation)
                THEN 1 ELSE 0 END AS a,
           CASE WHEN EXISTS (SELECT r_regionkey FROM region WHERE r_regionkey > 99
                             INTERSECT SELECT n_regionkey FROM nation)
                THEN 1 ELSE 0 END AS b
         FROM nation ORDER BY n_nationkey""")
    assert(f.forall(r => r.get(1).toString == "1" && r.get(2).toString == "0"))
    // a correlated set-op branch keeps a clean (unresolved-column) error
    val e = intercept[Exception](rows(
      """SELECT n_nationkey FROM nation
         WHERE EXISTS (SELECT r_regionkey FROM region WHERE r_regionkey = n_regionkey
                       UNION ALL SELECT 1)"""))
    assert(e.getMessage != null)
  }

  // ---- depth-3 constant-true aggregate EXISTS (fuzz find fz203) --------

  test("depth-3 EXISTS over an ungrouped aggregate select is constant-true") {
    // the innermost EXISTS body is `select count(1) …` — one row ALWAYS
    // (SQL's empty-set aggregate row), so it must not gate anything even
    // though its WHERE (n_regionkey > 99) never matches. The old flatten
    // recursion turned it match-dependent at depth 3 (seed-606 fz203).
    def q(innermost: String) =
      s"""SELECT o_orderkey FROM orders
          WHERE o_orderkey < 300 AND EXISTS (
            SELECT 1 FROM customer WHERE c_custkey = o_custkey AND EXISTS (
              SELECT 1 FROM supplier WHERE s_nationkey = c_nationkey$innermost))
          ORDER BY o_orderkey"""
    val got = rows(q(
      """ AND EXISTS (
             SELECT count(1) FROM nation
             WHERE n_nationkey = o_orderkey % 40 AND n_regionkey > 99)"""))
      .map(_.getLong(0))
    val want = rows(q("")).map(_.getLong(0))
    assert(got.nonEmpty && got == want)
    // discrimination: the PLAIN-select form of the same body IS
    // match-dependent, and this body never matches
    val plain = rows(q(
      """ AND EXISTS (
             SELECT 1 FROM nation
             WHERE n_nationkey = o_orderkey % 40 AND n_regionkey > 99)"""))
    assert(plain.isEmpty)
  }

  // ---- prefix-closed theta DISTINCT [ON] fast paths --------------------

  test("prefix-closed theta DISTINCT ON ≡ generic pair frame, NULL corners") {
    sql("drop table if exists r10p_t"); sql("drop table if exists r10p_o")
    sql("create table r10p_t (g Int64, c Int64, v Int64)")
    sql("""insert into r10p_t values
           (1, 10, 100), (1, 10, 90), (2, 5, 200), (2, null, 199),
           (3, null, 300), (null, 8, 400), (4, 9, null)""")
    sql("create table r10p_o (ok Int64, t Int64)")
    sql("insert into r10p_o values (1, 4), (2, 7), (3, 9), (4, 12), (5, 8)")
    // kept per g (order c desc, v asc; NULL-c rows can never match):
    //   g1→(c10,v90) g2→(c5,v200) g3→none gNULL→(c8,v400) g4→(c9,vNULL)
    // groups ranked by g asc = NULLS LAST, as in DuckDB; OFFSET 1 →
    // second survivor (t=4: g1, g2, g4, gNULL → 200; t=7: g1, g4, gNULL
    // → NULL from g4)
    val fast = rows(
      """SELECT ok, (SELECT DISTINCT ON (g) v FROM r10p_t
                     WHERE c > t ORDER BY g, c DESC, v LIMIT 1 OFFSET 1) AS r
         FROM r10p_o ORDER BY ok""")
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
    assert(fast == Seq((1L, 200L), (2L, null), (3L, null), (4L, null), (5L, null)))
    // the SAME query with a vacuous second correlated conjunct takes the
    // generic pair-frame route (fast path requires a single conjunct) —
    // the two lowerings must agree row for row
    val generic = rows(
      """SELECT ok, (SELECT DISTINCT ON (g) v FROM r10p_t
                     WHERE c > t AND c < t + 1000
                     ORDER BY g, c DESC, v LIMIT 1 OFFSET 1) AS r
         FROM r10p_o ORDER BY ok""")
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
    assert(generic == fast)
  }

  test("theta DISTINCT membership-by-best ≡ generic, NULL value ranks last") {
    // distinct values with best c: 100→10, 90→10, 200→5, 199/300→never
    // (NULL c), 400→8, NULL→9; ORDER BY v DESC puts the NULL value LAST
    val fast = rows(
      """SELECT ok, (SELECT DISTINCT v FROM r10p_t
                     WHERE c > t ORDER BY v DESC LIMIT 1 OFFSET 1) AS r
         FROM r10p_o ORDER BY ok""")
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
    assert(fast == Seq((1L, 200L), (2L, 100L), (3L, 90L), (4L, null), (5L, 90L)))
    val generic = rows(
      """SELECT ok, (SELECT DISTINCT v FROM r10p_t
                     WHERE c > t AND c < t + 1000
                     ORDER BY v DESC LIMIT 1 OFFSET 1) AS r
         FROM r10p_o ORDER BY ok""")
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
    assert(generic == fast)
  }

  test("misaligned ORDER BY keeps the generic plan and stays correct") {
    // correlation column c is NOT the first post-ON sort key → the
    // prefix-closure does not hold and the fast path must NOT engage;
    // kept row per g is now min-v first, surviving iff ITS c passes —
    // g1: kept (v90,c10); g2: kept (v199,cNULL) — dies under any t even
    // though (v200,c5) would survive t=4: membership is row-dependent
    val got = rows(
      """SELECT ok, (SELECT DISTINCT ON (g) v FROM r10p_t
                     WHERE c > t ORDER BY g, v LIMIT 1 OFFSET 1) AS r
         FROM r10p_o WHERE ok = 1 ORDER BY ok""")
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
    // t=4: per-group kept over FILTERED rows (c>4): g1→90 (ties → v asc
    // 90), g2→200, gNULL→400, g4→NULL; rank by g NULLS LAST, as in
    // DuckDB: 90, 200, NULL, 400 → OFFSET 1 → 200
    assert(got == Seq((1L, 200L)))
  }

  test("prefix-closed theta LIMIT IN ≡ generic, 3-valued corners") {
    sql("drop table if exists r10l_t"); sql("drop table if exists r10l_o")
    sql("create table r10l_t (g Int64, c Int64, v Int64)")
    sql("""insert into r10l_t values
           (1, 10, 100), (1, 10, 90), (2, 5, 200), (2, null, 199),
           (3, null, 300), (null, 8, 400), (4, 9, null)""")
    sql("create table r10l_o (ok Int64, t Int64)")
    sql("insert into r10l_o values (1, 4), (3, 9), (4, 12), (100, 4)")
    // non-NULL-c rows by (c desc, v asc): (10,90) (10,100) (9,NULL)
    // (8,400) (5,200); LIMIT 2 OFFSET 1 → global ranks 2..3 =
    // {(c10,v100), (c9,vNULL)}, each kept per outer iff its c > t:
    //   ok=1,t=4  → {100,NULL}: no match + NULL member → NULL
    //   ok=3,t=9  → {100}: no match, no NULL → FALSE
    //   ok=4,t=12 → {}: FALSE
    //   ok=100,t=4→ {100,NULL}: match → TRUE
    def q(extra: String) = s"""
      SELECT ok, (ok IN (SELECT v FROM r10l_t WHERE c > t$extra
                         ORDER BY c DESC, v LIMIT 2 OFFSET 1)) AS m
      FROM r10l_o ORDER BY ok"""
    val fast = rows(q(""))
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getBoolean(1)))
    assert(fast == Seq((1L, null), (3L, false), (4L, false), (100L, true)))
    // vacuous second conjunct → generic pair-frame plan; must agree
    val generic = rows(q(" AND c < t + 1000"))
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getBoolean(1)))
    assert(generic == fast)
  }

  // ---- monotone-threshold collapse for grouped theta EXISTS ------------

  test("grouped theta EXISTS collapses to a scalar threshold ≡ generic") {
    sql("drop table if exists r10m_t"); sql("drop table if exists r10m_o")
    sql("create table r10m_t (g Int64, c Int64)")
    // per-group 2nd-largest c: g1→8 (10,8,8,2 — ties rank separately),
    // g2→7 (9,7,5), g3→none (single non-NULL row), gNULL→14 (15,14)
    sql("""insert into r10m_t values
           (1, 10), (1, 8), (1, 8), (1, 2), (2, 9), (2, 7), (2, 5),
           (3, 20), (3, null), (null, 15), (null, 14)""")
    sql("create table r10m_o (ok Int64, t Int64)")
    sql("insert into r10m_o values (1, 7), (2, 8), (3, 20), (4, null)")
    def q(extra: String, off: String) = s"""
      SELECT ok FROM r10m_o
      WHERE EXISTS (SELECT 1 FROM r10m_t WHERE c > t$extra
                    GROUP BY g HAVING count(1) >= 2$off)
      ORDER BY ok"""
    // off=0: T* = max{8,7,14} = 14 → EXISTS ⟺ 14 > t; NULL t → false
    val fast0 = rows(q("", "")).map(_.getLong(0))
    assert(fast0 == Seq(1L, 2L))
    assert(rows(q(" AND c < t + 1000000", "")).map(_.getLong(0)) == fast0)
    // OFFSET 1: needs 2 surviving groups → T* = 2nd-largest threshold 8
    val fast1 = rows(q("", " LIMIT 10 OFFSET 1")).map(_.getLong(0))
    assert(fast1 == Seq(1L))
    assert(rows(q(" AND c < t + 1000000", " LIMIT 10 OFFSET 1"))
      .map(_.getLong(0)) == fast1)
    // reversed HAVING literal orientation takes the same fast path
    assert(rows(
      """SELECT ok FROM r10m_o
         WHERE EXISTS (SELECT 1 FROM r10m_t WHERE c > t
                       GROUP BY g HAVING 2 <= count(1))
         ORDER BY ok""").map(_.getLong(0)) == fast0)
  }

  test("DISTINCT ON group-key merge under OFFSET ≡ generic") {
    sql("drop table if exists r10m_t2"); sql("drop table if exists r10m_o2")
    sql("create table r10m_t2 (a Int64, b Int64, c Int64)")
    // group (a,b) max c: (1,1)→10 (1,2)→8 (2,1)→7 (2,2)→6 (NULL,1)→5,
    // (1,3) has only NULL c → never survives; distinct-a thresholds:
    // a1→10, a2→7, aNULL→5; OFFSET 1 → T* = 7
    sql("""insert into r10m_t2 values
           (1, 1, 10), (1, 1, 9), (1, 2, 8), (2, 1, 7), (2, 2, 6),
           (null, 1, 5), (1, 3, null)""")
    sql("create table r10m_o2 (ok Int64, t Int64)")
    sql("insert into r10m_o2 values (1, 6), (2, 7), (3, 4), (4, null)")
    def q(extra: String) = s"""
      SELECT ok FROM r10m_o2
      WHERE EXISTS (SELECT DISTINCT ON (a) a FROM r10m_t2 WHERE c > t$extra
                    GROUP BY a, b LIMIT 5 OFFSET 1)
      ORDER BY ok"""
    val fast = rows(q("")).map(_.getLong(0))
    assert(fast == Seq(1L, 3L))
    assert(rows(q(" AND c < t + 1000000")).map(_.getLong(0)) == fast)
    // DISTINCT ON over a pure FUNCTION of a group key merges the same
    // way (a%2: v1→10, v0→7, vNULL→5 — T* at OFFSET 1 is again 7)
    def qf(extra: String) = s"""
      SELECT ok FROM r10m_o2
      WHERE EXISTS (SELECT DISTINCT ON (a % 2) b FROM r10m_t2 WHERE c > t$extra
                    GROUP BY a, b LIMIT 5 OFFSET 1)
      ORDER BY ok"""
    val fastF = rows(qf("")).map(_.getLong(0))
    assert(fastF == Seq(1L, 3L))
    assert(rows(qf(" AND c < t + 1000000")).map(_.getLong(0)) == fastF)
  }

  test("NOT EXISTS '<' direction in expression position ≡ generic") {
    // per-group 2nd-SMALLEST c: g1→8, g2→7, gNULL→15 → T* = min = 7;
    // EXISTS ⟺ 7 < t; NULL t → NOT EXISTS true (empty match set)
    def q(extra: String) = s"""
      SELECT ok, (ok < 0 OR NOT EXISTS (
        SELECT 1 FROM r10m_t WHERE c < t$extra
        GROUP BY g HAVING count(*) > 1)) AS m
      FROM r10m_o ORDER BY ok"""
    val fast = rows(q(""))
      .map(r => (r.getLong(0), r.getBoolean(1)))
    assert(fast == Seq((1L, true), (2L, false), (3L, false), (4L, true)))
    assert(rows(q(" AND c > t - 1000000"))
      .map(r => (r.getLong(0), r.getBoolean(1))) == fast)
  }

  test("grouped theta IN value-threshold table ≡ generic, 3-valued") {
    // reuses r10m_t (thresholds at count>=2: g1→8, g2→7, g3→none,
    // gNULL→14); lhs/t matrix drives every 3-valued arm
    sql("drop table if exists r10v_o")
    sql("create table r10v_o (ok Int64, lhs Int64, t Int64)")
    sql("""insert into r10v_o values
           (1, 1, 7), (2, 2, 7), (3, null, 7), (4, 1, 20),
           (5, 2, 13), (6, 1, null)""")
    def q(sel: String, extra: String) = s"""
      SELECT ok, (lhs IN (SELECT $sel FROM r10m_t WHERE c > t$extra
                          GROUP BY g HAVING count(1) >= 2)) AS m
      FROM r10v_o ORDER BY ok"""
    def run(s: String) = rows(s)
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getBoolean(1)))
    // t=7 → members {1, NULL}; t=13 → {NULL}; t=20 / t NULL → empty
    val fast = run(q("g", ""))
    assert(fast == Seq((1L, true), (2L, null), (3L, null), (4L, false),
      (5L, null), (6L, false)))
    assert(run(q("g", " AND c < t + 1000000")) == fast)
    // NOT IN flips true↔false through the caller's 3-valued negation
    val neg = rows(s"""
      SELECT ok, (lhs NOT IN (SELECT g FROM r10m_t WHERE c > t
                              GROUP BY g HAVING count(1) >= 2)) AS m
      FROM r10v_o ORDER BY ok""")
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getBoolean(1)))
    assert(neg == Seq((1L, false), (2L, null), (3L, null), (4L, true),
      (5L, null), (6L, true)))
    // value = f(group key) merges group thresholds per VALUE:
    // v1 = max(8) = 8, v0 = 7, vNULL = 14 (g NULL → g%2 NULL)
    val merged = run(q("g % 2", ""))
    assert(merged == Seq((1L, true), (2L, null), (3L, null), (4L, false),
      (5L, null), (6L, false)))
    assert(run(q("g % 2", " AND c < t + 1000000")) == merged)
  }

  test("DISTINCT ON staircase IN ≡ generic, 3-valued, both directions") {
    sql("drop table if exists r10s_t"); sql("drop table if exists r10s_o")
    sql("create table r10s_t (g Int64, q Int64, v Int64, rid Int64)")
    // g1 sorted by v desc: 100(q5) 90(q8) 80(q3) 70(q10) — '>' records
    // {100,90,70}; g2: 60(q9) NULL(q12) — NULL-v record exists (q12);
    // g3: single 50(q2)
    sql("""insert into r10s_t values
           (1, 5, 100, 1), (1, 8, 90, 2), (1, 3, 80, 3), (1, 10, 70, 4),
           (2, 9, 60, 5), (2, 12, null, 6), (3, 2, 50, 7)""")
    sql("create table r10s_o (ok Int64, lhs Int64, t Int64)")
    sql("""insert into r10s_o values
           (1, 100, 4), (2, 70, 9), (3, 60, 11), (4, 50, 1),
           (5, 100, 12), (6, null, 4), (7, 100, null)""")
    def q(extra: String) = s"""
      SELECT ok, (lhs IN (SELECT DISTINCT ON (g) v FROM r10s_t
                          WHERE q > t$extra ORDER BY g, v DESC, rid)) AS m
      FROM r10s_o ORDER BY ok"""
    def run(s: String) = rows(s)
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getBoolean(1)))
    // kept per t: t=4→{100,60}; t=9→{70,NULL}; t=11→{NULL}; t=1→
    // {100,60,50}; t=12/t NULL→{}
    val fast = run(q(""))
    assert(fast == Seq((1L, true), (2L, true), (3L, null), (4L, true),
      (5L, false), (6L, null), (7L, false)))
    assert(run(q(" AND q < t + 1000000")) == fast)
    // '<' direction: prefix-MINIMA records (g1: {100(5), 80(3)})
    def ql(extra: String) = s"""
      SELECT ok, (lhs IN (SELECT DISTINCT ON (g) v FROM r10s_t
                          WHERE q < t$extra ORDER BY g, v DESC, rid)) AS m
      FROM r10s_o ORDER BY ok"""
    // kept per t: t=4→{80,50}; t=9→{100,50}; t=11→{100,60,50};
    // t=1/t NULL→{}; t=12→{100,60,50}
    val fastL = run(ql(""))
    assert(fastL == Seq((1L, false), (2L, false), (3L, true), (4L, false),
      (5L, true), (6L, null), (7L, false)))
    assert(run(ql(" AND q > t - 1000000")) == fastL)
  }

  test("depth-3 nested IN with an aggregate select lowers on the pair frame") {
    // round 11: the aggregate-valued IN defers whole to the enclosing
    // pair frame (r10 kept a clean error here). The scalar-comparison
    // rewrite is the oracle: max(n_nationkey) over a filter is a single
    // value, so membership ≡ equality against the correlated scalar.
    val got = rows(
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 300 AND EXISTS (
           SELECT 1 FROM customer WHERE c_custkey = o_custkey AND EXISTS (
             SELECT 1 FROM supplier WHERE s_nationkey = c_nationkey AND
               s_suppkey % 4 + 20 IN (SELECT max(n_nationkey) FROM nation
                                  WHERE n_regionkey = o_orderkey % 5)))
         ORDER BY o_orderkey""").map(_.getLong(0))
    val want = rows(
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 300 AND EXISTS (
           SELECT 1 FROM customer WHERE c_custkey = o_custkey AND EXISTS (
             SELECT 1 FROM supplier WHERE s_nationkey = c_nationkey AND
               s_suppkey % 4 + 20 = (SELECT max(n_nationkey) FROM nation
                                 WHERE n_regionkey = o_orderkey % 5)))
         ORDER BY o_orderkey""").map(_.getLong(0))
    assert(got.nonEmpty && got == want)
  }
}
