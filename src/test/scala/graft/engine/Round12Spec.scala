package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Round-12 semantics (VERDICT r11 missing #1/#2 + ADVICE #1):
  *  - a deferred subquery-bearing conjunct combined with a NEGATED
  *    nested sibling lowers on the negated-nested pair frame (was the
  *    r11 1086-guard clean error);
  *  - grouped deferred bodies lower through the same rail;
  *  - several outer-varying inequalities under nested DISTINCT ON defer
  *    the whole conjunct to the enclosing pair frame's slice window
  *    (was the last fuzz-reachable dialect error).
  * Every expected row set below was cross-checked against DuckDB on the
  * identical fixture (round-12 session log). */
class Round12Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var engine: Engine = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .appName("round12-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine.forTestdata(spark, dir)
    Seq("r12_o", "r12_m", "r12_m2", "r12_t", "r12_n").foreach(t =>
      sql(s"DROP TABLE IF EXISTS $t"))
    sql("CREATE TABLE r12_o (ok Int64)")
    sql("INSERT INTO r12_o VALUES (1), (2), (3), (4)")
    sql("CREATE TABLE r12_m (g Int64, lhs Int64)")
    sql("INSERT INTO r12_m VALUES (1, 100), (2, 600), (3, 100), (4, 300)")
    sql("CREATE TABLE r12_m2 (h Int64, lhs2 Int64)")
    sql("INSERT INTO r12_m2 VALUES (1, 100), (2, 600), (3, 100), (4, 300)")
    sql("CREATE TABLE r12_t (oc Int64, q Int64, v Int64, ord Int64)")
    sql("""INSERT INTO r12_t VALUES
           (1, 35, 100, 1), (1, 15, 200, 2), (1, 45, 300, 3),
           (2, 25, 500, 1), (2, 50, 600, 2),
           (3, null, 700, 1), (3, 60, 800, 2),
           (4, 70, null, 1)""")
    sql("CREATE TABLE r12_n (ok Int64, w Int64, u Int64)")
    sql("""INSERT INTO r12_n VALUES (1, 150, 150), (2, null, null),
           (3, 50, 300), (4, null, null), (9, 100, 100), (10, null, null)""")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sql(s: String): DataFrame = engine.execute(s)
  private def oks(s: String): Seq[Long] = sql(s).collect().toSeq.map(_.getLong(0))

  // ---- deferred conjuncts combined with a negated nested sibling ------

  test("deferred LIMIT-IN + NOT EXISTS sibling lowers on the pair frame") {
    assert(oks("""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok
          AND lhs IN (SELECT v FROM r12_t WHERE q > ok * 10 ORDER BY q LIMIT 2)
          AND NOT EXISTS (SELECT 1 FROM r12_t WHERE oc = g AND v > ok * 100))
      ORDER BY ok""") == Seq(4L))
  }

  test("deferred LIMIT-IN + NOT IN sibling") {
    assert(oks("""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok
          AND lhs IN (SELECT v FROM r12_t WHERE q > ok * 10 ORDER BY q LIMIT 2)
          AND g NOT IN (SELECT oc FROM r12_t WHERE v > ok * 200))
      ORDER BY ok""") == Seq(4L))
  }

  test("deferred conjunct hoisted out of a flatten + negated nested (r11 guard shape)") {
    assert(oks("""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok
          AND EXISTS (SELECT 1 FROM r12_m2 WHERE h = g AND
                      lhs IN (SELECT v FROM r12_t WHERE q > ok * 10
                              ORDER BY q LIMIT 2))
          AND NOT EXISTS (SELECT 1 FROM r12_m2 AS mm
                          WHERE mm.h = g AND mm.lhs2 > ok * 100))
      ORDER BY ok""") == Seq(3L, 4L))
  }

  test("GROUPED deferred body hoisted out of a flatten + negated nested") {
    assert(oks("""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok
          AND EXISTS (SELECT 1 FROM r12_m2 WHERE h = g AND
                      lhs IN (SELECT min(v) FROM r12_t WHERE q > ok * 10
                              GROUP BY oc))
          AND NOT EXISTS (SELECT 1 FROM r12_m2 AS mm
                          WHERE mm.h = g AND mm.lhs2 > ok * 100))
      ORDER BY ok""") == Seq(1L, 3L, 4L))
  }

  test("outer-lhs membership + negated nested sibling (ADVICE r11 #1)") {
    // plain body
    assert(oks("""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok
          AND ok * 100 IN (SELECT v FROM r12_t WHERE v IS NOT NULL)
          AND NOT EXISTS (SELECT 1 FROM r12_m2 AS mm
                          WHERE mm.h = g AND mm.lhs2 > ok * 100))
      ORDER BY ok""") == Seq(1L, 3L))
    // set-op body (subqueryBodiesResolveWithin cannot open it)
    assert(oks("""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok
          AND ok * 100 IN (SELECT v FROM r12_t WHERE v IS NOT NULL AND oc = 1
                           UNION DISTINCT SELECT v FROM r12_t WHERE oc = 2)
          AND NOT EXISTS (SELECT 1 FROM r12_m2 AS mm
                          WHERE mm.h = g AND mm.lhs2 > ok * 100))
      ORDER BY ok""") == Seq(1L, 3L))
  }

  test("pair-frame + negated nested at the middle level") {
    assert(oks("""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok AND EXISTS (
          SELECT 1 FROM r12_m2 WHERE h = g
            AND lhs IN (SELECT v FROM r12_t WHERE q > ok * 10 ORDER BY q LIMIT 2)
            AND NOT EXISTS (SELECT 1 FROM r12_t WHERE oc = h AND v > ok * 100)))
      ORDER BY ok""") == Seq(4L))
  }

  // ---- grouped deferred bodies on the pair-frame rail -----------------

  test("grouped deferred body on the pair-frame rail, with HAVING and NOT IN") {
    assert(oks("""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok AND EXISTS (
          SELECT 1 FROM r12_m2 WHERE h = g AND
            lhs IN (SELECT min(v) FROM r12_t WHERE q > ok * 10 GROUP BY oc)))
      ORDER BY ok""") == Seq(1L, 3L, 4L))
    assert(oks("""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok AND EXISTS (
          SELECT 1 FROM r12_m2 WHERE h = g AND
            lhs IN (SELECT min(v) FROM r12_t WHERE q > ok * 10
                    GROUP BY oc HAVING count(1) >= 2)))
      ORDER BY ok""") == Seq(1L, 3L))
    assert(oks("""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok AND EXISTS (
          SELECT 1 FROM r12_m2 WHERE h = g AND
            lhs NOT IN (SELECT min(v) FROM r12_t WHERE q > ok * 10 GROUP BY oc)))
      ORDER BY ok""") == Seq.empty)
  }

  // ---- sibling branches of the deferred-conjunct class ----------------
  // the aggregated and expression-position nested lowerings also carry
  // the correlation pool; deferred/outer-lhs conjuncts must route to
  // the per-pair machinery there too (they do, via the corrDeep
  // partition — these pins keep that true)

  test("deferred/outer-lhs conjuncts beside aggregated and expr-position nesteds") {
    assert(oks("""
      SELECT ok FROM r12_o WHERE EXISTS (
        SELECT g FROM r12_m WHERE g = ok
          AND ok * 100 IN (SELECT v FROM r12_t WHERE v IS NOT NULL)
          AND EXISTS (SELECT 1 FROM r12_m2 WHERE h = g AND lhs2 > ok * 50)
        GROUP BY g HAVING count(1) >= 1)
      ORDER BY ok""") == Seq(1L, 2L))
    assert(oks("""
      SELECT ok FROM r12_o WHERE EXISTS (
        SELECT g FROM r12_m WHERE g = ok
          AND lhs IN (SELECT v FROM r12_t WHERE q > ok * 10 ORDER BY q LIMIT 2)
          AND EXISTS (SELECT 1 FROM r12_m2 WHERE h = g AND lhs2 > ok * 50)
        GROUP BY g HAVING count(1) >= 1)
      ORDER BY ok""") == Seq(4L))
    assert(oks("""
      SELECT ok FROM r12_o WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok
          AND ok * 100 IN (SELECT v FROM r12_t WHERE v IS NOT NULL)
          AND (EXISTS (SELECT 1 FROM r12_m2 WHERE h = g AND lhs2 > ok * 50)
               OR g > 100))
      ORDER BY ok""") == Seq(1L, 2L))
    assert(oks("""
      SELECT ok FROM r12_o WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok
          AND lhs IN (SELECT v FROM r12_t WHERE q > ok * 10 ORDER BY q LIMIT 2)
          AND (EXISTS (SELECT 1 FROM r12_m2 WHERE h = g AND lhs2 > ok * 50)
               OR g > 100))
      ORDER BY ok""") == Seq(4L))
  }

  // ---- DISTINCT [ON] + OFFSET EXISTS threshold collapse ---------------
  // round 12: the fuzz plan cross-check surfaced this class as
  // correct-but-generic (fz242, seed 2202) — the OFFSET rewrite's
  // countUniqueRows HAVING now collapses to the (off+1)-th best
  // per-tuple extreme. The vacuous second conjunct forces the generic
  // plan (orientMonotoneSingle declines multi-conjunct pools).

  test("DISTINCT ON + OFFSET EXISTS collapses to a scalar threshold") {
    def q(extra: String) = s"""
      SELECT ok FROM r12_o WHERE EXISTS (
        SELECT DISTINCT ON (oc) v FROM r12_t WHERE q > ok * 12$extra
        ORDER BY oc, ord LIMIT 3 OFFSET 3)
      ORDER BY ok"""
    val fast = oks(q(""))
    // per-oc max q = 45, 50, 60, 70; existence needs > 3 distinct oc
    // among passers, i.e. 4th-best max (45) > ok * 12
    assert(fast == Seq(1L, 2L, 3L))
    assert(oks(q(" AND q > ok * 12 - 900000000000000")) == fast)
    val p = sql(q("")).queryExecution.executedPlan.toString
    Seq("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
        "ShuffledHashJoin", "CartesianProduct").foreach(j =>
      assert(!p.contains(j), s"expected join-free collapse, plan has $j"))
    // NOT EXISTS arm + '<' direction + plain-DISTINCT counting
    def qn(extra: String) = s"""
      SELECT ok FROM r12_o WHERE NOT EXISTS (
        SELECT DISTINCT v FROM r12_t WHERE q < ok * 12$extra AND v IS NOT NULL
        ORDER BY v LIMIT 2 OFFSET 1)
      ORDER BY ok"""
    assert(oks(qn("")) == oks(qn(" AND q < ok * 12 + 900000000000000")))
  }

  // ---- NULL domain values, same-table levels, theta membership --------

  test("nested NULL grandparent values, same-table levels, theta IN conjuncts") {
    // (name, query, expected rows — DuckDB on the same fixture)
    val cases = Seq(
      // a NULL grandparent value still reaches the nested level: `q >
      // NULL` empties the nested set, so rows 2 and 4 survive
      ("NULL grandparent under NOT EXISTS", """SELECT ok FROM r12_n WHERE EXISTS (
          SELECT 1 FROM r12_m WHERE g = ok AND NOT EXISTS (
            SELECT 1 FROM r12_t WHERE oc = g AND q > w)) ORDER BY ok""",
        Seq(1L, 2L, 4L)),
      ("NULL grandparent under NOT IN", """SELECT ok FROM r12_n WHERE EXISTS (
          SELECT 1 FROM r12_m WHERE g = ok AND lhs + 700 NOT IN (
            SELECT v FROM r12_t WHERE oc = g AND q > w)) ORDER BY ok""",
        Seq(1L, 2L, 4L)),
      // middle and grandparent read the same table: the unqualified
      // `lhs` is the middle's (the outer's would also keep g = 1)
      ("same-table levels", """SELECT g FROM r12_m WHERE EXISTS (
          SELECT 1 FROM r12_m AS mm WHERE mm.g = r12_m.g + 1 AND EXISTS (
            SELECT 1 FROM r12_t WHERE v = lhs AND oc <= r12_m.g)) ORDER BY g""",
        Seq(2L, 3L)),
      // depth-1 theta membership conjuncts: NULL lhs (rows 2, 4, 10), a
      // NULL value in the set (v of oc 4 while ok * 10 < 70) and an
      // empty set (rows 9, 10)
      ("theta NOT IN", """SELECT ok FROM r12_n
          WHERE u NOT IN (SELECT v FROM r12_t WHERE q > ok * 10) ORDER BY ok""",
        Seq(9L, 10L)),
      ("theta NOT IN, no NULL value", """SELECT ok FROM r12_n
          WHERE u NOT IN (SELECT v FROM r12_t WHERE q > ok * 10 AND v IS NOT NULL)
          ORDER BY ok""",
        Seq(1L, 9L, 10L)),
      ("theta IN", """SELECT ok FROM r12_n
          WHERE u IN (SELECT v FROM r12_t WHERE q > ok * 10) ORDER BY ok""",
        Seq(3L))) ++ {
      // theta IN / NOT IN in expression position, where the three-valued
      // result shows: u IN set is NULL for rows 1, 2, 4 (a NULL value
      // in the set, a NULL lhs), TRUE for row 3, FALSE for the empty
      // sets of rows 9 and 10
      val set = "(SELECT v FROM r12_t WHERE q > ok * 10)"
      val noNull = "(SELECT v FROM r12_t WHERE q > ok * 10 AND v IS NOT NULL)"
      val grouped = "(SELECT max(v) FROM r12_t WHERE q > ok * 10 GROUP BY oc)"
      val limited = "(SELECT v FROM r12_t WHERE q > ok * 10 ORDER BY q LIMIT 2)"
      val scalarIn = "(SELECT min(v) FROM r12_t WHERE q > ok * 10 " +
        "AND v > (SELECT min(lhs) FROM r12_m WHERE g < oc))"
      val inOrIn = "(SELECT min(v) FROM r12_t WHERE q > ok * 10 " +
        "AND (v IN (SELECT lhs FROM r12_m WHERE g <= oc) OR v > 700))"
      val notInIn = "(SELECT min(v) FROM r12_t WHERE q > ok * 10 " +
        "AND NOT (v IN (SELECT lhs FROM r12_m WHERE g <= oc)))"
      val inIn = "u IN (SELECT v FROM r12_t WHERE q > ok * 10 " +
        "AND v >= (SELECT max(lhs) FROM r12_m WHERE g <= oc))"
      val groupedIn = "u IN (SELECT min(v) FROM r12_t WHERE q > ok * 10 " +
        "AND (v IN (SELECT lhs FROM r12_m WHERE g <= oc) OR v > 700) GROUP BY oc)"
      Seq(
        ("theta IN under OR", s"u IN $set OR ok = 10", Seq(3L, 10L)),
        ("theta NOT IN under OR", s"u NOT IN $set OR ok = 1", Seq(1L, 9L, 10L)),
        ("theta IN under NOT", s"NOT (u IN $set OR ok = 1)", Seq(9L, 10L)),
        ("theta NOT IN under NOT", s"NOT (u NOT IN $set OR ok = 9)", Seq(3L)),
        ("theta IN IS NULL", s"(u IN $set) IS NULL", Seq(1L, 2L, 4L)),
        ("theta NOT IN IS NULL", s"(u NOT IN $set) IS NULL", Seq(1L, 2L, 4L)),
        ("theta IN IS NULL, no NULL value", s"(u IN $noNull) IS NULL", Seq(2L, 4L)),
        ("theta NOT IN IS NULL, no NULL value", s"(u NOT IN $noNull) IS NULL",
          Seq(2L, 4L)),
        ("theta IN = false", s"(u IN $set) = false", Seq(9L, 10L)),
        ("grouped theta IN IS NULL", s"(u IN $grouped) IS NULL", Seq(1L, 2L, 4L)),
        ("grouped theta NOT IN under OR", s"u NOT IN $grouped OR ok = 1",
          Seq(1L, 9L, 10L)),
        ("LIMIT theta IN IS NULL", s"(u IN $limited) IS NULL", Seq(2L, 4L)),
        ("LIMIT theta NOT IN under OR", s"u NOT IN $limited OR ok = 1",
          Seq(1L, 9L, 10L)),
        // the select alias shadows its aggregated column: the value is
        // max(v), never max(max(v)). The second LIMIT input keeps oc 4's
        // NULL max in its ORDER BY key: ASC puts it last, as in DuckDB,
        // so row 3 keeps its group
        ("grouped theta IN, self-named alias",
          s"u IN (SELECT max(v) AS v FROM r12_t WHERE q > ok * 10 GROUP BY oc)", Seq(3L)),
        ("grouped theta IN IS NULL, self-named alias",
          s"(u IN (SELECT max(v) AS v FROM r12_t WHERE q > ok * 10 GROUP BY oc)) IS NULL",
          Seq(1L, 2L, 4L)),
        ("LIMIT grouped theta IN, self-named alias", s"u IN (SELECT max(v) AS v " +
          "FROM r12_t WHERE q > ok * 10 AND v IS NOT NULL GROUP BY oc ORDER BY v LIMIT 1)",
          Seq(3L)),
        ("LIMIT grouped theta IN, self-named alias, NULL sort key", s"u IN (SELECT " +
          "max(v) AS v FROM r12_t WHERE q > ok * 10 GROUP BY oc ORDER BY v LIMIT 1)",
          Seq(3L)),
        // theta subqueries as local conjuncts of a theta-correlated body:
        // each joins its per-row result back onto the body's frame before
        // the enclosing lowering re-projects that frame
        ("theta scalar inside a theta scalar", s"$scalarIn = 500", Seq(1L, 2L)),
        ("theta scalar inside a theta scalar, empty", s"$scalarIn IS NULL", Seq(9L, 10L)),
        ("theta IN under OR inside a theta scalar", s"$inOrIn = 100", Seq(1L, 2L, 3L)),
        ("theta IN under NOT inside a theta scalar", s"$notInIn = 300",
          Seq(2L, 3L, 4L)),
        ("theta scalar inside a theta EXISTS", "EXISTS (SELECT 1 FROM r12_t " +
          "WHERE q > ok * 30 AND v > (SELECT min(lhs) FROM r12_m WHERE g < oc))",
          Seq(1L)),
        ("theta scalar inside a theta IN IS NULL", s"($inIn) IS NULL", Seq(2L, 4L)),
        ("theta scalar inside a theta IN", inIn, Seq(3L)),
        ("theta IN inside a grouped theta IN", s"NOT ($groupedIn)",
          Seq(1L, 3L, 9L, 10L))
      ).map { case (name, cond, want) =>
        (name, s"SELECT ok FROM r12_n WHERE $cond ORDER BY ok", want)
      }
    }
    val wrong = cases.flatMap { case (name, q, want) =>
      scala.util.Try(oks(q)).fold(e => Some(s"$name: $e"),
        got => Option.when(got != want)(s"$name: $got"))
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    // the theta membership rows against hand-built joins: membership
    // TRUE or UNKNOWN prunes a NOT IN row; a match keeps an IN row
    def handBuilt(cond: String, neg: Boolean, extra: String = "") = oks(s"""
      SELECT ok FROM r12_n WHERE ${if (neg) "NOT " else ""}EXISTS (
        SELECT 1 FROM r12_t WHERE q > ok * 10$extra AND ($cond)) ORDER BY ok""")
    assert(handBuilt("v = u OR v IS NULL OR u IS NULL", neg = true) == Seq(9L, 10L))
    assert(handBuilt("v = u OR v IS NULL OR u IS NULL", neg = true,
      " AND v IS NOT NULL") == Seq(1L, 9L, 10L))
    assert(handBuilt("v = u", neg = false) == Seq(3L))
  }

  test("theta IN in expression position keeps the presence-marker pair join") {
    // a plain unsliced body builds its set on the left-outer
    // presence-marker join (its `__tmk_` column), not on the banded
    // inner pair frame, with no cartesian and one nested-loop join. The
    // plan is read after the query ran: AQE's final plan, printed ahead
    // of the initial one
    val df = sql("""SELECT ok FROM r12_n
        WHERE (u IN (SELECT v FROM r12_t WHERE q > ok * 10)) IS NULL""")
    df.collect()
    val ran = df.queryExecution.executedPlan.toString
    assert(ran.contains("isFinalPlan=true"), ran)
    val p = ran.split("== Initial Plan ==").head
    assert(p.contains("__tmk_") && p.contains("LeftOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("ORDER BY puts NULLs last in either direction, as DuckDB does") {
    // (name, query, expected rows — DuckDB on the same fixture; r12_n.w
    // is NULL for rows 2, 4 and 10, r12_t has a NULL q for oc 3 and a
    // NULL v for oc 4)
    val cases = Seq(
      ("ASC LIMIT", "SELECT ok FROM r12_n ORDER BY w LIMIT 3", Seq(3L, 9L, 1L)),
      ("DESC LIMIT", "SELECT ok FROM r12_n ORDER BY w DESC LIMIT 3", Seq(1L, 9L, 3L)),
      ("ASC LIMIT OFFSET", "SELECT ok FROM r12_n ORDER BY w, ok LIMIT 2 OFFSET 2",
        Seq(1L, 2L)),
      // the kept set of a WITH TIES slice (DuckDB: rank() <= k)
      ("ASC LIMIT WITH TIES", "SELECT ok FROM (SELECT ok FROM r12_n ORDER BY w " +
        "LIMIT 3 WITH TIES) AS s ORDER BY ok", Seq(1L, 3L, 9L)),
      ("ASC LIMIT WITH TIES into the NULLs", "SELECT ok FROM (SELECT ok FROM r12_n " +
        "ORDER BY w LIMIT 4 WITH TIES) AS s ORDER BY ok", Seq(1L, 2L, 3L, 4L, 9L, 10L)),
      // equality-correlated ORDER BY … LIMIT 1 scalars over NULL sort keys
      ("equality top-1 scalar, NULL ASC key", "SELECT ok FROM r12_n WHERE " +
        "(SELECT v FROM r12_t WHERE oc = ok ORDER BY q LIMIT 1) = 800 ORDER BY ok",
        Seq(3L)),
      ("equality top-1 scalar, NULL DESC key", "SELECT ok FROM r12_n WHERE " +
        "(SELECT q FROM r12_t WHERE oc = ok ORDER BY v DESC LIMIT 1) = 70 ORDER BY ok",
        Seq(4L)))
    val wrong = cases.flatMap { case (name, q, want) =>
      scala.util.Try(oks(q)).fold(e => Some(s"$name: $e"),
        got => Option.when(got != want)(s"$name: $got"))
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  // ---- multi-inequality DISTINCT ON deferral --------------------------

  test("multi-inequality nested DISTINCT ON at depth 3: all directions") {
    def mi(inBody: String): Seq[Long] = oks(s"""
      SELECT ok FROM r12_o
      WHERE EXISTS (
        SELECT 1 FROM r12_m WHERE g = ok AND EXISTS (
          SELECT 1 FROM r12_m2 WHERE h = g AND $inBody))
      ORDER BY ok""")
    assert(mi("""lhs2 IN (SELECT DISTINCT ON (oc) v FROM r12_t
                 WHERE q > ok * 10 AND q < ok * 40 ORDER BY oc, ord)""")
      == Seq(1L, 3L, 4L))
    assert(mi("""lhs2 IN (SELECT DISTINCT ON (oc) v FROM r12_t
                 WHERE q > ok * 10 AND q < ok * 40 ORDER BY oc, ord DESC)""")
      == Seq(2L, 4L))
    assert(mi("""lhs2 NOT IN (SELECT DISTINCT ON (oc) v FROM r12_t
                 WHERE q > ok * 10 AND q < ok * 40 ORDER BY oc, ord)""")
      == Seq.empty)
    assert(mi("""lhs2 IN (SELECT DISTINCT ON (oc) v FROM r12_t
                 WHERE q < ok * 40 AND q + ord > ok * 5 ORDER BY oc, ord)""")
      == Seq(1L, 3L))
    assert(mi("""lhs2 IN (SELECT DISTINCT ON (oc) v FROM r12_t
                 WHERE oc = h AND q > ok * 5 AND q < ok * 40
                 ORDER BY oc, ord)""")
      == Seq(1L))
    // a non-monotone (<>) correlation defers the same way
    assert(mi("""lhs2 IN (SELECT DISTINCT ON (oc) v FROM r12_t
                 WHERE q <> ok * 35 ORDER BY oc, ord)""")
      == Seq(3L))
  }
}
