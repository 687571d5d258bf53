package graft.queries

/** Round-9 additions.
  *
  * Dialect: the last r8 missing-list corners — DISTINCT ON bodies under
  * theta-correlated scalar top-1 (qe164), and the grandparent-correlated
  * DISTINCT ON forms — plus NULL-tuple corners for the
  * EXISTS-over-DISTINCT-with-OFFSET count rewrite (qe165–qe167,
  * ADVICE r8 #1: DISTINCT keeps a NULL-keyed row, so the "more than o
  * rows" count must count NULL tuples too; TPC-H columns are non-null,
  * so these entries build their own fixtures through the engine's DDL
  * path and use table-free VALUES oracles).
  *
  * Reference grammar composes all of these freely:
  * /root/reference/src/parser/mod.rs:349-360 (DISTINCT ON in any body),
  * :1229-1245 (scalar subqueries anywhere), :503-544 (LIMIT/OFFSET).
  */
object Round9Queries {

  private def engineSql(name: String, oracle: String, nutql: String): QueryDef =
    QueryDef(name, Some(oracle), (s, dir) => Engines.get(s, dir).execute(nutql))

  private def script(name: String, oracle: Option[String],
      stmts: String => Seq[String]): QueryDef =
    QueryDef(name, oracle, (s, dir) => {
      val e = Engines.get(s, dir)
      val list = stmts(dir)
      list.init.foreach(e.execute(_))
      e.execute(list.last)
    })

  val defs: Seq[QueryDef] = Seq(

    // ---- theta scalar DISTINCT ON top-1 (VERDICT r8 missing #1) ---------
    // DISTINCT ON (k) v … ORDER BY … LIMIT 1 OFFSET 1 under a
    // non-equality correlation: per outer row, keep-first per ON-key in
    // the body's ORDER BY, then the rank picks the SECOND surviving
    // key-group's row. Deterministic: the ORDER BY leads with the ON
    // key and tie-breaks to the selected value, so equal sort keys
    // imply equal values. Rides the equi-depth band pre-thin at real
    // scale (lineitem inner > the small-inner cutoff at sf0.01+).
    // outer capped at < 300 like the rest of the theta scalar family
    // (qe150): the candidate frame is outer × matching-fraction ×
    // inner, and a 10000-key cap benched 172 s at sf0.1 — the lowering
    // was the intended banded plan, the ENTRY was 33× oversized
    engineSql("qe164_scalar_theta_distinct_on",
      """SELECT o_orderkey,
           (SELECT DISTINCT ON (l_returnflag) l_suppkey FROM lineitem
            WHERE l_extendedprice > o_totalprice / 2
            ORDER BY l_returnflag, l_extendedprice DESC, l_suppkey
            LIMIT 1 OFFSET 1) AS v
         FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""",
      """select o_orderkey,
           (select distinct on (l_returnflag) l_suppkey from lineitem
            where l_extendedprice > o_totalprice / 2
            order by l_returnflag, l_extendedprice desc, l_suppkey
            limit 1 offset 1) as v
         from orders where o_orderkey < 300 order by o_orderkey"""),

    // ---- EXISTS over DISTINCT with OFFSET: NULL-tuple corner ------------
    // x values per key — 1:{NULL,5} (2 DISTINCT rows: the NULL row
    // counts), 2:{3}, 3:{NULL,NULL} (1), 4:{} — only key 1 has more
    // than one distinct row, so only it survives OFFSET 1. The old
    // count_distinct rewrite dropped the NULL row and returned the
    // empty set (ADVICE r8 #1).
    script("qe165_exists_distinct_offset_nulls",
      Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe165_o",
        "drop table if exists qe165_t",
        "create table qe165_t (k Int64, x Int64)",
        "insert into qe165_t values (1, null), (1, 5), (2, 3), (3, null), (3, null)",
        "create table qe165_o (ok Int64)",
        "insert into qe165_o values (1), (2), (3), (4)",
        """select ok from qe165_o
           where exists (select distinct x from qe165_t where k = ok limit 100 offset 1)
           order by ok""")),

    // ---- the DISTINCT ON form of the same corner ------------------------
    // DISTINCT ON (x) keeps one row per x-VALUE including the NULL
    // group — key 1 has groups {NULL, 5} → 2 rows → survives OFFSET 1;
    // key 3's two NULLs are ONE group → does not.
    script("qe166_exists_distinct_on_offset_nulls",
      Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe166_o",
        "drop table if exists qe166_t",
        "create table qe166_t (k Int64, x Int64)",
        "insert into qe166_t values (1, null), (1, 5), (2, 3), (3, null), (3, null)",
        "create table qe166_o (ok Int64)",
        "insert into qe166_o values (1), (2), (3), (4)",
        """select ok from qe166_o
           where exists (select distinct on (x) x from qe166_t
                         where k = ok order by x limit 100 offset 1)
           order by ok""")),

    // ---- the nested (grandparent-correlated) form of the corner ---------
    // the same count rewrite fires one level deeper (Binder's nested
    // variant): the inner EXISTS body correlates with the GRANDPARENT
    // key, and its DISTINCT row count must again include the NULL row.
    script("qe167_exists_distinct_offset_nulls_nested",
      Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe167_o",
        "drop table if exists qe167_m",
        "drop table if exists qe167_t",
        "create table qe167_t (k Int64, x Int64)",
        "insert into qe167_t values (1, null), (1, 5), (2, 3), (3, null), (3, null)",
        "create table qe167_m (g Int64)",
        "insert into qe167_m values (1), (2), (3), (4)",
        "create table qe167_o (ok Int64)",
        "insert into qe167_o values (1), (2), (3), (4)",
        """select ok from qe167_o
           where exists (
             select 1 from qe167_m
             where g = ok
               and exists (select distinct x from qe167_t where k = ok limit 100 offset 1))
           order by ok""")),

    // ---- grouped DISTINCT [ON] under EXISTS-with-OFFSET (r8 missing #2
    // lifted, plus a SILENT-WRONG fix: the old lowering counted
    // surviving GROUPS, but post-DISTINCT the body has one row per
    // ON-key/select tuple — `DISTINCT ON (s) … GROUP BY s, p OFFSET 1`
    // is about distinct s values, however many (s, p) groups exist) ----
    engineSql("qe168_exists_grouped_distinct_on_offset",
      """SELECT c_custkey FROM customer
         WHERE EXISTS (SELECT DISTINCT ON (o_orderstatus) o_orderstatus
                       FROM orders WHERE o_custkey = c_custkey
                       GROUP BY o_orderstatus, o_orderpriority
                       LIMIT 100 OFFSET 1)
         ORDER BY c_custkey""",
      """select c_custkey from customer
         where exists (select distinct on (o_orderstatus) o_orderstatus
                       from orders where o_custkey = c_custkey
                       group by o_orderstatus, o_orderpriority
                       limit 100 offset 1)
         order by c_custkey"""),

    // the THETA-correlated form of the same corner: non-equality
    // correlation routes the banded grouped aggregation; the OFFSET
    // count is distinct l_returnflag values with matching rows, not
    // (returnflag, linestatus) group count
    engineSql("qe169_exists_theta_grouped_distinct_on_offset",
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 2000 AND EXISTS (
           SELECT DISTINCT ON (l_returnflag) l_returnflag FROM lineitem
           WHERE l_extendedprice > o_totalprice / 50
           GROUP BY l_returnflag, l_linestatus
           LIMIT 100 OFFSET 2)
         ORDER BY o_orderkey""",
      """select o_orderkey from orders
         where o_orderkey < 2000 and exists (
           select distinct on (l_returnflag) l_returnflag from lineitem
           where l_extendedprice > o_totalprice / 50
           group by l_returnflag, l_linestatus
           limit 100 offset 2)
         order by o_orderkey"""),

    // grandparent-correlated grouped DISTINCT ON + OFFSET, with BOTH
    // discriminators in one fixture: k=4 has 2 groups but 1 distinct
    // ON-tuple (group counting wrongly keeps it) and k=3's distinct
    // tuples are {NULL, 7} (NULL-dropping counting wrongly drops it)
    script("qe170_nested_grouped_distinct_on_offset",
      Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe170_o",
        "drop table if exists qe170_m",
        "drop table if exists qe170_t",
        "create table qe170_t (k Int64, x Int64, y Int64)",
        """insert into qe170_t values
           (1, 1, 7), (1, 2, 7), (1, 3, 8),
           (2, 1, 7), (2, 2, 8), (2, 3, 9),
           (3, 1, null), (3, 2, null), (3, 3, 7),
           (4, 1, 7), (4, 2, 7)""",
        "create table qe170_m (g Int64)",
        "insert into qe170_m values (1), (2), (3), (4), (5)",
        "create table qe170_o (ok Int64)",
        "insert into qe170_o values (1), (2), (3), (4), (5)",
        """select ok from qe170_o
           where exists (
             select 1 from qe170_m
             where g = ok
               and exists (select distinct on (y) 1 from qe170_t
                           where k = ok group by x, y limit 100 offset 1))
           order by ok""")),

    // depth-1 equality, plain DISTINCT over a GROUPED body + OFFSET:
    // same two discriminators (k=4 collapses to one distinct select
    // tuple; k=3's tuples include a NULL row)
    script("qe171_exists_grouped_distinct_offset",
      Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe171_o",
        "drop table if exists qe171_t",
        "create table qe171_t (k Int64, x Int64, y Int64)",
        """insert into qe171_t values
           (1, 1, 7), (1, 2, 7), (1, 3, 8),
           (2, 1, 7), (2, 2, 8), (2, 3, 9),
           (3, 1, null), (3, 2, null), (3, 3, 7),
           (4, 1, 7), (4, 2, 7)""",
        "create table qe171_o (ok Int64)",
        "insert into qe171_o values (1), (2), (3), (4), (5)",
        """select ok from qe171_o
           where exists (select distinct y from qe171_t
                         where k = ok group by x, y limit 100 offset 1)
           order by ok""")),

    // EXPRESSION-position EXISTS (under OR) + DISTINCT + OFFSET over a
    // PLAIN body: the mark-join path counted raw rows where the
    // conjunct path already counted distinct tuples (the ADVICE r8 fix
    // had not reached bindExistsExpr) — k=4's rows are two copies of
    // y=7 (raw 2 > 1 wrongly true), k=3 needs the NULL tuple counted
    script("qe172_exists_expr_distinct_offset",
      Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe172_o",
        "drop table if exists qe172_t",
        "create table qe172_t (k Int64, x Int64, y Int64)",
        """insert into qe172_t values
           (1, 1, 7), (1, 2, 7), (1, 3, 8),
           (2, 1, 7), (2, 2, 8), (2, 3, 9),
           (3, 1, null), (3, 2, null), (3, 3, 7),
           (4, 1, 7), (4, 2, 7)""",
        "create table qe172_o (ok Int64)",
        "insert into qe172_o values (1), (2), (3), (4), (5)",
        """select ok from qe172_o
           where ok > 100 or exists (select distinct y from qe172_t
                                     where k = ok limit 100 offset 1)
           order by ok""")),

    // the GROUPED expression-position form (bindExistsExpr's aggregated
    // branch): DISTINCT ON over (x, y) groups under OR
    script("qe173_exists_expr_grouped_distinct_on_offset",
      Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe173_o",
        "drop table if exists qe173_t",
        "create table qe173_t (k Int64, x Int64, y Int64)",
        """insert into qe173_t values
           (1, 1, 7), (1, 2, 7), (1, 3, 8),
           (2, 1, 7), (2, 2, 8), (2, 3, 9),
           (3, 1, null), (3, 2, null), (3, 3, 7),
           (4, 1, 7), (4, 2, 7)""",
        "create table qe173_o (ok Int64)",
        "insert into qe173_o values (1), (2), (3), (4), (5)",
        """select ok from qe173_o
           where ok > 100 or exists (select distinct on (y) 1 from qe173_t
                                     where k = ok group by x, y limit 100 offset 1)
           order by ok""")),

    // ---- IN-form GROUPED bodies with DISTINCT ON / LIMIT (the last
    // guarded composition: membership = the window-kept slice of the
    // HAVING-surviving GROUPS' select values, per outer row; previously
    // a clean error at every depth while the reference grammar composes
    // freely — mod.rs:349-360,503-544,1404) --------------------------
    // equality correlation: per customer, group orders by (status,
    // priority), keep the max-count row per status (kept VALUE is
    // deterministic under count ties), slice statuses (1, 3] by
    // (status, count DESC), membership of count%7 == 2
    engineSql("qe174_in_grouped_distinct_on_limit",
      """SELECT c_custkey FROM customer
         WHERE 2 IN (SELECT DISTINCT ON (o_orderstatus) count(1) % 7
                     FROM orders WHERE o_custkey = c_custkey
                     GROUP BY o_orderstatus, o_orderpriority
                     ORDER BY o_orderstatus, count(1) DESC
                     LIMIT 2 OFFSET 1)
         ORDER BY c_custkey""",
      """select c_custkey from customer
         where 2 in (select distinct on (o_orderstatus) count(*) % 7
                     from orders where o_custkey = c_custkey
                     group by o_orderstatus, o_orderpriority
                     order by o_orderstatus, count(*) desc
                     limit 2 offset 1)
         order by c_custkey"""),

    // the THETA form: non-equality correlation routes the rid-frame
    // grouped windows (thetaIn over the grouped step thetaGroups)
    engineSql("qe175_in_theta_grouped_distinct_on_limit",
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 300 AND
           3 IN (SELECT DISTINCT ON (l_returnflag) count(1) % 7
                 FROM lineitem WHERE l_extendedprice > o_totalprice / 5
                 GROUP BY l_returnflag, l_linestatus
                 ORDER BY l_returnflag, count(1) DESC
                 LIMIT 2 OFFSET 1)
         ORDER BY o_orderkey""",
      """select o_orderkey from orders
         where o_orderkey < 300 and
           3 in (select distinct on (l_returnflag) count(*) % 7
                 from lineitem where l_extendedprice > o_totalprice / 5
                 group by l_returnflag, l_linestatus
                 order by l_returnflag, count(*) desc
                 limit 2 offset 1)
         order by o_orderkey"""),

    // three-valued NOT IN over the grouped DISTINCT ON set: a NULL
    // aggregate among the kept values makes membership UNKNOWN (row
    // dropped), the empty set keeps the row
    script("qe176_notin_grouped_distinct_on_nulls",
      Some("SELECT * FROM (VALUES (CAST(2 AS BIGINT)), (CAST(4 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe176_o",
        "drop table if exists qe176_t",
        "create table qe176_t (k Int64, x Int64, y Int64, z Int64)",
        """insert into qe176_t values
           (1, 1, 7, 1), (1, 2, 8, null),
           (2, 1, 7, 5),
           (3, 1, 7, null)""",
        "create table qe176_o (ok Int64)",
        "insert into qe176_o values (1), (2), (3), (4)",
        """select ok from qe176_o
           where ok not in (select distinct on (y) max(z) from qe176_t
                            where k = ok group by x, y
                            order by y, max(z) limit 100)
           order by ok""")),

    // the GRANDPARENT-correlated form: the grouped slice runs on the
    // (outer × middle) pair frame (joinNestedAggBody's window branch)
    script("qe177_nested_in_grouped_distinct_on_limit",
      Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe177_o",
        "drop table if exists qe177_m",
        "drop table if exists qe177_t",
        "create table qe177_t (k Int64, x Int64, y Int64)",
        """insert into qe177_t values
           (1, 1, 7), (1, 1, 7), (1, 2, 7), (1, 1, 8),
           (2, 1, 7), (2, 2, 8), (2, 3, 9)""",
        "create table qe177_m (g Int64)",
        "insert into qe177_m values (1), (2), (3)",
        "create table qe177_o (ok Int64)",
        "insert into qe177_o values (1), (2), (3)",
        """select ok from qe177_o
           where exists (
             select 1 from qe177_m
             where g = ok
               and 2 in (select distinct on (y) count(1) from qe177_t
                         where k = ok group by x, y
                         order by y, count(1) desc limit 2))
           order by ok""")),

    // …and its three-valued NOT IN corner (NULL aggregate among the
    // kept values ⇒ UNKNOWN membership prunes; empty set keeps)
    script("qe178_nested_notin_grouped_distinct_on_nulls",
      Some("SELECT * FROM (VALUES (CAST(2 AS BIGINT)), (CAST(4 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe178_o",
        "drop table if exists qe178_m",
        "drop table if exists qe178_t",
        "create table qe178_t (k Int64, x Int64, y Int64, z Int64)",
        """insert into qe178_t values
           (1, 1, 7, 1), (1, 2, 8, null),
           (2, 1, 7, 5),
           (3, 1, 7, null)""",
        "create table qe178_m (g Int64)",
        "insert into qe178_m values (1), (2), (3), (4)",
        "create table qe178_o (ok Int64)",
        "insert into qe178_o values (1), (2), (3), (4)",
        """select ok from qe178_o
           where exists (
             select 1 from qe178_m
             where g = ok
               and ok not in (select distinct on (y) max(z) from qe178_t
                              where k = ok group by x, y
                              order by y, max(z) limit 100))
           order by ok""")),

    // ---- scalar-family DISTINCT ON lifts (round 9 parity sweep) --------
    // equality scalar DISTINCT ON top-1: the qe164 theta shape on the
    // equality path (was "plain DISTINCT bodies only")
    engineSql("qe179_scalar_distinct_on_offset",
      """SELECT o_orderkey,
           (SELECT DISTINCT ON (l_returnflag) l_suppkey FROM lineitem
            WHERE l_orderkey = o_orderkey
            ORDER BY l_returnflag, l_extendedprice DESC, l_suppkey
            LIMIT 1 OFFSET 1) AS v
         FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""",
      """select o_orderkey,
           (select distinct on (l_returnflag) l_suppkey from lineitem
            where l_orderkey = o_orderkey
            order by l_returnflag, l_extendedprice desc, l_suppkey
            limit 1 offset 1) as v
         from orders where o_orderkey < 3000 order by o_orderkey"""),

    // equality GROUPED scalar DISTINCT ON top-1: keep the max-count
    // group per status (count ties broken by priority keep an EQUAL
    // count — the value stays deterministic), rank picks the 2nd status
    engineSql("qe180_scalar_grouped_distinct_on_top1",
      """SELECT c_custkey,
           (SELECT DISTINCT ON (o_orderstatus) count(1) FROM orders
            WHERE o_custkey = c_custkey
            GROUP BY o_orderstatus, o_orderpriority
            ORDER BY o_orderstatus DESC, count(1) DESC, o_orderpriority
            LIMIT 1 OFFSET 1) AS v
         FROM customer ORDER BY c_custkey""",
      """select c_custkey,
           (select distinct on (o_orderstatus) count(*) from orders
            where o_custkey = c_custkey
            group by o_orderstatus, o_orderpriority
            order by o_orderstatus desc, count(*) desc, o_orderpriority
            limit 1 offset 1) as v
         from customer order by c_custkey"""),

    // the THETA grouped form (thetaGroupedAgg's ON keep-first)
    engineSql("qe181_scalar_theta_grouped_distinct_on_top1",
      """SELECT o_orderkey,
           (SELECT DISTINCT ON (l_returnflag) count(1) FROM lineitem
            WHERE l_extendedprice > o_totalprice / 5
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, count(1) DESC, l_linestatus
            LIMIT 1 OFFSET 1) AS v
         FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""",
      """select o_orderkey,
           (select distinct on (l_returnflag) count(*) from lineitem
            where l_extendedprice > o_totalprice / 5
            group by l_returnflag, l_linestatus
            order by l_returnflag, count(*) desc, l_linestatus
            limit 1 offset 1) as v
         from orders where o_orderkey < 300 order by o_orderkey"""),

    // HAVING composed under the theta grouped DISTINCT ON top-1 (the
    // groups the ON keys dedup are the HAVING survivors)
    engineSql("qe182_scalar_theta_grouped_distinct_on_having",
      """SELECT o_orderkey,
           (SELECT DISTINCT ON (l_returnflag) count(1) FROM lineitem
            WHERE l_extendedprice > o_totalprice / 5
            GROUP BY l_returnflag, l_linestatus
            HAVING count(1) > 50
            ORDER BY l_returnflag, count(1) DESC, l_linestatus
            LIMIT 1 OFFSET 1) AS v
         FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""",
      """select o_orderkey,
           (select distinct on (l_returnflag) count(*) from lineitem
            where l_extendedprice > o_totalprice / 5
            group by l_returnflag, l_linestatus
            having count(*) > 50
            order by l_returnflag, count(*) desc, l_linestatus
            limit 1 offset 1) as v
         from orders where o_orderkey < 300 order by o_orderkey"""),

    // ---- THETA EXISTS in expression position (under OR) — the round-9
    // fuzzer's one systematic skip class, now a rid mark join --------
    engineSql("qe184_exists_theta_expr_position",
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 300 AND (o_orderkey > 250 OR EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_extendedprice > o_totalprice / 2 AND l_quantity > 45))
         ORDER BY o_orderkey""",
      """select o_orderkey from orders
         where o_orderkey < 300 and (o_orderkey > 250 or exists (
           select 1 from lineitem
           where l_extendedprice > o_totalprice / 2 and l_quantity > 45))
         order by o_orderkey"""),

    // …and the AGGREGATED form (GROUP BY + HAVING + OFFSET counting,
    // negated, under OR)
    engineSql("qe185_not_exists_theta_grouped_expr_position",
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 300 AND (o_orderkey > 10000 OR NOT EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_extendedprice > o_totalprice / 3
           GROUP BY l_returnflag HAVING count(1) > 100
           LIMIT 100 OFFSET 1))
         ORDER BY o_orderkey""",
      """select o_orderkey from orders
         where o_orderkey < 300 and (o_orderkey > 10000 or not exists (
           select 1 from lineitem
           where l_extendedprice > o_totalprice / 3
           group by l_returnflag having count(*) > 100
           limit 100 offset 1))
         order by o_orderkey"""),

    // ---- EXISTS over an ungrouped AGGREGATE select: one row ALWAYS
    // exists (SQL's empty-set aggregate row), so existence is constant
    // even when the body's WHERE matches nothing — the nested and
    // expression-position forms silently flattened/counted instead
    // (round-9 fuzzer find; the l_quantity > 60 filter matches NO
    // lineitem of most orders, which is exactly the discriminator) ----
    engineSql("qe186_nested_exists_agg_select",
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 300 AND NOT EXISTS (
           SELECT 1 FROM customer
           WHERE c_custkey = o_custkey AND c_custkey > 100
             AND EXISTS (SELECT max(l_quantity) FROM lineitem
                         WHERE l_orderkey = o_orderkey AND l_quantity > 60))
         ORDER BY o_orderkey""",
      """select o_orderkey from orders
         where o_orderkey < 300 and not exists (
           select 1 from customer
           where c_custkey = o_custkey and c_custkey > 100
             and exists (select max(l_quantity) from lineitem
                         where l_orderkey = o_orderkey and l_quantity > 60))
         order by o_orderkey"""),

    engineSql("qe187_exists_agg_select_expr_position",
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey < 300 AND (o_orderkey > 250 OR EXISTS (
           SELECT max(l_quantity) FROM lineitem
           WHERE l_orderkey = o_orderkey AND l_quantity > 60))
         ORDER BY o_orderkey""",
      """select o_orderkey from orders
         where o_orderkey < 300 and (o_orderkey > 250 or exists (
           select max(l_quantity) from lineitem
           where l_orderkey = o_orderkey and l_quantity > 60))
         order by o_orderkey"""),

    // WITH TIES slicing the GROUPED membership set in a nested IN (the
    // rank() cut runs on the pair frame's groups)
    script("qe183_nested_in_grouped_ties",
      Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT))) AS t(ok)"),
      _ => Seq(
        "drop table if exists qe183_o",
        "drop table if exists qe183_m",
        "drop table if exists qe183_t",
        "create table qe183_t (k Int64, x Int64, y Int64)",
        """insert into qe183_t values
           (1, 1, 7), (1, 1, 7), (1, 2, 8), (1, 2, 8), (1, 3, 9),
           (2, 1, 7), (2, 1, 7), (2, 2, 8), (2, 3, 9)""",
        "create table qe183_m (g Int64)",
        "insert into qe183_m values (1), (2), (3)",
        "create table qe183_o (ok Int64)",
        "insert into qe183_o values (1), (2), (3)",
        // per k, groups (x, y) with counts; ORDER BY count desc alone
        // (no tiebreak — WITH TIES ties on the FULL sort key) keeps
        // every tying top group:
        //   k=1: counts {2, 2, 1} -> both 2-count groups -> y ∈ {7, 8}
        //   k=2: counts {2, 1, 1} -> only y=7
        // membership of y-value 8 distinguishes the tie cut; the kept
        // SET is order-free, so the missing tiebreak stays deterministic
        """select ok from qe183_o
           where exists (
             select 1 from qe183_m
             where g = ok
               and 8 in (select y from qe183_t
                         where k = ok group by x, y
                         order by count(1) desc limit 1 with ties))
           order by ok""")
  ))
}
