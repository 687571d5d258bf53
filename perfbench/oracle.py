"""DuckDB check of every result the engine returned in a run.

The engine and DuckDB read the same generated parquet files. Writes are
replayed into DuckDB in loop order, so each read is compared against
DuckDB's answer at the same point of the loop. Rows are compared as
multisets; floats within a relative tolerance of 1e-6.
"""

import decimal
import math
from collections import Counter

import duckdb

REL_TOL = 1e-6

# a dedup batch document is `exact` when its normalized text matches an
# earlier document, else `near` when the Jaccard similarity of its
# distinct word-3-gram set with an earlier document's is at least 1/2
_SHINGLES = """SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(len(w) - 2, 1) + 1),
      i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])))) AS s
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM {src})"""
_FP = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


def _verdicts(con, batch_path):
    src = f"read_parquet('{batch_path}')"
    sql = f"""
      WITH b AS (SELECT doc_id, text FROM {src}),
        bs AS ({_SHINGLES.format(src='b')}),
        cs AS ({_SHINGLES.format(src='corpus')}),
        bn AS (SELECT doc_id, count(*) AS n FROM bs GROUP BY doc_id),
        cn AS (SELECT doc_id, count(*) AS n FROM cs GROUP BY doc_id),
        inter AS (SELECT bs.doc_id AS b, cs.doc_id AS c, count(*) AS k
                  FROM bs JOIN cs USING (s) GROUP BY bs.doc_id, cs.doc_id),
        near AS (SELECT DISTINCT i.b AS doc_id FROM inter i
                 JOIN bn ON bn.doc_id = i.b JOIN cn ON cn.doc_id = i.c
                 WHERE 2 * i.k >= bn.n + cn.n - i.k),
        exact AS (SELECT DISTINCT b.doc_id FROM b JOIN corpus c
                  ON {_FP.replace('text', 'b.text')} = {_FP.replace('text', 'c.text')})
      SELECT b.doc_id, CASE WHEN exact.doc_id IS NOT NULL THEN 'exact'
                            WHEN near.doc_id IS NOT NULL THEN 'near' ELSE 'new' END
      FROM b LEFT JOIN exact USING (doc_id) LEFT JOIN near USING (doc_id)
      ORDER BY b.doc_id"""
    return [list(r) for r in con.execute(sql).fetchall()]


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return v


def _sort_key(row):
    # column by column; numbers coarsely rounded, so that rows equal
    # within the tolerance sort alike
    return [(1, float(f"{v:.6g}")) if isinstance(v, float) else (0, str(v)) for v in row]


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def rows_match(engine_rows, duck_rows):
    """True when the two row lists hold the same multiset of rows."""
    a = sorted(([_norm(v) for v in r] for r in engine_rows), key=_sort_key)
    b = sorted(([_norm(v) for v in r] for r in duck_rows), key=_sort_key)
    if len(a) != len(b):
        return False
    return all(len(x) == len(y) and all(_same(u, v) for u, v in zip(x, y))
               for x, y in zip(a, b))


def check(plan, results):
    """Compare `results` — {pass: {op index: rows}} — with DuckDB.

    Returns (checked, mismatches), mismatches a list of (pass, op, reason).
    """
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for stmt in plan.duck_setup:
        con.execute(stmt)
    last = max((max(ops) for ops in results.values() if ops), default=-1)
    checked, bad = 0, []
    batch_verdicts = None
    for i in range(last + 1):
        o = plan.oracle[i]
        if o is None:
            continue
        kind, arg = o
        if kind == "exec":
            for stmt in arg:
                con.execute(stmt)
            continue
        if kind == "verdicts":
            batch_verdicts = _verdicts(con, arg)
            continue
        if kind == "batch_verdicts":
            expected = batch_verdicts
        elif kind == "batch_dups_by_source":
            source = dict(con.execute(
                f"SELECT doc_id, source FROM read_parquet('{arg}')").fetchall())
            expected = [list(c) for c in Counter(
                source[d] for d, v in batch_verdicts if v != "new").items()]
        else:
            expected = [list(r) for r in con.execute(arg).fetchall()]
        for name, ops in results.items():
            if i in ops:
                checked += 1
                if not rows_match(ops[i], expected):
                    bad.append((name, i, f"{len(ops[i])} rows vs DuckDB {len(expected)}"))
    con.close()
    return checked, bad
