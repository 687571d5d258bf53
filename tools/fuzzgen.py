#!/usr/bin/env python3
"""Differential-fuzz query generator for the correlated-subquery dialect.

Emits `name<TAB>sql` lines (one query per line, whitespace-normalized)
over two tiny fixture tables the runner (graft.tools.FuzzDump) creates
through the ENGINE's own DDL path:

    fz_a(ok)                       12 outer rows, unique
    fz_m(g)                        middle rows 1..12 plus duplicates
    fz_b(rid, k, x, y, z)          ~40 inner rows; y and z carry NULLs

Every generated query is valid in BOTH the engine dialect and DuckDB,
and is RESULT-DETERMINISTIC and ENGINE-PORTABLE by construction:

  - bodies that slice rows (LIMIT/OFFSET, DISTINCT ON + LIMIT, scalar
    top-1) order by a TOTAL key ending in the unique `rid` (row-level)
    or the full group-key list (grouped);
  - nullable columns (y, z) never decide a cross-row slice unless the
    body filters them non-null first, so no slice depends on where NULLs
    sort (the engine and DuckDB put them last; Spark's own ASC default
    puts them first);
  - WITH TIES uses a non-unique sort prefix alone (the kept SET is
    closed under ties, hence deterministic) and never combines with
    DISTINCT ON (the kept VALUE per ON key would be tie-arbitrary).

Combinations the engine rejects with a clean error are fine — the
runner records them as SKIP (an error is not a wrong answer) — but
known-rejected shapes (plain DISTINCT+LIMIT under IN, grouped scalar
without LIMIT 1, …) are avoided to keep the compare dense.

Usage: python3 tools/fuzzgen.py [n] [seed] > /tmp/fuzz_queries.tsv
"""
import random
import sys


def norm(s):
    return " ".join(s.split())


CORR_CLASS = {
    # corr string -> (class, op, column) for the plan-rule checker:
    # eq = pure equality, mono1 = single monotone inequality (the fast-
    # path precondition), multi = several inequalities on one column,
    # multi2 = inequalities on DIFFERENT columns (round-12 axis: the
    # multi-inequality DISTINCT ON deferral), mixed = equality + theta
    "k = ok": ("eq", None),
    "k < ok + 2": ("mono1", "<"),
    "k > ok - 3": ("mono1", ">"),
    "k <= ok": ("mono1", "<="),
    "k > ok - 2 and k < ok + 2": ("multi", None),
    "k = ok and x < ok + 2": ("mixed", None),
    "k < ok + 3 and x > ok % 3": ("multi2", None),
}


def gen_staircase(rng):
    """Dedicated scalar grouped count-rank top-1 axis (round 12): the
    qe146/qe201 staircase class is vanishingly rare under the general
    axes (~0.05 per 300), so the __ssidx_ plan rule never fired. Keys
    are NON-NULL columns (x, k) — a NULL group key deliberately routes
    to the generic plan (Round11Spec pin) and would break the rule."""
    cls = {"shape": "grouped", "form": "scalar", "neg": 0, "don": 0,
           "keys": 1, "tb1": 1, "lim": 1, "ties": 0, "extras": 0,
           "order": "count-rank", "lhs": "ok"}
    corr = rng.choice(["k < ok + 2", "k > ok - 3", "k <= ok"])
    cls["corr"], cls["cop"] = CORR_CLASS[corr]
    key = rng.choice(["x", "k"])
    sel = rng.choice([key, key, "count(1)"])
    cls["sel"] = "key" if sel == key else "agg-count"
    having = ""
    cls["having"] = "none"
    if rng.random() < 0.3:
        having = f" having count(1) >= {rng.randint(2, 3)}"
        cls["having"] = "count"
    tbdir = " desc" if rng.random() < 0.4 else ""
    body = (f"select {sel} from fz_b where {corr} group by {key}{having} "
            f"order by count(1) desc, {key}{tbdir} limit 1")
    cls["pos"] = "sel"
    q = norm(f"select ok, ({body}) as v from fz_a order by ok")
    return (q, None, ";".join(f"{k}={cls[k]}" for k in sorted(cls)))


def gen(rng):
    oracle_body = None  # set when the engine body needs a DuckDB rewrite
    cls = {}
    if rng.random() < 0.05:
        return gen_staircase(rng)
    corr = rng.choice(list(CORR_CLASS))
    cls["corr"], cls["cop"] = CORR_CLASS[corr]

    shape = rng.choice(["plain", "plain", "grouped", "grouped",
                        "ungrouped_agg", "setop"])
    cls["shape"] = shape
    scalar_ok = False
    if shape == "plain":
        sel = rng.choice(["y", "z", "rid", "x + 1"])
        distinct_on = rng.random() < 0.35
        limit = rng.random() < 0.6
        extra = []
        order = None
        body = "select "
        if distinct_on:
            body += f"distinct on (y) {sel}"
            # r10 axis: ordering the post-ON keys by the CORRELATED
            # column k (either direction) exercises the prefix-closed
            # fast path when the correlation is a single aligned
            # monotone conjunct — and the generic plan otherwise
            order = rng.choice(
                ["order by y, rid", "order by y, k desc, rid",
                 "order by y, k, rid"])
            if limit:
                # a LIMIT across ON keys makes NULL y decide the slice
                extra.append("y is not null")
        else:
            body += sel
            if limit:
                # r10 axis: k-leading orders hit the prefix-closed
                # LIMIT fast path under aligned single-conjunct theta
                order = rng.choice(
                    ["order by x desc, rid", "order by x, rid", "order by rid",
                     "order by k desc, rid", "order by k, rid"])
        body += f" from fz_b where {corr}"
        if rng.random() < 0.4:
            extra.append(rng.choice([
                "z > 1", "y is not null", "x < 3",
                # depth-2: an uncorrelated scalar and a body-correlated
                # EXISTS inside the body's own WHERE
                "x <= (select count(1) from fz_m where g < 5)",
                "exists (select 1 from fz_m where g = k)",
                "not exists (select 1 from fz_m where g = k + 20)",
            ]))
        if rng.random() < 0.15:
            # r10 axis: a WITH-bearing body (the CTE binds uncorrelated;
            # in nested positions this rides the flatten-path CTE lift)
            body = "with fw as (select 2 as lo) " + body
            extra.append("x >= (select lo from fw)")
        for e in dict.fromkeys(extra):
            body += f" and {e}"
        if order:
            body += " " + order
        cls["don"] = int(distinct_on)
        cls["order"] = {
            None: "none", "order by y, rid": "y-rid",
            "order by y, k desc, rid": "y-k-desc",
            "order by y, k, rid": "y-k-asc",
            "order by x desc, rid": "x-desc", "order by x, rid": "x-asc",
            "order by rid": "rid", "order by k desc, rid": "k-desc",
            "order by k, rid": "k-asc"}[order]
        cls["extras"] = int(any("select" in e for e in extra) or
                            body.startswith("with "))
        if limit and order:
            lim = rng.randint(1, 3)
            off = rng.choice([0, 0, 1, 2])
            body += f" limit {lim}"
            if off:
                body += f" offset {off}"
            scalar_ok = lim == 1
            cls["lim"] = lim
            cls["off"] = off
    elif shape == "setop":
        # uncorrelated set-op membership bodies (r10 axis): the engine
        # supports set ops in subquery position uncorrelated only —
        # correlated ones error cleanly and are not generated. NULLs are
        # filtered on both branches so negated forms stay three-valued-
        # safe; set contents are order-free, hence deterministic.
        sop = rng.choice(["union all", "union distinct", "intersect", "except"])
        body = (f"select y from fz_b where y is not null {sop} "
                f"select g from fz_m where g < {rng.randint(3, 9)}")
        scalar_ok = False
    elif shape == "grouped":
        keys = rng.choice([["x"], ["x", "y"], ["y"]])
        agg = rng.choice(["count(1)", "max(z)", "count(1) % 3", "min(rid)",
                          "sum(x)", "sum(x) % 5"])
        # f(group-key) selects exercise the value-threshold collapse's
        # MERGE arm (several groups fold into one member value)
        sel = rng.choice([agg] + keys + [f"{keys[0]} % 2", f"{keys[0]} + 1"])
        distinct_on = rng.random() < 0.35 and "y" in keys and sel != "y"
        having = rng.random() < 0.4
        limit = rng.random() < 0.6
        ties = limit and not distinct_on and rng.random() < 0.3
        extra = []
        if (limit and not ties and "y" in keys) or (distinct_on and limit):
            # NULL group keys must not decide a positional slice
            extra.append("y is not null")
        body = "select "
        if distinct_on:
            body += "distinct on (y) "
        body += f"{sel} from fz_b where {corr}"
        if rng.random() < 0.3:
            extra.append(rng.choice([
                "x <= (select count(1) from fz_m where g < 5)",
                "exists (select 1 from fz_m where g = k)",
            ]))
        for e in dict.fromkeys(extra):
            body += f" and {e}"
        body += f" group by {', '.join(keys)}"
        if having:
            # r10 axis: the monotone-threshold EXISTS collapse keys on
            # bare row-count HAVINGs (>/>= in either literal
            # orientation); a non-count aggregate must keep the generic
            # survivors plan — generate both classes
            body += " having " + rng.choice([
                f"count(1) > {rng.randint(1, 2)}",
                f"count(1) >= {rng.randint(1, 3)}",
                f"count(*) > {rng.randint(1, 2)}",
                f"{rng.randint(1, 2)} <= count(1)",
                "max(z) > 1",
            ])
        order = None
        if ties:
            order = "order by count(1) desc"
        elif limit or distinct_on:
            lead = "y, " if distinct_on else ""
            # r11 axis: a single-key count-rank tie-break in EITHER
            # direction exercises the scalar grouped top-1 staircase
            # (value retrieval, DESC flip, count-as-value); multi-key
            # tie-breaks keep the banded/generic plan — both compared
            tb = ", ".join(keys)
            if len(keys) == 1 and rng.random() < 0.4:
                tb = f"{keys[0]} desc"
            order = f"order by {lead}count(1) desc, " + tb
        prefix = body
        if order:
            body += " " + order
        cls["don"] = int(distinct_on)
        cls["having"] = ("none" if "having" not in body
                         else ("agg" if "max(z)" in body.split("having")[1]
                               else "count"))
        cls["sel"] = ("key" if sel in keys
                      else ("agg-count" if sel.startswith("count")
                            else ("agg" if any(sel.startswith(a) for a in
                                               ("max", "min", "sum"))
                                  else "fkey")))
        cls["keys"] = len(keys)
        cls["order"] = ("none" if order is None
                        else ("count-rank" if order.startswith("order by count")
                              or ", count(1) desc" in order else "other"))
        cls["tb1"] = int(order is not None and len(keys) == 1 and
                         "count(1) desc" in order)
        cls["extras"] = int(any("select" in e for e in extra))
        if limit:
            lim = rng.randint(1, 3)
            body += f" limit {lim}"
            cls["lim"] = lim
            cls["ties"] = int(ties)
            if ties:
                body += " with ties"
                # DuckDB has no LIMIT ... WITH TIES; rank() <= N is the
                # exact equivalent (keep rows tying with the N-th row)
                oracle_body = prefix + \
                    f" qualify rank() over (order by count(1) desc) <= {lim}"
            elif rng.random() < 0.4:
                off = rng.randint(1, 2)
                body += f" offset {off}"
                cls["off"] = off
            scalar_ok = lim == 1 and not ties
    else:
        agg = rng.choice(["count(1)", "max(z)", "min(x)", "count(1) + 1"])
        body = f"select {agg} from fz_b where {corr}"
        if rng.random() < 0.3:
            body += rng.choice([" and z > 1", " and y is not null"])
        if rng.random() < 0.3:
            body += f" having count(1) > {rng.randint(0, 2)}"
            cls["having"] = "count"
        scalar_ok = True

    form = rng.choice(
        ["exists", "exists", "in", "in", "scalar" if scalar_ok else "exists"])
    cls["form"] = form

    def wrap(b, oracle=False):
        if form == "exists":
            return f"{'not ' if neg else ''}exists ({b})"
        if form == "in":
            core = f"{lhs} {'not in' if neg else 'in'} ({b})"
            if oracle and not neg and lhs.startswith("case"):
                # DuckDB 1.0 plans WHERE-position correlated IN as an
                # IS-NOT-DISTINCT-FROM semi join, so a NULL lhs MATCHES
                # a NULL member (its own projected form disagrees and is
                # standard). The engine implements standard 3-valued IN;
                # coalesce pins the oracle to the standard reading.
                # (Round-10 fuzz find fz198/seed 404.)
                return f"coalesce({core}, false)"
            return core
        return f"ok {op} ({b})"

    neg = rng.random() < 0.35
    lhs = rng.choice(["ok", "ok % 4", "2",
                      "case when ok % 5 = 0 then null else ok end"])
    op = rng.choice(["=", "<", ">=", "<>"])
    cls["neg"] = int(neg)
    cls["lhs"] = {"ok": "ok", "ok % 4": "okmod", "2": "const"}.get(lhs, "nullcase")
    pred = wrap(body)
    opred0 = wrap(oracle_body if oracle_body else body, oracle=True)
    opred = opred0 if opred0 != pred else None

    def clsstr(position):
        cls["pos"] = position
        return ";".join(f"{k}={cls[k]}" for k in sorted(cls))

    pos = rng.random()
    if form == "scalar" and pos < 0.25:
        # scalar subquery in SELECT position
        q = norm(f"select ok, ({body}) as v from fz_a order by ok")
        oq = norm(f"select ok, ({oracle_body}) as v from fz_a order by ok") \
            if oracle_body else None
        return (q, oq, clsstr("sel"))
    if pos < 0.3:
        # NESTED: the predicate references ok from TWO scopes up (the
        # grandparent machinery); the middle table carries duplicate g
        # values so multiplicity-blindness is exercised too
        mcorr = "g = ok" if rng.random() < 0.7 else "g < ok + 1"
        cls["mcorr"] = "eq" if mcorr == "g = ok" else "theta"
        mneg = "not " if rng.random() < 0.3 else ""
        cls["mneg"] = int(bool(mneg))
        # round-12 axis: a NEGATED nested SIBLING at the middle level —
        # combined with a deferred predicate (outer lhs, LIMIT/grouped
        # body, grandparent refs) this exercises the negated-nested
        # pair frame's deferred prune pool (Binder round 12; the r11
        # guard made every such combination a clean-error SKIP)
        sib = ""
        if rng.random() < 0.35:
            cls["negsib"] = 1
            sib = rng.choice([
                " and not exists (select 1 from fz_b as nb "
                "where nb.k = g and nb.x > ok % 4)",
                " and not exists (select 1 from fz_b as nb "
                "where nb.k = g and nb.z > ok % 3)",
                " and g not in (select nb.k from fz_b as nb "
                "where nb.x > ok % 4 and nb.k is not null)",
            ])

        if rng.random() < 0.3:
            # r10 axis — DEPTH 3: a second (aliased, qualified) middle
            # level, so the predicate references ok THREE scopes up and
            # exercises the flatten recursion. Round 11: theta-correlated
            # DISTINCT ON now lowers through the prefix-extremum
            # staircase, and ok-lhs IN conjuncts take the deferred
            # pair-frame rail instead of erroring — both are compared,
            # not skipped. A middle-lhs variant (m2.g) pins the flatten
            # eqConj path with a LOCAL lhs (the qe197 class).
            m1corr = mcorr.replace("g ", "m1.g ", 1)
            if form == "in" and not neg and rng.random() < 0.4:
                mid_lhs = rng.choice(["m2.g", "m2.g % 4"])
                pred = f"{mid_lhs} in ({body})"
                opred = f"{mid_lhs} in ({oracle_body})" if oracle_body else None

            sib2 = sib.replace("nb.k = g", "nb.k = m2.g")\
                .replace(" and g not in", " and m2.g not in")

            def nest(p):
                return (f"{mneg}exists (select 1 from fz_m as m1 "
                        f"where {m1corr} and exists (select 1 from fz_m as m2 "
                        f"where m2.g <= m1.g and {p}{sib2}))")
            depth = "nest3"
        else:
            def nest(p):
                return (f"{mneg}exists (select 1 from fz_m "
                        f"where {mcorr} and {p}{sib})")
            depth = "nest2"
        pred, opred = nest(pred), nest(opred) if opred else None
        q = norm(f"select ok from fz_a where {pred} order by ok")
        oq = norm(f"select ok from fz_a where {opred} order by ok") \
            if opred else None
        return (q, oq, clsstr(depth))
    elif pos < 0.55:
        pred = f"ok > 100 or {pred}"
        opred = f"ok > 100 or {opred}" if opred else None
        position = "or"
    else:
        position = "top"
    q = norm(f"select ok from fz_a where {pred} order by ok")
    oq = norm(f"select ok from fz_a where {opred} order by ok") if opred else None
    return (q, oq, clsstr(position))


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 9
    rng = random.Random(seed)
    seen = set()
    out = []
    while len(out) < n:
        q, oq, cls = gen(rng)
        if q in seen:
            continue
        seen.add(q)
        out.append((q, oq, cls))
    for i, (q, oq, cls) in enumerate(out):
        # 4-field format: name, engine SQL, oracle SQL ('-' = same),
        # axis-class tags for tools/plancheck.py (round 12)
        print(f"fz{i:03d}\t{q}\t{oq if oq else '-'}\t{cls}")


if __name__ == "__main__":
    main()
