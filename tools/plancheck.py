#!/usr/bin/env python3
"""Fuzz plan-marker cross-check (round 12, VERDICT r11 #5).

The result compare (check.py) cannot see a silent fast-path gate flip —
a query that regresses to the generic plan is correct-but-slow. The
generator (fuzzgen.py) emits axis-class tags per query; FuzzDump
records which fast-path fresh-column markers the executed plan
contains; this checker applies class -> expected-plan rules in ONE
place and fails on mismatches.

Rules are deliberately CONSERVATIVE: each one names a class whose plan
the Binder's gates determine unambiguously at the fuzz fixture scale
(shape-gated paths; the size-gated banded paths never engage on ~40
rows and have no rule here). An over-general rule shows up as a false
mismatch and gets tightened; a query matched by no rule still carries
the global no-cartesian invariant.

Usage: python3 tools/plancheck.py <outDir>   # after FuzzDump
"""
import json
import sys


def tags(cls_str):
    d = {}
    for kv in cls_str.split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            d[k] = v
    return d


def joins(p):
    return p["bnlj"] + p["smj"] + p["bhj"] + p["shj"] + p["cart"]


def aligned(cop, order):
    """Is the body ORDER BY prefix-closed under the monotone conjunct?
    `k < t` keeps a prefix of the ASC k sort; `k > t` of the DESC."""
    if cop in ("<", "<="):
        return order in ("k-asc", "y-k-asc")
    if cop in (">", ">="):
        return order in ("k-desc", "y-k-desc")
    return False


def expected(t):
    """Return (must_markers, description) or (joins_expected, desc) rules
    for one query's tags; None entries mean no class rule applies."""
    rules = []
    top = t.get("pos") == "top"
    mono1 = t.get("corr") == "mono1"
    plain = t.get("shape") == "plain"
    extras = t.get("extras") == "1"
    neg = t.get("neg") == "1"
    form = t.get("form")

    # monotone-threshold collapse: a top-level positive EXISTS over a
    # single-monotone-correlated body plans ZERO joins (the scalar-flag
    # filter / count rewrites — the qe147/qe152/qe153 classes)
    if top and form == "exists" and not neg and mono1 and not extras:
        if plain:
            # includes DISTINCT [ON] + LIMIT/OFFSET bodies: the OFFSET
            # rewrite's countUniqueRows HAVING collapses to the
            # (off+1)-th best per-tuple extreme (round 12, from this
            # checker's own fz242 finding)
            rules.append(("joins==0", "plain EXISTS theta collapse"))
        elif t.get("shape") == "grouped" and \
                t.get("having", "none") in ("none", "count") and \
                t.get("ties", "0") == "0":
            rules.append(("joins==0", "grouped EXISTS count collapse"))
    # constant-true EXISTS over an ungrouped aggregate select: the
    # conjunct contributes nothing -> no joins at all
    if top and form == "exists" and not neg and \
            t.get("shape") == "ungrouped_agg" and "having" not in t:
        rules.append(("joins==0", "constant-true aggregate EXISTS"))

    # prefix-closed plain LIMIT IN (qe138 class): k-leading aligned
    # order, single monotone conjunct -> global top-K, __plv_ marker
    if top and form == "in" and not neg and plain and not extras and \
            t.get("don") == "0" and "lim" in t and \
            aligned(t.get("cop"), t.get("order", "")) and \
            t.get("order", "").startswith("k-"):
        rules.append(("has:__plv_", "prefix-closed LIMIT IN"))

    # DISTINCT ON membership under a single monotone conjunct without
    # LIMIT (qe139/qe164 classes): staircase record table or the
    # prefix-closed keep-first — either fast path, never the generic
    # per-rid window
    if top and form == "in" and plain and not extras and \
            t.get("don") == "1" and "lim" not in t and mono1:
        rules.append(("has-any:__scce_,__pcv_", "DISTINCT ON staircase"))

    # scalar grouped count-rank top-1 staircase (qe146/qe201 class):
    # single monotone conjunct, single-key tie-break, group-key select,
    # LIMIT 1 with no OFFSET/ties -> the __ssidx_ record table
    if form == "scalar" and t.get("shape") == "grouped" and mono1 and \
            t.get("lim") == "1" and "off" not in t and \
            t.get("ties", "0") == "0" and t.get("tb1") == "1" and \
            t.get("sel") in ("key", "agg-count") and \
            t.get("having", "none") in ("none", "count") and \
            t.get("extras") == "0":
        rules.append(("has:__ssidx_", "scalar grouped top-1 staircase"))

    # an equality-correlated scalar lowers through Dataset.scalar(), which
    # Catalyst decorrelates into a hash join on the keys; a row-producing
    # body handed to scalar() bare would plan a LeftSingle nested-loop
    # join instead (the struct(first, count) aggregate avoids it)
    if form == "scalar" and t.get("corr") == "eq" and not extras and \
            t.get("pos") in ("sel", "top", "or"):
        rules.append(("bnlj==0", "equality scalar via Dataset.scalar()"))

    # an equality + theta correlation at one level joins on the equality
    # as a hash key with the theta conjunct as residual in every theta
    # lowering: Binder.thetaInnerJoin takes the equality first, and the
    # presence-marker join is a left hash join on it. A set-op body is
    # uncorrelated whatever its corr tag says
    if t.get("corr") == "mixed" and not extras and \
            t.get("shape") != "setop" and t.get("pos") in ("sel", "top", "or"):
        rules.append(("bnlj==0", "equality + theta hash join"))

    # an all-equality nested query (equality at the middle level and in
    # the predicate, no negated sibling) plans hash joins only. Depth 3
    # is out: its second middle level correlates by `m2.g <= m1.g`, a
    # theta join whatever mcorr is
    if t.get("pos") == "nest2" and t.get("mcorr") == "eq" and \
            t.get("corr") == "eq" and t.get("negsib") != "1" and not extras:
        rules.append(("bnlj==0", "all-equality nested"))

    # round-12 rails (derived from 900-query marker profiles, 3 seeds):
    # a negated nested SIBLING at depth 2 always routes the middle
    # lowering through one of the per-pair nested rails; at depth 3 the
    # sibling defers whole to the enclosing pair frame
    # skip when the predicate itself constant-folds (an ungrouped
    # aggregate select without HAVING is constant-true existence — the
    # binder may eliminate the whole level before any rail engages)
    constfold = t.get("shape") == "ungrouped_agg" and "having" not in t
    if t.get("negsib") == "1" and not constfold:
        if t.get("pos") == "nest2":
            rules.append(("has-any:__nerid_,__aerid_,__xnrid_",
                          "negated-sibling nested rail"))
        elif t.get("pos") == "nest3":
            rules.append(("has:__pfrid_", "negated-sibling pair-frame deferral"))

    return rules


def main(out_dir):
    prof = json.load(open(f"{out_dir}/plan_profile.json"))
    n_rule = n_bad = 0
    for name in sorted(prof):
        p = prof[name]
        t = tags(p.get("class", ""))
        # global invariant: the binder never plans a cartesian product
        if p["cart"] != 0:
            print(f"CART     {name}: CartesianProduct in plan ({p['class']})")
            n_bad += 1
        # the profile must come from the plan that ran (FuzzDump's write
        # listener), never an unexecuted adaptive plan
        if p.get("nonfinal", 0) != 0:
            print(f"NONFINAL {name}: profile holds isFinalPlan=false ({p['class']})")
            n_bad += 1
        for rule, desc in expected(t):
            n_rule += 1
            if rule == "joins==0":
                if joins(p) != 0:
                    print(f"PLAN     {name}: expected zero joins ({desc}); "
                          f"got bnlj={p['bnlj']} smj={p['smj']} "
                          f"bhj={p['bhj']} shj={p['shj']} [{p['class']}]")
                    n_bad += 1
            elif rule == "bnlj==0":
                if p["bnlj"] != 0:
                    print(f"PLAN     {name}: expected no nested-loop join "
                          f"({desc}); got bnlj={p['bnlj']} [{p['class']}]")
                    n_bad += 1
            elif rule.startswith("has-any:"):
                want = rule.split(":", 1)[1].split(",")
                if not any(w in p["markers"] for w in want):
                    print(f"PLAN     {name}: expected one of {want} ({desc}); "
                          f"got {p['markers']} [{p['class']}]")
                    n_bad += 1
            elif rule.startswith("has:"):
                want = rule.split(":", 1)[1]
                if want not in p["markers"]:
                    print(f"PLAN     {name}: expected {want} ({desc}); "
                          f"got {p['markers']} [{p['class']}]")
                    n_bad += 1
    print(f"\n{len(prof)} profiled, {n_rule} rule checks, {n_bad} plan mismatches")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
