"""Seeded inputs for the benchmark workloads.

Each workload turns a seed into a plan: the set-up operations, a few
warm-up operations and a long list of loop operations, each a NutQL
statement (or a parquet batch for the dedup pipeline). Every read has a
DuckDB twin, and every write has the DuckDB statements that replay it,
so `oracle.py` can check each result the engine returns.

The base tables are TPC-H-shaped and generated from a fixed seed, so
they are built once per checkout and cached; the seed of a run chooses
the statements, their constants and the rows the writes add.
"""

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_VERSION = "1"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["red", "blue", "green", "small", "large", "steel", "brass",
              "bolt", "nut", "ring", "widget", "gear", "spring", "valve"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# ---------------------------------------------------------------- data

def _write(table, path):
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n)


def _ts(days):
    return pa.array((days * 86_400_000_000).astype("datetime64[us]"))


def tpch_tables(out_dir, sf, seed=42):
    """TPC-H-shaped region/nation/customer/supplier/part/orders/lineitem
    plus an events stream, with the same schema as the repository's test
    fixtures. Deterministic in (sf, seed)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    w = np.array(PART_WORDS)
    price = np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(w[rng.integers(0, 7, n_part)], " "),
                              w[rng.integers(7, 14, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price})
    odays = _days(rng, n_ord, "1992-01-01", "1998-08-02")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    pkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odays, lines) + rng.integers(1, 122, n_li))})
    base_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts_us = base_us + np.cumsum(rng.integers(1, 120_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts_us.astype("datetime64[us]")),
        "user_id": rng.integers(0, 1000, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 100, n_ev), 2)})
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: os.path.join(out_dir, f"{name}.parquet") for name in t}


def cached_tpch(cache_root, sf):
    """The sf-scaled tables, generated once per checkout."""
    d = os.path.join(cache_root, f"tpch-sf{sf}-v{DATA_VERSION}")
    stamp = os.path.join(d, "DONE")
    if not os.path.exists(stamp):
        tpch_tables(d, sf)
        open(stamp, "w").close()
    return {n: os.path.join(d, f"{n}.parquet") for n in
            ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events"]}


# --------------------------------------------------------------- plans

class Plan:
    """Set-up, warm-up and loop operations plus their DuckDB oracle.

    Each operation is (kind, rows_written, arg). `oracle[i]` holds the
    DuckDB side of loop operation i: ("query", sql) is compared with
    the engine's rows, ("exec", [sql, ...]) replays a write, ("verdicts",
    batch_path) classifies a dedup batch, ("batch_verdicts", None) and
    ("batch_dups_by_source", batch_path) compare with that
    classification, and None needs no check.
    """

    def __init__(self):
        self.setup, self.warm, self.ops, self.oracle = [], [], [], []
        self.duck_setup = []
        # loop operations per repeat of the workload's statement mix
        self.cycle = 1

    def add(self, kind, arg, oracle=None, rows=0):
        self.ops.append((kind, rows, " ".join(arg.split())))
        self.oracle.append(oracle)

    def write(self, plan_dir):
        os.makedirs(plan_dir, exist_ok=True)
        for name, ops in (("setup", self.setup), ("warm", self.warm),
                          ("ops", self.ops)):
            with open(os.path.join(plan_dir, name + ".tsv"), "w") as f:
                for kind, rows, arg in ops:
                    f.write(f"{kind}\t{rows}\t{' '.join(arg.split())}\n")


def _base(plan, tables):
    for name, path in tables.items():
        plan.setup.append(("base", 0, f"{name} {path}"))
        plan.duck_setup.append(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")


# one template per shape; each returns (name, nutql, duckdb or None when
# the DuckDB text is the same)

def _olap_templates(r):
    """Constants vary per seed within ranges that keep each template's
    work about the same, so a run's latency does not hinge on its seed."""
    seg = r.choice(SEGMENTS)
    region = r.choice(REGIONS)
    qmax = r.randint(28, 32)
    ckey = r.randint(0, 14_000)
    price = r.randint(240_000, 260_000)
    user = r.randint(0, 800)
    bal = r.randint(4500, 5500)
    prio = r.choice(PRIORITIES)
    return [
        ("scan_agg", f"""select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty,
            sum(l_extendedprice) as sum_base, sum(l_extendedprice * (1 - l_discount)) as sum_disc,
            avg(l_discount) as avg_disc, count(*) as n from lineitem
            where l_quantity <= {qmax} group by l_returnflag, l_linestatus
            order by l_returnflag, l_linestatus""", None),
        ("join6", f"""select n_name, sum(l_extendedprice * (1 - l_discount)) as revenue, count(*) as n
            from lineitem join orders on l_orderkey = o_orderkey
            join customer on o_custkey = c_custkey
            join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
            join nation on s_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            where r_name = '{region}' and c_mktsegment = '{seg}' group by n_name order by n_name""",
         None),
        # NutQL has no OVER clause; its window-lowered shapes are DISTINCT
        # ON, LIMIT ... WITH TIES and ASOF
        ("window_distinct_on", f"""select distinct on (o_custkey) o_custkey, o_orderkey, o_totalprice
            from orders where o_custkey >= {ckey} and o_custkey < {ckey + 400}
            order by o_custkey, o_totalprice desc, o_orderkey""", None),
        ("cte_top_supplier", f"""with revenue as (
              select l_suppkey as supplier_no, sum(l_extendedprice * (1 - l_discount)) as total_revenue
              from lineitem where l_quantity > {qmax} group by l_suppkey)
            select s_suppkey, s_name, total_revenue from supplier join revenue on s_suppkey = supplier_no
            where total_revenue = (select max(total_revenue) from revenue) order by s_suppkey""", None),
        ("set_ops", f"""select count(*) as n, min(k) as lo, max(k) as hi from (
              select c_custkey as k from customer where c_acctbal > {bal}
              intersect select o_custkey as k from orders where o_totalprice > {price}
              except select o_custkey as k from orders where o_orderpriority = '{prio}'
                and o_totalprice > {price + 50_000}) as u""", None),
        ("asof", f"""with b as (select user_id, ts, max(value) as v_value
                from events where event_type = 'view' and user_id >= {user}
                  and user_id < {user + 200} group by user_id, ts),
              a as (select event_id, user_id, ts, value from events
                where event_type = 'click' and user_id >= {user} and user_id < {user + 200})
            select count(*) as n, count(b.v_value) as matched, sum(b.v_value) as v_sum
            from a asof left join b on a.user_id = b.user_id and a.ts >= b.ts""", None),
    ]


def _cycle(r, n):
    """n statements: the templates round-robin in a fixed order, so every
    run of a given length executes the same mix of shapes; the seed picks
    each statement's constants."""
    out = []
    while len(out) < n:
        out.extend(_olap_templates(r))
    return out[:n]


WARM_ROUNDS = 2


def olap_plan(seed, tables, warm_tables, n_ops):
    """Every statement a SELECT. The warm-up runs each template a few
    times over smaller copies of the tables: it exercises the same code
    paths for the JIT at a fraction of the cost."""
    r = random.Random(seed)
    plan = Plan()
    _base(plan, tables)
    warm = Plan()
    _base(warm, warm_tables)
    plan.cycle = len(_olap_templates(random.Random(seed)))
    plan.warm = warm.setup + [("query", 0, nut) for _, nut, _ in
                              _cycle(random.Random(-seed), WARM_ROUNDS * plan.cycle)]
    for _, nut, duck in _cycle(r, n_ops):
        plan.add("query", nut, ("query", duck or nut))
    return plan


# dedup_ingest
#
# The documents follow the repository's `documents` fixture as measured on
# its sf0.1 copy (5000 documents, 20 sources of 250): original texts of
# 10-99 words drawn uniformly from a 30-word vocabulary; 5.0 % near
# duplicates (an earlier text with the word "dup" appended, from another
# source) and 0.16 % exact duplicates (an earlier text repeated).

DOC_VOCAB = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()
N_SOURCES = 20
EXACT_SHARE = 0.0016
NEAR_SHARE = 0.05


def dedup_docs(r, n, first_id, earlier):
    """n documents with ids from first_id; a duplicate copies one of
    `earlier` (doc_id, text, source) or of the documents made before it."""
    docs = []
    for i in range(n):
        u = r.random()
        if u < EXACT_SHARE + NEAR_SHARE and (earlier or docs):
            k = r.randrange(len(earlier) + len(docs))
            _, text, source = earlier[k] if k < len(earlier) else docs[k - len(earlier)]
            if u >= EXACT_SHARE:
                text += " dup"
                source = f"src{(int(source[3:]) + r.randrange(1, N_SOURCES)) % N_SOURCES}"
        else:
            text = " ".join(r.choice(DOC_VOCAB) for _ in range(r.randint(10, 99)))
            source = f"src{r.randrange(N_SOURCES)}"
        docs.append((first_id + i, text, source))
    return docs


def dedup_corpus(r, n_seed, n_batches, batch_size):
    """The seed corpus and the batches that arrive after it."""
    seen = dedup_docs(r, n_seed, 0, [])
    seed = list(seen)
    batches = []
    for _ in range(n_batches):
        batch = dedup_docs(r, batch_size, len(seen), seen)
        seen.extend(batch)
        batches.append(batch)
    return seed, batches


def _docs_table(rows):
    ids, texts, sources = zip(*rows)
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
                     "source": pa.array(sources, pa.string())})


def dedup_plan(seed, cache_dir, n_rebuilds, n_seed=5000, batch_size=250,
               batches_per_rebuild=3, warm=True):
    """Build the corpus index at set-up. Per batch: classify it and append
    it to the index, read its verdicts through NutQL and store it with its
    verdicts in the corpus table. After every `batches_per_rebuild`
    batches, compact that table (OPTIMIZE) and rebuild the index over it:
    append per batch, rebuild per snapshot compaction, the cadence
    `Dedup.appendToCorpusShingleIndex` describes, so the appends between
    two rebuilds chain. The corpus has the size of the sf0.1 `documents`
    fixture and a batch that of one of its sources."""
    os.makedirs(cache_dir, exist_ok=True)
    r = random.Random(seed)
    seed_docs, batches = dedup_corpus(r, n_seed, n_rebuilds * batches_per_rebuild, batch_size)
    plan = Plan()
    if warm:
        # a small corpus, one batch, a compaction and a rebuild, on a
        # catalog of their own, then the posting-cap probe
        small = dedup_plan(-seed - 1, os.path.join(cache_dir, "warm"), 1, n_seed=500,
                           batch_size=25, batches_per_rebuild=1, warm=False)
        plan.warm = small.setup + small.ops + [("cap_probe", 0, "")]
    seed_path = os.path.join(cache_dir, "seed_docs.parquet")
    _write(_docs_table(seed_docs), seed_path)
    _base(plan, {"seed_docs": seed_path})
    plan.setup += [
        ("write", 0, "create table corpus (doc_id Int64, text String, source String, verdict String)"),
        ("write", n_seed, "insert into corpus select doc_id, text, source, 'seed' from seed_docs"),
        ("index", 0, "select doc_id, text from corpus"),
    ]
    plan.duck_setup += [
        "CREATE OR REPLACE TABLE corpus AS SELECT doc_id, text FROM seed_docs",
    ]
    for k, batch in enumerate(batches):
        path = os.path.join(cache_dir, f"batch_{k:04d}.parquet")
        _write(_docs_table(batch), path)
        plan.add("batch", path, ("verdicts", path), rows=len(batch))
        # the client reads the batch's verdicts: the list and the
        # duplicates found per source
        plan.add("query", "select id, verdict from verdicts order by id", ("batch_verdicts", None))
        plan.add("query", """select b.source, count(*) as dups from batch_docs as b
            join verdicts as v on b.doc_id = v.id where v.verdict <> 'new'
            group by b.source""", ("batch_dups_by_source", path))
        plan.add("write", """insert into corpus select b.doc_id, b.text, b.source, v.verdict
            from batch_docs as b join verdicts as v on b.doc_id = v.id""",
                 ("exec", [f"INSERT INTO corpus SELECT doc_id, text FROM read_parquet('{path}')"]))
        if (k + 1) % batches_per_rebuild == 0:
            plan.add("write", "optimize table corpus", ("exec", []))
            plan.add("rebuild", "select doc_id, text from corpus", None)
    plan.cycle = 4 * batches_per_rebuild + 2
    return plan
