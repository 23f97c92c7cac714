"""Seeded input generator for the benchmark.

Everything a run feeds the engine is made here from the workload seed:

* workload matrices in the reference's ``<ds>-matrix.csv`` layout
  (``filename,0,...,48``), ``runtime = expm1(A.B^T)`` at rank 5 with
  duplicated hint columns and a 1 % heavy tail (FIXTURES.md section 1);
* init masks in ``.npy`` v1 format with column 0 always observed;
* PostgreSQL-shaped plan trees, one per (query, hint group), 0-2 children
  per node (FIXTURES.md section 3), one JSON record per line;
* the ten sf-scaled parquet tables the SparkEntry queries read, with the
  schemas and value domains of the repository's TPC-H-ish test data
  (TESTDATA.md).

The same seed always gives byte-identical files.
"""
import hashlib
import json
import os

import numpy as np

HINTS = 49
RANK = 5

# Shape and calibration targets per matrix. default/opt are BASELINE.md's
# totals of the real CEB and JOB matrices (PG default = column 0); mask is
# the observed fraction of the real init masks (FIXTURES.md section 2).
SHAPES = {
    "ceb": {"rows": 3133, "default": 10587.7, "opt": 3688.5, "mask": 0.062},
    "job": {"rows": 113, "default": 181.1, "opt": 68.1, "mask": 0.110},
}

# Row weights are lognormal so that a few queries dominate the total, as in
# the real workloads; 0.8 puts the slowest 1 % of queries at about 10x the
# median query.
ROW_SIGMA = 0.8
# Fraction of rows that get a duplicated hint group, and the share of
# non-default cells multiplied by TAIL_FACTOR (FIXTURES.md section 1).
DUP_ROWS = 0.5
TAIL_SHARE = 0.01
TAIL_FACTOR = 100.0


def _draws(rng, n):
    """The random draws of one matrix; calibration only rescales them."""
    d = {
        "row": np.exp(ROW_SIGMA * rng.standard_normal(n)),
        "a": rng.random((n, RANK)),
        "b": rng.random((HINTS, RANK)),
        "tail": rng.random((n, HINTS)) < TAIL_SHARE,
    }
    d["tail"][:, 0] = False  # the default plan is never a pathological hint
    # duplicated hint groups: in DUP_ROWS of the rows, 1-3 other columns
    # take the value of a source column (equal runtime = same plan)
    rows, dst, src = [], [], []
    for i in np.nonzero(rng.random(n) < DUP_ROWS)[0]:
        s = int(rng.integers(0, HINTS))
        cols = [int(c) for c in rng.permutation(HINTS - 1) + 1 if c != s]
        for c in cols[: int(rng.integers(1, 4))]:
            rows.append(i); dst.append(c); src.append(s)
    d["dup"] = (np.array(rows, dtype=int), np.array(dst, dtype=int), np.array(src, dtype=int))
    return d


def _matrix(d, lo, scale):
    """expm1(scale * A.B^T) with B entries in [lo, 1): lo narrows the
    spread between hint columns and so sets the default/optimal ratio (a
    uniform B gives about 6x, the real matrices about 2.7-2.9x)."""
    a = d["a"] * d["row"][:, None]
    b = lo + (1.0 - lo) * d["b"]
    m = np.expm1(scale * (a @ b.T))
    m[d["tail"]] *= TAIL_FACTOR
    rows, dst, src = d["dup"]
    m[rows, dst] = m[rows, src]
    return m


def _totals(m):
    return m[:, 0].sum(), m.min(axis=1).sum()


def _calibrate(d, default, opt):
    """(lo, scale) that give exactly the target default and optimal totals:
    Newton's method on (log default, log ratio) over (lo, log scale)."""
    target = np.array([np.log(default), np.log(default / opt)])

    def f(x):
        dt, ot = _totals(_matrix(d, x[0], np.exp(x[1])))
        return np.array([np.log(dt), np.log(dt / ot)]) - target

    x = np.array([0.5, np.log(0.25)])
    for _ in range(50):
        fx = f(x)
        if np.abs(fx).max() < 1e-10:
            break
        h = 1e-6
        jac = np.column_stack([(f(x + [h, 0]) - fx) / h, (f(x + [0, h]) - fx) / h])
        step = np.linalg.solve(jac, -fx)
        x = x + step * min(1.0, 0.2 / max(np.abs(step).max(), 1e-12))
        x[0] = min(max(x[0], 0.0), 0.99)
    return x[0], float(np.exp(x[1]))


def workload_matrix(shape, seed):
    """(query ids, matrix, init mask, stats) calibrated to the shape's
    default and optimal totals."""
    spec = SHAPES[shape]
    n = spec["rows"]
    rng = np.random.default_rng([seed, n])
    d = _draws(rng, n)
    lo, scale = _calibrate(d, spec["default"], spec["opt"])
    m = _matrix(d, lo, scale)
    # column 0 always observed; others at the rate that gives the real
    # masks' overall observed fraction
    p = (spec["mask"] * HINTS - 1.0) / (HINTS - 1)
    mask = rng.random((n, HINTS)) < p
    mask[:, 0] = True
    ids = [hashlib.sha1(f"{shape}-{seed}-{i}".encode()).hexdigest() for i in range(n)]
    default, opt = _totals(m)
    groups = np.mean([len(np.unique(r)) for r in m])
    stats = {
        "shape": [n, HINTS], "rank": RANK, "b_low": round(lo, 6),
        "scale": round(scale, 6), "default_s": round(default, 3),
        "opt_s": round(opt, 3), "default_over_opt": round(default / opt, 4),
        "mask_fraction": round(float(mask.mean()), 4),
        "groups_per_row": round(float(groups), 2),
        "tail_cells": int(d["tail"].sum()),
        "cell_p50_s": round(float(np.median(m)), 4),
        "cell_p99_s": round(float(np.quantile(m, 0.99)), 4),
    }
    return ids, m, mask, stats


def write_matrix(out, shape, seed):
    ids, m, mask, stats = workload_matrix(shape, seed)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "matrix.csv"), "w") as f:
        f.write("filename," + ",".join(str(j) for j in range(HINTS)) + "\n")
        for qid, row in zip(ids, m):
            f.write(qid + "," + ",".join(repr(float(v)) for v in row) + "\n")
    np.save(os.path.join(out, "init_mask.npy"), mask.astype("<f8"))
    return ids, m, stats


# --- plan trees -------------------------------------------------------------

SCANS = ["Seq Scan", "Index Scan", "Index Only Scan", "Bitmap Heap Scan"]
JOINS = ["Hash Join", "Merge Join", "Nested Loop"]


def _plan_tree(rng, tables, cost):
    """A join tree over `tables` leaf scans whose root Total Cost is `cost`.
    Hash joins build through a Hash node, merge joins may sort their
    inputs, nested loops may memoize the inner side: 0-2 children per node."""
    def node(kind, c, rows, kids):
        return {"Node Type": kind, "Total Cost": round(c, 2),
                "Plan Rows": int(rows), "Plan Width": int(rng.integers(4, 200)),
                **({"Plans": kids} if kids else {})}

    def scan(c):
        kind = SCANS[rng.integers(len(SCANS))]
        rows = max(1.0, rng.lognormal(6, 2))
        if kind == "Bitmap Heap Scan":
            return node(kind, c, rows, [node("Bitmap Index Scan", 0.3 * c, rows, [])])
        return node(kind, c, rows, [])

    def build(k, c):
        if k == 1:
            return scan(c)
        left = int(rng.integers(1, k))
        share = rng.uniform(0.2, 0.6)
        l_tree, r_tree = build(left, share * c), build(k - left, (0.9 - share) * c)
        kind = JOINS[rng.integers(len(JOINS))]
        rows = max(1.0, rng.lognormal(7, 2))
        if kind == "Hash Join":
            r_tree = node("Hash", r_tree["Total Cost"], r_tree["Plan Rows"], [r_tree])
        elif kind == "Merge Join" and rng.random() < 0.5:
            l_tree = node("Sort", l_tree["Total Cost"], l_tree["Plan Rows"], [l_tree])
        elif kind == "Nested Loop" and rng.random() < 0.3:
            r_tree = node("Memoize", r_tree["Total Cost"], r_tree["Plan Rows"], [r_tree])
        return node(kind, c, rows, [l_tree, r_tree])

    root = build(tables, 0.95 * cost)
    if rng.random() < 0.5:
        root = node("Gather", 0.97 * cost, root["Plan Rows"], [root])
    return node("Aggregate", cost, 1, [root])


# Share of non-default hint groups that get a plan. The TCNN trains and
# predicts at about 10 ms and 1 ms per plan on 4 cores, so the full corpus
# (about 5.4k plans for JOB) costs about 12 s per round even at one epoch;
# a tenth keeps a two-round LimeQO+ run near 4 s.
PLAN_SHARE = 0.1


def write_plans(out, ids, m, seed):
    """One record per kept (query, hint group) in the reference plan-file
    layout, one JSON object per line: the default plan's group always, the
    others with probability PLAN_SHARE. The root cost tracks the group's
    runtime with lognormal noise, so a plan model has signal to learn but
    not a lookup."""
    rng = np.random.default_rng([seed, 7])
    n = 0
    with open(os.path.join(out, "plans.jsonl"), "w") as f:
        for qid, row in zip(ids, m):
            tables = int(rng.integers(3, 9))
            for v in np.unique(row):
                hints = [int(j) for j in np.nonzero(row == v)[0]]
                if hints[0] != 0 and rng.random() >= PLAN_SHARE:
                    continue
                cost = float(v) * 1000.0 * rng.lognormal(0, 0.3)
                rec = {
                    "filename": qid, "hint_list": hints,
                    "runtime_list": [float(v) * (1 - 0.02 * rng.random()), float(v),
                                     float(v) * (1 + 0.02 * rng.random())],
                    "plan": [[[{"Plan": _plan_tree(rng, tables, cost)}]]],
                }
                f.write(json.dumps(rec) + "\n")
                n += 1
    return n


# --- sf-scaled parquet tables ------------------------------------------------

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
P_ADJ = "large hot blue old cold red new small".split()
P_NOUN = "ring bolt plate rod anvil gear pipe wheel".split()


def write_tables(out, seed, sf):
    """The TPC-H-ish star schema plus events, documents and embeddings at
    scale factor `sf` (lineitem = 6M x sf rows). Column domains follow the
    TPC-H-ish test data (TESTDATA.md): independent uniform columns, sorted event times,
    a 30-word document vocabulary with 5 % near-duplicate documents, and
    unit-norm 64-d float embeddings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 11])
    os.makedirs(out, exist_ok=True)

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))

    def days(start, n_days, size):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, size).astype("timedelta64[D]").astype("timedelta64[us]")

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    save("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                           "FURNITURE"])[rng.integers(0, 5, n_cust)])})
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    save("part", {
        "p_partkey": pk,
        "p_name": pa.array(np.char.add(np.char.add(np.array(P_ADJ)[rng.integers(0, 8, n_part)], " "),
                                       np.array(P_NOUN)[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL",
                                     "STANDARD"])[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2405, n_ord),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, n_ord)])})
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": days("1995-01-02", 2499, n_li)})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, n_ev))
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev).astype(np.int64),
        "event_type": pa.array(np.array(["signup", "purchase", "view", "click",
                                         "error"])[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(VOCAB)
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    save("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(["en", "zh", "es", "fr", "de"])[
            rng.choice(5, n_doc, p=[0.41, 0.15, 0.15, 0.15, 0.14])]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    x = rng.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    save("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return {"sf": sf, "lineitem_rows": n_li, "events_rows": n_ev,
            "documents_rows": n_doc, "embeddings_rows": n_emb}
