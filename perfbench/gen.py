"""Seeded input generator for the benchmark.

Writes the tables a workload reads (customer, orders and lineitem for
genomics_release; documents for corpus_curation) as parquet, with the column
names, types and value domains the engine's registered queries expect.
Everything is drawn from one numpy generator seeded by ``seed``, so the same
seed always gives byte-identical inputs.

What the seed varies, per the replica model of the engine's ScaleUp tool:
  - the key offset of every replica after the first (ids are shifted by
    ``replica * stride + seeded offset``);
  - the Caesar shift of each documents replica (replicas share no tokens, so
    the corpus-wide duplicate rate stays fixed);
  - every value, and the row order of every table;
  - the changed-row fraction between two releases (``release_change_bp``,
    read by the harness when it derives the previous release).
Row counts and size distributions do not depend on the seed, so every seed
asks for the same amount of work.

Tables are written as directories of ``PARTS`` files so that the scan of a
small table still fans out to every core.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTS = 4
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
LOWER = "abcdefghijklmnopqrstuvwxyz"

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01 in epoch microseconds

# Replica strides (as in ScaleUp): entity keys by SMALL, order ids by BIG.
SMALL = 1_000_000
BIG = 10_000_000


def _write(out, name, columns, rng):
    """Write the table in a seeded row order as ``PARTS`` files."""
    table = pa.table(columns)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    path = os.path.join(out, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, PARTS + 1).astype(int)
    for i in range(PARTS):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _day_ts(rng, n, days):
    return pa.array(EPOCH_1995 + rng.integers(0, days, n) * DAY_US, pa.timestamp("us"))


def gen_star(rng, out, base, replicas):
    """customer, orders, lineitem; ``base`` multiplies sf0.01's row counts."""
    n_cust, n_ord, n_li = int(1500 * base), int(15000 * base), int(60000 * base)
    n_part, n_supp = int(2000 * base), int(100 * base)
    # replica 0 stays unshifted, like ScaleUp; the seed moves the others
    offs = [0] + [int(rng.integers(0, 1000)) for _ in range(replicas - 1)]

    def per_replica(n, stride):
        return np.concatenate([np.arange(n, dtype=np.int64) + r * stride + offs[r]
                               for r in range(replicas)])

    def fk(n_target, n_rows, stride=SMALL):
        return np.concatenate([rng.integers(0, n_target, n_rows) + r * stride + offs[r]
                               for r in range(replicas)])

    ck = per_replica(n_cust, SMALL)
    _write(out, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, ck.size),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, ck.size)]}, rng)

    ok = per_replica(n_ord, BIG)
    _write(out, "orders", {
        "o_orderkey": ok,
        "o_custkey": fk(n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, ok.size)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, ok.size),
        "o_orderdate": _day_ts(rng, ok.size, 2404),
        "o_orderpriority": np.array(PRIOS)[rng.integers(0, 5, ok.size)]}, rng)

    n = n_li * replicas
    _write(out, "lineitem", {
        "l_orderkey": fk(n_ord, n_li, BIG),
        "l_partkey": fk(n_part, n_li),
        "l_suppkey": fk(n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n),
        "l_discount": np.round(np.clip(rng.normal(0.05, 0.03, n), 0.0, 0.1), 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _day_ts(rng, n, 2498)}, rng)


def _cipher(text, shift):
    s = shift % 26
    return text.translate(str.maketrans(LOWER, LOWER[s:] + LOWER[:s]))


def gen_documents(rng, out, n_docs, replicas):
    """Random-word documents with planted near-duplicates (5%: an earlier
    document plus the token ``dup``) and exact duplicates (0.4%); replica r
    is Caesar-shifted by a seeded amount, as in ScaleUp."""
    lengths = rng.permutation(10 + (np.arange(n_docs) * 91) // n_docs)
    planted = rng.permutation(np.arange(21, n_docs))
    near = set(planted[:n_docs // 20].tolist())
    exact = set(planted[n_docs // 20:n_docs // 20 + max(1, n_docs // 250)].tolist())
    texts = []
    for i in range(n_docs):
        if i in near or i in exact:
            t = texts[int(rng.integers(0, i))]
            texts.append(t + " dup" if i in near else t)
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), lengths[i])]))
    langs = np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]
    shifts = [0] + [int(s) for s in rng.choice(np.arange(1, 26), replicas - 1, replace=False)]
    offs = [0] + [int(rng.integers(0, 1000)) for _ in range(replicas - 1)]
    text = [_cipher(t, shifts[r]) for r in range(replicas) for t in texts]
    _write(out, "documents", {
        "doc_id": np.concatenate([np.arange(n_docs, dtype=np.int64) + r * SMALL + offs[r]
                                  for r in range(replicas)]),
        "text": text,
        "lang": np.tile(langs, replicas),
        "source": [f"src{i % 20}" for _ in range(replicas) for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())}, rng)


def generate(out, seed, star=None, docs=None):
    """Generates one workload's inputs into ``out`` unless already there.
    ``star`` = (base, replicas) for gen_star, ``docs`` = (n_docs, replicas)."""
    done = os.path.join(out, "_inputs.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if star:
        gen_star(rng, out, *star)
    if docs:
        gen_documents(rng, out, *docs)
    # the previous release lacks 3..5% of the new build's rows and differs
    # in as many again
    meta = {"seed": seed, "release_change_bp": int(rng.integers(300, 501))}
    tmp = done + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, done)
    return meta
