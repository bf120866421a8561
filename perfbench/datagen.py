"""Seeded input generation for the benchmark.

Every table, corpus, embedding set, CDC batch and query parameter the
benchmark uses is derived from one integer seed, so the same seed gives
byte-identical inputs.  Generated files are cached per seed under the
cache root and written atomically (tmp dir + rename), outside every
timed window.

The relational tables follow the TPC-H-like star schema of the repo's
test data (same table and column names, types and value domains), at a
chosen scale factor: sf 0.1 is 600k lineitem rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = ["hot", "cold", "large", "small", "ring", "bolt", "nut",
              "gear", "pipe", "shaft", "steel", "brass"]
EPOCH = dt.datetime(1970, 1, 1)
DATE_LO = (dt.datetime(1995, 1, 1) - EPOCH).days
DATE_HI = (dt.datetime(2001, 8, 1) - EPOCH).days


def rng_for(seed: int, *labels) -> np.random.Generator:
    """Independent stream per (seed, label...): adding a new consumer of
    randomness never shifts the inputs of an existing one."""
    h = hashlib.sha256(repr((int(seed),) + labels).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _cached(path: str, build) -> str:
    """Run ``build(tmp_dir)`` once per path; concurrent-safe via rename."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # another process won the race
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tpch_tables(cache: str, seed: int, sf: float) -> str:
    """TPC-H-like tables at scale ``sf``; returns the directory."""
    def build(out):
        r = rng_for(seed, "tpch", sf)
        n_cust = max(150, int(150_000 * sf))
        n_supp = max(10, int(10_000 * sf))
        n_part = max(200, int(200_000 * sf))
        n_ord = max(1500, int(1_500_000 * sf))
        _write(out, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS})
        _write(out, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
        ck = np.arange(n_cust, dtype=np.int64)
        _write(out, "customer", {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
        sk = np.arange(n_supp, dtype=np.int64)
        _write(out, "supplier", {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
        pk = np.arange(n_part, dtype=np.int64)
        w = np.array(PART_WORDS)
        _write(out, "part", {
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(
                w[r.integers(0, len(w), n_part)], " "),
                w[r.integers(0, len(w), n_part)]),
            "p_brand": np.char.add("Brand#", (r.integers(1, 26, n_part))
                                   .astype(str)),
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + pk % 20_000 * 0.1, 2)})
        # as in TPC-H, a third of the customers (custkey % 3 == 0) place
        # no orders, so outer-join counts and anti-joins are non-trivial
        active = ck[ck % 3 != 0]
        ok = np.arange(n_ord, dtype=np.int64)
        odate = r.integers(DATE_LO, DATE_HI + 1, n_ord)
        _write(out, "orders", {
            "o_orderkey": ok,
            "o_custkey": active[r.integers(0, len(active), n_ord)],
            "o_orderstatus": np.array(["F", "O", "P"])[
                r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts(odate),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
        nlines = r.integers(1, 8, n_ord)
        lok = np.repeat(ok, nlines)
        n_li = len(lok)
        starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
        qty = r.integers(1, 51, n_li).astype(np.float64)
        _write(out, "lineitem", {
            "l_orderkey": lok,
            "l_partkey": r.integers(0, n_part, n_li),
            "l_suppkey": r.integers(0, n_supp, n_li),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(18.0, 2100.0, n_li),
                                        2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[
                r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": _ts(np.repeat(odate, nlines)
                              + r.integers(1, 122, n_li))})

    return _cached(os.path.join(cache, f"tpch_sf{sf}_seed{seed}"), build)


# ---------------------------------------------------------------------------
# text corpus with planted duplicates

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(r: np.random.Generator, n: int) -> list[str]:
    lens = r.integers(4, 11, n)
    return sorted({"".join(LETTERS[r.integers(0, 26, k)]) for k in lens})


def corpus_shards(seed: int, n_shards: int, shard_docs: int):
    """``n_shards`` lists of ``(doc_id, text)`` plus the planted map.

    Per shard: ~70% original docs; ~15% exact duplicates of an original
    (case and whitespace changed, so only the normalised fingerprint
    matches); ~15% near duplicates (2% of tokens replaced, at least one).
    Languages are drawn from the engine's stopword sets plus
    stopword-free docs; lengths are log-normal between 30 and 600 tokens,
    and some docs are digit-heavy so the quality score spreads.

    The planted map holds, per shard, ``exact``: {dup_id: orig_id} and
    ``near``: {dup_id: orig_id}."""
    from cascalog_spark.functions.text import STOPWORDS

    r = rng_for(seed, "corpus")
    vocab = np.array(_vocab(r, 6000))
    langs = sorted(STOPWORDS) + ["none"]
    shards, planted = [], []
    next_id = 0
    for _ in range(n_shards):
        docs, exact, near = [], {}, {}
        originals = []
        while len(docs) < shard_docs:
            kind = r.random()
            if originals and kind < 0.15:
                oid, toks = originals[r.integers(0, len(originals))]
                text = "  ".join(toks).upper() if r.random() < 0.5 \
                    else "\n".join(toks)
                exact[next_id] = oid
            elif originals and kind < 0.30:
                oid, toks = originals[r.integers(0, len(originals))]
                toks = list(toks)
                n_edit = max(1, len(toks) // 50)
                for i in r.choice(len(toks), n_edit, replace=False):
                    toks[i] = vocab[r.integers(0, len(vocab))]
                text = " ".join(toks)
                near[next_id] = oid
            else:
                n = int(np.clip(r.lognormal(4.5, 0.6), 30, 600))
                lang = langs[r.integers(0, len(langs))]
                toks = list(vocab[r.integers(0, len(vocab), n)])
                if lang != "none":
                    sw = STOPWORDS[lang]
                    for i in np.flatnonzero(r.random(n) < 0.3):
                        toks[i] = sw[r.integers(0, len(sw))]
                if r.random() < 0.1:  # low-quality: digit runs
                    for i in np.flatnonzero(r.random(n) < 0.6):
                        toks[i] = str(r.integers(0, 10**6))
                originals.append((next_id, toks))
                text = " ".join(toks)
            docs.append((next_id, text))
            next_id += 1
        shards.append(docs)
        planted.append({"exact": exact, "near": near})
    return shards, planted


def embeddings(seed: int, n: int, dim: int, n_queries: int,
               n_clusters: int = 16, latent: int = 4):
    """Gaussian-mixture vectors ``(n, dim)`` and a query batch drawn from
    the same mixture (float64).  Each component spreads along its own
    ``latent``-dimensional subspace plus small isotropic noise, the low
    intrinsic dimension real embeddings have."""
    r = rng_for(seed, "embeddings")
    centers = r.normal(0.0, 1.0, (n_clusters, dim))
    bases = r.normal(0.0, 0.5, (n_clusters, latent, dim))
    lab = r.integers(0, n_clusters, n + n_queries)
    z = r.normal(0.0, 1.0, (n + n_queries, latent))
    x = (centers[lab] + np.einsum("nl,nld->nd", z, bases[lab])
         + r.normal(0.0, 0.05, (n + n_queries, dim)))
    return x[:n], x[n:]


# ---------------------------------------------------------------------------
# CDC batches over the orders table

def cdc_batches(seed: int, orders: pa.Table, n_batches: int,
                batch_rows: int):
    """Seeded CDC feed against ``orders``: each batch is a list of
    ``(op, seq, o_orderkey)`` plus new values.  Keys are skewed toward
    recent orders (order keys are drawn with weight rising with the
    order date), the op mix is 15% insert, 70% update, 15% delete.
    Inserts use fresh keys above the table's maximum; updates and deletes
    target keys live at that point of the replay, so every change is
    meaningful."""
    r = rng_for(seed, "cdc")
    okeys = orders.column("o_orderkey").to_numpy()
    days = (orders.column("o_orderdate").cast(pa.int64()).to_numpy()
            // 86_400_000_000)
    w = np.exp((days - days.max()) / 365.0)
    order = np.argsort(-w, kind="stable")
    recent = okeys[order]
    cum = np.cumsum(w[order])
    cum /= cum[-1]
    live = dict.fromkeys(okeys.tolist(), True)
    day_of = dict(zip(okeys.tolist(), days.tolist()))
    next_key = int(okeys.max()) + 1
    seq = 0
    batches = []
    for _ in range(n_batches):
        rows, used = [], set()
        while len(rows) < batch_rows:
            u = r.random()
            if u < 0.15:
                key = next_key
                next_key += 1
                op = "I"
                day_of[key] = int(days.max() - r.integers(0, 120))
            else:
                key = int(recent[np.searchsorted(cum, r.random())])
                if key in used or not live.get(key):
                    continue
                op = "U" if u < 0.85 else "D"
            used.add(key)
            seq += 1
            live[key] = op != "D"
            rows.append((op, seq, key, day_of[key],
                         round(float(r.uniform(1000.0, 500_000.0)), 2),
                         ["F", "O", "P"][r.integers(0, 3)]))
        batches.append(rows)
    return batches
