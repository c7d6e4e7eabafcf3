"""Seeded input generator for the graft benchmark.

Writes the ten tables graft reads (`region nation customer supplier part
orders lineitem events documents embeddings`, one parquet file each) with
the schema and value distributions of graft's sf0.1 test data, but
synthesized from a seed instead of copied, so the inputs depend only on
the seed and on this file -- never on product code.

Layout: one base copy at scale factor `unit` is synthesized, then tiled
`copies` times with the density-preserving rules of graft's SynthScale
tool:
  - keys are shifted per copy, so every copy keeps referential integrity;
  - document text gets a per-copy Caesar shift of its letters, which keeps
    every within-copy near-duplicate relation and drops cross-copy overlap
    to background;
  - embedding coordinates are rolled per copy, which keeps norms and
    coordinate distributions and drops cross-copy similarity to background.
The seed picks the base rows, each copy's shift and roll, and the query
vectors of the reference `Search` calls (`queries.parquet`).
"""

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PART_ADJ = "blue cold hot red small new old large".split()
PART_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
PART_TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup click error view purchase".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
US_PER_DAY = 86_400_000_000


def _days(a, b):
    """Epoch microseconds of the dates a and b, given as 'YYYY-MM-DD'."""
    lo = np.datetime64(a, "us").astype(np.int64)
    hi = np.datetime64(b, "us").astype(np.int64)
    return lo, hi


def _rand_dates(rng, n, a, b):
    lo, hi = _days(a, b)
    days = rng.integers(0, (hi - lo) // US_PER_DAY + 1, n)
    return lo + days * US_PER_DAY


def _ts(values):
    return pa.array(values, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text_docs(rng, n):
    """Random-word documents with planted near-duplicates (a copy of an
    earlier document plus ' dup') and a few exact duplicates."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.053:
            texts[i] = texts[src[i]]
    return texts


def base_tables(rng, unit):
    """One copy of every table at scale factor `unit` (sf0.1 = 0.1)."""
    n_cust = max(int(150_000 * unit), 10)
    n_supp = max(int(10_000 * unit), 5)
    n_part = max(int(200_000 * unit), 10)
    n_ord = max(int(1_500_000 * unit), 10)
    n_line = max(int(6_000_000 * unit), 40)
    n_ev = max(int(1_000_000 * unit), 100)
    n_users = max(int(15_000 * unit), 10)
    n_docs = max(int(50_000 * unit), 20)
    n_vec = max(int(20_000 * unit), 20)
    t = {}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_rand_dates(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_rand_dates(rng, n_line, "1995-01-02", "2001-11-04")),
    }
    ev_lo, _ = _days("2024-01-01", "2024-01-01")
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + ev_lo
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 600.0), 2),
        "props": ['{"k": %d}' % i for i in rng.integers(0, 100, n_ev)],
    }
    texts = _text_docs(rng, n_docs)
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    v = rng.standard_normal((n_vec, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": v.astype(np.float32),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }
    return t


def _caesar(k):
    lo = "abcdefghijklmnopqrstuvwxyz"
    up = lo.upper()
    return str.maketrans(lo + up, lo[k:] + lo[:k] + up[k:] + up[:k])


def tile(base, copies, rng):
    """SynthScale's tiling: `copies` key-shifted copies of every fact and
    dimension table; copy 0 is the base itself. Returns the tables and the
    per-copy (caesar shift, embedding roll) the seed picked; every copy
    gets its own shift, so at most 26 copies."""
    if not 1 <= copies <= 26:
        raise ValueError(f"copies must be 1..26, got {copies}")
    shifts = [0] + list(rng.permutation(np.arange(1, 26))[:copies - 1])
    rolls = [0] + list(rng.permutation(np.arange(1, DIM))[:copies - 1])
    span = {c: int(np.max(base[tbl][c])) + 1 for tbl, c in [
        ("customer", "c_custkey"), ("supplier", "s_suppkey"),
        ("part", "p_partkey"), ("orders", "o_orderkey"),
        ("events", "event_id"), ("events", "user_id"),
        ("documents", "doc_id"), ("embeddings", "vec_id")]}
    shifted = {  # column -> the key space it lives in
        "c_custkey": "c_custkey", "o_custkey": "c_custkey",
        "s_suppkey": "s_suppkey", "l_suppkey": "s_suppkey",
        "p_partkey": "p_partkey", "l_partkey": "p_partkey",
        "o_orderkey": "o_orderkey", "l_orderkey": "o_orderkey",
        "event_id": "event_id", "user_id": "user_id",
        "doc_id": "doc_id", "vec_id": "vec_id",
    }
    out = {}
    for name, cols in base.items():
        parts = []
        for i in range(copies):
            c = {}
            for col, vals in cols.items():
                if col in shifted:
                    c[col] = vals + i * span[shifted[col]]
                elif col == "text":
                    tr = _caesar(int(shifts[i]))
                    c[col] = vals if shifts[i] == 0 else [s.translate(tr) for s in vals]
                elif col == "embedding":
                    c[col] = np.roll(vals, -int(rolls[i]), axis=1)
                else:
                    c[col] = vals
            parts.append(c)
        out[name] = parts
    return out, [int(s) for s in shifts], [int(r) for r in rolls]


def _column(parts, col):
    first = parts[0][col]
    if isinstance(first, pa.Array):
        return pa.concat_arrays([p[col] for p in parts])
    if isinstance(first, np.ndarray) and first.ndim == 2:
        flat = np.concatenate([p[col] for p in parts]).astype(np.float32)
        return pa.FixedSizeListArray.from_arrays(
            pa.array(flat.reshape(-1)), flat.shape[1]).cast(pa.list_(pa.float32()))
    if isinstance(first, np.ndarray):
        return pa.array(np.concatenate([p[col] for p in parts]))
    return pa.array([x for p in parts for x in p[col]], type=pa.string())


def generate(out_dir, seed, unit, copies, n_queries, tables=None):
    """Write the tables (all of them, or region, nation and the listed
    ones) plus `queries.parquet` under `out_dir`; return a manifest with
    row counts, per-copy perturbations and generation time. The same seed
    gives the same rows for a table whichever tables are written."""
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed)
    base = base_tables(rng, unit)
    tiled, shifts, rolls = tile(base, copies, rng)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    fixed = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                                    pa.int32())}),
    }
    for name, tbl in list(fixed.items()) + [
            (n, pa.table({c: _column(parts, c) for c in parts[0]}))
            for n, parts in tiled.items() if tables is None or n in tables]:
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    q = rng.standard_normal((n_queries, DIM))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "q_id": pa.array(range(n_queries), pa.int64()),
        "embedding": _column([{"e": q}], "e")}),
        os.path.join(out_dir, "queries.parquet"))
    manifest = {"seed": seed, "unit_sf": unit, "copies": copies,
                "caesar_shifts": shifts, "embedding_rolls": rolls,
                "rows": rows, "queries": n_queries,
                "gen_s": time.perf_counter() - t0}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


if __name__ == "__main__":
    import argparse
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--unit", type=float, default=0.01)
    p.add_argument("--copies", type=int, default=2)
    p.add_argument("--queries", type=int, default=64)
    a = p.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, a.unit, a.copies, a.queries)))
