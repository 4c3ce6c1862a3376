"""Seeded inputs for the benchmark workloads.

Everything the engine reads during a run is made here from ``--seed``:

- ``write_tables``: the ten fixture tables at sf0.1 size (TPC-H-like star
  schema plus events, documents and embeddings). The benchmark reads
  nothing outside its own checkout, and the repository ships no fixture,
  so the tables are generated with the row counts, key ranges, value
  ranges, cardinalities, vocabulary and column types (``events.ts`` as a
  plain microsecond timestamp) of the sf0.1 fixture the tests read, one
  parquet file and one row group per table like that fixture.
- ``scale_copy``: an N-times key-shifted copy of those tables by
  ``tools/scale_probe.py``'s rule (every key of copy ``i`` shifted by
  ``i * OFFSET`` so copies join only within themselves).
- ``card_events``: credit-card events (FIXTURES.md section 11) rendered as
  JSON lines for the file-stream source, one unique ``Time`` per event.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.scale_probe import FIXED, OFFSET, SHIFT, STEP, UNSCALED

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "hot", "new", "large", "small", "old", "green",
            "dark", "light", "cold", "fast", "smooth"]
PART_NOUN = ["anvil", "bolt", "ring", "rod", "plate"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a the batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join customer").split()
EMBED_DIM = 64
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base_us: int, us: np.ndarray) -> pa.Array:
    return pa.array(base_us + us.astype(np.int64), pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, values).cast(pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 32-word vocabulary; one in ten is a
    near-copy of an earlier document (a few words replaced), so the
    minhash/LSH queries find real duplicate pairs."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = words[rng.integers(0, len(words))]
        else:
            toks = list(words[rng.integers(0, len(words), rng.integers(8, 97))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors scattered around ten label centroids."""
    label = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.standard_normal((10, EMBED_DIM))
    v = centroids[label] + 1.5 * rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
        pa.array(v.reshape(-1), pa.float32()),
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(label, pa.int32()),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    r = SF01_ROWS
    nc, ns, npt, no, nl = (r["customer"], r["supplier"], r["part"],
                           r["orders"], r["lineitem"])
    ne = r["events"]
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, ne))
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npt), pa.int64()),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, len(PART_ADJ), npt),
                                rng.integers(0, len(PART_NOUN), npt))
            ]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npt)]),
            "p_type": _pick(rng, PART_TYPES, npt),
            "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npt) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(EPOCH_1995, rng.integers(0, 2404, no) * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npt, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _ts(EPOCH_1995 + DAY_US, rng.integers(0, 2499, nl) * DAY_US),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(EPOCH_2024, ev_us),
            "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }),
        "documents": _documents(rng, r["documents"]),
        "embeddings": _embeddings(rng, r["embeddings"]),
    }


def write_tables(out_dir: str, seed: int) -> str:
    """Write the seeded sf0.1 tables to ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=table.num_rows + 1)
    return out_dir


def scale_copy(src: str, out_dir: str, copies: int) -> str:
    """``copies``-times key-shifted copy of ``src`` (scale_probe's rule,
    written under ``out_dir`` instead of scale_probe's fixed temp path)."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{out_dir}.duckdb'")
    try:
        for t, keys in SHIFT.items():
            types = dict(
                (d[0], d[1])
                for d in con.execute(
                    f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'"
                ).fetchall()
            )
            proj = ", ".join(
                f"CAST({c} + g.i * {STEP.get((t, c), OFFSET)} AS {types[c]}) AS {c}"
                if c in keys else c
                for c in types
            )
            con.execute(
                f"COPY (SELECT {proj} FROM '{src}/{t}.parquet', "
                f"(SELECT unnest(generate_series(0, {copies - 1})) AS i) g) "
                f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
            )
        for t in FIXED + UNSCALED:
            con.execute(
                f"COPY (SELECT * FROM '{src}/{t}.parquet') "
                f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
            )
    finally:
        con.close()
    return out_dir


def card_events(rng, first_time: int, n: int) -> str:
    """``n`` credit-card events as JSON lines, 2% of them fraud with
    shifted V1-V4 means like ``ml.pipeline.synth_creditcard``. ``Time`` runs
    from ``first_time`` in steps of 1, so every event of a run is unique."""
    import pandas as pd

    label = (rng.random(n) < 0.02).astype(np.int64)
    v = rng.standard_normal((n, 28))
    v[:, :4] += 2.5 * label[:, None]
    amount = np.exp(rng.standard_normal(n) * 1.5 + 3.0)
    df = pd.DataFrame(np.round(v, 6), columns=[f"V{i + 1}" for i in range(28)])
    df.insert(0, "Time", np.arange(first_time, first_time + n, dtype=np.float64))
    df["Amount"] = np.round(amount, 2)
    df["Class"] = label
    return df.to_json(orient="records", lines=True, double_precision=6).rstrip("\n") + "\n"
