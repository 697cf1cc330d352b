"""Seeded input generator for the benchmark.

Same schemas and shape as ``scripts/gen_scale.py`` (TPC-H-ish proportions:
~4 lines per order, 20 document sources, every 50th document a near
duplicate of its predecessor), but every value is a hash of
``(seed, column tag, row key)``, so the same seed always gives the same
bytes and another seed gives other data.  Generation is pure numpy +
pyarrow: no Spark session, and each table is ONE parquet file that
DuckDB's ``read_parquet('<path>')`` can read.

Timestamps are stored in milliseconds.  (Nanosecond timestamps would
break once ``load_table("events")`` flips the session-wide
``spark.sql.legacy.parquet.nanosAsLong``; no workload reads ``events``
or ``embeddings``, so they are not generated.)

Usage: python3 perfbench/gen.py --seed 1 --mult 1 --out DIR
"""

from __future__ import annotations

import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts (scripts/gen_scale.py BASE); ``mult`` scales them.
BASE = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "documents": 5_000,
}

VOCAB = np.array((
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join shuffle cache disk node task stage plan index read "
    "write block page file"
).split())
SEGMENTS = np.array(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
PRIORITIES = np.array(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
PTYPES = np.array(("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"))
PADJ = np.array(("large", "hot", "blue", "red", "dark", "pale", "small", "new"))
PNOUN = np.array(("ring", "bolt", "case", "drum", "tube", "disk", "cap", "rod"))
LANGS = np.array(("en", "en", "en", "es", "fr", "de", "zh"))
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents")

_M = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wraps mod 2^64)."""
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


class Hasher:
    """``h(tag, *keys)`` -> non-negative int64 array; the seed enters
    every hash, so no column is seed-independent."""

    def __init__(self, seed: int):
        self.seed = np.uint64(seed & 0xFFFFFFFFFFFFFFFF)

    def __call__(self, tag: str, *keys) -> np.ndarray:
        t = np.uint64(int.from_bytes(tag.encode()[:8].ljust(8, b"\0"), "little"))
        with np.errstate(over="ignore"):
            x = _mix(np.asarray(self.seed ^ t, dtype=np.uint64))
            for k in keys:
                x = _mix(x ^ np.asarray(k).astype(np.uint64))
        return (x >> np.uint64(1)).astype(np.int64)


def _ms(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype(np.int64) * 1000, pa.timestamp("ms"))


def generate(seed: int, mult: float, out: str) -> str:
    """Write every table for ``(seed, mult)`` under ``out`` (atomically:
    a half-written directory never looks complete)."""
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    h = Hasher(seed)
    n = {k: max(int(v * mult), 1) for k, v in BASE.items()}

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    ck = np.arange(n["customer"], dtype=np.int64)
    write("customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": (h("cn", ck) % 25).astype(np.int32),
        "c_acctbal": (h("cb", ck) % 1_100_000) / 100.0 - 1000.0,
        "c_mktsegment": SEGMENTS[h("cs", ck) % 5],
    })
    sk = np.arange(n["supplier"], dtype=np.int64)
    write("supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": (h("sn", sk) % 25).astype(np.int32),
        "s_acctbal": (h("sb", sk) % 1_000_000) / 100.0,
    })
    pk = np.arange(n["part"], dtype=np.int64)
    write("part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(PADJ[h("pa", pk) % 8], " "), PNOUN[h("pn", pk) % 8]),
        "p_brand": np.char.add("Brand#", ((h("pb", pk) % 25) + 1).astype(str)),
        "p_type": PTYPES[h("pt", pk) % 6],
        "p_size": ((h("ps", pk) % 50) + 1).astype(np.int32),
        "p_retailprice": 900.0 + (h("pp", pk) % 10_000) / 100.0,
    })

    ok = np.arange(n["orders"], dtype=np.int64)
    odate = 788_918_400 + (h("od", ok) % 2400) * 86_400  # 1995-01-01 + days
    write("orders", {
        "o_orderkey": ok,
        "o_custkey": h("oc", ok) % n["customer"],
        "o_orderstatus": np.array(("O", "P", "F"))[h("os", ok) % 3],
        "o_totalprice": 1000.0 + (h("op", ok) % 49_900_000) / 100.0,
        "o_orderdate": _ms(odate),
        "o_orderpriority": PRIORITIES[h("opr", ok) % 5],
    })
    nl = (h("onl", ok) % 7) + 1
    l_ok = np.repeat(ok, nl)
    l_ln = np.arange(len(l_ok)) - np.repeat(np.cumsum(nl) - nl, nl) + 1
    lk = h("lk", l_ok, l_ln)
    write("lineitem", {
        "l_orderkey": l_ok,
        "l_partkey": lk % n["part"],
        "l_suppkey": h("lsk", lk) % n["supplier"],
        "l_linenumber": l_ln.astype(np.int32),
        "l_quantity": ((h("lq", lk) % 50) + 1).astype(np.float64),
        "l_extendedprice": 900.0 + (h("lep", lk) % 10_400_000) / 100.0,
        "l_discount": (h("ld", lk) % 11) / 100.0,
        "l_tax": (h("lt", lk) % 9) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[h("lrf", lk) % 3],
        "l_linestatus": np.array(("O", "F"))[h("lls", lk) % 2],
        "l_shipdate": _ms(np.repeat(odate, nl) + (h("lsd", lk) % 95) * 86_400),
    })

    dk = np.arange(n["documents"], dtype=np.int64)
    # every 50th doc repeats its predecessor's words plus one extra token
    dseed = np.where(dk % 50 == 1, dk - 1, dk)
    nw = (h("dn", dseed) % 86) + 15
    w_doc = np.repeat(dseed, nw)
    w_pos = np.arange(len(w_doc)) - np.repeat(np.cumsum(nw) - nw, nw) + 1
    words = VOCAB[h("dw", w_doc, w_pos) % len(VOCAB)]
    ends = np.cumsum(nw)
    text = [
        " ".join(words[e - c:e]) + (" extra" if d % 50 == 1 else "")
        for d, e, c in zip(dk.tolist(), ends.tolist(), nw.tolist())
    ]
    write("documents", {
        "doc_id": dk,
        "text": text,
        "lang": LANGS[h("dl", dk) % len(LANGS)],
        "source": np.char.add("src", (dk % 20).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })

    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def table_rows(d: str, names) -> int:
    return sum(pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows for t in names)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--mult", type=float, default=1.0, help="multiple of sf0.1")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.seed, a.mult, a.out))
