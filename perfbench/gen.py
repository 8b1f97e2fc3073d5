"""Seeded input generators owned by the benchmark.

Everything a workload reads is made here from ``--seed``: the same seed gives
byte-identical inputs. The program under test only ever sees the files these
functions write.

- ``write_registry_tables``: the ten tables the query registry reads
  (TPC-H-like star schema + ``events``, ``documents``, ``embeddings``), with
  the row counts and value domains of the repository's sf0.01 test data.
- ``write_click_logs`` / ``replay_blacklist``: the ad-click log files for the
  streaming pipeline and a plain-Python replay of its blacklist feedback loop.
- ``shuffled``: the per-seed query order inside a pass.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- registry ---

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "new", "old", "red", "small", "big")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

#: Row counts of the repository's sf0.01 test data.
SF001 = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "event_users": 150,
    "documents": 500,
    "embeddings": 500,
}


def _day_range(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (b - a).astype(np.int64) + 1, n)
    return (a + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_registry_tables(out_dir: str, seed: int, rows: dict = SF001) -> None:
    """Write the registry's ten parquet tables into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_nation = 25
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(n_nation), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nation)],
        "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32()),
    })
    nc, ns, np_, no, nl = (
        rows["customer"], rows["supplier"], rows["part"], rows["orders"],
        rows["lineitem"],
    )
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, n_nation, nc, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, n_nation, ns, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    names = rng.integers(0, len(PART_ADJ) * len(PART_NOUN), np_)
    _write(out_dir, "part", {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[i // len(PART_NOUN)]} {PART_NOUN[i % len(PART_NOUN)]}"
            for i in names
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _day_range(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _day_range(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = rows["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, rows["event_users"], ne, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    })
    # Documents: random text over a small vocabulary; one in twenty is a
    # near-duplicate (an earlier document plus a " dup" suffix), as in the
    # repository's test data, so the dedup queries find pairs.
    nd = rows["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 98))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # Embeddings: unit vectors with a weak per-label direction.
    nv, dim = rows["embeddings"], 64
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, nv)
    vecs = rng.normal(size=(nv, dim)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def shuffled(names: tuple[str, ...], seed: int) -> list[str]:
    """The per-seed query order inside a pass."""
    out = list(names)
    random.Random(seed).shuffle(out)
    return out


# -------------------------------------------------------------- ad stream ---

AD_START = "2024-03-01"
PROVINCES = tuple(f"province{i}" for i in range(8))


@dataclass(frozen=True)
class ClickMix:
    """Who clicks. Tail users come from a pool so large that a
    (date, user, ad) key almost never repeats, so they are never
    blacklisted. Heavy users repeat one ad and cross the threshold in their
    first batch. Middle users also stick to one ad, but arrive in a sliding
    window: each file's middle users are drawn from a range that moves by a
    third of its width per file, so every middle user clicks about
    ``middle_rate`` times per file for three files and is blacklisted part
    way through. The kept share therefore stays mid-range for the whole run
    instead of draining to zero, which is what uniform users do."""

    tail_users: int = 1_000_000
    heavy_users: int = 40
    heavy_share: float = 0.15
    middle_share: float = 0.50
    middle_rate: float = 1.5
    ads: int = 20
    late_share: float = 0.05


def write_click_logs(
    out_dir: str, seed: int, n_files: int, per_file: int, mix: ClickMix = ClickMix()
) -> list[str]:
    """Write ``n_files`` text files of ``per_file`` records
    'ts_ms province city user_id ad_id' and return their paths in order.
    File ``i`` covers the ``i``-th eight hours from ``AD_START``, so a date
    spans three files; a ``late_share`` of its records carry a timestamp
    from the day before."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    t0 = int(np.datetime64(AD_START, "ms").astype(np.int64))
    day = 86_400_000
    width = max(3, int(mix.middle_share * per_file / mix.middle_rate))
    paths = []
    for i in range(n_files):
        lo = t0 + i * day // 3
        ts = rng.integers(lo, lo + day // 3, per_file)
        late = rng.random(per_file) < mix.late_share
        ts[late] -= day
        tier = rng.random(per_file)
        user = rng.integers(0, mix.tail_users, per_file) + 1_000_000
        ad = rng.integers(0, mix.ads, per_file)
        mid = tier < mix.middle_share
        user[mid] = rng.integers(0, width, int(mid.sum())) + 100_000 + i * (width // 3)
        heavy = tier > 1.0 - mix.heavy_share
        user[heavy] = rng.integers(0, mix.heavy_users, int(heavy.sum()))
        sticky = mid | heavy
        ad[sticky] = user[sticky] % mix.ads
        prov = rng.integers(0, len(PROVINCES), per_file)
        city = rng.integers(0, 4, per_file)
        lines = [
            f"{t} {PROVINCES[p]} city{p}_{c} {u} {a}"
            for t, p, c, u, a in zip(
                ts.tolist(), prov.tolist(), city.tolist(), user.tolist(), ad.tolist()
            )
        ]
        path = os.path.join(out_dir, f"clicks-{i:05d}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


def read_click_file(path: str) -> list[tuple[str, str, str, int, int]]:
    """Records of one click file as (date_key, province, city, user, ad)."""
    out = []
    with open(path) as fh:
        for line in fh:
            ts, prov, city, user, ad = line.split()
            day = np.datetime64(int(ts), "ms").astype("datetime64[D]")
            out.append((str(day), prov, city, int(user), int(ad)))
    return out


def replay_blacklist(batches: list[list[tuple]], threshold: int) -> dict:
    """Plain-Python model of ``AdAnalyticsPipeline.process_batch``: per batch,
    drop clicks of blacklisted users, fold the rest into per-(date, user, ad)
    counts and per-(date, province, city, ad) stats, then blacklist every
    user whose count exceeds ``threshold``. Returns the final state."""
    blacklist: set[int] = set()
    user_counts: dict[tuple, int] = {}
    stats: dict[tuple, int] = {}
    for batch in batches:
        offenders = set()
        for day, prov, city, user, ad in batch:
            if user in blacklist:
                continue
            n = user_counts[(day, user, ad)] = user_counts.get((day, user, ad), 0) + 1
            stats[(day, prov, city, ad)] = stats.get((day, prov, city, ad), 0) + 1
            if n > threshold:
                offenders.add(user)
        blacklist |= offenders
    return {"blacklist": blacklist, "user_counts": user_counts, "stats": stats}
