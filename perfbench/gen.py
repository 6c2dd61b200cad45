"""Seeded input generator for the benchmark workloads.

Every table is synthesized from the seed alone, with the schemas and value
domains of the engine's test corpus (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``), so a run needs nothing outside
its checkout. The invariants the oracles rely on hold for every seed:

- ids are unique (``c_custkey``, ``o_orderkey``, ``event_id``, ``doc_id``,
  ``vec_id``); the one exception is the stream corpus, whose re-sent rows
  repeat an ``event_id`` on purpose because dedup is what it measures;
- ``value`` and every price is an exact 2-decimal number (cents / 100);
- parquet files are written in row groups of at most ``ROW_GROUP`` rows.

A corpus is written to ``<root>/<recipe>-<digest>-s<seed>`` and reused when
the same recipe and seed come again. ``meta.json`` holds the row and series
counts (and, for the stream corpus, the planted late rows); it is written
last, so its presence marks a complete directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2
ROW_GROUP = 65_536
SHIFT = 10_000_000  # id offset per replica, as in scripts/stress10x.py

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "old", "large", "hot", "cold", "red", "small", "new")
PART_NOUN = ("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

US_PER_HOUR = 3_600 * 10**6
US_PER_DAY = 24 * US_PER_HOUR
EVENTS_T0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))

# Sizes are relative to the test corpus at sf0.1 (lineitem 600k rows,
# events 100k rows over 1500 users, 5000 documents, 2000 embeddings).
RECIPES: dict[str, dict] = {
    # the 10 headline queries at sf0.1
    "query_cold": {"tpch": 1.0, "users": 1500, "events": 100_000,
                   "docs": 5000, "emb": 200},
    # many user series (replicated, some perturbed) + 3 long revenue series
    "forecast_series": {"tpch": 0.25, "users": 800, "events": 50_000,
                        "replicas": 2, "docs": 100, "emb": 50},
    # documents with planted near-duplicate clusters, and embeddings
    "llm_dedup": {"tpch": 0.01, "users": 50, "events": 1000,
                  "docs": 2000, "emb": 500},
    # time-ordered event files with late and re-sent rows
    "stream_replay": {"users": 300, "events": 12_000, "files": 3,
                      "hours": 24},
}


def _str(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object), pa.string())


def _pick(rng, choices, n, p=None) -> pa.Array:
    return _str(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact 2-decimal values: an integer count of cents divided by 100."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _write(path: Path, table: pa.Table) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def tpch_tables(rng, scale: float) -> dict[str, pa.Table]:
    n_c, n_s = max(int(15_000 * scale), 25), max(int(1_000 * scale), 10)
    n_p, n_o = max(int(20_000 * scale), 50), max(int(150_000 * scale), 100)
    n_l = max(int(600_000 * scale), 400)
    i32 = pa.int32()
    keys_p = np.arange(n_p)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": _str(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": _str([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c)),
            "c_name": _str([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_c)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s)),
            "s_name": _str([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_s))}),
        "part": pa.table({
            "p_partkey": pa.array(keys_p),
            "p_name": _str([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))
            ]),
            "p_brand": _str([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
            "p_type": _pick(rng, PART_TYPES, n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p), i32),
            "p_retailprice": pa.array((90_000 + (keys_p % 1000) * 10) / 100.0)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o)),
            "o_orderstatus": _pick(rng, ("O", "P", "F"), n_o),
            "o_totalprice": pa.array(_cents(rng, 1000, 499_999.99, n_o)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_o),
            "o_orderpriority": _pick(rng, PRIORITIES, n_o)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l)),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l)),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(float)),
            "l_extendedprice": pa.array(_cents(rng, 900, 104_999.99, n_l)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_l),
            "l_linestatus": _pick(rng, ("O", "F"), n_l),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l)}),
    }


def _value_cents(rng, n: int) -> np.ndarray:
    return np.minimum(rng.exponential(6_000.0, n).astype(np.int64), 56_021)


def events_columns(rng, n_users: int, n_events: int, t0: int, span_us: int) -> dict:
    """Events sorted by time; ``event_id`` follows time order."""
    return {
        "ts": np.sort(rng.integers(0, span_us, n_events)) + t0,
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.integers(0, len(EVENT_TYPES), n_events),
        "cents": _value_cents(rng, n_events),
        "k": rng.integers(0, 100, n_events),
    }


def events_table(event_id, cols: dict) -> pa.Table:
    return pa.table({
        "event_id": pa.array(np.asarray(event_id, dtype=np.int64)),
        "ts": pa.array(np.asarray(cols["ts"], dtype=np.int64).astype("datetime64[us]")),
        "user_id": pa.array(np.asarray(cols["user_id"], dtype=np.int64)),
        "event_type": _str(np.asarray(EVENT_TYPES, dtype=object)[cols["event_type"]]),
        "value": pa.array(np.asarray(cols["cents"]) / 100.0),
        "props": _str([f'{{"k": {k}}}' for k in cols["k"]]),
    })


def replicated_events(rng, n_users: int, n_events: int, replicas: int):
    """Base events plus ``replicas - 1`` copies with shifted user and event
    ids. A seed-set share of users gets its replica values perturbed; the
    remaining users' replicas are exact copies, so their series (and every
    per-series output) must equal the source user's."""
    base = events_columns(rng, n_users, n_events, EVENTS_T0, 30 * US_PER_DAY)
    share = rng.uniform(0.3, 0.7)
    perturbed = np.flatnonzero(rng.random(n_users) < share)
    parts, ids = [], []
    for r in range(replicas):
        cols = dict(base)
        cols["user_id"] = base["user_id"] + r * SHIFT
        if r:
            bump = rng.integers(1, 500, n_events)
            hit = np.isin(base["user_id"], perturbed)
            cols["cents"] = np.where(hit, base["cents"] + bump, base["cents"])
        parts.append(cols)
        ids.append(np.arange(n_events) + r * SHIFT * 10)
    merged = {k: np.concatenate([p[k] for p in parts]) for k in base}
    event_id = np.concatenate(ids)
    order = np.argsort(merged["ts"], kind="stable")
    table = events_table(event_id[order], {k: v[order] for k, v in merged.items()})
    users = np.unique(base["user_id"])
    exact = [int(u) for u in users if u not in set(perturbed.tolist())]
    return table, {"users": len(users) * replicas, "exact_users": exact}


def _doc_words(rng, n: int) -> list[list[str]]:
    lengths = rng.integers(12, 91, n)
    return [[WORDS[i] for i in rng.integers(0, len(WORDS), m)] for m in lengths]


def _near_dup(rng, words: list[str]) -> list[str]:
    """One small edit that keeps the 4-char prefix and the 3-gram Jaccard
    similarity to the source above 0.5 (docs have at least 12 words)."""
    out = list(words)
    if rng.random() < 0.5:
        out.append("dup")
    else:
        i = int(rng.integers(1, len(out)))
        out[i] = WORDS[(WORDS.index(out[i]) + 1) % len(WORDS)]
    return out


def documents_table(rng, n_docs: int):
    """Documents with planted near-duplicate clusters of skewed size.

    About 15% of the documents are near-duplicates; the seed sets the
    Zipf exponent of their cluster sizes (capped at 24), so seeds differ
    in how much dedup work the inputs share."""
    n_dups = int(n_docs * 0.15)
    n_src = n_docs - n_dups
    texts = _doc_words(rng, n_src)
    alpha = rng.uniform(1.6, 2.4)
    clusters = []
    left = n_dups
    while left > 0:
        size = min(int(rng.zipf(alpha)), 24, left)
        clusters.append(size)
        left -= size
    sources = rng.choice(n_src, len(clusters), replace=False)
    for src, size in zip(sources, clusters):
        for _ in range(size):
            texts.append(_near_dup(rng, texts[src]))
    text = [" ".join(w) for w in texts]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": _str(text),
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": _str([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.asarray([len(t) for t in text], dtype=np.int64)),
    })
    meta = {"docs": n_docs, "near_dups": n_dups, "clusters": len(clusters),
            "max_cluster": max(clusters, default=0), "zipf_alpha": round(alpha, 4)}
    return table, meta


def embeddings_table(rng, n: int) -> pa.Table:
    """Vectors around 10 centroids (label = centroid) with ~10% near-dups."""
    centroids = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n)
    vec = 0.5 * centroids[label] + rng.normal(0.0, 1.0, (n, 64))
    dup = rng.random(n) < 0.1
    src = rng.integers(0, n, n)
    vec[dup] = vec[src[dup]] + rng.normal(0.0, 0.05, (int(dup.sum()), 64))
    label[dup] = label[src[dup]]
    v = (vec * 0.13).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def stream_files(rng, out: Path, n_users: int, n_events: int, n_files: int,
                 hours: int) -> dict:
    """``events.parquet`` as a directory of ``n_files`` time-ordered files.

    File k covers the k-th slice of the time span. Each file from the
    second on also carries:

    - late rows (from the third file on): fresh events at least 3 h older
      than the newest event of files 0..k-2. A stateful operator drops
      events older than the watermark of the previous micro-batch, which
      is that newest event minus 1 h, so every late row is dropped and its
      hourly window has closed; the seed sets their share (0.5%-2%);
    - re-sent rows: copies of events from the last 30 min of the previous
      file, inside the watermark, which streaming dedup must drop.

    File modification times increase with k, which fixes the order a
    file-stream source reads them in."""
    span = hours * US_PER_HOUR
    cols = events_columns(rng, n_users, n_events, EVENTS_T0, span)
    ids = np.arange(n_events)
    bounds = np.searchsorted(cols["ts"], EVENTS_T0 + np.arange(n_files + 1) * span // n_files)
    bounds[-1] = n_events
    late_share = rng.uniform(0.005, 0.02)
    next_id = n_events
    late_ids: list[int] = []
    d = out / "events.parquet"
    d.mkdir()
    total_rows = 0
    for k in range(n_files):
        lo, hi = bounds[k], bounds[k + 1]
        part = {c: v[lo:hi] for c, v in cols.items()}
        part_ids = ids[lo:hi]
        if k:
            prev_lo, prev_hi = bounds[k - 1], bounds[k]
            n_late = max(1, int((hi - lo) * late_share)) if k >= 2 else 0
            closed = int(cols["ts"][:prev_lo].max()) if k >= 2 else EVENTS_T0
            late = events_columns(rng, n_users, n_late, EVENTS_T0,
                                  max(closed - EVENTS_T0 - 3 * US_PER_HOUR, 1))
            late_id = np.arange(next_id, next_id + n_late)
            next_id += n_late
            late_ids.extend(int(i) for i in late_id)
            newest = int(cols["ts"][:prev_hi].max())
            recent = np.flatnonzero(cols["ts"][prev_lo:prev_hi]
                                    > newest - US_PER_HOUR // 2) + prev_lo
            resent = rng.choice(recent, min(len(recent), max(1, (hi - lo) // 100)),
                                replace=False)
            part = {c: np.concatenate([part[c], late[c], cols[c][resent]]) for c in cols}
            part_ids = np.concatenate([part_ids, late_id, ids[resent]])
        f = d / f"part-{k:03d}.parquet"
        _write(f, events_table(part_ids, part))
        os.utime(f, (1_700_000_000 + k, 1_700_000_000 + k))
        total_rows += len(part_ids)
    return {"rows": total_rows, "files": n_files, "late_ids": late_ids,
            "late_rows": len(late_ids), "late_share": round(late_share, 5),
            "max_ts_us": int(cols["ts"].max())}


def recipe_digest(recipe: str) -> str:
    spec = json.dumps({"v": GENERATOR_VERSION, "recipe": RECIPES[recipe]}, sort_keys=True)
    return hashlib.sha256(spec.encode()).hexdigest()[:10]


def generate(recipe: str, seed: int, out: Path) -> dict:
    """Write one corpus into the empty directory ``out``; return its meta."""
    spec = RECIPES[recipe]
    rng = np.random.default_rng([seed, GENERATOR_VERSION])
    meta: dict = {"recipe": recipe, "seed": seed, "rows": {}}
    if recipe.startswith("stream_replay"):
        meta["stream"] = stream_files(rng, out, spec["users"], spec["events"],
                                      spec["files"], spec["hours"])
        meta["rows"]["events"] = meta["stream"]["rows"]
        return meta
    tables = tpch_tables(rng, spec["tpch"])
    replicas = spec.get("replicas", 1)
    tables["events"], ev = replicated_events(rng, spec["users"], spec["events"], replicas)
    meta["series"] = ev
    tables["documents"], meta["documents"] = documents_table(rng, spec["docs"])
    tables["embeddings"] = embeddings_table(rng, spec["emb"])
    for name, table in tables.items():
        _write(out / f"{name}.parquet", table)
        meta["rows"][name] = table.num_rows
    return meta


def corpus(root: Path, recipe: str, seed: int) -> tuple[Path, dict]:
    """The cached corpus directory for (recipe, seed), generating it first
    if needed, and its meta."""
    d = Path(root) / f"{recipe}-{recipe_digest(recipe)}-s{seed}"
    marker = d / "meta.json"
    if marker.exists():
        return d, json.loads(marker.read_text())
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    meta = generate(recipe, seed, d)
    tmp = d / "meta.json.tmp"
    tmp.write_text(json.dumps(meta))
    tmp.rename(marker)
    return d, meta
