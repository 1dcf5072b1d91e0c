"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
arguments give byte-identical output, and the engine only ever sees the
files or rows produced here.

- :func:`door2door_hour` — one landed hour of raw door2door JSONL events
  (FIXTURES.md section 1 shapes) with injected duplicate, malformed and
  unknown-entity lines, plus the facts the output checks need.
- :func:`warehouse_tables` — the TPC-H-like star schema plus the ``events``
  stream table that the query catalog reads, written as parquet.
- :func:`corpus` — English-like documents with injected exact and near
  duplicates, and a small benchmark (eval) set for decontamination.
- :func:`images` — small baseline JPEG payloads.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

# ---------------------------------------------------------------------------
# door2door JSONL hours
# ---------------------------------------------------------------------------

#: Cold-start hour of the engine's watermark; hour ``i`` lands at +i hours.
FIRST_HOUR = dt.datetime(2022, 11, 24, 10, 0, 0)
ORGS = ("org-x1", "org-x2", "org-y7")
N_FILES = 4


def _iso(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"


def _uuid(rng: random.Random) -> str:
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


@dataclass
class Hour:
    """One landed hour: the file bodies and what the warehouse must show."""

    start: dt.datetime
    files: dict[str, str]
    keys: dict[str, set] = field(default_factory=dict)  # entity -> {(id, at)}
    n_lines: int = 0
    n_unknown: int = 0
    n_malformed: int = 0
    n_duplicates: int = 0
    #: Seeded, so that the lake's layout (and every Spark job count that
    #: depends on it) repeats from run to run.
    workflow_id: str = ""


def door2door_hour(seed: int, index: int, n_events: int) -> Hour:
    """Hour ``index`` of the stream: ``n_events`` distinct events, about 90%
    ``vehicle`` and 10% ``operating_period``, plus ~0.5% unknown-entity,
    ~2% duplicate and ~1% malformed lines, spread over four files.

    Every distinct event gets its own millisecond inside the hour, so the
    ``(data.id, at)`` key of each distinct event is unique by construction.
    """
    rng = random.Random(f"d2d-{seed}-{index}")
    start = FIRST_HOUR + dt.timedelta(hours=index)
    vehicles = [_uuid(random.Random(f"veh-{seed}-{v}")) for v in range(200)]
    step_ms = 3_600_000 // n_events
    keys: dict[str, set] = {"vehicle": set(), "operating_period": set()}
    known: list[str] = []
    lines: list[str] = []
    n_unknown = 0
    for i in range(n_events):
        at = start + dt.timedelta(milliseconds=i * step_ms + rng.randrange(step_ms))
        org = rng.choice(ORGS)
        roll = rng.random()
        if roll < 0.005:
            n_unknown += 1
            ev = {"event": "update", "on": "scooter", "at": _iso(at),
                  "organization_id": org, "data": {"id": _uuid(rng)}}
            lines.append(json.dumps(ev))
            continue
        if roll < 0.905:
            vid = rng.choice(vehicles)
            seen = at - dt.timedelta(seconds=rng.randrange(1, 30))
            ev = {"event": rng.choice(("update", "update", "update", "register")),
                  "on": "vehicle", "at": _iso(at), "organization_id": org,
                  "data": {"id": vid, "location": {
                      "lat": round(52.3 + rng.random() * 0.4, 6),
                      "lng": round(13.1 + rng.random() * 0.6, 6),
                      "at": _iso(seen)}}}
            keys["vehicle"].add((vid, _iso(at)))
        else:
            pid = f"op_{rng.randrange(50)}"
            ev = {"event": rng.choice(("create", "delete")),
                  "on": "operating_period", "at": _iso(at),
                  "organization_id": org,
                  "data": {"id": pid,
                           "start": _iso(start - dt.timedelta(hours=2)),
                           "finish": _iso(start + dt.timedelta(hours=10))}}
            keys["operating_period"].add((pid, _iso(at)))
        line = json.dumps(ev)
        lines.append(line)
        known.append(line)
    n_dup = n_events // 50
    n_bad = n_events // 100
    for _ in range(n_dup):
        lines.insert(rng.randrange(len(lines) + 1), rng.choice(known))
    for _ in range(n_bad):
        cut = rng.choice(known)
        lines.insert(rng.randrange(len(lines) + 1), cut[: rng.randrange(5, len(cut) - 5)])
    tag = start.strftime("%Y%m%dT%H")
    per = -(-len(lines) // N_FILES)
    files = {
        f"events_{tag}_part{k}.json": "\n".join(lines[k * per:(k + 1) * per]) + "\n"
        for k in range(N_FILES)
    }
    return Hour(start, files, keys, len(lines), n_unknown, n_bad, n_dup,
                _uuid(random.Random(f"wf-{seed}-{index}")))


def land_hour(hour: Hour, landing: Path) -> int:
    """Write the hour's files into the landing dir; returns bytes written."""
    landing.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, body in hour.files.items():
        data = body.encode()
        (landing / name).write_bytes(data)
        total += len(data)
    return total


# ---------------------------------------------------------------------------
# Warehouse (TPC-H-like) tables
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["small", "red", "blue", "large", "green", "steel"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "panel"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"]


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + offsets.astype("timedelta64[D]")


def warehouse_tables(seed: int, n_orders: int, out: Path) -> dict[str, int]:
    """Write ``{out}/{table}.parquet`` for the eight tables the warehouse
    query mix reads; returns row counts.  Sizes scale with ``n_orders``
    in the proportions of the engine's reference test data (15,000 orders
    ~ 60,000 lineitems ~ 1,500 customers ~ 100 suppliers ~ 2,000 parts).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(50, n_orders // 10)
    n_supp = max(10, n_orders // 150)
    n_part = max(100, n_orders * 2 // 15)
    n_users = max(30, n_orders // 100)
    n_events = n_orders * 2 // 3
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    tables: dict[str, dict] = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{k}" for k in range(25)],
                   "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999, 9999, n_supp),
        },
    }
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    # Whole-dollar prices keep every revenue sum exact to the cent, so no
    # result lands on a half-cent rounding tie between engine and oracle.
    price = 900.0 + np.arange(n_part) % 1000
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 5, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price,
    }
    odate = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_orders)],
        "o_totalprice": money(1000, 500000, n_orders),
        "o_orderdate": _days("1995-01-01", odate),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_orders)],
    }
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-01", odate[okey] + rng.integers(1, 122, n_li)),
    }
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    tables["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_events)],
        "value": money(0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }
    out.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, out / f"{name}.parquet")
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "that", "for", "with"]


def _vocab(rng: random.Random, n: int, prefix: str = "") -> list[str]:
    letters = "bcdfghjklmnprstvwz"
    vowels = "aeiou"
    words = set()
    while len(words) < n:
        k = rng.randrange(2, 5)
        words.add(prefix + "".join(rng.choice(letters) + rng.choice(vowels)
                                   for _ in range(k)))
    return sorted(words)


@dataclass
class Corpus:
    """Rows ``(doc_id, text, source)``, the eval set, and injection counts."""

    docs: list[tuple[int, str, str]]
    benchmark: list[tuple[int, str]]
    n_exact: int
    n_near: int
    n_contaminated: int


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents: ~90% unique, ~5% exact copies of a unique doc
    and ~5% near copies (a few words replaced), plus ~1% of unique docs
    that quote a sentence of the benchmark set.  Every document passes the
    language and quality stages, so the exact-dedup stage sees all of them
    and must drop exactly the injected exact copies."""
    rng = random.Random(f"corpus-{seed}")
    vocab = _vocab(rng, 3000)
    bench_vocab = _vocab(rng, 200, prefix="q")
    benchmark = [
        (k, " ".join(rng.choice(bench_vocab) for _ in range(12)))
        for k in range(20)
    ]

    def sentence() -> str:
        # Opening "the" and a closing "and" guarantee the two stop-word hits
        # the quality rules ask for, so every document passes them.
        return "the " + " ".join(
            rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(rng.randrange(40, 80))
        ) + " and " + rng.choice(vocab)

    n_exact = n_docs // 20
    n_near = n_docs // 20
    n_unique = n_docs - n_exact - n_near
    texts = []
    n_contaminated = 0
    for k in range(n_unique):
        text = sentence()
        if k % 100 == 7:
            n_contaminated += 1
            text += " " + rng.choice(benchmark)[1][:60].rsplit(" ", 1)[0]
        texts.append(text)
    for _ in range(n_exact):
        texts.append(texts[rng.randrange(n_unique)])
    seen = set(texts)
    while len(texts) < n_docs:
        words = texts[rng.randrange(n_unique)].split(" ")
        for _ in range(2):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        near = " ".join(words)
        if near not in seen:  # a near copy must never be an exact one
            seen.add(near)
            texts.append(near)
    order = list(range(n_docs))
    rng.shuffle(order)
    sources = ("web", "books", "code", "news")
    docs = [(i, texts[j], sources[j % 4]) for i, j in enumerate(order)]
    return Corpus(docs, benchmark, n_exact, n_near, n_contaminated)


# ---------------------------------------------------------------------------
# Images
# ---------------------------------------------------------------------------

def images(seed: int, n: int, size: int = 32) -> list[tuple[int, bytes]]:
    """``n`` baseline JPEGs of ``size``x``size`` smooth gradients with a
    little noise, encoded by the engine's own JFIF encoder."""
    from door2door_etl_spark.operators.multimodal import jpeg_bytes

    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:size, 0:size]
    out = []
    for k in range(n):
        a, b, c = rng.integers(0, 256, 3)
        r = (a + 4 * xx) % 256
        g = (b + 4 * yy) % 256
        bl = (c + 2 * (xx + yy)) % 256
        noise = rng.integers(0, 16, (3, size, size))
        px = np.stack([r + noise[0], g + noise[1], bl + noise[2]], axis=-1)
        px = np.clip(px, 0, 255).reshape(-1, 3)
        out.append((k, jpeg_bytes(size, size, [tuple(map(int, p)) for p in px])))
    return out
