"""Seeded input generators.

Everything here is a pure function of ``seed``: the same seed gives
identical frames, another seed gives different values with the same
shape and the same statistical profile, so timings do not drift with
the seed.

- ``query_tables``: the six tables the ``query_mix`` queries read, with
  the column names, types and value profiles of the repository's
  synthetic testdata (TPC-H-ish star schema, an events stream, a text
  corpus with planted near-duplicates, unit embeddings).
- ``fleet``: minute-level HVAC telemetry for a fleet of devices. Each
  device's stages are planted with one of five behaviours whose power
  analysis outcome is known in advance (``Device.expect``). At the default
  size the fleet is one device with every kind and about 26k rows, a fifth
  of a device-quarter of the reference's minute-level traffic.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ``query_mix`` input tables at scale factor ``sf`` (sf0.01 has
    60k lineitem rows, 10k events and 500 documents)."""
    n_orders = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)

    r = _rng(seed, 1)
    lineitem = pa.table({
        "l_orderkey": r.integers(0, n_orders, n_line),
        "l_partkey": r.integers(0, int(200_000 * sf), n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_line),
    })

    r = _rng(seed, 2)
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": r.integers(0, int(150_000 * sf), n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
        "o_totalprice": _money(r, 1_000.0, 500_000.0, n_orders),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, n_orders)],
    })

    r = _rng(seed, 3)
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9_999.99, n_supp),
    })

    r = _rng(seed, 4)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = np.maximum(r.exponential(259e6, n_events).astype(np.int64), 1)
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": r.integers(0, max(int(15_000 * sf), 2), n_events),
        "event_type": EVENT_TYPES[r.integers(0, 5, n_events)],
        "value": np.maximum(np.round(r.exponential(50.0, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    })

    r = _rng(seed, 5)
    words: list[list[str]] = []
    for i in range(n_docs):
        # Every 20th document copies an earlier one with the last word
        # dropped, one word appended, or verbatim: the near-duplicates that
        # the dedup and clustering queries exist to find.
        if i % 20 == 19:
            src = list(words[int(r.integers(0, i))])
            edit = r.random()
            if edit < 0.45 and len(src) > 10:
                src = src[:-1]
            elif edit < 0.9:
                src = src + [VOCAB[int(r.integers(0, len(VOCAB)))]]
            words.append(src)
        else:
            n = int(r.integers(10, 101))
            words.append([VOCAB[j] for j in r.integers(0, len(VOCAB), n)])
    texts = [" ".join(w) for w in words]
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[r.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    r = _rng(seed, 6)
    vecs = r.standard_normal((n_docs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_docs).astype(np.int32),
    })
    return {
        "lineitem": lineitem, "orders": orders, "supplier": supplier,
        "events": events, "documents": documents, "embeddings": embeddings,
    }


# ---------------------------------------------------------------------------
# HVAC fleet telemetry
# ---------------------------------------------------------------------------

STAGE_NAMES = ("heat1", "heat2", "cool1", "cool2", "fan")
START_MINUTE = 28_401_120  # 2024-01-01T00:00, in minutes since the epoch
STREAM_FLEETS = 2  # fleets side by side in the ingest stream (4 devices)
# Cycles per planted stage, per device (few_cycles stages always have 5,
# short stages half as many again). The analysed fleet is the first
# device alone: 200 cycles give it about 26k rows, a fifth of the
# reference's ~130k rows per device-quarter, and its low, bimodal and
# dispersed stages (about 8k rows each) exceed the 5000 rows the raw
# variance step keeps per stage, so that cap does work on every op. The
# full device-quarter, and a second analysed device, each added about 7 s
# to a run, which the time budget of a comparison does not allow.
FLEET_CYCLES = (200,)
STREAM_CYCLES = (30, 30)  # the ingest stream only needs a few thousand rows per segment

# Planted stage behaviours -> (variance, reason prefix, issues). Each sits
# well clear of the pipeline's thresholds (rCV 0.35, 10 cycles, GMM
# separation 0.2 x median, 10-row median cycle length); C is the
# device's entry in ``cycles``:
#   low         unimodal, 2% noise, C cycles of 30-50 rows     rCV ~0.01
#   bimodal     two tight modes 1.0x / 1.6x, C cycles          rCV ~0.09, sep 0.6
#   dispersed   log-normal sigma 1.0, C cycles                 rCV ~0.5
#   few_cycles  like low but 5 cycles                          5 < 10 cycles
#   short       dispersed, 1.5 C cycles of 5-7 rows            median 6 < 10 rows
KINDS: dict[str, tuple[str, str, tuple[str, ...]]] = {
    "low": ("Low", "unimodal", ()),
    "bimodal": ("High", "multi-modal", ()),
    "dispersed": ("High", "high dispersion", ()),
    "few_cycles": ("Low", "unimodal", ("low_cycle_count",)),
    "short": ("High", "high dispersion", ("short_cycling",)),
}
# Fleet composition, fixed for every seed: one device carries every kind
# (the AI branch runs), one carries no High stage (thresholds only). The
# ingest stream carries both; ``cycles`` picks how many are generated.
DEVICE_KINDS = (
    ("low", "bimodal", "dispersed", "few_cycles", "short"),
    ("low", "low", "few_cycles"),
)


@dataclass
class Device:
    device_id: int
    kinds: dict[str, str]  # stage name -> planted kind
    expect: dict[str, tuple[str, str, tuple[str, ...]]] = field(default_factory=dict)


def _cycle_values(r: np.random.Generator, kind: str, base: float, k: int) -> np.ndarray:
    n = int(r.integers(5, 8)) if kind == "short" else int(r.integers(30, 51))
    if kind in ("low", "few_cycles"):
        return base * (1.0 + 0.02 * r.standard_normal(n))
    if kind == "bimodal":
        level = 1.6 if k % 2 else 1.0
        return base * level * (1.0 + 0.02 * r.standard_normal(n))
    return base * r.lognormal(0.0, 1.0, n)  # dispersed, short


def _planted_cycles(kind: str, cycles: int) -> int:
    if kind == "few_cycles":
        return 5
    return cycles * 3 // 2 if kind == "short" else cycles


def fleet(seed: int, part: int = 0, t0: int = START_MINUTE,
          cycles: tuple[int, ...] = FLEET_CYCLES) -> tuple[pa.Table, list[Device]]:
    """Telemetry ``[device_id, row_id, timeStamp, tstate, energy]`` for the
    fleet, sorted by (device_id, timeStamp), plus each device's planted
    expectation per stage. ``t0`` is the first minute since the epoch;
    ``part`` picks an independent draw; ``cycles`` sizes each device's
    stages."""
    r = np.random.default_rng([int(seed), 10, int(part)])
    cols: dict[str, list] = {k: [] for k in ("device_id", "minute", "tstate", "energy")}
    devices = []
    for dev, (kinds, n_cycles) in enumerate(zip(DEVICE_KINDS, cycles)):
        names = list(r.permutation(STAGE_NAMES)[: len(kinds)])
        planted = dict(zip(names, kinds))
        devices.append(Device(dev, planted, {s: KINDS[k] for s, k in planted.items()}))
        left = {s: _planted_cycles(k, n_cycles) for s, k in planted.items()}
        base = {s: float(r.uniform(800.0, 3000.0)) for s in planted}
        done = {s: 0 for s in planted}
        minute, prev = t0, None
        while any(left.values()):
            # Adjacent cycles must differ in stage, or sessionize would merge
            # them; weight by cycles left so every stage finishes.
            cand = [s for s in left if left[s] and s != prev]
            if not cand:
                break
            w = np.array([left[s] for s in cand], dtype=float)
            s = cand[int(r.choice(len(cand), p=w / w.sum()))]
            vals = np.round(_cycle_values(r, planted[s], base[s], done[s]), 1)
            vals = np.maximum(vals, 0.1)
            n = len(vals)
            cols["device_id"].append(np.full(n, dev, np.int64))
            cols["minute"].append(minute + np.arange(n))
            cols["tstate"].append(np.full(n, s, object))
            cols["energy"].append(vals)
            minute += n
            left[s] -= 1
            done[s] += 1
            prev = s
    minutes = np.concatenate(cols["minute"])
    table = pa.table({
        "device_id": np.concatenate(cols["device_id"]),
        "row_id": np.arange(len(minutes), dtype=np.int64),
        "timeStamp": pa.array(minutes * 60_000_000, pa.timestamp("us")),
        "tstate": np.concatenate(cols["tstate"]).astype(str),
        "energy": np.concatenate(cols["energy"]),
    })
    return table, devices


def telemetry_stream(seed: int):
    """Endless fleet telemetry for ingest, as consecutive time segments:
    each segment holds ``STREAM_FLEETS`` independent fleets side by side
    (device ids offset per fleet) and starts the minute after the previous
    one ends. Rows of a segment are in (timeStamp, device_id) order and
    ``row_id`` counts across segments."""
    t0, row0, part = START_MINUTE, 0, 0
    while True:
        tables = []
        for g in range(STREAM_FLEETS):
            t, _ = fleet(seed, part, t0, STREAM_CYCLES)
            part += 1
            dev = t.column("device_id").to_numpy() + len(DEVICE_KINDS) * g
            tables.append(t.set_column(0, "device_id", pa.array(dev)))
        seg = pa.concat_tables(tables)
        ts = seg.column("timeStamp").cast(pa.int64()).to_numpy()
        order = np.lexsort((seg.column("device_id").to_numpy(), ts))
        seg = seg.take(pa.array(order))
        seg = seg.set_column(1, "row_id", pa.array(np.arange(row0, row0 + seg.num_rows)))
        row0 += seg.num_rows
        t0 = int(ts.max() // 60_000_000) + 1
        yield seg
