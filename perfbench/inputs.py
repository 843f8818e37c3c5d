"""Seeded benchmark inputs.

Every generator is a pure function of (seed, sizes): the same seed gives
byte-identical rows, and a different seed gives different rows with the
same shape. Shares that shape the work are exact, not sampled:

* events: row ``i`` draws its class from ``(i * 7919 + offset(seed)) % 1000``,
  a bijection on every block of 1000 consecutive ids, so each 1000-row
  block has exactly 15 invalid rows (1.5%) and exactly ``hot_permille``
  rows on the one hot FILE artifact. ``(i * 3571 + offset) % 10`` gives
  exactly 20% parentless rows. Artifact names come from a fixed
  vocabulary of ``VOCAB`` names, drawn by ``i`` modulo a prime, so every
  name occurs in every seed (with 10 000 rows, each about 20 times).
* pages: ``gen_pages_zipf`` rows for a seeded selection of page ids from
  a pool 1.25 times the size of the sample, stratified so exactly
  ``round(n * hot_frac)`` pages carry its hot entity sentence.

Both are built with numpy and pyarrow: set-up compiles no Spark plan.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
from sigraph_spark.corpus import ACTIONS_BY_TYPE, ACTORS, PORTABLE_M
from sigraph_spark.operators.triples import SENTENCE_BANK

EPOCH = dt.datetime(2024, 1, 1)
BLOCK = 1000              # class bijection period; batch sizes are multiples of it
INVALID_PERMILLE = 15     # 1.5% invalid rows
NULL_PARENT_DECILE = 2    # 20% rows without a parent
VOCAB = 499               # distinct non-hot artifact names (prime: decoupled from BLOCK)
N_UNITS = 5
TRACES_PER_UNIT = 25
HOT_NAME = "C:\\windows\\temp\\hot@payload.bin"
# gen_pages_zipf's hot-page rule (corpus.py): portable_hash(i, 97) % 1000 < hot_frac * 1000
ZIPF_HOT_SALT = 97
POOL = 1.25  # page pool / sample: leaves ~0.375 n hot and ~0.875 n other pages to draw from


def _offset(seed: int, salt: int, mod: int) -> int:
    return (seed * 2654435761 + salt * 40503) % mod


def event_classes(ids: np.ndarray, seed: int) -> np.ndarray:
    """Class draw in [0, BLOCK) of each event id: < INVALID_PERMILLE is an
    invalid row, the next ``hot_permille`` values are hot-artifact rows."""
    return (ids * 7919 + _offset(seed, 1, BLOCK)) % BLOCK


def artifact_type(k: int) -> str:
    """Type of vocabulary name ``k`` (mix: FILE 35, REGISTRY 20,
    NETWORK 15, PROCESS 20, MODULE 10 per 100)."""
    kind = k % 100
    for bound, t in ((35, "FILE"), (55, "REGISTRY"), (70, "NETWORK"), (90, "PROCESS")):
        if kind < bound:
            return t
    return "MODULE"


def artifact_name(k: int) -> str:
    """Node-id prefix of vocabulary name ``k`` (see ``gen_events``)."""
    return f"{artifact_type(k).lower()}_art_{k}"


def unit_ids() -> list[str]:
    """The ``unit_id`` values ``gen_events`` draws from."""
    return [f"00000000-0000-4000-8000-{u:012d}" for u in range(N_UNITS)]


def invalid_span_ids(seed: int, start: int, n: int) -> set[str]:
    """span_ids of the invalid rows among events [start, start + n)."""
    ids = np.arange(start, start + n, dtype=np.int64)
    return {f"span-{i}" for i in ids[event_classes(ids, seed) < INVALID_PERMILLE]}


def gen_events(seed: int, n: int, hot_permille: int) -> pa.Table:
    """Provenance events ``[0, n)`` in ``corpus.gen_events``' schema
    (GraphNode, FIXTURES.md §2). The per-row draws come from one seeded
    PCG64 stream; the shares come from the bijections above."""
    if n % BLOCK:
        raise ValueError(f"n must be a multiple of {BLOCK}")
    i = np.arange(n, dtype=np.int64)
    cls = event_classes(i, seed)
    invalid = cls < INVALID_PERMILLE
    hot = (cls >= INVALID_PERMILLE) & (cls < INVALID_PERMILLE + hot_permille)
    has_parent = (i * 3571 + _offset(seed, 2, 10)) % 10 >= NULL_PARENT_DECILE
    k = (i * 7 + _offset(seed, 3, VOCAB)) % VOCAB

    rng = np.random.default_rng(seed)
    unit = rng.integers(0, N_UNITS, n)
    trace = rng.integers(0, TRACES_PER_UNIT, n)
    act = rng.integers(0, 60, n)  # 60 is a multiple of every action-list length
    actor = rng.integers(0, len(ACTORS), n)
    parent = rng.integers(0, 12, n)
    tenths = rng.integers(0, 864_000, n)
    weight = rng.integers(1, 10, n)
    has_rules = rng.integers(0, 20, n) == 0
    rule_a, rule_b = rng.integers(0, 8, n), rng.integers(0, 8, n)

    names = [artifact_name(int(x)) for x in range(VOCAB)]
    types = [artifact_type(int(x)) for x in range(VOCAB)]
    sp, proc, parent_sp, parent_span, rules = [], [], [], [], []
    for r in range(n):
        kr = int(k[r])
        if hot[r]:
            name, atype = HOT_NAME, "FILE"
        else:
            name = names[kr] + ("@host" if kr % 7 == 0 else "")
            atype = types[kr]
        acts = ACTIONS_BY_TYPE[atype]
        good = f"{name}@{atype}@{acts[act[r] % len(acts)]}@{ACTORS[actor[r]]}"
        if invalid[r]:
            good = (
                "", "no_at_separator", f"{name}@BADTYPE@CREATE@WRITE_SEND",
                f"{name}@FILE@BADACTION@WRITE_SEND",
            )[cls[r] % 4]
        sp.append(good)
        pname = f"proc_{parent[r]}.exe"
        proc.append(pname if has_parent[r] else None)
        parent_sp.append(f"{pname}@PROCESS@LAUNCH@NOT_ACTOR" if has_parent[r] else None)
        parent_span.append(f"span-p-{parent[r]}" if has_parent[r] else None)
        rules.append([f"rule-{rule_a[r]}", f"rule-{rule_b[r]}"] if has_rules[r] else None)
    ts = np.datetime64(EPOCH, "us") + (tenths * 100_000).astype("timedelta64[us]")
    units = unit_ids()
    return pa.table({
        "trace_id": [f"trace-{u}-{t}" for u, t in zip(unit, trace)],
        "span_id": [f"span-{x}" for x in i],
        "unit_id": [units[u] for u in unit],
        "system_provenance": sp,
        "timestamp": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "weight": pa.array(weight, pa.int32()),
        "process_name": proc,
        "related_rule_ids": pa.array(rules, pa.list_(pa.string())),
        "parent_span_id": parent_span,
        "parent_system_provenance": parent_sp,
    })


def syslog_docs(events: pa.Table, seed: int) -> pa.Table:
    """Syslog documents for ``ordered_sequences`` and keyset paging: one
    per event, ``raw_data.Timestamp`` jittered by up to 10 s so the payload
    order differs from the storage order."""
    rng = np.random.default_rng([seed, 11])
    ts = events.column("timestamp").to_numpy().astype("datetime64[us]")
    jitter = rng.integers(0, 10, len(ts)).astype("timedelta64[s]")
    payload_ts = np.datetime_as_string(ts + jitter, unit="ms")
    raw = pa.StructArray.from_arrays(
        [pa.array(payload_ts), events.column("process_name").combine_chunks(),
         events.column("system_provenance").combine_chunks()],
        names=["Timestamp", "Image", "TargetObject"],
    )
    return pa.table({
        "doc_id": events.column("span_id"),
        "unit_id": events.column("unit_id"),
        "trace_id": events.column("trace_id"),
        "timestamp": events.column("timestamp"),
        "raw_data": raw,
    })


def _portable_hash(i: np.ndarray, salt: int) -> np.ndarray:
    """``corpus.portable_hash`` over an int64 array (every product stays
    below 2^62)."""
    m = PORTABLE_M
    x = ((i % m) * 1103515245 + (salt * 12345 + 12345)) % m
    x = (x * 48271) % m
    return (x * 48271) % m


def zipf_pages(ids: np.ndarray, hot_frac: float) -> pa.Table:
    """The rows ``gen_pages_zipf(hot_frac, obj_pool=None)`` generates for
    page ids ``ids``, built without Spark; ``test_perfbench`` pins them
    to the Spark generator byte for byte."""
    bank = [s.text for s in SENTENCE_BANK if s.page_safe]
    k = len(bank)
    n_sent = _portable_hash(ids, 11) % 4 + 2
    h12, h13 = _portable_hash(ids, 12), _portable_hash(ids, 13) % (k - 1) + 1
    hot = _portable_hash(ids, ZIPF_HOT_SALT) % 1000 < int(hot_frac * 1000)
    html = []
    for r, i in enumerate(ids):
        body = "\n".join(bank[(h12[r] + j * h13[r]) % k] for j in range(n_sent[r]))
        if hot[r]:
            body += f"\nHotBot executed C:\\hot\\payload_{i}.exe."
        title = f"Threat report #{i}"
        html.append((
            f"<html><head><title>{title}</title><script>var x=1;</script>"
            "<style>.a{color:red}</style></head><body>"
            "<nav><a href='/'>Home</a> | <a href='/about'>About</a></nav>"
            f"<div class='content'><h1>{title}</h1><p>{body}</p></div>"
            "<footer>&copy; 2024 Example Corp &mdash; all rights reserved</footer>"
            "</body></html>"
        ).encode())
    seconds = _portable_hash(ids, 14) % 31_536_000
    return pa.table({
        "url": [f"https://example.org/report/{i}" for i in ids],
        "warc_ts": pa.array(
            np.datetime64(EPOCH, "us") + (seconds * 1_000_000).astype("timedelta64[us]"),
            pa.timestamp("us", tz="UTC"),
        ),
        "html": pa.array(html, pa.binary()),
        "text": pa.nulls(len(ids), pa.string()),
        "lang": ["en"] * len(ids),
    })


def kg_page_ids(n: int, seed: int, hot_frac: float) -> np.ndarray:
    """Seeded ``n`` page ids from ``[0, POOL * n)`` with exactly
    ``round(n * hot_frac)`` of gen_pages_zipf's hot pages."""
    pool = np.arange(int(POOL * n), dtype=np.int64)
    hot = _portable_hash(pool, ZIPF_HOT_SALT) % 1000 < int(hot_frac * 1000)
    n_hot = round(n * hot_frac)
    rng = np.random.default_rng([seed, 97])
    picked = np.concatenate([
        rng.choice(pool[hot], n_hot, replace=False),
        rng.choice(pool[~hot], n - n_hot, replace=False),
    ])
    return np.sort(picked)
