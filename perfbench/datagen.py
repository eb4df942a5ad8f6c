"""Input generation for the benchmark.

Two kinds of input, kept apart on purpose:

- **Tables** (:func:`write_tables`): the ten tables of the engine's catalog
  (``kse.catalog.SCHEMAS``) at sf0.1, one single-row-group parquet
  file each, in the layout, row counts, value domains and distributions
  measured on the engine's sf0.1 test data (perfbench/README.md). They
  come from one fixed data seed, so every run reads the same tables and a
  run's seed moves only what it is meant to move: query order and stream
  arrival. A run caches them in the checkout; they are rebuilt whenever
  :data:`TABLES_VERSION` changes.
- **Stream files** (:func:`stream_plan`, :func:`write_stream_files`): the
  events table and a replay of its start as JSON lines, the offline
  stand-in for the Kafka topic's JSON values. The run seed sets arrival order (bounded disorder
  inside the watermark), which events arrive after the watermark passed
  their window, and which lines are malformed.

:func:`watermark_model` is the reference for what the pipeline must drop,
given one file per trigger; the stream check compares Spark against it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_VERSION = 2
DATA_SEED = 42
SF = 0.1  # the scale factor of bench.py's headline leg

US = 1_000_000
MINUTE_US = 60 * US
DAY_US = 24 * 60 * MINUTE_US

# Pipeline semantics the model must mirror (kse.streaming.pipeline
# PipelineConfig defaults): 10-minute tumbling windows, 15-minute watermark,
# only these event types and non-negative values survive the filter.
WINDOW_US = 10 * MINUTE_US
WATERMARK_MS = 15 * 60 * 1000
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

_EPOCH_2024 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
_EVENT_SPAN_US = 30 * DAY_US
_REPLAY_SHIFT_US = 31 * DAY_US  # the tail replay never overlaps the backlog

# stream arrival: events per tail file, and the shares of late events and
# malformed lines
TAIL_FILE_EVENTS = 1000
LATE_SHARE = 0.01
BAD_SHARE = 0.005

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_COLORS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_SHARES = (0.4, 0.15, 0.15, 0.15, 0.15)


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _dates(rng, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return _ts_array(days * DAY_US)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables() -> dict[str, pa.Table]:
    """Every catalog table at scale factor ``SF`` (row counts as FIXTURES.md)."""
    rng = np.random.default_rng([DATA_SEED, int(round(SF * 1000))])
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_emb = int(50_000 * SF), int(20_000 * SF)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    colors, nouns = np.array(_COLORS), np.array(_NOUNS)
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(colors[rng.integers(0, 8, n_part)], " "),
            nouns[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    ts = np.sort(_EPOCH_2024 + rng.integers(0, _EVENT_SPAN_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_array(ts),
        "user_id": rng.integers(0, int(15_000 * SF), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents as measured at sf0.1: 10-99 tokens drawn uniformly from a
    # 30-word vocabulary; n_doc/20 near-duplicates, each another document's
    # text plus the token "dup"; eight of them share a source with another,
    # which makes the eight exact-duplicate pairs
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n_doc)]
    targets = rng.choice(n_doc, n_doc // 20, replace=False)
    sources = rng.choice(np.setdiff1d(np.arange(n_doc), targets), len(targets) - 8, replace=False)
    sources = rng.permutation(np.concatenate([sources, sources[:8]]))
    for i, j in zip(targets.tolist(), sources.tolist()):
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_SHARES),
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    # unit vectors in random directions; the label is independent of them
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n_emb)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(root: str) -> str:
    """Write (once) the tables under ``root``; return the sf dir.

    The directory name carries ``sf<x>`` as the test data's does, and is
    renamed into place only when complete, so an interrupted run leaves no
    half-written data set behind for the next one to trust.
    """
    sf_dir = os.path.join(root, f"v{TABLES_VERSION}", f"sf{SF:g}")
    if os.path.isdir(sf_dir):
        return sf_dir
    tmp = sf_dir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(table) or 1)
    os.replace(tmp, sf_dir)
    return sf_dir


# ---- stream input ----------------------------------------------------------

_BAD_LINES = (
    "<<corrupt frame>>",
    '{"event_id": %d, "ts": "2024-',
    "?? %d truncated ??",
)


def stream_plan(events: pa.Table, seed: int, tail_files: int) -> dict:
    """Arrival plan for the stream workload, a pure function of its inputs.

    Backlog: ``events`` in seed-shuffled order (one catch-up trigger drains
    it, so its order cannot drop anything). Tail: the first
    ``tail_files * TAIL_FILE_EVENTS`` events replayed 31 days later,
    ordered by ``ts + delay`` with the delay drawn below the 15-minute
    watermark, except a ``LATE_SHARE`` of events delayed by 1-24 hours,
    which arrive after later events have moved the watermark past their
    window. A ``BAD_SHARE`` of lines in every file is replaced by a
    malformed line.

    Returns ``{"backlog": columns, "tail": [columns per file]}``; columns
    are a dict of numpy arrays, with ``bad`` marking malformed lines.
    """
    rng = np.random.default_rng([seed, 7])
    cols = {c: events.column(c).to_numpy() for c in ("event_id", "user_id", "event_type", "value", "props")}
    cols["ts"] = events.column("ts").cast(pa.int64()).to_numpy()
    n = len(cols["ts"])

    order = rng.permutation(n)
    backlog = {c: v[order] for c, v in cols.items()}
    backlog["bad"] = rng.random(n) < BAD_SHARE

    m = tail_files * TAIL_FILE_EVENTS
    if m > n:
        raise ValueError(f"tail of {m} events exceeds the {n}-event table")
    tail = {c: v[:m] for c, v in cols.items()}
    tail["event_id"] = tail["event_id"] + n
    tail["ts"] = tail["ts"] + _REPLAY_SHIFT_US
    delay = rng.integers(0, 10 * MINUTE_US, m)
    late = rng.random(m) < LATE_SHARE
    delay[late] = rng.integers(60 * MINUTE_US, 24 * 60 * MINUTE_US, int(late.sum()))
    arrival = np.argsort(tail["ts"] + delay, kind="stable")
    tail = {c: v[arrival] for c, v in tail.items()}
    tail["bad"] = rng.random(m) < BAD_SHARE
    files = [
        {c: v[i * TAIL_FILE_EVENTS:(i + 1) * TAIL_FILE_EVENTS] for c, v in tail.items()}
        for i in range(tail_files)
    ]
    return {"backlog": backlog, "tail": files}


def _iso(us: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(us.astype("datetime64[us]"), unit="us")


def json_lines(cols: dict) -> str:
    """One JSON object per event, in the event schema's field order; rows
    flagged ``bad`` become malformed lines that carry no event type."""
    out = []
    for eid, ts, user, etype, value, props, bad in zip(
        cols["event_id"].tolist(), _iso(cols["ts"]).tolist(), cols["user_id"].tolist(),
        cols["event_type"].tolist(), cols["value"].tolist(), cols["props"].tolist(),
        cols["bad"].tolist(),
    ):
        if bad:
            out.append(_BAD_LINES[eid % len(_BAD_LINES)].replace("%d", str(eid)))
            continue
        props = props.replace('"', '\\"')
        out.append(
            f'{{"event_id": {eid}, "ts": "{ts}", "user_id": {user}, "event_type": "{etype}", '
            f'"value": {value!r}, "props": "{props}"}}'
        )
    return "\n".join(out) + "\n"


def write_stream_files(directory: str, prefix: str, chunks: list[dict], mtime0: float) -> list[str]:
    """Write ``chunks`` as ``<prefix>-NNNNN.json`` files in arrival order.

    Spark's file source orders new files by modification time at
    millisecond precision, so each file is stamped one second after the
    previous one: replay order then always equals arrival order.
    """
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, chunk in enumerate(chunks):
        path = os.path.join(directory, f"{prefix}-{i:05d}.json")
        with open(path, "w") as f:
            f.write(json_lines(chunk))
        os.utime(path, (mtime0 + i, mtime0 + i))
        paths.append(path)
    return paths


def split(cols: dict, parts: int) -> list[dict]:
    """``cols`` cut into ``parts`` contiguous chunks."""
    bounds = np.linspace(0, len(cols["ts"]), parts + 1).astype(int)
    return [{c: v[a:b] for c, v in cols.items()} for a, b in zip(bounds[:-1], bounds[1:])]


def watermark_model(batches: list[dict | None]) -> dict:
    """What the pipeline must keep and drop, one list entry per trigger
    (``None`` for a trigger that ran without data).

    Mirrors Structured Streaming's rules for one windowed aggregate in
    update mode. Trigger j runs with watermark
    ``wm[j] = (max event time of triggers before j, in ms) - 15 minutes``;
    its late-row filter uses the previous trigger's watermark ``wm[j-1]``
    (Spark keeps the two apart so that chained stateful operators agree),
    and drops a row whose window ends at or before it. Spark counts the
    drop after the trigger's aggregation, so ``numRowsDroppedByWatermark``
    is the number of distinct late (window, event_type) keys per trigger:
    ``dropped_keys`` here. ``dropped_events`` counts the events themselves.

    Returns ``{"dropped_events", "dropped_keys", "docs"}`` where ``docs``
    maps doc_id ``"<window_start_us>:<event_type>"`` to
    ``(n_events, sum_value)`` over every kept event.
    """
    max_ms = None  # max event time over the triggers processed so far
    late_wm_ms = None  # watermark of the previous trigger
    dropped_events = dropped_keys = 0
    docs: dict[str, list] = {}
    for cols in batches:
        wm_ms = None if max_ms is None else max_ms - WATERMARK_MS
        if cols is None:
            late_wm_ms = wm_ms
            continue
        keep = ~cols["bad"] & np.isin(cols["event_type"], list(EVENT_TYPES)) & (cols["value"] >= 0)
        ts = cols["ts"][keep]
        types = cols["event_type"][keep]
        values = cols["value"][keep]
        start = ts - ts % WINDOW_US
        if late_wm_ms is None:
            late = np.zeros(len(ts), dtype=bool)
        else:
            late = start + WINDOW_US <= late_wm_ms * 1000
        dropped_events += int(late.sum())
        dropped_keys += len(set(zip(start[late].tolist(), types[late].tolist())))
        for s, e, v in zip(start[~late].tolist(), types[~late].tolist(), values[~late].tolist()):
            doc = docs.setdefault(f"{s}:{e}", [0, 0.0])
            doc[0] += 1
            doc[1] += v
        if len(ts):
            batch_max = int(ts.max()) // 1000
            max_ms = batch_max if max_ms is None else max(max_ms, batch_max)
        late_wm_ms = wm_ms
    return {
        "dropped_events": dropped_events,
        "dropped_keys": dropped_keys,
        "docs": {k: (n, s) for k, (n, s) in docs.items()},
    }
