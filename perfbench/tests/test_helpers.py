"""Tests for the benchmark's own helpers (no Spark needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import functools
import math
import os

import numpy as np
import pyarrow as pa
import pytest

import datagen
from oracle import stream_oracle
from stats import percentile, tail_percentile

MIN = datagen.MINUTE_US
T0 = 1_704_067_200 * datagen.US  # 2024-01-01T00:00:00


# ---- percentile rule -------------------------------------------------------

@pytest.mark.parametrize("n, p", [(100, 90), (60, 83), (40, 75), (33, 69), (20, 50), (11, 9)])
def test_tail_percentile_known_points(n, p):
    assert tail_percentile(n) == p


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(11, 1001):
        p = tail_percentile(n)
        assert n - math.ceil(p * n / 100) >= 10
        assert p == 99 or n - math.ceil((p + 1) * n / 100) < 10


def test_tail_percentile_needs_eleven_samples():
    assert tail_percentile(10) is None
    assert tail_percentile(0) is None


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 50) == 50.0
    assert percentile(values, 90) == 90.0
    assert percentile(list(reversed(values)), 99) == 99.0
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


# ---- seeded stream input ---------------------------------------------------

@functools.lru_cache(maxsize=1)
def _events() -> pa.Table:
    """The first 10 000 events of the sf0.1 table the benchmark streams:
    its event-time density, and room for ten tail files."""
    return datagen.build_tables()["events"].slice(0, 10_000)


def _write_plan(directory: str, plan: dict) -> list[str]:
    paths = datagen.write_stream_files(directory, "backlog", datagen.split(plan["backlog"], 2), 1000.0)
    return paths + datagen.write_stream_files(directory, "tail", plan["tail"], 2000.0)


def _bytes(paths: list[str]) -> list[bytes]:
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_same_seed_gives_byte_identical_files(tmp_path):
    ev = _events()
    a = _write_plan(str(tmp_path / "a"), datagen.stream_plan(ev, 5, tail_files=4))
    b = _write_plan(str(tmp_path / "b"), datagen.stream_plan(ev, 5, tail_files=4))
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert _bytes(a) == _bytes(b)
    assert [os.path.getmtime(p) for p in a] == [os.path.getmtime(p) for p in b]


def test_other_seed_reorders_the_same_events():
    ev = _events()
    p1 = datagen.stream_plan(ev, 1, tail_files=4)
    p2 = datagen.stream_plan(ev, 2, tail_files=4)

    def rows(plan):
        parts = [plan["backlog"], *plan["tail"]]
        return [list(zip(p["event_id"].tolist(), p["ts"].tolist(), p["value"].tolist())) for p in parts]

    r1, r2 = rows(p1), rows(p2)
    flat1 = [r for part in r1 for r in part]
    flat2 = [r for part in r2 for r in part]
    assert sorted(flat1) == sorted(flat2)
    assert flat1 != flat2


def test_tail_disorder_stays_inside_the_watermark_except_late_events(monkeypatch):
    late = datagen.stream_plan(_events(), 3, tail_files=10)
    assert datagen.watermark_model([late["backlog"], None, *late["tail"]])["dropped_events"] > 0
    monkeypatch.setattr(datagen, "LATE_SHARE", 0.0)
    plan = datagen.stream_plan(_events(), 3, tail_files=10)
    model = datagen.watermark_model([plan["backlog"], None, *plan["tail"]])
    assert model["dropped_events"] == 0


def test_malformed_lines_carry_no_event(monkeypatch):
    monkeypatch.setattr(datagen, "BAD_SHARE", 0.2)
    plan = datagen.stream_plan(_events(), 4, tail_files=2)
    text = datagen.json_lines(plan["tail"][0])
    lines = text.splitlines()
    bad = plan["tail"][0]["bad"]
    assert len(lines) == len(bad) and bad.any()
    for line, is_bad in zip(lines, bad):
        assert ('"event_type"' in line) != bool(is_bad)


# ---- watermark-drop model --------------------------------------------------

def _batch(rows, bad=None):
    ts, etype, value = zip(*rows)
    return {
        "ts": np.array(ts, dtype=np.int64),
        "event_type": np.array(etype, dtype=object),
        "value": np.array(value, dtype=float),
        "bad": np.array(bad if bad is not None else [False] * len(rows)),
    }


def test_model_drops_windows_ending_at_or_before_the_watermark():
    # trigger 0 sets max event time to T0 + 60 min; the no-data trigger 1
    # runs with watermark T0 + 45 min, which trigger 2 filters late rows by
    b0 = _batch([(T0 + 60 * MIN, "click", 1.0)])
    b1 = _batch([
        (T0 + 35 * MIN, "click", 2.0),  # window [30, 40) ends before 45: dropped
        (T0 + 36 * MIN, "click", 3.0),  # same late key: one dropped row in Spark's count
        (T0 + 39 * MIN, "view", 4.0),   # another late key
        (T0 + 44 * MIN, "click", 5.0),  # window [40, 50) ends after 45: kept
    ])
    m = datagen.watermark_model([b0, None, b1])
    assert m["dropped_events"] == 3
    assert m["dropped_keys"] == 2
    assert m["docs"][f"{T0 + 40 * MIN}:click"] == (1, 5.0)
    assert m["docs"][f"{T0 + 60 * MIN}:click"] == (1, 1.0)
    assert f"{T0 + 30 * MIN}:click" not in m["docs"]


def test_model_boundary_is_inclusive_and_uses_milliseconds():
    # max event time T0 + 55 min + 999 us truncates to ms -> watermark T0 + 40 min
    b0 = _batch([(T0 + 55 * MIN + 999, "click", 1.0)])
    on_edge = _batch([(T0 + 31 * MIN, "view", 1.0)])   # window ends at exactly 40: dropped
    assert datagen.watermark_model([b0, None, on_edge])["dropped_events"] == 1
    b0_later = _batch([(T0 + 55 * MIN + 1000, "click", 1.0)])  # watermark 40 min + 1 ms
    assert datagen.watermark_model([b0_later, None, on_edge])["dropped_events"] == 1
    b0_earlier = _batch([(T0 + 54 * MIN, "click", 1.0)])  # watermark 39 min
    assert datagen.watermark_model([b0_earlier, None, on_edge])["dropped_events"] == 0


def test_late_filter_lags_one_trigger_behind():
    b0 = _batch([(T0 + 60 * MIN, "click", 1.0)])
    b1 = _batch([(T0 + 600 * MIN, "click", 1.0)])  # moves the watermark to 585 min
    b2 = _batch([(T0 + 100 * MIN, "view", 1.0)])  # late only against 585: kept
    b3 = _batch([(T0 + 100 * MIN, "purchase", 1.0)])  # filtered by b2's watermark: dropped
    m = datagen.watermark_model([b0, b1, b2, b3])
    assert m["dropped_events"] == 1
    assert f"{T0 + 100 * MIN}:view" in m["docs"]
    assert f"{T0 + 100 * MIN}:purchase" not in m["docs"]


def test_model_ignores_malformed_and_filtered_rows():
    b0 = _batch([(T0 + 10 * MIN, "click", 1.0), (T0 + 900 * MIN, "click", 1.0),
                 (T0 + 900 * MIN, "bogus", 1.0), (T0 + 900 * MIN, "view", -1.0)],
                bad=[False, True, False, False])
    b1 = _batch([(T0 + 5 * MIN, "click", 2.0)])
    m = datagen.watermark_model([b0, None, b1])
    # only the first row moved the watermark (to T0 - 5 min): nothing is late
    assert m["dropped_events"] == 0
    assert m["docs"] == {f"{T0}:click": (1, 2.0), f"{T0 + 10 * MIN}:click": (1, 1.0)}


def test_first_batch_never_drops():
    b0 = _batch([(T0 + 900 * MIN, "click", 1.0), (T0, "click", 1.0)])
    assert datagen.watermark_model([b0])["dropped_events"] == 0


def test_duckdb_oracle_agrees_with_model(tmp_path):
    plan = datagen.stream_plan(_events(), 9, tail_files=10)
    _write_plan(str(tmp_path), plan)
    model = datagen.watermark_model([plan["backlog"], None, *plan["tail"]])
    assert model["dropped_events"] > 0
    got = stream_oracle(str(tmp_path))
    assert set(got) == set(model["docs"])
    for doc_id, (n, s) in model["docs"].items():
        assert got[doc_id][0] == n
        assert got[doc_id][1] == pytest.approx(round(s, 4), abs=1e-6)


# ---- BENCHMARK.json ---------------------------------------------------------

def _json(*parts):
    import json

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, *parts)) as f:
        return json.load(f)


def test_result_metrics_are_the_end_to_end_list():
    import run

    r = {"setup_s": 1.0, "cold_s": 2.0, "timing": {"gmean": 3.0}}
    got = run.end_to_end(r)
    want = _json("..", "BENCHMARK.json")["end_to_end"]
    assert [(k, v["unit"]) for k, v in got.items()] == [(m["name"], m["unit"]) for m in want]


def test_layer_table_names_every_query_it_times():
    import bench

    spec = _json("spec.json")
    names = {m["name"] for m in _json("..", "BENCHMARK.json")["per_layer"]}
    mix = list(bench.HEADLINE) + spec["warm_extra"]
    for q in mix:
        assert f"queries.run_ms.{q}" in names
    for q in mix + spec["cold_extra"]:
        assert f"queries.cold_run_ms.{q}" in names
