"""Self-tests of the benchmark's helpers and output checks (no JVM).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pytest

import datagen
import faces
from harness import (
    METRIC_NAME,
    Run,
    StealMeter,
    Tracer,
    check_delivery,
    parse_cpu_line,
    percentile,
    result_hash,
    tail_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentiles --------------------------------------------------------------


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).exponential(size=257))
    for q in (0, 10, 50, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(list(range(1000)), 99) == pytest.approx(989.01)
    with pytest.raises(ValueError, match="needs 1000 samples"):
        tail_percentile(list(range(999)), 99)
    assert tail_percentile(list(range(100)), 90) == pytest.approx(89.1)
    with pytest.raises(ValueError):
        tail_percentile(list(range(99)), 90)


# -- /proc/stat steal ---------------------------------------------------------

STAT = """cpu  687317 0 36316 880987 421 0 23549 57126 0 0
cpu0 171829 0 9079 220246 105 0 5887 14281 0 0
intr 1 2 3
"""


def test_parse_cpu_line():
    steal, total = parse_cpu_line(STAT)
    assert steal == 57126
    assert total == 687317 + 36316 + 880987 + 421 + 23549 + 57126


def test_parse_cpu_line_rejects_missing_line():
    with pytest.raises(ValueError):
        parse_cpu_line("cpu0 1 2 3 4 5 6 7 8\n")


def test_steal_meter_share(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  100 0 0 800 0 0 0 100 0 0\n")
    meter = StealMeter(str(stat))
    meter.start()
    # +300 busy, +500 idle, +200 steal: 200 of 1000 jiffies stolen
    stat.write_text("cpu  400 0 0 1300 0 0 0 300 0 0\n")
    assert meter.share() == pytest.approx(0.2)


def test_steal_meter_without_proc_stat(tmp_path):
    meter = StealMeter(str(tmp_path / "absent"))
    meter.start()
    assert meter.share() == 0.0


# -- exactly-once / order checker ------------------------------------------------

IDS = ["5-0", "5-1", "6-0", "10-0"]


def test_delivery_accepts_exactly_once_in_order():
    assert check_delivery(IDS, IDS) == ([], set())


def test_delivery_rejects_duplicated_id():
    problems, bad = check_delivery(IDS, IDS[:2] + ["5-1"] + IDS[2:])
    assert bad == {"5-1"}
    assert any("duplicated" in p for p in problems)


def test_delivery_rejects_missing_id():
    problems, bad = check_delivery(IDS, IDS[:-1])
    assert bad == {"10-0"}
    assert any("missing" in p for p in problems)


def test_delivery_rejects_reordered_id():
    problems, bad = check_delivery(IDS, ["5-0", "6-0", "5-1", "10-0"])
    assert bad == {"5-1"}
    assert any("out of order" in p for p in problems)


def test_delivery_orders_numerically_not_lexically():
    # "10-0" < "6-0" as strings; (10, 0) > (6, 0) as the log orders ids
    assert check_delivery(IDS, IDS)[0] == []
    assert check_delivery(IDS, ["5-0", "5-1", "10-0", "6-0"])[1] == {"6-0"}


def test_delivery_by_key_allows_interleaved_keys():
    key = {"5-0": "a", "5-1": "b", "6-0": "a", "10-0": "b"}.__getitem__
    assert check_delivery(IDS, ["5-1", "10-0", "5-0", "6-0"], key) == ([], set())
    _, bad = check_delivery(IDS, ["10-0", "5-1", "5-0", "6-0"], key)
    assert bad == {"5-1"}


# -- result hashing and the face check ---------------------------------------------


def test_result_hash_is_order_insensitive():
    rows = [(1, 0.1, "x"), (2, None, "y")]
    assert result_hash(["a", "b", "c"], rows) == result_hash(
        ["c", "a", "b"], [(r[2], r[0], r[1]) for r in reversed(rows)]
    )


def test_result_hash_sees_one_bit_of_a_float():
    a = result_hash(["v"], [(0.1 + 0.2,)])
    assert a != result_hash(["v"], [(0.3,)])
    assert a != result_hash(["v"], [(0.1 + 0.2,), (0.1 + 0.2,)])


class FakeDataFrame:
    """Just enough DataFrame for ``check_faces``: columns, collect, and a
    noop write."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows

    @property
    def write(self):
        return self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass


def test_face_check_fires_on_a_wrong_result(tmp_path, monkeypatch):
    rng = np.random.default_rng(3)
    datagen.write_sf_tables(rng, str(tmp_path))
    sql = "SELECT l_returnflag AS f, COUNT(*) AS n FROM lineitem GROUP BY 1"
    path = tmp_path / "lineitem.parquet"
    right = duckdb.sql(
        f"SELECT l_returnflag AS f, COUNT(*) AS n FROM '{path}' GROUP BY 1"
    ).fetchall()
    wrong = [(f, n + (f == "A")) for f, n in right]
    results = {name: right for name in faces.FACES}
    results["q169_knn_graph"] = wrong
    monkeypatch.setattr(
        faces.registry,
        "all_queries",
        lambda: {n: (lambda s, d, n=n: FakeDataFrame(["f", "n"], results[n])) for n in faces.FACES},
    )
    monkeypatch.setattr(faces.registry, "all_oracle_sql", lambda: {n: sql for n in faces.FACES})
    run = Run(None, Tracer(False), str(tmp_path), rng, 1.0, 1.0, 0.0)
    assert faces.check_faces(run, str(tmp_path)) == {"q169_knn_graph"}
    assert len(run.problems) == 1 and "q169_knn_graph" in run.problems[0]


def test_generated_tables_repeat_for_a_seed():
    a = datagen.documents(np.random.default_rng(7))
    b = datagen.documents(np.random.default_rng(7))
    assert a.equals(b)
    texts = a.column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == datagen.NEAR_DUPS


# -- spans ------------------------------------------------------------------------


def test_tracer_records_parent_and_nothing_when_off(tmp_path):
    on = Tracer(True)
    with on.span("outer"):
        with on.span("inner"):
            pass
    outer, inner = on.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    on.write(str(tmp_path / "spans.jsonl"))
    assert len((tmp_path / "spans.jsonl").read_text().splitlines()) == 2
    off = Tracer(False)
    with off.span("outer"):
        pass
    assert off.spans == []


# -- BENCHMARK.json ------------------------------------------------------------------


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert METRIC_NAME.match(m["name"]), m["name"]
        assert all(c.isalnum() or c in "_/%.-" for c in m["unit"]), m["unit"]
    for face in faces.FACES:
        for metric in faces.FACE_METRICS:
            assert f"face.{face}.{metric}" in names
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in spec["end_to_end"] if m["name"] == "setup_s"
    ).items()
