"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402


def test_generators_are_deterministic_per_seed_and_differ_across_seeds():
    for make in (
        lambda s: gen.events(s, replicas=2),
        lambda s: gen.stream_events(s, users=50, days=3, batch_rows=20),
        lambda s: gen.documents(s, n=300),
    ):
        assert make(1).equals(make(1))
        assert not make(1).equals(make(2))


def test_replicas_are_offset_perturbed_and_keep_the_staging_grain():
    t = gen.events(5, replicas=3).to_pandas()
    n = gen.BASE_EVENTS
    assert t["event_id"].is_unique
    base, rep = t.iloc[:n], t.iloc[n:2 * n]
    assert (rep["user_id"].to_numpy() == base["user_id"].to_numpy() + gen.BASE_USERS).all()
    assert (rep["value"].to_numpy() != base["value"].to_numpy()).mean() > 0.9
    assert (rep["event_type"].to_numpy() != base["event_type"].to_numpy()).any()
    # band of the staged temperature (value mod 120 - 10) moves for many rows
    band = lambda v: np.digitize(v % 120 - 10, [32, 51, 71, 86])  # noqa: E731
    assert (band(rep["value"].to_numpy()) != band(base["value"].to_numpy())).mean() > 0.1
    # replicas never share a user, so (postal code, day) stays one grain
    users = [set(t.iloc[r * n:(r + 1) * n]["user_id"]) for r in range(3)]
    assert not (users[0] & users[1]) and not (users[1] & users[2])


def test_stream_has_one_event_per_user_and_day():
    t = gen.stream_events(3, users=40, days=5, batch_rows=30).to_pandas()
    day = t["ts"].dt.floor("D")
    assert not t.assign(day=day).duplicated(["user_id", "day"]).any()
    assert t["ts"].is_monotonic_increasing
    assert t["batch_no"].max() == -(-len(t) // 30) - 1


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    assert tail_percentile(15) == 50  # too short for any tail: the median
    for n in range(20, 400):
        xs = list(range(n))
        p = tail_percentile(n)
        assert sum(x > percentile(xs, p) for x in xs) >= 10
        if p < 99:
            assert sum(x > percentile(xs, p + 1) for x in xs) < 10
    assert percentile([1.0, 3.0], 50) == 2.0  # the median of an even count


def test_corrupted_dashboard_answer_counts_as_failed(tmp_path):
    from workloads import DashboardMix

    class Served(DashboardMix):
        """Serves the oracle's own q3 answer, optionally corrupted."""

        corrupt = False

        def op(self, tr):
            rows = [tuple(eval(v) for v in r) for r in self._oracle["q3"]]  # noqa: S307
            if self.corrupt:
                rows[0] = (rows[0][0], rows[0][1] + 1e-9)
            return "q3", rows

    wl = Served(str(tmp_path), seed=4)
    wl.generate()
    wl.spark = SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=SimpleNamespace(getPersistentRDDs=dict))
    )
    r = run.Run(wl, 0, None)
    r.ops.append(r.run_op(0, False))
    wl.corrupt = True
    r.ops.append(r.run_op(1, False))
    attempted, failed = run.tally(r, finished=True)
    assert (attempted, failed) == (2, 1)
    assert "Mismatch" in r.errors[0]


def test_benchmark_json_lists_every_metric_the_run_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
