"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pytest

import checks
import gen
import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# Test-sized: 40 s of event time at 50 events/s over 1000 senders.
SPEC = dict(files=40, per_file=50, events_per_s=50, senders=1000, redeliver=0.05, first_late_file=10)


def test_fixed_seed_gives_byte_identical_files(tmp_path):
    a = gen.generate_stream(7, gen.StreamSpec(**SPEC))
    b = gen.generate_stream(7, gen.StreamSpec(**SPEC))
    gen.write_files(a, str(tmp_path / "a"))
    gen.write_files(b, str(tmp_path / "b"))
    for k in range(SPEC["files"]):
        name = gen.file_name(k)
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    assert gen.generate_stream(8, gen.StreamSpec(**SPEC)).files != a.files
    c1 = gen.generate_corpus(7, n_base=200, exact_groups=10, near_bases=10)
    c2 = gen.generate_corpus(7, n_base=200, exact_groups=10, near_bases=10)
    assert c1.docs.equals(c2.docs) and c1.near_pairs == c2.near_pairs


def test_planted_shares_are_present():
    d = gen.generate_stream(3, gen.StreamSpec(**SPEC))
    e = d.events
    assert d.malformed_rows > 0 and e["late"].sum() > 0 and e["redelivered"].sum() > 0
    assert (e.loc[e["late"], "file"] >= SPEC["first_late_file"]).all()
    assert int(d.published_rows.sum()) == len(e) + d.malformed_rows


def _events() -> pd.DataFrame:
    return gen.generate_stream(5, gen.StreamSpec(**SPEC)).events


def test_corrupted_window_result_fails_the_check():
    e = _events()
    wm = checks.final_watermark(e)
    want = checks.expected_windows(e, wm)
    assert len(want) > 0
    n = len(want)
    assert checks.compare_windows(want.copy(), want) == (0, n)
    bad = want.copy()
    bad.loc[0, "avg_amount"] += 0.01
    assert checks.compare_windows(bad, want) == (1, n)
    assert checks.compare_windows(want.iloc[1:], want) == (1, n)


def test_corrupted_session_result_fails_the_check():
    e = _events()
    want = checks.expected_sessions(e, checks.final_watermark(e))
    n = len(want)
    assert checks.compare_sessions(want.copy(), want) == (0, n)
    bad = want.copy()
    bad.loc[0, "n_events"] += 1
    assert checks.compare_sessions(bad, want) == (2, n + 1)


def test_corrupted_risk_rows_fail_the_check():
    e = _events()
    want = checks.expected_risk(e)
    assert checks.compare_risk(want.copy(), want) == 0
    bad = want.copy()
    bad.iloc[0, bad.columns.get_loc("risk")] += 1
    assert checks.compare_risk(bad, want) == 1
    assert checks.compare_risk(want.iloc[1:], want) == int(want.iloc[0]["n"])


def test_late_rows_are_dropped_from_the_third_batch_on():
    d = gen.generate_stream(5, gen.StreamSpec(**{**SPEC, "first_late_file": 0}))
    rows = d.published_rows
    # Batches of ten files each; the watermark is set from the first batch.
    batches = [(int(rows[k : k + 10].sum()), 0.0 if k == 0 else 1e18) for k in range(0, 40, 10)]
    dropped = checks.late_dropped(d.events, rows, batches)
    late_file = d.events.loc[d.events["late"], "file"]
    assert (late_file < 20).any() and (late_file >= 20).any()
    assert (dropped == (d.events["late"] & (d.events["file"] >= 20))).all()
    with pytest.raises(ValueError):
        checks.late_dropped(d.events, rows, [(int(rows[0]) + 1, 0.0)])


def test_components_match_union_find():
    assert checks.components([(3, 1), (1, 2), (7, 9)]) == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_metric_names_and_benchmark_json_agree():
    for name, (unit, better) in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), unit
        assert better in ("lower", "higher")
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("BENCHMARK.json is not beside the benchmark")
    with open(path) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for m in spec["end_to_end"] + spec["per_layer"]:
        table = run.END_TO_END if m in spec["end_to_end"] else run.PER_LAYER
        assert (m["unit"], m["better"]) == table[m["name"]]
