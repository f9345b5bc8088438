"""The benchmark's own tests: input determinism, metric names against
BENCHMARK.json, and gates that catch corrupted outputs. None starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import bronze_gen  # noqa: E402
import fetch_log  # noqa: E402
import gates  # noqa: E402
import run  # noqa: E402
import tables_gen  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402

SMALL = bronze_gen.Shape(("QA", "US", "DE"), 20, days=3, channel_pool=15)


def test_bronze_same_seed_same_bytes(tmp_path):
    a = bronze_gen.ensure_days(str(tmp_path / "a"), 7, SMALL)
    b = bronze_gen.ensure_days(str(tmp_path / "b"), 7, SMALL)
    for name in sorted(os.listdir(f"{a}/days")) + ["../expected.json"]:
        with open(f"{a}/days/{name}", "rb") as fa, open(f"{b}/days/{name}", "rb") as fb:
            assert fa.read() == fb.read(), name


def test_bronze_seed_changes_content():
    day = SMALL.dates()[0]
    assert bronze_gen.generate_day(1, SMALL, day) != bronze_gen.generate_day(2, SMALL, day)


def test_bronze_shape_matches_fixture_spec():
    shape = bronze_gen.Shape(("QA", "US", "DE"), 200, days=5, channel_pool=40)
    items = [
        it
        for d in shape.dates()
        for resp in bronze_gen.generate_day(3, shape, d).values()
        for it in resp["items"]
    ]
    n = len(items)
    no_likes = sum("likeCount" not in it["statistics"] for it in items) / n
    no_tags = sum("tags" not in it["snippet"] for it in items) / n
    assert 0.05 < no_likes < 0.15
    assert 0.2 < no_tags < 0.4
    assert any("regionRestriction" in it["contentDetails"] for it in items)
    assert all(isinstance(it["snippet"]["categoryId"], str) for it in items)


def test_every_day_brings_new_channels():
    seen = set()
    for d in SMALL.dates():
        ids = {
            it["snippet"]["channelId"]
            for resp in bronze_gen.generate_day(6, SMALL, d).values()
            for it in resp["items"]
        }
        assert ids - seen
        if seen:
            assert ids & seen  # and re-sees some known ones
        seen |= ids


def test_logging_fetcher_records_every_request(tmp_path):
    day = tmp_path / "day.json"
    day.write_text(json.dumps({"QA": {"items": []}}))
    log = str(tmp_path / "log.txt")
    f = fetch_log.LoggingFetcher(str(day), log)
    assert fetch_log.requested(log) == []
    assert [c["id"] for c in f.fetch_channels(["a", "b"])] == ["a", "b"]
    f.fetch_channels(["a"])
    assert fetch_log.requested(log) == ["a", "b", "a"]
    assert f.fetch_trending("QA") == {"items": []}


def test_tracer_splits_iterations_and_subtrees():
    t = tracer.Tracer("t")
    t.iteration = 1
    with t.span("job"):
        with t.span("write"):
            pass
    t.iteration = 2
    with t.span("other"):
        pass
    with t.span("job"):
        pass
    assert t.ids({1}) == {0, 1}
    assert t.subtree("job", {1}) == {0, 1}
    assert t.subtree("job", {1, 2}) == {0, 1, 3}
    own = t.self_times({1})
    assert set(own) == {"job", "write"} and own["job"] >= 0


def test_bronze_cache_is_reused(tmp_path):
    path = bronze_gen.ensure_days(str(tmp_path), 5, SMALL)
    stamp = os.path.getmtime(f"{path}/expected.json")
    assert bronze_gen.ensure_days(str(tmp_path), 5, SMALL) == path
    assert os.path.getmtime(f"{path}/expected.json") == stamp


def test_tables_same_seed_same_rows():
    a = tables_gen.generate(4, 0.001)
    b = tables_gen.generate(4, 0.001)
    c = tables_gen.generate(5, 0.001)
    assert set(a) == set(tables_gen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_names_match_benchmark_json():
    spec = _benchmark_json()
    assert [m["name"] for m in spec["end_to_end"]] == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS


def test_per_layer_names_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    assert set(run.SPAN_METRIC.values()) <= set(run.per_layer_names())


def test_workloads_match_benchmark_json():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def _gold_from_expected(expected):
    return [
        {"date": date, "region": region, **g}
        for date, e in expected.items()
        for region, g in e["gold"].items()
    ]


def _expected(seed=9):
    return {
        d.isoformat(): gates.expected_from_rows(
            bronze_gen.silver_rows(bronze_gen.generate_day(seed, SMALL, d))
        )
        for d in SMALL.dates()
    }


def test_gold_gate_passes_faithful_rows():
    expected = _expected()
    assert gates.check_gold(expected, _gold_from_expected(expected)) == []


@pytest.mark.parametrize(
    "column, delta",
    [("total_views", 1), ("average_likes", 0.01), ("highest_comments", -1),
     ("engagement_ratio", 1e-6), ("top_category_id", 1)],
)
def test_gold_gate_catches_corrupted_row(column, delta):
    expected = _expected()
    rows = _gold_from_expected(expected)
    rows[4][column] += delta
    problems = gates.check_gold(expected, rows)
    assert len(problems) == 1 and column in problems[0]


def test_gold_gate_catches_missing_and_extra_rows():
    expected = _expected()
    rows = _gold_from_expected(expected)
    extra = dict(rows[0], region="ZZ")
    assert gates.check_gold(expected, rows[1:])
    assert gates.check_gold(expected, rows + [extra])


def test_mode_tie_break_is_count_then_smallest_string():
    rows = [
        {"region": "QA", "channel_id": "c", "category_id": cat, "views": 1, "likes": 0, "comments": 0}
        for cat in ["24", "10", "24", "10", "22"]
    ]
    assert gates.expected_from_rows(rows)["gold"]["QA"]["top_category_id"] == 10


def test_round2_is_half_up():
    assert gates._round2(2.675) == 2.68  # binary 2.67499..., decimal form rounds up
    assert gates._round2(1.005) == 1.01


def test_count_gates():
    expected = _expected()
    videos = sum(e["videos"] for e in expected.values())
    ids = sorted({c for e in expected.values() for c in e["channels"]})
    assert gates.check_silver(expected, videos) == []
    assert gates.check_silver(expected, videos - 1)
    assert gates.check_channels(expected, ids) == []
    assert gates.check_channels(expected, ids + ids[:1])
    assert gates.check_channels(expected, ids[1:])


def test_html_gate():
    body = "".join(f"<tr><td>{r}</td><td>10</td></tr>" for r in ["QA", "US", "DE"])
    html = f"<table><tr><th>Region</th></tr>{body}</table>"
    assert gates.check_html(html, ["QA", "US", "DE"]) == []
    assert gates.check_html(html.replace("<tr><td>US</td><td>10</td></tr>", ""), ["QA", "US", "DE"])


def test_query_gate_catches_corrupted_oracle_row():
    spark_side = pd.DataFrame({"k": [1, 2, 3], "v": [10.5, 20.25, 30.0]})
    oracle = spark_side.copy()
    assert gates.check_query("q", spark_side, oracle) == []
    bad = oracle.copy()
    bad.loc[1, "v"] = 20.26
    assert gates.check_query("q", spark_side, bad)
    assert gates.check_query("q", spark_side, oracle.iloc[:2])


def test_loop_runs_cold_then_at_least_one_warm():
    calls = []
    r = workloads.Run(spark=None, work="", cache="", seed=0, seconds=0.0)
    r.loop(calls.append, 1.0)
    assert calls == [0, 1] and len(r.warm) == 1 and r.cold_s >= 0


def test_failed_op_is_counted_not_raised():
    r = workloads.Run(spark=None, work="", cache="", seed=0, seconds=0.0)
    assert r.op(lambda: 1 / 0) is None
    assert r.op(lambda: 3) == 3
    assert (r.attempted, r.failed) == (2, 1)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_week", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
