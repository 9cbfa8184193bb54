"""Self-tests of the benchmark's generators, checkers, tracer and spec.

    mkdir -p .bench_out && python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider --basetemp=.bench_out/pytest

None of them starts a Spark session.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import boot, gen_tables, gen_youtube, trace, wl_headline, wl_medallion  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _api_bytes(seed: int, day: int, n: int) -> bytes:
    api = gen_youtube.GeneratedApi(seed, day, n, 5)
    ids = [gen_youtube.video_id(day, i) for i in range(n)]
    out = [api.get("x/videos", {"id": ",".join(ids)})]
    for v in ids:
        try:
            out.append(api.get("x/commentThreads", {"videoId": v}))
        except gen_youtube.FetchError:
            out.append("error")
    return json.dumps(out, sort_keys=True).encode()


# -- inputs ----------------------------------------------------------------


def test_same_seed_gives_identical_inputs_and_expectations():
    assert _api_bytes(7, 1, 50) == _api_bytes(7, 1, 50)
    assert gen_youtube.expected_day(7, 1, 50, 5) == gen_youtube.expected_day(7, 1, 50, 5)
    a, b = gen_tables.tables(), gen_tables.tables()
    assert all(a[k].equals(b[k]) for k in a)
    assert wl_headline.HeadlineQueries(7, "x").order == wl_headline.HeadlineQueries(7, "x").order


def test_other_seed_gives_other_inputs_of_the_same_size():
    assert _api_bytes(7, 1, 50) != _api_bytes(8, 1, 50)
    e7, e8 = gen_youtube.expected_day(7, 1, 200, 5), gen_youtube.expected_day(8, 1, 200, 5)
    assert e7["bronze_videos"] == e8["bronze_videos"] == 200
    assert e7["kpi"] != e8["kpi"]
    orders = {tuple(wl_headline.HeadlineQueries(s, "x").order) for s in range(5)}
    assert len(orders) > 1
    assert all(sorted(o) == sorted(wl_headline.QUERIES) for o in orders)


def test_generated_hazards_occur_and_are_counted():
    e = gen_youtube.expected_day(3, 0, 2000, 10)
    assert e["null_view_count"] > 0 and e["null_like_count"] > 0
    assert e["silver_rows_dropped"] > 0
    assert e["silver_comments"] == sum(e["kpi"]["comment_sentiment_counts"].values())


# -- checkers --------------------------------------------------------------


def _write_day(wl: wl_medallion.MedallionDaily, i: int, exp: dict) -> None:
    """Sinks exactly as the engine should leave them for day ``i``."""

    def part(sink):
        d = wl.part(sink, i)
        os.makedirs(d, exist_ok=True)
        return d

    for sink, n in (("bronze_videos", exp["bronze_videos"]), ("bronze_comments", exp["bronze_comments"])):
        with open(os.path.join(part(sink), "part-0.json"), "w") as f:
            f.write("{}\n" * n)
    n_v, n_c = exp["silver_videos"], exp["silver_comments"]
    nulls = lambda k: [None] * exp[k] + [1] * (n_v - exp[k])  # noqa: E731
    sv = pa.table({"view_count": pa.array(nulls("null_view_count"), pa.int64()),
                   "like_count": pa.array(nulls("null_like_count"), pa.int64()),
                   "video_id": ["v"] * n_v})
    pq.write_table(sv, os.path.join(part("silver_videos"), "part-0.parquet"))
    pq.write_table(sv, os.path.join(part("gold_videos"), "part-0.parquet"))
    sc = pa.table({"commentId": ["c"] * n_c})
    pq.write_table(sc, os.path.join(part("silver_comments"), "part-0.parquet"))
    pq.write_table(sc, os.path.join(part("gold_comments"), "part-0.parquet"))
    k = exp["kpi"]
    kpi = pa.table({
        "total_videos": [k["total_videos"]],
        "total_comments": [k["total_comments"]],
        "video_sentiment_counts": pa.array([list(k["video_sentiment_counts"].items())], pa.map_(pa.string(), pa.int64())),
        "comment_sentiment_counts": pa.array([list(k["comment_sentiment_counts"].items())], pa.map_(pa.string(), pa.int64())),
    })
    pq.write_table(kpi, os.path.join(part("kpis"), "part-0.parquet"))


def test_medallion_check_passes_on_exact_sinks_and_fails_on_a_corrupted_expectation(tmp_path):
    wl = wl_medallion.MedallionDaily(5, str(tmp_path), n_videos=40, mean_comments=4)
    wl.prepare()
    _write_day(wl, 0, wl.expected[0])
    assert wl.check(0)
    assert wl.observed[-1]["silver_rows_dropped"] == wl.expected[0]["silver_rows_dropped"]
    wl.expected[0]["kpi"]["comment_sentiment_counts"]["positive"] += 1
    assert not wl.check(0)
    wl.expected[0] = gen_youtube.expected_day(5, 0, 40, 4)
    wl.expected[0]["null_view_count"] += 1
    assert not wl.check(0)


def test_headline_check_fails_on_a_corrupted_expectation():
    wl = wl_headline.HeadlineQueries(1, "x")
    wl.mirror = wl_headline._oracle_mirror()
    rows = [(1, "a", 0.5), (2, "b", 0.25)]
    cols = ["id", "name", "score"]
    wl.expected = {
        "pricing_summary": wl.mirror._normalize_rows(cols, rows),
        "ngram_jaccard_pairs": {"sha256": wl_headline.result_digest(cols, rows)},
    }
    wl.results = [{"pricing_summary": (cols, rows[::-1]), "ngram_jaccard_pairs": (cols, rows)}]
    assert wl.check(0)
    wl.results.append({"pricing_summary": (cols, rows[:1]), "ngram_jaccard_pairs": (cols, rows)})
    assert not wl.check(1)
    wl.results.append({"pricing_summary": (cols, rows), "ngram_jaccard_pairs": (cols, rows[:1])})
    assert not wl.check(2)


def test_pins_match_the_oracles_on_the_generated_fixture(tmp_path):
    import __spark_entry__ as registry

    gen_tables.write(str(tmp_path))
    duck = wl_headline._oracle_mirror().make_duck(str(tmp_path))
    with open(wl_headline.PINS_FILE) as f:
        pins = json.load(f)
    assert set(pins) == set(wl_headline.PINNED)
    for name in wl_headline.PINNED:
        res = duck.sql(registry.oracle_sql()[name])
        assert wl_headline.result_digest(list(res.columns), res.fetchall()) == pins[name]["sha256"]


# -- tracer ----------------------------------------------------------------


def test_event_log_counters_join_spans_through_job_groups(tmp_path):
    tr = trace.Tracer("r")
    with tr.span("pass"):
        with tr.span("gold"):
            pass
        with tr.span("kpi"):
            pass
    gold = tr.group_id(1)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": gold}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ]
    for stage, reason in ((0, "Success"), (1, "Success"), (1, "ExceptionFailure"), (2, "Success")):
        events.append({
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Accumulables": [{"Name": trace.PYTHON_TIME_METRIC, "Update": "1500"}]},
            "Task Metrics": {"Executor Run Time": 2000, "JVM GC Time": 100,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024}},
        })
    (tmp_path / "log").write_text("\n".join(json.dumps(e) for e in events))
    groups = trace.read_event_log(str(tmp_path))
    c = groups[gold]
    assert (c.jobs, c.tasks, c.tasks_failed, c.shuffle_write_bytes) == (1, 3, 1, 3072)
    assert c.run_s == pytest.approx(6.0) and c.gc_s == pytest.approx(0.3)
    assert c.python_eval_s == pytest.approx(4.5)
    whole = trace.span_counters(tr, groups, 0)
    assert whole.tasks == 3  # the ungrouped job belongs to no span


def test_iteration_rows_skip_the_cold_iteration_and_sum_same_named_spans():
    tr = trace.Tracer("r")
    for _ in range(3):
        with tr.span("pass"):
            for _ in range(2):
                with tr.span("q"):
                    with tr.span("exec"):
                        pass
    rows = trace.iteration_rows(tr, {}, "pass")
    assert len(rows) == 2
    assert set(rows[0]) == {"pass", "q", "exec"}
    second = [s for s in tr.spans[5:10] if s.name == "exec"]  # spans of pass 1
    assert len(second) == 2
    assert rows[0]["exec"].wall_s == pytest.approx(sum(s.wall_s for s in second))
    assert rows[0]["pass"].wall_s >= rows[0]["q"].wall_s >= rows[0]["exec"].wall_s


def test_disabled_tracer_records_nothing():
    tr = trace.Tracer("r", enabled=False)
    with tr.span("pass"):
        pass
    assert tr.spans == []


# -- spec --------------------------------------------------------------------


def test_metric_names_units_and_bounds_are_well_formed():
    b = boot.spec()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(set(names)) == len(names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert {"wall_s", "cold_s", "setup_s", "peak_rss_mb", "ok_frac"} <= set(bounds)
    assert all(len(w["why"]) <= 200 for w in b["workloads"])


# -- runner ----------------------------------------------------------------


def test_runner_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "medallion_daily", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""
