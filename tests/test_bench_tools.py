"""Bench-harness contracts, all but one needing no engine run.

The MED3 digest is the committed A/B evidence; its honesty rules are
pinned here as pure-function tests over synthetic run records:

- the ratio is computed over the COMMON query set only;
- any entry present on one side only MUST be named in the digest
  header, and when BENCH_DUCK_SKIP drove the skip, the digest names
  the env value (and the BENCH_DUCK_SKIP_REASON when one is given) —
  a silent skip would quietly shrink the yardstick.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tools.bench_median import report, run_json, subset_table, summarize  # noqa: E402

REPO = os.path.join(os.path.dirname(__file__), "..")


def _run(queries: dict[str, float], metric: str) -> dict:
    return {
        "metric": metric,
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "queries": queries,
    }


def _pairs(spark_q: dict[str, float], duck_q: dict[str, float]):
    return [
        (_run(dict(spark_q), "total_query_wall_seconds"),
         _run(dict(duck_q), "duckdb_twin_wall_seconds"))
        for _ in range(3)
    ]


def test_med3_ratio_uses_common_set_and_names_skips(tmp_path, monkeypatch):
    monkeypatch.setenv("BENCH_DUCK_SKIP", "q_heavy")
    monkeypatch.setenv("BENCH_DUCK_SKIP_REASON", "allocator OOM at sf10")
    pairs = _pairs(
        {"q_a": 1.0, "q_b": 2.0, "q_heavy": 50.0},
        {"q_a": 0.5, "q_b": 1.5},
    )
    lines = summarize(pairs, "testtag", "/tmp/sfX", str(tmp_path))
    text = "\n".join(lines)
    # ratio over the common set only: (1+2)/(0.5+1.5) = 1.5 — q_heavy's
    # 50 s must NOT leak into the committed number
    assert "1.500" in text
    # the skipped entry is named in the header, with env + reason
    assert "`q_heavy`" in text
    assert "BENCH_DUCK_SKIP=q_heavy" in text
    assert "allocator OOM at sf10" in text
    # both med3 JSON docs were written and carry the median per query
    spark_doc = json.load(open(tmp_path / "BENCH_SPARK_testtag_med3.json"))
    duck_doc = json.load(open(tmp_path / "BENCH_DUCK_testtag_med3.json"))
    assert spark_doc["queries"]["q_heavy"] == 50.0
    assert "q_heavy" not in duck_doc["queries"]


def test_med3_no_skips_has_no_exclusion_line(tmp_path, monkeypatch):
    monkeypatch.delenv("BENCH_DUCK_SKIP", raising=False)
    monkeypatch.delenv("BENCH_DUCK_SKIP_REASON", raising=False)
    pairs = _pairs({"q_a": 1.0}, {"q_a": 1.0})
    lines = summarize(pairs, "testtag2", "/tmp/sfX", str(tmp_path))
    text = "\n".join(lines)
    assert "Excluded from the ratio" not in text
    assert "1.000" in text


def test_med3_median_smooths_one_outlier_run(tmp_path):
    pairs = _pairs({"q_a": 1.0}, {"q_a": 1.0})
    pairs[1][0]["queries"]["q_a"] = 9.0  # one hot spark run
    pairs[1] = (
        dict(pairs[1][0], value=9.0),
        pairs[1][1],
    )
    lines = summarize(pairs, "testtag3", "/tmp/sfX", str(tmp_path))
    doc = json.load(open(tmp_path / "BENCH_SPARK_testtag3_med3.json"))
    assert doc["queries"]["q_a"] == 1.0  # median, not mean
    text = "\n".join(lines)
    assert "q_a" in text  # named as a spread outlier


def test_run_json_returns_last_json_line_amid_noise():
    script = (
        "print('WARN NativeCodeLoader: no native lib')\n"
        "print('{\"value\": 1}')\n"
        "print('{\"value\": 2, \"queries\": {}}')\n"
        "print('{braces in a trailing log line}')\n"
        "print('[1, 2]')\n"
    )
    assert run_json(["-c", script], dict(os.environ)) == {"value": 2, "queries": {}}


def test_run_json_nonzero_exit_raises_with_stderr_tail():
    script = (
        "import sys\n"
        "print('{\"value\": 1}')\n"
        "sys.stderr.write('x' * 5000 + 'KeyError: no_such_query')\n"
        "sys.exit(3)\n"
    )
    with pytest.raises(RuntimeError) as err:
        run_json(["-c", script], dict(os.environ))
    msg = str(err.value)
    assert "exited 3" in msg
    assert msg.endswith("KeyError: no_such_query")
    assert len(msg) < 3500  # the tail, not the whole log


def test_untagged_and_subset_runs_write_nothing(tmp_path):
    pairs = _pairs({"q_a": 1.0, "q_b": 2.0}, {"q_a": 0.5, "q_b": 1.5})
    untagged = report(pairs, "/tmp/sfX", [], None, str(tmp_path))
    assert any("1.500" in ln for ln in untagged)  # the digest still prints
    subset = report(pairs, "/tmp/sfX", ["q_a", "q_b"], "sometag", str(tmp_path))
    assert subset[0].split() == ["query", "spark", "duck", "ratio"]
    assert os.listdir(tmp_path) == []
    tagged = report(pairs, "/tmp/sfX", [], "t", str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == [
        "BENCH_DUCK_t_med3.json", "BENCH_SPARK_t_med3.json", "MED3_t.md"
    ]
    assert tagged[-1].startswith("wrote ")


def test_subset_ratio_uses_only_queries_both_sides_timed():
    # q_notwin has no DuckDB twin: its 40 s must not enter the ratio
    lines = subset_table(_pairs({"q_a": 2.0, "q_notwin": 40.0}, {"q_a": 1.0}))
    rows = {ln.split()[0]: ln.split()[1:] for ln in lines[1:-1]}
    assert rows["q_a"] == ["2.000", "1.000", "2.00"]
    assert rows["q_notwin"] == ["40.000", "nan", "nan"]
    assert lines[-1].split()[-3:] == ["2.000", "1.000", "2.00"]


def test_tools_put_their_own_checkout_on_sys_path():
    # A hard-coded absolute root makes a copy of the repo import (and so
    # check) some other checkout's code.
    pinned = re.compile(r"sys\.path\.insert\(\s*\d+\s*,\s*[rbuf]*[\"\']/")
    scripts = ["bench.py"] + [
        os.path.join("tools", f) for f in os.listdir(os.path.join(REPO, "tools"))
        if f.endswith(".py")
    ]
    offenders = [
        f for f in scripts if pinned.search(open(os.path.join(REPO, f)).read())
    ]
    assert offenders == []


def test_bench_loop_times_only_the_named_queries(spark):
    from bench import time_queries
    from conftest import SF_DIR

    timings = time_queries(spark, SF_DIR, ["pricing_summary"])
    assert list(timings) == ["pricing_summary"]
    assert timings["pricing_summary"] > 0
