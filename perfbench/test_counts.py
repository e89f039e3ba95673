"""The benchmark's own tests.

    python3 -m pytest perfbench/test_counts.py -q

The op generator and the DuckDB mirror are checked without Spark. The
count test runs each workload traced twice with one seed, at one pass
per run, and requires every count metric — Spark jobs, stages and tasks
per operation, compactions, streaming queries and triggers — to repeat
exactly.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tsdb  # noqa: E402
from perfbench.metrics import MOVES  # noqa: E402
from perfbench.run import WORKLOADS, manifest  # noqa: E402

T0 = 1_704_067_200_000


def _fixture() -> pd.DataFrame:
    rows = [
        (T0 + d * tsdb.DAY_MS + i * (tsdb.DAY_MS // 60), tag, float(i % 7))
        for d in range(tsdb.N_DAYS)
        for i in range(tsdb.BATCH + 10)
        for tag in ("a", "b")
    ]
    return pd.DataFrame(rows, columns=["timestamp", "tag", "value"])


def _ops(seed: int) -> list[dict]:
    pdf = _fixture()
    model = tsdb.Model(zip(pdf["timestamp"].tolist(), pdf["tag"].tolist()), T0)
    return list(tsdb.OpGen(model, seed).next_pass())


def _answer(pdf: pd.DataFrame, ops: list[dict]) -> list[dict]:
    """Fill each op with the mirror's own answer, as a correct server would."""
    import duckdb

    con = duckdb.connect()
    con.register("fixture", pdf)
    con.execute("CREATE TABLE t AS SELECT * FROM fixture")
    out = []
    for op in ops:
        op = dict(op, status=200)
        if op["kind"] == "query":
            op["response"] = tsdb.oracle_answer(con, op["body"])
        else:
            op["response"] = []
            for row in op["body"]:
                args = [int(row["timestamp"]), row["tag"]]
                if op["kind"] == "insert":
                    con.execute("INSERT INTO t VALUES (?, ?, ?)", args + [row["value"]])
                elif op["kind"] == "update":
                    con.execute(
                        'UPDATE t SET value = ? WHERE "timestamp" = ? AND tag = ?',
                        [row["value"]] + args,
                    )
                else:
                    con.execute('DELETE FROM t WHERE "timestamp" = ? AND tag = ?', args)
        out.append(op)
    return out


def test_ops_follow_the_seed():
    assert _ops(3) == _ops(3)
    assert _ops(3) != _ops(4)
    kinds = [op["kind"] for op in _ops(3)]
    assert len(kinds) == tsdb.PASS_OPS
    assert [k for k in kinds if k != "query"] == ["insert", "update", "delete"]
    assert kinds[0] == "insert" and kinds.count("query") == 10
    queries = [op for op in _ops(3) if op["kind"] == "query"]
    assert {op["shape"] for op in queries} == set(tsdb.SHAPES)
    by_tag = [op["body"]["aggFunc"] for op in queries if op["shape"] == "range_group_tag"]
    assert sorted(by_tag) == sorted(tsdb.AGGS)


def test_mirror_accepts_right_and_flags_wrong_answers():
    pdf = _fixture()
    ops = _answer(pdf, _ops(5))
    assert tsdb.check_ops(pdf, ops) == []
    for i, op in enumerate(ops):
        if op["kind"] != "query" or not op["response"]:
            continue
        bad = copy.deepcopy(ops)
        resp = bad[i]["response"]
        if isinstance(resp, dict):
            resp["result"] = (resp["result"] or 0.0) + 1.0
        else:
            resp.pop()
        assert len(tsdb.check_ops(pdf, bad)) == 1
    failed = copy.deepcopy(ops)
    failed[0]["status"] = 500
    assert tsdb.check_ops(pdf, failed)


COUNTS = sorted(n for n, unit in manifest()["per_layer"].items() if unit == "count")


def test_every_layer_metric_names_what_it_moves():
    assert set(MOVES) == set(manifest()["per_layer"])


def _traced(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", str(seed), "--seconds", "1", "--trace", "1",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_counts_repeat_exactly(workload):
    first, second = _traced(workload, 11), _traced(workload, 11)
    for run in (first, second):
        assert run["correct"] and run["failed"] == 0
    a = {k: first["metrics"][k]["value"] for k in COUNTS}
    b = {k: second["metrics"][k]["value"] for k in COUNTS}
    assert a == b
    assert any(v > 0 for v in a.values())
