"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run as bench_run  # noqa: E402
from harness import busy_interval_s, percentile, quartiles  # noqa: E402
from workloads import Run  # noqa: E402


def _cdc_files(seed: int, n: int) -> list[bytes]:
    g = gen.CdcGen(seed, 16, 50, 200)
    return [g.genesis_file()[1]] + [g.next_file()[1] for _ in range(n)]


def _ingest_files(seed: int) -> list[bytes]:
    g = gen.IngestGen(seed, 500, 100)
    return [g.genesis(), g.batch(0), g.batch(7)]


def test_same_seed_gives_byte_identical_inputs():
    assert _ingest_files(5) == _ingest_files(5)
    assert _cdc_files(5, 3) == _cdc_files(5, 3)
    # and the seed matters
    assert _ingest_files(5) != _ingest_files(6)
    assert _cdc_files(5, 3) != _cdc_files(6, 3)


def test_cdc_stream_has_ties_duplicates_and_late_events():
    g = gen.CdcGen(3, 16, 50, 200)
    g.genesis_file()
    files = [g.next_file()[2] for _ in range(4)]
    late = [e for i, f in enumerate(files) for e in f
            if e["binlog_file"] != f"mysql-bin.{i + 1:06d}"]
    assert late, "no event was delivered a file late"
    dups = [f for f in files if len({json.dumps(e, sort_keys=True) for e in f}) < len(f)]
    assert dups, "no event was redelivered"
    ties = [f for f in files if len({(e["table"], e["id"], e["ts"]) for e in f}) < len(f)]
    assert ties, "no same-key same-second events inside a file"


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(99)), 90) is None
    assert percentile(list(range(100)), 90) == 89
    assert percentile(list(range(19)), 50) is None
    assert percentile(list(range(20)), 50) == 9
    assert percentile([], 50) is None
    assert percentile(list(range(1000)), 99) == 989


def test_quartiles_match_statistics_module():
    q = quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert (q["q1"], q["median"], q["q3"]) == (2.75, 5.5, 8.25)
    assert q["iqr_share"] == pytest.approx(5.5 / 5.5)


def test_busy_interval_is_a_union():
    jobs = [{"start": 0.0, "end": 2.0}, {"start": 1.0, "end": 3.0},
            {"start": 5.0, "end": 6.0}, {"start": None, "end": None}]
    assert busy_interval_s(jobs, 0.0, 10.0) == pytest.approx(4.0)
    assert busy_interval_s(jobs, 2.5, 5.5) == pytest.approx(1.0)


def _run(tmp_path) -> Run:
    return Run("cdc_mor", 1, 1.0, False, str(tmp_path), 1)


def _cdc_batches(seed: int, n: int) -> list[list[dict]]:
    g = gen.CdcGen(seed, 4, 20, 60)
    return [g.genesis_file()[2]] + [g.next_file()[2] for _ in range(n)]


def _replay(batches: list[list[dict]], compactions: dict[str, list[int]]) -> dict:
    """The documented semantics in plain Python: each key's winning event."""
    ref = {}
    for b, events in enumerate(batches):
        win = {}
        for e in events:
            k = (e["table"], e["id"])
            rank = (e["ts"], int(e["binlog_file"].rsplit(".", 1)[1]), e["binlog_offset"])
            if k not in win or rank > win[k][0]:
                win[k] = (rank, e)
        for k, (rank, e) in win.items():
            if k not in ref or (e["ts"], b) >= (ref[k]["ts"], ref[k]["batch"]):
                ref[k] = {**e, "batch": b}
        for t, cuts in compactions.items():  # compaction forgets deleted keys
            if b + 1 in cuts:
                ref = {k: e for k, e in ref.items() if k[0] != t or e["op"] != "delete"}
    return ref


@pytest.mark.parametrize("compactions", [{}, {"t00": [2, 4]}, {"t00": [3], "t01": [2, 5]}])
def test_cdc_fold_applies_deletes_and_tie_breaks(compactions):
    batches = _cdc_batches(2, 6)
    state = {(r[0], r[1]): r for r in oracle.cdc_expected(batches, compactions)}
    ref = _replay(batches, compactions)
    live = {k for k, e in ref.items() if e["op"] != "delete"}
    assert set(state) == live
    assert any(e["op"] == "delete" for e in ref.values())
    for k in live:
        assert state[k][2] == ref[k]["data"]


def test_compaction_forgets_deleted_keys_only_on_its_table():
    def ev(op, table, ts, f, off):
        return {"op": op, "db": "shop", "table": table, "id": 1,
                "data": None if op == "delete" else "{}", "ts": ts,
                "binlog_file": f"mysql-bin.{f:06d}", "binlog_offset": off}

    batches = [
        [ev("insert", t, "2024-01-01T00:00:00", 0, 4) for t in ("a", "b")],
        [ev("delete", t, "2024-01-01T00:00:10", 1, 4) for t in ("a", "b")],
        # an older update, delivered late
        [ev("update", t, "2024-01-01T00:00:05", 1, 8) for t in ("a", "b")],
    ]
    assert oracle.cdc_expected(batches) == []
    for t in ("a", "b"):
        live = oracle.cdc_expected(batches, {t: [2]})
        assert [(r[0], r[1], r[5]) for r in live] == [(t, 1, 8)]
    # a compaction before the delete forgets nothing
    assert oracle.cdc_expected(batches, {"a": [1]}) == []


def test_planted_wrong_table_state_counts_as_failed(tmp_path):
    batches = _cdc_batches(4, 5)
    expected = oracle.cdc_expected(batches)
    run = _run(tmp_path)
    run.check("intact", oracle.diff_rows(list(expected), expected))
    assert (run.attempted, run.failed) == (1, 0)

    stale = [tuple(r[:2]) + ("{}",) + tuple(r[3:]) if i == 0 else r
             for i, r in enumerate(expected)]
    run.check("stale value", oracle.diff_rows(stale, expected))
    run.check("lost row", oracle.diff_rows(expected[1:], expected))
    deleted = next(e for b in batches for e in b if e["op"] == "delete")
    ghost = (deleted["table"], deleted["id"], "{}", 0, "mysql-bin.000000", 4)
    run.check("resurrected row", oracle.diff_rows(expected + [ghost], expected))
    assert (run.attempted, run.failed) == (4, 3)
    assert set(run.failures) == {"stale value", "lost row", "resurrected row"}


def test_ingest_fold_keeps_latest_version(tmp_path):
    g = gen.IngestGen(1, 200, 50)
    paths = []
    for name, data in (("g", g.genesis()), ("b0", g.batch(0)), ("b1", g.batch(1))):
        paths.append(str(tmp_path / f"{name}.json"))
        gen.write_bytes(paths[-1], data)
    rows = oracle.ingest_expected(paths)
    assert len({r[0] for r in rows}) == len(rows)  # one row per record key
    latest = {}
    for p in paths:
        for line in open(p):
            d = json.loads(line)
            latest[d["doc_id"]] = max(latest.get(d["doc_id"], 0), d["ts"])
    assert all(r[2] == latest[r[1]] for r in rows)
    run = _run(tmp_path)
    planted = [r[:3] + ("returned" if r[3] != "returned" else "new",) + r[4:] if i == 3 else r
               for i, r in enumerate(rows)]
    run.check("ingest", oracle.diff_rows(planted, rows))
    assert run.failed == 1


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(bench_run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(bench_run.PER_LAYER)
    for m in spec["end_to_end"]:
        assert (m["unit"], m["better"]) == bench_run.END_TO_END[m["name"]]
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert (m["unit"], m["better"]) == bench_run.PER_LAYER[m["name"]]
    assert {w["name"] for w in spec["workloads"]} == set(bench_run.OP_KIND)
