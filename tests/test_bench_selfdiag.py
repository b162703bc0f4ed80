"""bench.py self-diagnosis machinery (r8 verdict ask #2): the per-query
3x-vs-prior auto-retry, the prior-round baseline recovery (driver-artifact
tail + self-written full baseline), and the adjacent probes before the
store-lifecycle queries.

The r8 driver artifact carried three 14-21x outliers on untouched code that
the three bracketing calibration probes could not explain; these tests pin
the machinery that lets BENCH_r{N}.json decide noise vs regression by
itself: a retry that lands back at the floor is host noise (reproduced:
false), one that stays up is a regression (reproduced: true) and becomes
the new baseline.
"""

from __future__ import annotations

import json
import os

import pytest

import bench


@pytest.fixture(autouse=True)
def _sidecar_in_tmp(tmp_path, monkeypatch):
    """bench.main() writes its sidecar into tmp_path, not the checkout."""
    monkeypatch.setattr(
        bench, "_sidecar_path", lambda: str(tmp_path / "BENCH_LAST_RUN.json")
    )


# ---------------------------------------------------------------------------
# prior-round recovery
# ---------------------------------------------------------------------------


def test_driver_artifact_tail_recovers_outlier_queries():
    """The driver stores only a 2000-char stdout tail; the recoverable
    suffix must include the store-lifecycle / dispatch queries — exactly
    where the r8 outliers sat."""
    path = os.path.join(os.path.dirname(bench.__file__), "BENCH_r08.json")
    if not os.path.exists(path):
        pytest.skip("no driver artifact in this checkout")
    got = bench._timings_from_driver_artifact(path, 0.1)
    assert got["stream_bm25_topk"] == 186.475
    assert got["v2_push_decode"] == 12.204
    assert got["rebalance_audit"] == 11.471
    assert got["stream_chat_threads"] == 6.057  # final pair before the brace
    # never non-query scalar fields
    assert not set(got) & bench._BASELINE_KEYS_SKIP


def test_driver_artifact_rejects_other_sf():
    path = os.path.join(os.path.dirname(bench.__file__), "BENCH_r08.json")
    if not os.path.exists(path):
        pytest.skip("no driver artifact in this checkout")
    assert bench._timings_from_driver_artifact(path, 0.001) == {}


def test_prior_merge_takes_per_key_floor(tmp_path, monkeypatch):
    """Baseline + driver tail merge by MIN per key: the floor is the
    convention (a noisy baseline that suppresses retries is what let the
    r8 outliers pass unbracketed)."""
    base = tmp_path / "BENCH_BASELINE_sf0.1.json"
    base.write_text(json.dumps(
        {"sf": 0.1, "queries": {"stream_bm25_topk": 8.64, "only_self": 1.5}}
    ))
    monkeypatch.setattr(bench, "_baseline_path", lambda sf, cpus=32: str(base))
    prior, src = bench._prior_round_timings(0.1)
    if "BENCH_r08" in (src or ""):
        # driver tail says 186.475; the self baseline's 8.64 floor wins
        assert prior["stream_bm25_topk"] == 8.64
    assert prior["only_self"] == 1.5
    assert "BENCH_BASELINE_sf0.1.json" in src


# ---------------------------------------------------------------------------
# end-to-end: retry fires on an outlier vs the recorded floor, and the
# adjacent probes land next to the store-lifecycle queries
# ---------------------------------------------------------------------------


def _run_main_headline_only(monkeypatch, tmp_path, capsys, queries, seed):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    monkeypatch.setattr(
        bench, "_bench_queries", lambda: {k: qs[k] for k in queries}
    )
    base = tmp_path / "BENCH_BASELINE_sfx.json"
    if seed is not None:
        base.write_text(json.dumps({"sf": 0.001, "queries": seed}))
    monkeypatch.setattr(bench, "_baseline_path", lambda sf, cpus=32: str(base))
    # keep the driver artifact out of the merge so the seed IS the prior
    monkeypatch.setattr(
        bench, "_timings_from_driver_artifact", lambda p, sf, cpus=32: {}
    )
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_REPS", "0")
    bench.main()
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out), base


def test_retry_fires_and_reproduces_vs_tiny_floor(
    spark, monkeypatch, tmp_path, capsys
):
    """A floor far below reality (here: an absurd 1 ms prior) must trigger
    the 3x retry, record every sample, conclude reproduced=true, and adopt
    the measured wall as the new baseline so later runs stop re-flagging."""
    result, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys,
        queries=["replay_topk"], seed={"replay_topk": 0.001},
    )
    assert result["errors"] == {}
    r = result["retries"]["replay_topk"]
    assert r["prior_round_sec"] == 0.001
    assert r["reproduced"] is True
    assert len(r["samples"]) == 5  # 3 measured + 2 retries, all recorded
    assert result["queries"]["replay_topk"] == min(r["samples"])
    # the reproduced outlier became the new baseline floor
    new_base = json.loads(base.read_text())
    assert new_base["queries"]["replay_topk"] == result["queries"]["replay_topk"]


def test_no_retry_inside_band_and_probes_adjacent(
    spark, monkeypatch, tmp_path, capsys
):
    """A generous prior must NOT trigger retries; the store-lifecycle query
    gets a single-shot probe immediately before it."""
    result, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys,
        queries=["replay_topk", "stream_chat_threads"],
        seed={"replay_topk": 1e6, "stream_chat_threads": 1e6},
    )
    assert result["errors"] == {}
    assert result["retries"] == {}
    assert set(result["probes_adjacent"]) == {"stream_chat_threads"}
    assert result["probes_adjacent"]["stream_chat_threads"] > 0
    assert "BENCH_BASELINE" in result["prior_round_source"]
    # floor only tightens: the absurd seed was replaced by the measured min
    new_base = json.loads(base.read_text())
    assert new_base["queries"]["replay_topk"] == result["queries"]["replay_topk"]


# ---------------------------------------------------------------------------
# r9 ADVICE hardening: retry-failure keeps the measured wall; adopted
# regression floors stay visible; tail recovery only admits headline names
# ---------------------------------------------------------------------------


def test_retry_failure_keeps_pre_retry_wall(spark, monkeypatch, tmp_path, capsys):
    """An exception during a RETRY re-run (plausible for the stream_* store-
    lifecycle queries that rebuild /tmp state) must not discard the already-
    successfully-measured wall: the query keeps its min-of-3 timing, records
    the retry error in the retries block, and stays out of errors."""
    import __spark_entry__ as entry_mod

    real = entry_mod.queries()["replay_topk"]
    calls = {"n": 0}

    def flaky(s, d):
        calls["n"] += 1
        if calls["n"] > 3:  # the 3 initial samples succeed; retries blow up
            raise RuntimeError("store state torn mid-retry")
        return real(s, d)

    monkeypatch.setattr(bench, "_bench_queries", lambda: {"replay_topk": flaky})
    base = tmp_path / "BENCH_BASELINE_sfx.json"
    base.write_text(json.dumps({"sf": 0.001, "queries": {"replay_topk": 1e-4}}))
    monkeypatch.setattr(bench, "_baseline_path", lambda sf, cpus=32: str(base))
    monkeypatch.setattr(bench, "_timings_from_driver_artifact", lambda p, sf, cpus=32: {})
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_REPS", "0")
    bench.main()
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "replay_topk" not in result["errors"]
    assert result["queries"]["replay_topk"] > 0  # the pre-retry best survived
    r = result["retries"]["replay_topk"]
    assert "RuntimeError" in r["retry_error"]
    assert len(r["samples"]) == 3  # only the successful initial samples
    assert r["reproduced"] is True  # still >3x the absurd floor


def test_adopted_floor_stays_visible_then_heals(spark, monkeypatch, tmp_path, capsys):
    """A reproduced 3x regression is adopted as the working floor but the
    displaced floor is recorded under "adopted" (r9 ADVICE: adoption must
    not mask the regression). A later run back inside 3x of the old floor
    heals the record: old floor re-enters the min-merge, record dropped."""
    result, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys,
        queries=["replay_topk"], seed={"replay_topk": 1e-4},
    )
    b1 = json.loads(base.read_text())
    assert b1["adopted"]["replay_topk"]["old_floor"] == 1e-4
    assert b1["adopted"]["replay_topk"]["adopted"] == result["queries"]["replay_topk"]
    assert b1["queries"]["replay_topk"] == result["queries"]["replay_topk"]

    # second run: same query, floor is now the adopted (realistic) wall, so
    # no retry fires — but the standing adopted record must SURVIVE because
    # the measured wall is still >3x the displaced 1e-4 floor
    result2, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys, queries=["replay_topk"], seed=None
    )
    b2 = json.loads(base.read_text())
    assert result2["retries"] == {}
    assert b2["adopted"]["replay_topk"]["old_floor"] == 1e-4

    # heal: rewrite the record as if the displaced floor were generous —
    # the next run lands inside 3x of it, so the floor reverts and the
    # record disappears
    b2["adopted"]["replay_topk"]["old_floor"] = 1e6
    base.write_text(json.dumps(b2))
    result3, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys, queries=["replay_topk"], seed=None
    )
    b3 = json.loads(base.read_text())
    assert "adopted" not in b3
    assert b3["queries"]["replay_topk"] <= result3["queries"]["replay_topk"]


def test_floor_file_keyed_by_cpus():
    """r10 verdict ask #6: the driver's 8-core scaling run adopted an
    8-core wall (pack_layout 1.099) over the 0.247 s 32-core floor. Floors
    are keyed by (sf, cpus): 32 cores keeps the legacy filename (floor
    history stays live), any other core count gets its own file."""
    assert bench._baseline_path(0.1, 32).endswith("BENCH_BASELINE_sf0.1.json")
    assert bench._baseline_path(0.1, 8).endswith("BENCH_BASELINE_sf0.1_c8.json")
    assert bench._baseline_path(0.1).endswith("BENCH_BASELINE_sf0.1.json")


def test_driver_artifact_rejects_other_cpus():
    """A driver artifact recorded at a different core count is not a wall
    floor for this run (same keying rule as the floor file). Artifacts
    without a cpus field (pre-r10) stay admissible."""
    import tempfile

    tail = '{"metric": "x", "queries": {"replay_topk": 1.5}, "sf": 0.1}'
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump({"sf": 0.1, "cpus": 8, "tail": tail}, f)
        path = f.name
    try:
        assert bench._timings_from_driver_artifact(path, 0.1, 32) == {}
        assert bench._timings_from_driver_artifact(path, 0.1, 8) == {
            "replay_topk": 1.5
        }
    finally:
        os.unlink(path)


def test_sidecar_result_written(spark, monkeypatch, tmp_path, capsys):
    """r10 verdict ask #7: the full result JSON is also written to a
    sidecar file so a 2000-char stdout-tail capture can never lose the
    per-query walls again (the r09 artifact was truncated past recovery
    and cost that round its entire round-over-round table)."""
    result, _ = _run_main_headline_only(
        monkeypatch, tmp_path, capsys, queries=["replay_topk"], seed=None
    )
    side = bench._sidecar_path()
    assert side.startswith(str(tmp_path))
    assert os.path.exists(side)
    with open(side) as f:
        sidecar = json.load(f)
    assert sidecar["queries"] == result["queries"]
    assert sidecar["cpus"] == 8  # _run_main_headline_only sets CPUS=8


def test_tail_recovery_rejects_non_headline_names():
    """Names parsed from a truncated driver tail are intersected with the
    static headline list (r9 ADVICE): a truncated suffix that spells a
    non-headline name can never enter the retry floor."""
    import tempfile

    tail = ('{"metric": "x", "queries": {"eam_bm25_topk": 186.475, '
            '"replay_topk": 1.5}, "sf": 0.1}')
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump({"sf": 0.1, "tail": tail}, f)
        path = f.name
    got = bench._timings_from_driver_artifact(path, 0.1)
    os.unlink(path)
    assert got == {"replay_topk": 1.5}
