"""Bench stdout contract (r14, VERDICT r13 ask #2).

The r12 round-over-round comparison was lost because bench.py's single
stdout JSON line outgrew the driver's bounded tail capture (the r12
artifact's ``tail`` starts mid-dict, ``parsed: null``). The fix keeps
the one-JSON-line contract but moves bulky diagnostics to a sidecar
detail file, and echoes the session's real ``defaultParallelism`` so
``SPARK_GRAFT_CPUS`` honoring is observable in the artifact (the r13
``suspect_cpus_ignored`` flag was a false positive with no field to
refute it). These tests pin both properties without running Spark.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench


def _fake_payload(n_queries: int = 14) -> dict:
    queries = {f"query_{i:02d}_name_of_real_len": 1.2345 for i in range(n_queries)}
    return {
        "metric": "headline_queries_total_time",
        "value": 12.3456,
        "unit": "sec",
        "queries": queries,
        "spread": {
            n: {"median": 1.2345, "min": 1.1, "max": 1.9} for n in queries
        },
        "passes": 5,
        "calib_sec": 1.4742,
        "calib_reps": [2.2, 1.5, 1.6, 1.3, 1.4, 1.5],
        "calib_warmup_rep": 2.2,
        "calib_kept_reps": 5,
        "calib_rep_spread": 1.28,
        "calib_unstable": False,
        "calib_version": "v1",
        "calib_rows": 8_000_000,
        "calib_protocol": "v2-interleaved: long description ...",
        "value_calib_norm": 8.478,
        "queries_calib_norm": {n: 0.9 for n in queries},
        "sf": 0.1,
        "parallelism": 32,
        "noise_note": "x" * 120,
        "noise_model": {"same_session_rep_spread_pct": 9},
        "materializer": "noop-sink (r8+; prior rounds count())",
    }


def test_compact_line_is_bounded_and_driver_parseable(tmp_path, monkeypatch):
    """The printed line must stay small enough that a bounded tail
    capture (the r12 failure took ~2 kB off a ~3.6 kB line) always
    contains it whole, while keeping every driver-contract field."""
    monkeypatch.setenv(
        "SPARK_GRAFT_BENCH_DETAIL", str(tmp_path / "detail.json")
    )
    compact = bench.emit_results(_fake_payload())
    line = json.dumps(compact)
    assert len(line) < 1600, (
        f"compact bench line is {len(line)} bytes — regrowing toward the "
        "tail-capture failure mode the r14 fix removed"
    )
    for field in ("metric", "value", "unit", "queries", "sf"):
        assert field in compact, f"driver contract field {field} missing"
    assert len(compact["queries"]) == 14
    # anchor health scalars stay on the line so a verdict can read them
    # from the captured artifact without the sidecar
    for field in (
        "calib_sec",
        "calib_unstable",
        "calib_rep_spread",
        "calib_kept_reps",
        "value_calib_norm",
    ):
        assert field in compact, f"anchor-health scalar {field} missing"


def test_parallelism_echo_present():
    """VERDICT r13 ask #2b: the artifact must carry the session's real
    parallelism so the driver's scaling check can see SPARK_GRAFT_CPUS
    reached the JVM."""
    compact = bench.emit_results(_fake_payload())
    assert compact.get("parallelism") == 32


def test_detail_file_is_a_superset(tmp_path, monkeypatch):
    """Nothing is lost: every payload field (including the bulky
    diagnostics dropped from the line) lands in the sidecar file."""
    detail = tmp_path / "detail.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(detail))
    payload = _fake_payload()
    compact = bench.emit_results(payload)
    assert compact["detail_file"] == str(detail)
    on_disk = json.loads(detail.read_text())
    assert on_disk == payload
    # the dropped fields are exactly the declared bulky set
    dropped = set(payload) - set(compact)
    assert dropped == set(bench._BULKY_FIELDS)


def test_bulky_fields_do_not_include_driver_contract():
    """A future edit must not accidentally demote a driver-contract or
    anchor-health field to the sidecar."""
    protected = {
        "metric",
        "value",
        "unit",
        "queries",
        "sf",
        "parallelism",
        "calib_sec",
        "calib_unstable",
        "value_calib_norm",
    }
    assert not protected & set(bench._BULKY_FIELDS)


def test_bare_detail_filename_lands_in_cwd(tmp_path, monkeypatch):
    """A SPARK_GRAFT_BENCH_DETAIL with no directory part is written to
    the working directory, not dropped."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", "detail.json")
    payload = _fake_payload()
    compact = bench.emit_results(payload)
    assert compact["detail_file"] == "detail.json"
    assert json.loads((tmp_path / "detail.json").read_text()) == payload


def test_calib_norm_only_from_a_stable_anchor():
    """Normalized totals are emitted only when the anchor does not flag
    itself unstable (an unstable anchor's normalization is not
    comparable across runs)."""
    per_query = {"q1": 2.0, "q2": 1.0}
    stable = {"calib_sec": 2.0, "calib_unstable": False}
    assert bench.calib_norm_fields(3.0, per_query, stable) == {
        "value_calib_norm": 1.5,
        "queries_calib_norm": {"q1": 1.0, "q2": 0.5},
    }
    unstable = {"calib_sec": 2.0, "calib_unstable": True}
    assert bench.calib_norm_fields(3.0, per_query, unstable) == {}
