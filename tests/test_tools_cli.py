"""Regression tests for tools/ CLI parsing.

Round-5 verdict #3: ``tools/selfcheck.py --workers 8`` (the space form the
module docstring advertises) crashed with ``int('')``.  Pin both forms.
"""

import os
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

from selfcheck import parse_cli  # noqa: E402


def test_workers_space_form():
    cli = parse_cli(["--hostile", "--workers", "8", "/root/testdata/sf0.01"])
    assert cli["workers"] == 8
    assert cli["hostile"] is True
    assert cli["rest"] == ["/root/testdata/sf0.01"]


def test_workers_equals_form():
    cli = parse_cli(["--workers=4", "sfdir", "q01_pricing_summary"])
    assert cli["workers"] == 4
    assert cli["rest"] == ["sfdir", "q01_pricing_summary"]


def test_spark_threads_both_forms():
    assert parse_cli(["--spark-threads", "4"])["n_threads"] == 4
    assert parse_cli(["--spark-threads=8"])["n_threads"] == 8


def test_defaults_and_flags():
    cli = parse_cli([])
    assert cli == {
        "hostile": False,
        "json_out": False,
        "use_cache": True,
        "workers": 1,
        "n_threads": 16,
        "rest": [],
    }
    assert parse_cli(["--no-cache"])["use_cache"] is False
    assert parse_cli(["--json"])["json_out"] is True


def test_query_names_pass_through():
    cli = parse_cli(["--workers", "2", "dir", "qA", "qB"])
    assert cli["rest"] == ["dir", "qA", "qB"]


def test_time_queries_names_after_out():
    """Query names may follow ``--out`` (the documented usage line)."""
    from time_queries import parse_args

    args = parse_args(["sfdir", "--out", "t.json", "q172_max_concurrent_sessions"])
    assert (args.sf_dir, args.out, args.names) == (
        "sfdir",
        "t.json",
        ["q172_max_concurrent_sessions"],
    )
    args = parse_args(["sfdir", "qA", "--out", "t.json", "qB"])
    assert args.names == ["qA", "qB"]
    assert parse_args(["sfdir"]).names == []


def test_check_scaling_breach_detection(tmp_path):
    """The scaling budget gate must exit nonzero on a breached exponent
    and on a missing budgeted probe, and zero when all are in budget."""
    import json
    import subprocess

    from check_scaling import BUDGETS

    def run(queries):
        f = tmp_path / "probe.json"
        f.write_text(json.dumps({"queries": queries}) + "\n")
        return subprocess.run(
            ["python", os.path.join(TOOLS, "check_scaling.py"), str(f)],
            capture_output=True,
            text=True,
        )

    ok_row = {"time_exponent": 0.9, "t_a_sec": 1, "t_b_sec": 8,
              "rows_a": 10, "rows_b": 100}
    good = {name: dict(ok_row) for name in BUDGETS}
    assert run(good).returncode == 0

    bad = {name: dict(ok_row) for name in BUDGETS}
    bad["q27_minhash_near_dups"] = dict(ok_row, time_exponent=1.9)
    r = run(bad)
    assert r.returncode != 0 and "BREACH" in r.stdout

    missing = dict(good)
    del missing["q349_ngram_novelty"]
    r = run(missing)
    assert r.returncode != 0 and "MISSING" in r.stdout


def _run_check_scaling(args):
    import subprocess

    return subprocess.run(
        ["python", os.path.join(TOOLS, "check_scaling.py"), *args],
        capture_output=True,
        text=True,
    )


def _probe_doc(tmp_path, name, queries):
    import json

    f = tmp_path / name
    f.write_text(json.dumps({"queries": queries}) + "\n")
    return str(f)


def test_check_scaling_ladder_argv_paths(tmp_path):
    """Round-9 verdict ask #5: pin the --ladder argv surface — ladder-only,
    combined, and malformed invocations (tools/check_scaling.py:195-246
    had no test; round-8 shipped an argv regression there)."""
    from check_scaling import BUDGETS, LADDER_BC_BUDGETS, LADDER_C_ERROR_OK

    ok_row = {"time_exponent": 0.9, "t_a_sec": 1, "t_b_sec": 8,
              "rows_a": 10, "rows_b": 100}
    ladder_ok = {}
    for name in LADDER_BC_BUDGETS:
        row = dict(ok_row, t_c_sec=60.0)
        if name in LADDER_C_ERROR_OK:
            row["c_error"] = "adjudicated corpus artifact"
        else:
            row["exponent_bc"] = 0.9
        ladder_ok[name] = row
    main_ok = {name: dict(ok_row) for name in BUDGETS}
    probe = _probe_doc(tmp_path, "probe.json", main_ok)
    ladder = _probe_doc(tmp_path, "ladder.json", ladder_ok)

    # ladder-only invocation
    r = _run_check_scaling(["--ladder", ladder])
    assert r.returncode == 0 and "LADDER-BUDGET OK" in r.stdout, r.stdout

    # combined invocation: both gates must run and both must report
    r = _run_check_scaling([probe, "--ladder", ladder])
    assert r.returncode == 0
    assert "SCALING-BUDGET OK" in r.stdout and "LADDER-BUDGET OK" in r.stdout

    # combined with a MAIN failure still runs the ladder gate (round-9
    # unconditional-gates fix) and the exit code is the max of both
    bad_main = dict(main_ok)
    bad_main["q27_minhash_near_dups"] = dict(ok_row, time_exponent=1.9)
    probe_bad = _probe_doc(tmp_path, "probe_bad.json", bad_main)
    r = _run_check_scaling([probe_bad, "--ladder", ladder])
    assert r.returncode != 0 and "LADDER-BUDGET OK" in r.stdout

    # combined with a LADDER failure fails even when main passes
    bad_ladder = dict(ladder_ok)
    bad_ladder["q27_minhash_near_dups"] = dict(
        ok_row, exponent_bc=1.9, t_c_sec=900.0
    )
    ladder_bad = _probe_doc(tmp_path, "ladder_bad.json", bad_ladder)
    r = _run_check_scaling([probe, "--ladder", ladder_bad])
    assert r.returncode != 0 and "BREACH" in r.stdout

    # malformed argv: --ladder with no value (or another flag) is usage
    for argv in (["--ladder"], [probe, "--ladder"], ["--ladder", "--x"]):
        r = _run_check_scaling(argv)
        assert r.returncode == 2 and "usage" in r.stdout, argv

    # un-adjudicated c_error fails the ladder gate
    unadj = dict(ladder_ok)
    victim = next(n for n in LADDER_BC_BUDGETS if n not in LADDER_C_ERROR_OK)
    unadj[victim] = dict(ok_row, c_error="spill", t_c_sec=0.0)
    r = _run_check_scaling(["--ladder", _probe_doc(tmp_path, "l3.json", unadj)])
    assert r.returncode != 0 and "un-adjudicated" in r.stdout


def test_check_scaling_registry_vouched_exemptions(tmp_path):
    """Round-9 verdict ask #3: an unbudgeted probe that IS a catalog query
    passes only when the registry vouches for it (baseline_only /
    scaling_adjudicated); an unvouched catalog exemption fails the gate."""
    from check_scaling import BUDGETS

    ok_row = {"time_exponent": 0.9, "t_a_sec": 1, "t_b_sec": 8,
              "rows_a": 10, "rows_b": 100}
    base = {name: dict(ok_row) for name in BUDGETS}

    # registry-vouched: baseline_only anchor + scaling_adjudicated q171
    vouched = dict(base)
    vouched["q61_winnow_near_dups_exact"] = dict(ok_row, time_exponent=1.7)
    vouched["q171_jaccard_prefix_filter"] = dict(ok_row, time_exponent=1.5)
    r = _run_check_scaling([_probe_doc(tmp_path, "v.json", vouched)])
    assert r.returncode == 0, r.stdout

    # unvouched catalog query with no budget -> gate fails
    unvouched = dict(base)
    unvouched["q01_pricing_summary"] = dict(ok_row)
    r = _run_check_scaling([_probe_doc(tmp_path, "u.json", unvouched)])
    assert r.returncode != 0 and "SCALING-EXEMPT FAIL" in r.stdout

    # non-catalog operator probes stay documented-only, never fail
    opprobe = dict(base)
    opprobe["cosine085_auto_geometry"] = dict(ok_row, time_exponent=1.8)
    r = _run_check_scaling([_probe_doc(tmp_path, "o.json", opprobe)])
    assert r.returncode == 0, r.stdout
