"""bench.py is the driver's perf harness — a crash there forfeits the
round's BENCH record, so its CLI contract gets a real subprocess smoke:
one tiny query at sf0.001, plus the hardened edge cases (custom dir
name, BENCH_RUNS=0)."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_bench(env_extra, args):
    env = {**os.environ, **env_extra}
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), *args],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
        cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def test_bench_emits_one_json_line_for_named_query():
    res = _run_bench(
        {"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001", "BENCH_RUNS": "1"},
        ["x35_epoch_shuffle"],
    )
    assert res["n_queries"] == 1 and res["n_failed"] == 0
    assert res["sf"] == 0.001 and res["queries"]["x35_epoch_shuffle"] > 0


def test_bench_survives_custom_dir_name_and_zero_runs(tmp_path):
    # a non-sf-named dataset dir and BENCH_RUNS=0 must bench, not crash
    import shutil

    alias = tmp_path / "mydata"
    shutil.copytree("/root/testdata/sf0.001", alias)
    res = _run_bench(
        {"SPARK_GRAFT_SF_DIR": str(alias), "BENCH_RUNS": "0"},
        ["c1_projection"],
    )
    assert res["n_failed"] == 0 and res["sf"] == -1.0
    assert res["queries"]["c1_projection"] > 0


def test_bench_checkpoint_resume_skips_recorded_queries(tmp_path):
    """Resumable mode (round 8): a recorded name must be skipped on
    the next invocation (its row reused verbatim), and partial runs
    must never write BENCH_FULL.json. Two subprocess passes over a
    shared checkpoint: the second adds one query and reuses the
    first's row bit-identically."""
    ckpt = str(tmp_path / "bench.ckpt.jsonl")
    env = {
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "BENCH_RUNS": "1",
        "BENCH_CHECKPOINT": ckpt,
    }
    r1 = _run_bench(env, ["x35_epoch_shuffle"])
    assert r1["queries"]["x35_epoch_shuffle"] > 0
    rows = [json.loads(x) for x in open(ckpt)]
    assert [r["name"] for r in rows] == ["x35_epoch_shuffle"]
    r2 = _run_bench(env, ["x35_epoch_shuffle", "c1_projection"])
    # the recorded row is reused, not re-measured (bit-identical), and
    # the checkpoint gained exactly the new name
    assert r2["queries"]["x35_epoch_shuffle"] == r1["queries"]["x35_epoch_shuffle"]
    assert r2["queries"]["c1_projection"] > 0
    rows = [json.loads(x) for x in open(ckpt)]
    assert [r["name"] for r in rows] == ["x35_epoch_shuffle", "c1_projection"]


def test_bench_checkpoint_retries_failed_rows(tmp_path):
    """Round-9 advisor fix: a failure row (sec=-1.0) in the checkpoint
    must NOT be replayed verbatim — it is dropped on load so the query
    is re-attempted on resume (a transient failure was previously
    frozen into BENCH_FULL.json with no retry path)."""
    ckpt = tmp_path / "bench.ckpt.jsonl"
    ckpt.write_text(
        json.dumps(
            {"name": "x35_epoch_shuffle", "sec": -1.0, "flaky": False, "sf": 0.001}
        )
        + "\n"
    )
    env = {
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "BENCH_RUNS": "1",
        "BENCH_CHECKPOINT": str(ckpt),
    }
    res = _run_bench(env, ["x35_epoch_shuffle"])
    # the query re-ran (and succeeded), replacing the frozen failure
    assert res["n_failed"] == 0
    assert res["queries"]["x35_epoch_shuffle"] > 0
    rows = [json.loads(x) for x in open(ckpt)]
    assert [r["sec"] > 0 for r in rows] == [False, True]


def test_bench_adjudicates_envelope_regressions(tmp_path):
    """r10 verdict task 2 (two rounds of host-noise-inflated driver
    artifacts): a reading worse than 1.3x its recorded envelope gets
    bounded extra runs (default 2) and the artifact carries the rerun
    count plus a per-query loadavg stamp — self-adjudicating, so a
    surviving regression is real and a vanished one is explained."""
    env_file = tmp_path / "envelope.json"
    # an absurdly tight envelope forces adjudication for the query
    env_file.write_text(
        json.dumps({"sf": 0.001, "queries": {"x35_epoch_shuffle": 0.0001}})
    )
    res = _run_bench(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "BENCH_RUNS": "1",
            "BENCH_ENVELOPE": str(env_file),
        },
        ["x35_epoch_shuffle"],
    )
    assert res["queries"]["x35_epoch_shuffle"] > 0
    assert res["reruns"] == {"x35_epoch_shuffle": 2}
    assert res["loadavg"]["x35_epoch_shuffle"] == res["load_max"] >= 0
    # an envelope from a DIFFERENT sf must not trigger adjudication
    env_file.write_text(
        json.dumps({"sf": 0.1, "queries": {"x35_epoch_shuffle": 0.0001}})
    )
    res = _run_bench(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "BENCH_RUNS": "1",
            "BENCH_ENVELOPE": str(env_file),
        },
        ["x35_epoch_shuffle"],
    )
    assert "reruns" not in res


def test_bench_envelope_scoped_by_sf_and_cpus(monkeypatch, tmp_path, capsys):
    """r13 VERDICT task 6: the driver's 8-core sweep overwrote the
    32-core BENCH_FULL.json envelope, slackening the 1.3x adjudication
    gate for every later 32-core run. A complete run whose (sf, cpus)
    differs from the committed record must (a) land in an
    (sf, cpus)-scoped sibling artifact instead, and (b) never be used
    as the envelope for a different core count."""
    import bench

    monkeypatch.setattr(bench.os.path, "dirname", lambda _p: str(tmp_path))
    # 32-core record becomes the main artifact, stamped with cpus
    bench.emit_artifacts({"q": 1.0}, [], 0.1, cpus=32)
    main = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert main["cpus"] == 32
    # an 8-core complete run must NOT clobber it
    bench.emit_artifacts({"q": 9.0}, [], 0.1, cpus=8)
    assert json.loads((tmp_path / "BENCH_FULL.json").read_text())["queries"] == {
        "q": 1.0
    }
    scoped = json.loads((tmp_path / "BENCH_FULL_sf0.1_c8.json").read_text())
    assert scoped["cpus"] == 8 and scoped["queries"] == {"q": 9.0}
    # nor must a different-sf complete run
    bench.emit_artifacts({"q": 5.0}, [], 1.0, cpus=32)
    assert json.loads((tmp_path / "BENCH_FULL.json").read_text())["sf"] == 0.1
    assert json.loads((tmp_path / "BENCH_FULL_sf1.0_c32.json").read_text())[
        "queries"
    ] == {"q": 5.0}
    # envelope loading is scoped the same way: the 32-core record never
    # adjudicates an 8-core run (and vice versa); the scoped sibling is
    # the fallback for its own (sf, cpus)
    monkeypatch.delenv("BENCH_ENVELOPE", raising=False)
    assert bench._load_envelope(0.1, 32) == {"q": 1.0}
    assert bench._load_envelope(0.1, 8) == {"q": 9.0}
    assert bench._load_envelope(1.0, 32) == {"q": 5.0}
    assert bench._load_envelope(1.0, 8) == {}
    # legacy record without a cpus stamp keeps the old behavior
    (tmp_path / "BENCH_FULL.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q": 2.0}})
    )
    assert bench._load_envelope(0.1, 8) == {"q": 2.0}


def test_bench_loaded_run_never_replaces_anchor(monkeypatch, tmp_path, capsys):
    """r14 VERDICT What's-wrong #1: a complete same-(sf, cpus) run that
    fails an anchor-validity load gate (load_pre > 1.0 or load_floor >
    2.0) must leave BENCH_FULL.json byte-identical and land in the
    ``_loaded`` sibling; a quiet run still replaces the anchor."""
    import bench

    monkeypatch.setattr(bench.os.path, "dirname", lambda _p: str(tmp_path))
    bench.emit_artifacts({"q": 1.0}, [], 0.1, load_pre=0.03, cpus=4)
    main = tmp_path / "BENCH_FULL.json"
    anchor = main.read_bytes()
    loaded = tmp_path / "BENCH_FULL_sf0.1_c4_loaded.json"
    for kw in (
        {"load_pre": 7.54},
        {"load_pre": 0.5, "loadavg": {"q": 2.5}},  # load_floor 2.5
    ):
        bench.emit_artifacts({"q": 9.0}, [], 0.1, cpus=4, **kw)
        assert main.read_bytes() == anchor
        assert json.loads(loaded.read_text())["queries"] == {"q": 9.0}
        loaded.unlink()
    # exactly at both gates is still anchor-valid
    bench.emit_artifacts(
        {"q": 2.0}, [], 0.1, cpus=4, load_pre=1.0, loadavg={"q": 2.0}
    )
    assert json.loads(main.read_text())["queries"] == {"q": 2.0}
    assert not loaded.exists()


def test_bench_final_line_fits_driver_capture_window(capsys, monkeypatch, tmp_path):
    """The driver records only the last 2000 chars of bench stdout and
    parses the final JSON line. For the REAL registry size (every
    declared query name, worst-case -1.0 timings), the last printed
    line must parse and fit the window with margin."""
    import json

    import bench

    from rehiver_spark.queries import QUERIES, load_all

    load_all()
    # worst-case widths: real names, negative timings, all flaky, a
    # full per-query loadavg map plus rerun annotations (round 10)
    timings = {n: -1.0 for n in QUERIES}
    flaky = list(QUERIES)[:5]
    loadavg = {n: 31.99 for n in QUERIES}
    reruns = {n: 2 for n in list(QUERIES)[:20]}
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda _p: str(tmp_path)
    )
    bench.emit_artifacts(timings, flaky, 0.1, loadavg=loadavg, reruns=reruns)
    out = capsys.readouterr().out
    last = out.strip().splitlines()[-1]
    assert len(last) < 1800, len(last)
    rec = json.loads(last)
    assert rec["n_queries"] == len(QUERIES)
    # the full record round-trips from the file
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert set(full["queries"]) == set(QUERIES)
    # simulate the capture: last line survives a 2000-char tail whole
    tail = out[-2000:]
    assert json.loads(tail.strip().splitlines()[-1]) == rec
