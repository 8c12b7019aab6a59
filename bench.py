"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect-to-count).
A warmup pass on sf0.001 first touches the JVM/codegen paths so the
measurements reflect steady-state execution, not JIT warmup.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Iterable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from duckdb_retail_pipeline_spark.queries import REGISTRY  # noqa: E402
from duckdb_retail_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_DIR = "/root/testdata/sf0.001"
# replicated cold measurement (r13 verdict #4): cold is
# definitionally ONE sample per process (the first target-SF pass
# builds the session memos; later passes are warm), so extra cold
# samples need a fresh session each — taken via one --cold-probe
# subprocess below, so every artifact carries cold dispersion.
COLD_SAMPLES = 2


def _steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line —
    steal is the KVM-accounted time the HYPERVISOR ran someone else
    while this guest wanted CPU, the contention channel guest
    loadavg cannot see. (0, 0) when unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except Exception:  # noqa: BLE001 — diagnostics must never fail the bench
        return 0, 0


def _calibrate_s() -> float:
    """Seconds for a fixed single-thread pure-Python workload — a
    direct effective-CPU-speed probe: host-level contention/steal
    inflates it proportionally even when guest loadavg reads idle
    (r13: an idle-loadavg run measured 40% slower uniformly; only a
    calibration/steal stamp makes that visible in the artifact).
    Quiet-box reference ~0.08 s — a first estimate of ~0.21 s was
    itself taken under load, proving the probe works."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    assert s  # keep the loop un-optimizable
    return round(time.perf_counter() - t0, 4)


def _cold_pass(spark) -> tuple[dict[str, float], list[str]]:
    """The bench's cold methodology: one untimed sf0.001 pass to
    JIT-compile codegen paths, then ONE timed pass per headline query
    at the target SF. Returns (per-query cold seconds, names whose
    target-SF pass failed).

    The tiny-SF pass is skipped when the TARGET is the tiny SF: it
    would fill the per-(session, dataset) memos and the cold numbers
    would record cache hits."""
    headline = {n: s for n, s in REGISTRY.items() if s.headline}
    dirs = (WARMUP_DIR, SF_DIR)
    if os.path.realpath(WARMUP_DIR) == os.path.realpath(SF_DIR):
        dirs = (SF_DIR,)
    cold: dict[str, float] = {}
    cold_failed: list[str] = []
    for warm_dir in dirs:
        for name, spec in sorted(headline.items()):
            try:
                t0 = time.perf_counter()
                spec.fn(spark, warm_dir).count()
                if warm_dir == SF_DIR:
                    cold[name] = round(time.perf_counter() - t0, 4)
            except Exception as exc:  # noqa: BLE001
                print(f"warmup {name} failed: {exc}", file=sys.stderr)
                if warm_dir == SF_DIR:
                    # a query whose COLD pass dies (its memo build
                    # OOMs/times out) but whose warm passes succeed
                    # off the partially-built state would silently
                    # SHRINK the cold total — reading as a build-cost
                    # speedup, the exact failure mode the cold line
                    # exists to detect; flag it as loudly as a warm
                    # failure
                    cold_failed.append(name)
    return cold, cold_failed


def _cold_probe() -> None:
    """Subprocess mode (--cold-probe): ``_cold_pass`` in a FRESH
    session and nothing else. Prints one JSON line {"cold_probe":
    {...}} for the parent to fold into queries_cold_samples. Exists
    because cold is one-sample-per-process by construction (see
    COLD_SAMPLES)."""
    spark = get_spark(app_name="bench-cold-probe")
    cold, _ = _cold_pass(spark)
    print(json.dumps({"cold_probe": cold}))
    spark.stop()


def _end_jvm(spark) -> None:
    """Stop ``spark`` and end its JVM. ``spark.stop()`` alone leaves the
    py4j gateway JVM running, heap committed, until this process exits;
    that JVM exits when its stdin closes (PySpark's parent-death pipe),
    which returns the heap now."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway.proc is not None:  # None when attached to a given gateway port
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def _parse_cold_probe(stdout: str) -> dict[str, float] | None:
    """The per-query cold dict in a --cold-probe subprocess's stdout:
    the payload is the line whose JSON object has a ``cold_probe``
    key; any other line, JSON-looking or not, is skipped."""
    for line in stdout.splitlines():
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        if isinstance(doc, dict) and "cold_probe" in doc:
            return doc["cold_probe"]
    return None


def _extra_cold_samples(n_extra: int) -> list[dict[str, float]]:
    """Run ``n_extra`` fresh-session cold probes as subprocesses and
    return their per-query cold dicts. Failures degrade to fewer
    samples (never fail the bench)."""
    import subprocess

    out: list[dict[str, float]] = []
    for _ in range(n_extra):
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--cold-probe"],
                capture_output=True,
                text=True,
                timeout=1800,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
            probe = _parse_cold_probe(proc.stdout)
            if isinstance(probe, dict) and probe:
                out.append(probe)
        except Exception as exc:  # noqa: BLE001 — diagnostics only
            print(f"cold probe subprocess failed: {exc}", file=sys.stderr)
    return out


def _fold_cold_probes(
    out: dict, cold: dict[str, float], headline: Iterable[str], extras: list[dict[str, float]]
) -> None:
    """Fold fresh-session cold probes into ``out``: per-query samples,
    per-sample totals and the sample count. A probe missing any headline
    query would sum to a shrunken total that reads as a speed-up, so it
    is left out of ``headline_queries_cold_total_samples``; the headline
    names it lacked go to ``cold_probe_missing``, one sorted list per
    left-out probe. ``headline_queries_cold_min_total_sec`` is the least
    of those totals."""
    out["queries_cold_samples"] = {
        name: [c] + [p[name] for p in extras if name in p] for name, c in cold.items()
    }
    totals = [out["headline_queries_cold_total_sec"]]
    missing = []
    for p in extras:
        lacked = sorted(set(headline) - p.keys())
        if lacked:
            missing.append(lacked)
        else:
            totals.append(round(sum(p.values()), 4))
    out["headline_queries_cold_total_samples"] = totals
    out["headline_queries_cold_min_total_sec"] = min(totals)
    out["cold_probe_missing"] = missing
    out["cold_samples"] = 1 + len(extras)


def main() -> None:
    # stamp host contention into the artifact (r12 verdict #2: the
    # driver's BENCH_r12 min-total rose 30% on untouched queries
    # while same-HEAD local runs held — a contended box was the only
    # consistent explanation, but nothing in the JSON could prove
    # it; load BEFORE Spark starts is the box's ambient state, load
    # AFTER includes our own 32 threads, so a high BEFORE number
    # marks the run as contended from the artifact alone. loadavg is
    # guest-scoped, so it's paired with a /proc/stat steal delta and
    # a fixed single-thread calibration — the channels that catch
    # HOST-level contention a virtualized guest's loadavg misses)
    load_before = [round(x, 2) for x in os.getloadavg()]
    steal0, jiff0 = _steal_jiffies()
    calibrate_before = _calibrate_s()
    spark = get_spark(app_name="bench")
    headline = {n: s for n, s in REGISTRY.items() if s.headline}

    # Steady-state methodology: one untimed pass at the tiny SF to
    # JIT-compile codegen paths, then one pass at the target SF
    # (fills caches the engine would hold in production — the
    # pipeline's staged layers), then the timed passes. The target-SF
    # warmup pass is TIMED and reported as "queries_cold": several
    # queries hold session memos / rotating persists (x42's ANN
    # frame, x44's tokenized frame, the pl staged layers), so the
    # warm median measures the steady serving cost while the cold
    # number still observes the underlying operator — a regression
    # in the expensive compute shows up in cold even when every warm
    # pass is a cache hit (r6 ADVICE).
    cold, cold_failed = _cold_pass(spark)

    # median of 5 timed passes per query: single-pass numbers showed
    # ±50% run-to-run noise on the join-heavy queries (x66 measured
    # 1.4-2.6 s across r6 runs), and at median-of-3 the TOTAL still
    # swung ±1 s across same-code runs (r8 sampled 9.8/10.3/11.0/
    # 11.4/12.2 on one HEAD) — enough to swamp real round-over-round
    # regressions. Five passes cost ~30 extra seconds at ~20 queries.
    timings: dict[str, float] = {}
    # per-query [min, median, max] over the same 5 runs: two rounds
    # of warm-total drift on untouched code were attributed to box
    # variance with only the median in the artifact — the dispersion
    # makes that claim falsifiable from the JSON alone (r10 verdict
    # #3: a query whose min matches last round but whose median rose
    # is variance; a query whose MIN rose is a real regression)
    spread: dict[str, list[float]] = {}
    for name, spec in sorted(headline.items()):
        runs: list[float] = []
        try:
            for _ in range(5):
                t0 = time.perf_counter()
                spec.fn(spark, SF_DIR).count()
                runs.append(time.perf_counter() - t0)
            runs.sort()
            timings[name] = round(runs[2], 4)
            spread[name] = [round(runs[0], 4), round(runs[2], 4),
                            round(runs[-1], 4)]
        except Exception as exc:  # noqa: BLE001
            print(f"bench {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0

    ok = [v for v in timings.values() if v >= 0]
    failed = sorted(n for n, v in timings.items() if v < 0)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(ok), 4),
        "unit": "sec",
        "queries": timings,
        # [min, median, max] of the 5 warm runs per query (r10
        # verdict #3: round-over-round comparisons should cite the
        # spread, not explain median drift by narrative)
        "queries_spread": spread,
        "queries_cold": cold,
        # warm totals increasingly measure memo serving (x07/x42/x90
        # serve persisted indexes in ~0.1-0.8 s) — the cold total
        # tracks the underlying build cost round-over-round, so a
        # regression in the expensive compute can't hide behind warm
        # cache hits (r9 verdict #7)
        "headline_queries_cold_total_sec": round(sum(cold.values()), 4),
        # cold is DEFINITIONALLY one sample per query per process:
        # the first target-SF pass builds the session memos/persists,
        # and every later pass in the same JVM is warm. Since r14 the
        # bench replicates cold via FRESH-SESSION subprocess probes
        # (--cold-probe, same warmup+first-pass methodology), closing
        # the r13 verdict's "cold is a single unreplicated point"
        # gap: queries_cold stays sample 1 (round-over-round
        # comparable with r6-r13), queries_cold_samples carries every
        # sample, and cold_samples records how many landed. A ±13%
        # single-sample swing (r11: cold drifted 30.85→34.77 s on
        # mostly-untouched code while warm MINS held) is now readable
        # as dispersion from the artifact alone.
        "cold_samples": 1,  # updated below once the probes land
        # least per-sample cold total: the round-over-round cold
        # comparator (box noise only ever adds time, as for the warm
        # mins below); the in-process total until a probe folds in
        "headline_queries_cold_min_total_sec": round(sum(cold.values()), 4),
        # sum-of-mins: the most variance-robust total (box noise only
        # ever ADDS time to a warm run, so the min is the cleanest
        # per-query estimate and its sum the cleanest total trend)
        "headline_queries_total_min_sec": round(
            sum(v[0] for v in spread.values()), 4
        ),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # 1/5/15-min load averages: before = ambient box state at
        # process start (>> ncpus-idle baseline ⇒ the run was
        # contended and its timings are suspect), after = ambient +
        # this bench's own executor threads (so only BEFORE is the
        # contention witness)
        "loadavg_before": load_before,
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "ncpus": os.cpu_count(),
    }
    # replicated cold samples (after the warm timing so the probes
    # never contend with the in-process measurement): each probe is a
    # fresh session in a subprocess running the identical
    # warmup+first-pass methodology. Nothing below uses Spark, and the
    # probe's JVM takes the same default heap, so this process's JVM
    # ends first: two live driver heaps at once can exceed the box's
    # memory.
    _end_jvm(spark)
    extras = _extra_cold_samples(COLD_SAMPLES - 1)
    if extras:
        _fold_cold_probes(out, cold, headline, extras)

    steal1, jiff1 = _steal_jiffies()
    # fraction of the run's cpu-time the hypervisor gave to someone
    # else (all cpus aggregated): ~0 on a quiet host; a contended
    # driver run shows double-digit percent here even at idle guest
    # loadavg
    out["steal_pct"] = (
        round(100.0 * (steal1 - steal0) / (jiff1 - jiff0), 2)
        if jiff1 > jiff0
        else None
    )
    # same fixed single-thread workload before and after: the ratio
    # to a quiet-box reference (~0.08 s on this hardware) is the
    # effective-CPU-speed witness
    out["calibrate_s"] = [calibrate_before, _calibrate_s()]
    if failed:
        # a failed query DROPS out of the total, which would read as
        # a round-over-round speedup — flag it loudly in the JSON
        # and in the exit status so the regression cannot pass as an
        # improvement
        out["failed"] = failed
    if cold_failed:
        out["cold_failed"] = sorted(cold_failed)
    print(json.dumps(out))
    if failed or cold_failed:
        sys.exit(1)


if __name__ == "__main__":
    if "--cold-probe" in sys.argv[1:]:
        _cold_probe()
    else:
        main()
