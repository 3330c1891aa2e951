"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload deid_spans --seed 1 --seconds 9 --trace 0

Order of a run (every step outside the timed windows unless stated):

1. tiny warm input from the seed (pure Python, cached; excluded from set-up);
2. set-up, timed as ``setup_s``: process start -> ``session.get_spark`` ->
   one small warm pass of the workload's operators;
3. full-size input from the seed (cached under ``.perfbench_cache``);
4. a fixed number of full-size jobs, ``--seconds`` worth at the workload's
   nominal wall (at least ``MIN_RUNS``); ``wall_s`` is the median of the
   second half of them, the first ones being the JIT's warm-up at this
   volume.  After its window closes, a job's output is compared in full
   with the oracle the first time this seed meets this program version
   (the verified digest is cached with the input), and against that digest
   otherwise.  A job that raises or whose output does not match counts as
   failed.

``--trace 1`` additionally enables Spark's event log and adds one traced
iteration (layer spans + action hooks) after the plain runs, then prints
the per-layer metrics instead of the end-to-end ones.

The last stdout line is the result object; an informational line with the
host facts and raw samples precedes it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# at least this many jobs per process; the median is over the second half
MIN_RUNS = 3


def job_count(seconds: float, nominal_s: float) -> int:
    """Jobs per process: ``seconds`` of jobs at the workload's nominal wall.
    The count depends on nothing measured, so every process and every
    program version runs the same number of jobs (a time-based count would
    give a faster program more, and warmer, jobs)."""
    return max(MIN_RUNS, round(seconds / nominal_s))


# stop starting runs past this point so the process always ends in time
DEADLINE_S = 140.0


class RunAccount:
    """Attempted/failed accounting and the per-run output check.

    The first output checked is compared in full with the oracle
    (``verify()`` -> problems, counts); its digest then becomes the expected
    digest every later output must reproduce.  ``expected`` may start from a
    digest verified earlier for the same input and program version."""

    def __init__(self, expected=None):
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.counts: dict = {}
        self.verified_now = False

    def check(self, label: str, digest, verify) -> bool:
        digest = json.loads(json.dumps(digest))  # the form the cache stores
        if self.expected is None:
            found, counts = verify()
            if found:
                self.problems.extend(f"{label}: {p}" for p in found)
                return False
            self.expected, self.counts, self.verified_now = digest, counts, True
            return True
        if digest != self.expected:
            self.problems.append(f"{label}: output digest differs from the verified output")
            return False
        return True

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    @property
    def verified_frac(self) -> float:
        return (self.attempted - self.failed) / self.attempted if self.attempted else 0.0


def _gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def curate_stage_times(spans: list[dict], e2e_id: int) -> dict[str, float]:
    """Per curate stage: the time of the Spark actions that produced it.

    ``pipeline.curate`` writes each stage and then counts it from the
    parquet it wrote, so a ``count`` belongs to the stage written just
    before it; any other action (driver-side preparation) belongs to the
    next stage written, and actions after the last write to the last stage."""
    from perfbench.workloads import CURATE_STAGES

    out = {metric: 0.0 for metric in CURATE_STAGES.values()}
    pending = 0.0
    last = None
    for s in sorted((s for s in spans if s["parent"] == e2e_id), key=lambda s: s["start"]):
        took = s["end"] - s["start"]
        stage = s["name"].split("/write:", 1)[1] if "/write:" in s["name"] else None
        if stage in CURATE_STAGES:
            last = CURATE_STAGES[stage]
            out[last] += pending + took
            pending = 0.0
        elif last is not None and s["name"].endswith("/count"):
            out[last] += took
        else:
            pending += took
    if last is not None:
        out[last] += pending
    return out


def layer_metrics(wl, tracer, traced, steady, last_wall, events, setup) -> dict:
    """Per-layer metrics of a traced process.  ``steady`` holds the
    (run, wall, gc) of the plain runs ``wall_s`` is the median of; engine
    counts are per-run averages over them.  ``last_wall`` is the wall of the
    plain run just before the traced one, the nearest in JIT warmth."""
    from perfbench.harness import cores
    from perfbench.metrics import PER_LAYER
    from perfbench.tracing import engine_counts, self_times
    from perfbench.workloads import CURATE_STAGES

    m = {name: 0.0 for name in PER_LAYER}
    m["session.start_s"] = setup["start_s"]
    m["session.warm_s"] = setup["warm_s"]
    first = traced
    m.update(first["metrics"])
    first_spans = [s for s in tracer.spans if s["run"] == first["run"]]
    own = self_times(first_spans)
    for s in first_spans:
        if s["name"] in first["layers"]:
            m[f"{s['name']}.busy_s"] = own[s["id"]]
    if wl.name == "curate":
        m.update(curate_stage_times(first_spans, first["e2e"]["id"]))
        busy = sum(m[k] for k in CURATE_STAGES.values())
    else:
        busy = sum(m[f"{n}.busy_s"] for n in first["layers"])
    plain_walls = [r[1] for r in steady]
    wall = _median(plain_walls)
    m["trace.overhead_s"] = (first["e2e"]["end"] - first["e2e"]["start"]) - last_wall
    m["trace.layer_coverage"] = busy / wall if wall else 0.0

    n_plain = len(steady)
    tags = {f"plain#p{r[0]}" for r in steady}
    plain = engine_counts(events, lambda p: p in tags)
    m["exchange.shuffle_write_bytes"] = plain["shuffle_write_bytes"] / n_plain
    m["exchange.shuffle_read_bytes"] = plain["shuffle_read_bytes"] / n_plain
    m["exchange.spill_bytes"] = plain["spill_bytes"] / n_plain
    m["exchange.task_skew"] = plain["task_skew"]
    m["python.bytes_to_worker"] = plain["py_sent"] / n_plain
    m["python.bytes_from_worker"] = plain["py_recv"] / n_plain
    m["python.rows_from_worker"] = plain["py_rows"] / n_plain
    m["engine.core_util"] = plain["run_time_s"] / (sum(plain_walls) * cores())
    m["engine.gc_s"] = _median([r[2] for r in steady])
    m["engine.tasks"] = plain["tasks"] / n_plain
    if wl.name == "deid_spans":
        m["lineage.spark_jobs"] = plain["jobs"] / n_plain
        m["lineage.bytes_written"] = plain["output_bytes"] / n_plain
        e2e = engine_counts(events, lambda p: p.startswith("e2e") and p.endswith(f"#{first['run']}"))
        data_write = e2e["input_bytes_by_span"].get(f"e2e/write:data#{first['run']}", 0)
        m["lineage.rescan_bytes"] = e2e["input_bytes"] - data_write
    return m


def main(argv=None) -> int:
    from perfbench.harness import process_start_time

    t_proc = process_start_time()
    info: dict = {}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "deidcm_spark")):
        print(f"perfbench: the program (deidcm_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    from perfbench import harness
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.tracing import Tracer, read_event_log, tagged
    from perfbench.workloads import WARM_ROWS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    dirs = harness.prepare_run_dir()
    out_root = dirs["out"]

    warm = harness.InputCache(f"{wl.name}-warm", args.seed, WARM_ROWS)
    warm_gen_s = warm.build(lambda p: wl.generate_warm(args.seed, p))

    spark = harness.start_spark(dirs, event_log=trace)
    try:
        t_session = time.time()
        start_s = t_session - t_proc - warm_gen_s
        wl.run(spark, warm.path, os.path.join(out_root, "warm"))
        warm_s = time.time() - t_session
        setup = {"start_s": start_s, "warm_s": warm_s, "setup_s": start_s + warm_s}
        shutil.rmtree(os.path.join(out_root, "warm"))

        main_in = harness.InputCache(wl.name, args.seed, wl.size)
        gen_s = main_in.build(lambda p: wl.generate(spark, args.seed, p))
        n_rows = wl.n_rows(main_in.path)
        in_bytes = wl.input_bytes(main_in.path)

        traced: dict = {}
        tracer = Tracer()
        write_amp = 0.0
        cached = main_in.load_verified()
        acct = RunAccount(cached[0] if cached else None)
        info["verify"] = cached[1] if cached else {}
        info["verified_cached"] = cached is not None

        def check(out: str, result, label: str) -> bool:
            t = time.perf_counter()
            digest = wl.digest(out, result)
            info["digest_s"] = info.get("digest_s", 0.0) + time.perf_counter() - t

            def verify():
                t = time.perf_counter()
                found = wl.verify(spark, args.seed, main_in.path, out, result)
                info["verify_s"] = time.perf_counter() - t
                return found

            ok = acct.check(label, digest, verify)
            if acct.verified_now:
                acct.verified_now = False
                info["verify"] = acct.counts
                main_in.store_verified(acct.expected, acct.counts)
            return ok

        def plain_run(i: int) -> tuple[float, float] | None:
            """One untraced job: (wall seconds, JVM GC seconds during it), or
            None when it failed."""
            nonlocal write_amp
            tracer.run_id = f"p{i}"
            out = os.path.join(out_root, f"run{i}")
            gc0 = _gc_seconds(spark)
            t0 = time.perf_counter()
            try:
                with mem.window():
                    with tagged(spark, tracer, "plain"):
                        result = wl.run(spark, main_in.path, out)
                    wall = time.perf_counter() - t0
                gc = _gc_seconds(spark) - gc0
                write_amp = harness.dir_bytes(out) / in_bytes
                ok = check(out, result, f"run {i}")
            except Exception:
                ok = False
                acct.problems.append(traceback.format_exc(limit=4))
            shutil.rmtree(out, ignore_errors=True)
            acct.record(ok)
            return (wall, gc) if ok else None

        def traced_run(i: int) -> None:
            tracer.run_id = f"t{i}"
            out = os.path.join(out_root, f"trace{i}")
            ok = False
            try:
                result, e2e, layer, names = wl.trace(spark, tracer, main_in.path, out, info)
                traced.update(run=tracer.run_id, e2e=e2e, metrics=layer, layers=names)
                ok = check(out, result, f"traced run {i}")
            except Exception:
                acct.problems.append(traceback.format_exc(limit=4))
            shutil.rmtree(out, ignore_errors=True)
            acct.record(ok)

        steal0 = harness.steal_s()
        runs: list[tuple[int, float, float] | None] = []  # (run, wall, gc) or None when failed
        n_runs = job_count(args.seconds, wl.nominal_s)
        mem = harness.JobMemory(harness.jvm_pid(spark))
        while len(runs) < n_runs and (not runs or acct.expected is not None):
            if time.time() - t_proc > DEADLINE_S:
                acct.problems.append("deadline reached before the run finished measuring")
                break
            i = len(runs)
            sample = plain_run(i)
            runs.append(None if sample is None else (i, *sample))
        if trace and acct.expected is not None:
            traced_run(len(runs))
        # the second half of the runs: the JIT is still warming up to the
        # full input size during the first ones
        steady = [r for r in runs[len(runs) // 2:] if r is not None]
        walls = [r[1] for r in steady]
        info["walls_all"] = [r and r[1] for r in runs]
        peak_mem = _median(mem.peaks)
        info["mem_peaks"] = mem.peaks
        info["mem_splits"] = mem.splits
        info["steal_s"] = harness.steal_s() - steal0
    finally:
        t = time.perf_counter()
        harness.stop_spark(spark)
        info["stop_s"] = time.perf_counter() - t

    wall = _median(walls)
    info.update({
        "workload": wl.name, "seed": args.seed, "host": harness.host_info(),
        "setup": setup, "rows": n_rows, "rows_label": wl.rows_label, "input_bytes": in_bytes,
        "gen_s": gen_s, "warm_gen_s": warm_gen_s, "samples": len(walls), "walls": walls,
        "problems": acct.problems[:10], "total_s": time.time() - t_proc,
    })
    if trace:
        tracer.dump(os.path.join(harness.RUN_DIR, "spans.jsonl"))
        values = {name: 0.0 for name in PER_LAYER}
        if traced and walls:
            events = read_event_log(dirs["events"])
            last_wall = next(r[1] for r in reversed(runs) if r)
            values = layer_metrics(wl, tracer, traced, steady, last_wall, events, setup)
        metrics = {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        values = {
            "setup_s": setup["setup_s"],
            "wall_s": wall,
            "rows_per_s": n_rows / wall if wall else 0.0,
            "peak_rss_mb": peak_mem,
            "write_amp": write_amp,
            "verified_frac": acct.verified_frac,
        }
        metrics = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}
    shutil.rmtree(out_root, ignore_errors=True)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": acct.failed == 0 and bool(walls),
        "attempted": acct.attempted,
        "failed": acct.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
