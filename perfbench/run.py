#!/usr/bin/env python3
"""The repository benchmark: one command, four workloads, every
end-to-end metric by name and unit, a correctness check in every run,
and a separate traced run for the per-layer split.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Workloads (inputs generated from ``--seed``; see ``inputs.py``):

* ``flagship``  - bench-shape spectra (128 ch x 8192 samples, SK on,
  13 DM trials), each document with its own observation header,
  through ``pipeline.run_pipeline``, forced by an aggregate; every pass
  reads a shard of headers no earlier pass carried.
* ``giant_job`` - bench-shape spectra plus a seeded minority of 16x
  giants sharing one header, through ``run_job(chunked=True)`` into a
  fresh out dir, the per-DM sink and a pruned single-DM read-back.
* ``curation``  - ``dedup_components`` (minhash -> bands -> Jaccard
  verify -> connected components, the core the curation queries share)
  over a seeded ``documents`` table with planted near-duplicate clusters.
* ``stream``    - an open loop: one generator thread writes strip files
  of several beams at a fixed rate into the directory
  ``streaming.streaming_dedisperse`` reads (rfifind mask and clipper on).

A run sets up ``SETUPS`` times (session start, Python-worker boot and an
untimed warm-up; the first set-up starts the JVM, the others restart
the Spark context in it) and reports the median as ``setup_s``; then it
runs timed passes for ``--seconds`` and reports medians; then it checks
the outputs against the oracles.  With ``--trace 1`` half of the passes
run traced (spans, Spark counters), calibration passes follow, and the
per-layer metrics are printed instead of the end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

SETUPS = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["flagship", "giant_job", "curation", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline("run exceeded its deadline")


def boot_python_workers(spark, cores: int) -> float:
    """One task per core through a trivial mapInPandas: starts every
    Python worker; returns Spark's ``pythonBootTime`` for it."""
    import sparkstats

    def identity(batches):
        yield from batches
    df = spark.range(0, cores, 1, cores).mapInPandas(identity, "id long")
    df.collect()
    return sparkstats.sum_node_metrics(
        sparkstats.plan_nodes(df), "MapInPandas").get("pythonBootTime", 0.0)


def traced_pass(i: int, trace: bool, single_pass: bool) -> bool:
    """Whether pass ``i`` of the window is traced: none in an untraced
    run; in a traced run the stream's one pass, else ABBA order
    (U T T U U T T U ...), so untraced and traced passes see the same
    drift and the difference of their medians is the tracer's cost."""
    return trace and (single_pass or i % 4 in (1, 2))


def ops_per_pass(workload: str, p) -> int:
    """Operations a pass attempts: its queries (curation) or documents."""
    import workloads as W
    return len(W.CURATION_QUERIES) if workload == "curation" else p.docs


def e2e_metrics(passes, setups) -> dict:
    from statistics import median

    from tracing import tail
    job = median([p.wall_s for p in passes])
    lat = [x for p in passes for x in p.latencies]
    pct, tail_v, n = tail(lat)
    return {
        "setup_s": median(setups),
        "job_s": job,
        "docs_per_s": passes[0].docs / job,
        "input_mb_per_s": passes[0].mb / job,
        "cpu_s": median([p.cpu["cpu_s"] for p in passes]),
        "latency_p50_s": median(lat),
        "latency_tail_s": tail_v,
    }, {"latency_tail_pct": pct, "latency_samples": n}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import dragnet_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}",
              file=sys.stderr)
        return 2
    import harness
    import inputs
    import workloads as W
    from statistics import median

    from tracing import Tracer, self_time_by_name

    t_run = time.perf_counter()
    cores = harness.host_cores()
    heap = harness.heap_mb(harness.meminfo())
    run = harness.RunDir()
    run.configure(cores, heap)
    host = harness.fingerprint(cores, heap)
    print("# host " + json.dumps(host, sort_keys=True))

    in_dir, props, gen_s, hit = inputs.ensure_inputs(
        args.workload, args.seed, args.seconds, harness.SCRATCH / "cache")
    print(f"# inputs {args.workload} seed={args.seed} gen_s={gen_s:.3f} "
          f"cache_hit={hit} " + json.dumps(
              {k: v for k, v in props.items() if k != "giant_ids"},
              sort_keys=True))

    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id, enabled=bool(args.trace))
    engine = harness.Engine(cores, run)
    ctx = W.Ctx(engine, run, tracer, args.seed, in_dir, props)
    uses_python = args.workload != "curation"
    failures: list[str] = []
    attempted = lost_ops = 0
    passes, traced, setups, starts, boots = [], [], [], [], []
    tree_end: dict = {}
    layers: dict = {}
    notes: dict = {"gen_s": gen_s, "gen_cache_hit": hit}
    phases: dict = {"start_s": time.perf_counter() - t_run}
    wl = None
    rss = harness.RssPeak()
    peak_rss = 0.0

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(W.WORKLOADS[args.workload].deadline_s)
    try:
        wl = W.WORKLOADS[args.workload](ctx)
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if i:
                wl.stop()
            with tracer.span("session.start", setup=i):
                starts.append(engine.start() if i == 0 else engine.restart())
            if i == 0:
                rss.start(engine.proc.pid)
            if uses_python and args.trace:
                with tracer.span("session.python_boot", setup=i):
                    boots.append(boot_python_workers(engine.spark, cores))
            with tracer.span("warm_up", setup=i):
                wl.warm_up()
            setups.append(time.perf_counter() - t0)

        phases["setups_s"] = sum(setups)
        t_timed = time.perf_counter()
        # Timed passes for the whole window (at least wl.min_passes; a
        # traced run makes two untraced and two traced ones at least).
        # The stream's open loop is one pass.
        n_min = 1 if wl.single_pass else max(wl.min_passes, 4 * args.trace)
        t0 = time.perf_counter()
        while wl.can_pass() and (len(passes) + len(traced) < n_min or (
                not wl.single_pass and time.perf_counter() - t0 < args.seconds)):
            tr = traced_pass(len(passes) + len(traced), bool(args.trace),
                             wl.single_pass)
            tracer.enabled = tr
            with tracer.span("pass", traced=tr):
                (traced if tr else passes).append(wl.run_pass(tr))
        tracer.enabled = bool(args.trace)
        phases["timed_s"] = time.perf_counter() - t_timed
        for p in passes + traced:
            attempted += ops_per_pass(args.workload, p)
            if "error" in p.extra:
                failures.append(p.extra["error"])
        tree_end = engine.tree.sample()
        if args.trace:
            with tracer.span("calibrate"):
                layers.update(wl.calibrate(traced))
            layers.update(wl.layer_counts())
        t_check = time.perf_counter()
        with tracer.span("check"):
            failures += wl.check()
        phases["check_s"] = time.perf_counter() - t_check
    except Exception as e:                      # noqa: BLE001 - reported
        # A raise, a JVM death or the deadline: every operation of the
        # interrupted pass counts as failed.
        traceback.print_exc()
        alive = engine.jvm_alive()
        failures.append(f"{type(e).__name__}: {e}"
                        + ("" if alive else " (the JVM died)"))
        lost = len(W.CURATION_QUERIES) if args.workload == "curation" \
            else props["docs"]
        attempted += lost
        lost_ops = lost
    finally:
        signal.alarm(0)
        if wl is not None:
            try:
                wl.stop()
            except Exception:                   # noqa: BLE001 - JVM gone
                pass
        peak_rss = rss.stop()
        crash = run.crash_logs()
        t_stop = time.perf_counter()
        engine.stop()
        left = run.remove()
        phases["stop_s"] = time.perf_counter() - t_stop
    if crash:
        failures.append(f"JVM crash logs: {crash}")
    if left:
        failures.append(f"run left files behind: {left}")

    ok_passes = passes + traced
    if not ok_passes or not setups:
        for f in failures:
            print(f"# FAILED: {f}")
        attempted = max(attempted, 1)
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": attempted, "metrics": {}}))
        return 0
    failed = min(attempted, len(failures) + max(0, lost_ops - 1))
    e2e, extra = e2e_metrics(passes or traced, setups)
    notes.update(extra)
    # Reported, not gated: zero on a healthy run, or too spiky between
    # runs (the stream's Python workers come and go) to hold a bound.
    shown = {"peak_rss_mb": (peak_rss, "MB"),
             "failed_frac": (failed / attempted, "ratio")}
    if args.workload == "stream":
        p = ok_passes[-1]
        shown.update(stream_generator_lag_s=(p.extra["lag_max"], "s"),
                     stream_backlog_docs=(p.extra["backlog"], "count"))
        notes["stream_drain_s"] = p.extra["drain_s"]
        notes["stream_batches (rows, ms)"] = [
            (b["numInputRows"], b["durationMs"]["triggerExecution"])
            for b in p.extra["progress"]]

    for f in failures:
        print(f"# FAILED: {f}")
    print(f"# {args.workload}: {len(passes)} timed passes, "
          f"{len(traced)} traced; attempted={attempted} failed={failed} "
          f"failed_frac={failed / attempted:.4f}")
    print(f"# setups_s={[round(s, 3) for s in setups]} "
          f"session_starts_s={[round(s, 3) for s in starts]} "
          f"pass_s={[round(p.wall_s, 3) for p in passes]} "
          f"pass_cpu_s={[round(p.cpu['cpu_s'], 2) for p in passes]}")
    for k, v in notes.items():
        print(f"# {k} = {v}")

    if not args.trace:
        for k, v in e2e.items():
            extra_s = (f"  (p{notes['latency_tail_pct']:g} of "
                       f"{notes['latency_samples']} samples)"
                       if k == "latency_tail_s" else "")
            print(f"{k:>24} {v:14.6f} {W.E2E_UNITS[k]}{extra_s}")
        for k, (v, unit) in shown.items():
            print(f"{k:>24} {v:14.6f} {unit}  (reported, not gated)")
        metrics = {k: {"value": v, "unit": W.E2E_UNITS[k]}
                   for k, v in e2e.items()}
    else:
        layers["session.start_s"] = starts[0]
        if boots:
            layers["session.python_boot_s"] = median(boots)
        layers.update(W.stage_layers(traced))
        layers.update(W.python_layers([p.nodes for p in traced if p.nodes]))
        layers.update(W.proc_layers(traced, tree_end))
        traced_job = median([p.wall_s for p in traced])
        untraced_job = median([p.wall_s for p in passes]) if passes \
            else traced_job
        layers["pipeline.full_pass_s"] = untraced_job
        if passes:
            layers["trace.overhead_s"] = traced_job - untraced_job
        metrics = {}
        for k, unit in W.LAYER_UNITS.items():
            why = W.not_on_path(args.workload, k)
            if why is not None or k not in layers:
                print(f"{k:>36} {'n/a':>14} {unit}  "
                      f"({why or 'not measured on this workload'})")
                metrics[k] = {"value": 0.0, "unit": unit}
            else:
                print(f"{k:>36} {layers[k]:14.6f} {unit}")
                metrics[k] = {"value": float(layers[k]), "unit": unit}
        selft = self_time_by_name(tracer.spans)
        print("# self time by span: " + json.dumps(
            {k: round(v, 4) for k, v in sorted(selft.items())}))
        if args.workload == "flagship":
            print("# cumulative split (s): scan+projection "
                  f"{layers.get('pipeline.scan_project_s', 0):.3f} -> "
                  f"+ Arrow round trip "
                  f"{layers.get('pipeline.arrow_roundtrip_s', 0):.3f} -> "
                  f"full pass (job_s) {untraced_job:.3f}")
        traces = harness.SCRATCH / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.dump(traces / f"{args.workload}-s{args.seed}-{run_id}.json")
    print(f"# run_wall_s = {time.perf_counter() - t_run:.1f} phases " +
          json.dumps({k: round(v, 2) for k, v in phases.items()}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
