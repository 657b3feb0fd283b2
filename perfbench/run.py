"""Benchmark entry point: one workload, one closed-loop client.

Usage (from the root of a source checkout)::

    python3 perfbench/run.py --workload nightly_run --seed 1 --seconds 12 --trace 0

With ``--trace 0`` the run starts a pinned local session, generates the
seeded inputs, stages the workload's starting state, runs an untimed
warm-up operation, then times operations back to back until
``--seconds`` have passed (at least two).
Every operation's output is checked. The last stdout line is one JSON
object with the end-to-end metrics.

With ``--trace 1`` the named workload alternates untraced and traced
operations after its warm-up; then every other workload runs its own
untraced warm-up and one traced operation in the same session, so every
layer is measured on a warm operation. The spans are written to
``.perfbench/trace-<workload>-<seed>.json`` and the last stdout line
carries the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, ".perfbench")
WARMUP_OPS = 1
MIN_OPS = 2

#: the metrics of BENCHMARK.json. ``op_s`` is printed after them but left
#: out: on a shared host its spread over seeds follows the hypervisor's
#: steal, not the program (see STEADINESS.md)
END_TO_END = [  # (name, unit)
    ("cpu_s", "s"), ("setup_s", "s"), ("rss_peak_mb", "MB"), ("out_mb", "MB"),
]

_BASE = [("wall_s", "s", "lower"), ("jobs", "count", "lower"),
         ("tasks", "count", "lower"), ("exec_cpu_s", "s", "lower"),
         ("shuffle_mb", "MB", "lower")]
_OUT = ("out_mb", "MB", "lower")

#: span name -> its counters beyond wall_s/jobs/tasks/exec_cpu_s/shuffle_mb
LAYERS: dict[str, list[tuple[str, str, str]]] = {
    "plans.run.crawl_dataset": [_OUT],
    "operators.assembly.assemble_entities": [],
    "plans.run.validate_dataset": [],
    "exporters.export_all": [_OUT],
    "operators.delta.version_diff": [
        _OUT, ("ops_add", "count", "higher"), ("ops_mod", "count", "higher"),
        ("ops_del", "count", "higher")],
    "operators.blocking.tokenize": [],
    "operators.blocking.jaccard_scored_pairs": [
        ("pairs_scored", "count", "lower")],
    "operators.blocking.top_k_per_subject": [
        ("pairs_kept", "count", "higher"), ("kept_ratio", "ratio", "higher")],
    "operators.match_rules.apply_match_rules": [
        ("positive", "count", "higher"), ("unsure", "count", "higher")],
    "plans.xref.strong_id_edges": [("positive", "count", "higher")],
    "operators.resolve.canonical_map": [
        ("entities_merged", "count", "higher"), _OUT],
    "streaming.curate.load_curation_index": [("index_rows", "count", "lower")],
    "plans.curate.curate_increment": [("docs_kept", "count", "higher")],
    "streaming.engine": [(f"{k}_ms", "ms", "lower") for k in (
        "addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets")],
}
#: op-level records with their own counter set (no job-group counters)
OP_RECORDS = {
    "streaming.curate.curate_document_stream": [
        ("wall_s", "s", "lower"), ("docs_in", "count", "higher"),
        ("jobs_per_wave", "count", "lower"),
        ("last_first_wave_ratio", "ratio", "lower"), _OUT],
}


def per_layer_metrics(workloads) -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = [(f"{span}.{c}", u, b) for span, extra in LAYERS.items()
           for c, u, b in _BASE + extra]
    out += [(f"{span}.{c}", u, b) for span, cs in OP_RECORDS.items()
            for c, u, b in cs]
    for w in workloads:
        out += [(f"jvm.{w}.gc_s", "s", "lower"),
                (f"jvm.{w}.failed_tasks", "count", "lower")]
    out.append(("trace.overhead_s", "s", "lower"))
    return out


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _one_op(wl, i: int, probe) -> dict:
    """prepare → timed run → check; failures are counted, not raised."""
    wl.prepare(i)
    probe.settle(wl.spark.sparkContext)
    cpu0, t0 = probe.tree_cpu_s(), time.perf_counter()
    try:
        wl.run()
        err = None
    except Exception as exc:  # noqa: BLE001 - a failed op is a result
        err = f"{type(exc).__name__}: {exc}"
    wall = time.perf_counter() - t0
    cpu = probe.tree_cpu_s() - cpu0
    out = 0.0
    if err is None:
        try:
            err = wl.check()
            out = wl.out_mb()
        except Exception as exc:  # noqa: BLE001
            err = f"check raised {type(exc).__name__}: {exc}"
    wl.cleanup()
    _log(f"  op {i}: {wall:.2f} s wall, {cpu:.1f} s cpu, {out:.2f} MB"
         + (f"  FAILED: {err}" if err else ""))
    return {"wall": wall, "cpu": cpu, "out": out, "err": err}


def _setup(wl) -> tuple[float, str]:
    """Generate the inputs and stage the workload. Returns (seconds,
    input digest)."""
    wl.inputs = os.path.join(wl.work, f"{wl.name}-input")
    t = time.perf_counter()
    digest = wl.generate(wl.inputs)
    wl.stage()
    return time.perf_counter() - t, digest


def _warm_up(wl, probe) -> list[str]:
    """Untimed operations of the workload; returns their errors."""
    errors = []
    for i in range(WARMUP_OPS):
        err = _one_op(wl, -1 - i, probe)["err"]
        if err:
            errors.append(f"{wl.name} warm-up: {err}")
    return errors


def timed_run(cls, spark, session_s, seed, seconds, work, probe) -> dict:
    wl = cls(spark, work, seed)
    prep_s, digest = _setup(wl)
    t = time.perf_counter()
    errors = _warm_up(wl, probe)
    setup_s = session_s + prep_s + time.perf_counter() - t
    ops: list[dict] = []
    start, steal0 = time.perf_counter(), probe.steal_ticks()
    while len(ops) < MIN_OPS or time.perf_counter() - start < seconds:
        ops.append(_one_op(wl, len(ops), probe))
    # share of the machine's CPU time the hypervisor gave to other guests
    # while ops ran: a high value flags a run disturbed from outside
    steal = (probe.steal_ticks() - steal0) / (
        (time.perf_counter() - start) * os.sysconf("SC_CLK_TCK") * os.cpu_count()
    )
    ok = [o for o in ops if o["err"] is None] or ops
    metrics = {
        "cpu_s": statistics.median(o["cpu"] for o in ok),
        "setup_s": setup_s,
        "rss_peak_mb": probe.jvm_peak_rss_mb(probe.jvm_pid()),
        "out_mb": statistics.median(o["out"] for o in ok),
    }
    return {"ops": ops, "errors": errors, "digest": digest, "metrics": metrics,
            "op_s": statistics.median(o["wall"] for o in ok), "steal": steal}


def _layer_values(tracer, op_id: int, workload: str) -> dict[str, float]:
    """Counters of one traced op: per span name, summed over the op's
    spans of that name (the stream's spans repeat once per wave)."""
    vals: dict[str, float] = {}
    gc = failed = 0.0
    for s in tracer.spans:
        if s["op"] != op_id:
            continue
        for key, value in s["counters"].items():
            name = f"{s['name']}.{key}"
            vals[name] = vals.get(name, 0) + value
        gc += s["counters"].get("gc_s", 0)
        failed += s["counters"].get("failed_tasks", 0)
    vals[f"jvm.{workload}.gc_s"] = gc
    vals[f"jvm.{workload}.failed_tasks"] = failed
    return vals


def _traced_op(wl, i: int, tracer, probe) -> dict:
    tracer.op_id += 1
    wl.prepare(i)
    probe.settle(wl.spark.sparkContext)
    t0 = time.perf_counter()
    try:
        with tracer.span(f"perfbench.{wl.name}"):
            err = wl.traced_op(tracer)
    except Exception as exc:  # noqa: BLE001
        err = f"{type(exc).__name__}: {exc}"
    wall = time.perf_counter() - t0
    wl.cleanup()
    # drop the frames the spans persisted, so the next op starts clean
    wl.spark.catalog.clearCache()
    _log(f"  traced op {i}: {wall:.2f} s wall" + (f"  FAILED: {err}" if err else ""))
    return {"wall": wall, "err": err, "op_id": tracer.op_id}


def traced_run(cls, spark, seed, seconds, work, probe, workloads) -> dict:
    tracer = probe.Tracer(spark.sparkContext)
    wl = cls(spark, work, seed)
    _, digest = _setup(wl)
    errors = _warm_up(wl, probe)
    plain: list[dict] = []
    traced: list[dict] = []
    start = time.perf_counter()
    while not traced or time.perf_counter() - start < seconds:
        plain.append(_one_op(wl, 2 * len(traced), probe))
        traced.append(_traced_op(wl, 2 * len(traced) + 1, tracer, probe))
    per_op = [_layer_values(tracer, t["op_id"], wl.name) for t in traced]
    values = {k: statistics.median(v.get(k, 0) for v in per_op) for k in per_op[0]}
    others = []
    for name, other_cls in workloads.items():
        if other_cls is cls:
            continue
        _log(f"{name}: warm-up, then one traced op")
        other = other_cls(spark, work, seed)
        _setup(other)
        errors += _warm_up(other, probe)
        t = _traced_op(other, 0, tracer, probe)
        others.append(t)
        values.update(_layer_values(tracer, t["op_id"], name))
    values["trace.overhead_s"] = (
        statistics.median(t["wall"] for t in traced)
        - statistics.median(o["wall"] for o in plain)
    )
    os.makedirs(BENCH_DIR, exist_ok=True)
    trace_path = os.path.join(BENCH_DIR, f"trace-{wl.name}-{seed}.json")
    tracer.write(trace_path)
    _log(f"spans written to {trace_path}")
    return {"ops": plain + traced + others, "errors": errors, "digest": digest,
            "metrics": values}


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "opensanctions_spark")):
        _log("perfbench: no opensanctions_spark/ here; run from the root "
             "of a source checkout")
        return 2
    sys.path.insert(0, ROOT)
    import probe
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}; "
             f"choose from {sorted(WORKLOADS)}")
        return 2
    cores = probe.pinned_cores()
    work = os.path.join(BENCH_DIR, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the engine reads its core count at import; Spark and Python temp
    # files stay inside the checkout
    os.environ.update(SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp,
                      TMPDIR=tmp)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = probe.start_session(work, cores)
        session_s = time.perf_counter() - t0
        cls = WORKLOADS[args.workload]
        if args.trace:
            res = traced_run(cls, spark, args.seed, args.seconds, work, probe,
                             WORKLOADS)
            units = {n: u for n, u, _ in per_layer_metrics(WORKLOADS)}
        else:
            res = timed_run(cls, spark, session_s, args.seed, args.seconds,
                            work, probe)
            units = dict(END_TO_END)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    import pyspark

    ops = res["ops"]
    failed = sum(1 for o in ops if o["err"])
    env = (f"cores={cores} nproc={os.cpu_count()} loadavg="
           + ",".join(f"{x:.2f}" for x in os.getloadavg())
           + (f" steal={res['steal']:.3f}" if "steal" in res else ""))
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"input_digest={res['digest']} n_ops={len(ops)} "
          f"failed_ops={failed / len(ops):.4f} ({failed}/{len(ops)}) {env} "
          f"pyspark={pyspark.__version__} python={platform.python_version()}")
    missing = [name for name in units if name not in res["metrics"]]
    if missing:
        res["errors"].append(f"not measured: {', '.join(missing)}")
    for err in res["errors"] + [o["err"] for o in ops if o["err"]]:
        print(f"error: {err}")
    metrics = {name: {"value": res["metrics"].get(name, 0.0), "unit": unit}
               for name, unit in units.items()}
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    if "op_s" in res:
        print(f"op_s = {res['op_s']:.6g} s (printed only, no bound)")
    print(json.dumps({
        "correct": failed == 0 and not res["errors"],
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
