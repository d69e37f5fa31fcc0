"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload search_zipf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric of BENCHMARK.json untraced, every per-layer metric
traced).  Diagnostics, the per-operation records and (traced) the spans go
to ``.perfbench_out/<workload>-s<seed>-t<trace>.jsonl``.

A traced run measures the workload untraced first, then runs a fixed
number of operations with every layer entry point wrapped; the gap
between the two on the same number of operations is reported as the
tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def _result(metrics: dict[str, float], declared: list[dict]) -> dict:
    names = {m["name"] for m in declared}
    if set(metrics) != names:
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ names)}"
        )
    return {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared}


@contextmanager
def _tracing(ctx, tracer):
    """Wrap the layer entry points and record spans, when tracing."""
    if tracer is None:
        yield
        return
    tracer.install()
    ctx.tracer = tracer
    try:
        yield
    finally:
        tracer.uninstall()
        ctx.tracer = None


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import host
    from perfbench import scenarios as S
    from perfbench.tracer import Tracer

    wl = S.WORKLOADS[workload](seed)  # inputs + oracle: not part of set-up
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    readings = host.HostReadings()
    t0 = time.perf_counter()
    spark = host.start_spark(work, ROOT)
    try:
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark) if trace else None
        ctx = S.Context(spark, work)
        with _tracing(ctx, tracer):
            setup = wl.prepare(ctx)
        setup_ops = list(ctx.ops)
        if any("error" in op for op in setup_ops if op["kind"] == "create"):
            raise RuntimeError("set-up index build failed")
        ops = wl.measure(ctx, seconds, traced=False)
        traced_ops = []
        if tracer:
            with _tracing(ctx, tracer):
                gc0 = host.jvm_gc_ms(spark)
                traced_ops = wl.measure(ctx, seconds, traced=True)
                gc_ms = host.jvm_gc_ms(spark) - gc0
        rss = host.peak_rss_mb(spark)
        if tracer:
            metrics = S.layers(
                tracer.spans, setup_ops, traced_ops, ops, gc_ms,
                host.jvm_heap_retained_mb(spark),
            )
        else:
            metrics = S.end_to_end(wl, ctx, setup_ops, ops, session_s + setup, rss)
    finally:
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    all_ops = setup_ops + ops + traced_ops
    mismatched = sum(wl.verify(p) for p in (setup_ops, ops, traced_ops) if p)
    errors = sum(1 for op in all_ops if "error" in op)
    return {
        "metrics": metrics,
        "attempted": len(all_ops),
        "failed": errors + mismatched,
        "diagnostics": {
            **readings.finish(),
            "session_s": session_s,
            "prepare_s": setup,
            "ops": len(all_ops),
            "errors": [op["error"] for op in all_ops if "error" in op][:5],
            "mismatched": mismatched,
        },
        "ops": all_ops,
        "spans": tracer.spans if tracer else [],
    }


def _write_records(path: str, out: dict, args) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        head = {"record": "run", **vars(args), **out["diagnostics"]}
        f.write(json.dumps(head) + "\n")
        for name, v in out["metrics"].items():
            f.write(json.dumps({"record": "metric", "name": name, **v}) + "\n")
        for op in out["ops"]:
            op = {k: v for k, v in op.items() if k != "hits"}
            f.write(json.dumps({"record": "op", **op}) + "\n")
        for sp in out["spans"]:
            sp = {k: v for k, v in sp.items() if k != "t0"}
            f.write(json.dumps({"record": "span", **sp}) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bm25_index_tool_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program sources not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.scenarios import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    declared = _declared("per_layer" if args.trace else "end_to_end")

    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    out["metrics"] = _result(out["metrics"], declared)
    _write_records(
        os.path.join(
            ROOT, ".perfbench_out", f"{args.workload}-s{args.seed}-t{args.trace}.jsonl"
        ),
        out,
        args,
    )
    d = out["diagnostics"]
    print(
        f"perfbench {args.workload} seed={args.seed}: {d['ops']} ops,"
        f" {out['failed']} failed, steal {d['steal_pct']}%,"
        f" load {d['load_start']}->{d['load_end']}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": out["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
