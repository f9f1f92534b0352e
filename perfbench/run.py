#!/usr/bin/env python3
"""Benchmark runner for regpulse_lakehouse_spark.

    python3 perfbench/run.py --workload {dashboard,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One run is one process and one Spark
session fitted to the machine (all CPUs, a third of ``MemTotal`` as
driver heap, scratch directories inside a fresh run directory under
``.bench_runs/`` that is deleted at the end). The run generates its
inputs from ``--seed``, performs the program's set-up (session start and
the workload's warm-up), then measures one closed-loop client for
``--seconds`` (whole ops; at least one). Every op's output is checked.

Output: human-readable lines, then as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` adjacent unit ops alternate between traced and untraced
(``harness.Tracer``) and the run reports the per-layer metrics from the
traced ops, each span's self time per call and the tracing overhead
(traced minus untraced op median). Spans are written to
``.bench_out/`` when the run ends.

Exit status 0 when a result was printed, 1 when the run could not
complete, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "regpulse_lakehouse_spark"

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "read_p50_ms": "ms",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


class Context:
    """What a workload needs from the runner: the session, the seed,
    the run directory, and op accounting for ``failed_op_share``."""

    def __init__(self, seed: int, sf: float, run_dir: str, perturb: bool):
        self.seed = seed
        self.sf = sf
        self.run_dir = run_dir
        self.perturb = perturb
        self.spark = None
        self.untraced = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_ok = True

    def check(self, cond: bool, msg: str) -> bool:
        if not cond:
            self.op_ok = False
            if len(self.errors) < 20:
                self.errors.append(msg)
        return cond

    @contextmanager
    def op(self, what: str):
        """One attempted op: it fails if it raises or a check fails."""
        self.op_ok = True
        try:
            yield
        except Exception as e:  # counted as a failed op; the run goes on
            self.check(False, f"{what}: {type(e).__name__}: {e}")
        finally:
            self.attempted += 1
            self.failed += not self.op_ok


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="scale factor (default: the workload's SF; self-test: 0.001)")
    ap.add_argument("--perturb", action="store_true", help="corrupt outputs (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found in {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import harness

    run_dir = harness.isolate(os.path.join(ROOT, ".bench_runs"))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from dashboard import Dashboard
    from ingest import Ingest

    cls = {"dashboard": Dashboard, "ingest": Ingest}[args.workload]
    if args.sf is None:
        args.sf = cls.SF
    ctx = Context(args.seed, args.sf, run_dir, args.perturb)
    workload = cls(ctx)
    spark = None
    phases = {}
    t_run = time.perf_counter()
    try:
        workload.generate()
        t0 = time.perf_counter()
        phases["generate"] = t0 - t_run
        from regpulse_lakehouse_spark.session import get_spark

        spark = ctx.spark = get_spark("perfbench")
        start_s = time.perf_counter() - t0
        probe = harness.JvmProbe(spark)
        ctx.untraced = harness.Tracer(spark, False)
        t1 = time.perf_counter()
        setup_s = start_s + workload.setup()
        phases["setup"] = time.perf_counter() - t1
        t1 = time.perf_counter()
        if args.trace:
            tracer = harness.Tracer(spark, True)
            gc0 = probe.gc_ms()
            res = workload.measure(args.seconds, tracer)
            gc_ms = probe.gc_ms() - gc0
            metrics = trace_metrics(workload, tracer, res, start_s, gc_ms)
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
            units = per_layer_units()
            units.update({k: "ms" if k.endswith("ms") else "count" for k in metrics if k not in units})
        else:
            res = workload.measure(args.seconds, ctx.untraced)
            metrics = {k: v for k, v in res.items() if not k.startswith("op_")}
            metrics["setup_s"] = setup_s
            metrics["stored_bytes_per_input_byte"] = workload.stored_bytes() / workload.input_bytes
            metrics["peak_rss_mb"] = probe.peak_rss_mb()
            units = END_TO_END_UNITS
        phases["measure"] = time.perf_counter() - t1
        info = {"cpus": os.environ["SPARK_GRAFT_CPUS"],
                "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"], **inputs_info(args, workload)}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t1 = time.perf_counter()
        harness.teardown(spark, run_dir)
        phases["teardown"] = time.perf_counter() - t1

    for line in ctx.errors:
        print(f"# failed: {line}")
    print(f"# workload={args.workload} seed={args.seed} sf={args.sf} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in info.items()))
    print("# wall seconds: session=%.1f " % start_s
          + " ".join(f"{k}={v:.1f}" for k, v in phases.items())
          + f" total={time.perf_counter() - t_run:.1f}")
    print(f"# failed_op_share={ctx.failed / max(1, ctx.attempted):.4f} "
          f"({ctx.failed} of {ctx.attempted} ops)")
    for name in units:
        print(f"# {name} = {metrics.get(name, 0.0):.6g} {units[name]}")
    out = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }
    print(json.dumps(out))
    return 0


def trace_metrics(workload, tracer, res: dict, start_s: float, gc_ms: int) -> dict:
    import harness

    ops = list(zip(res["op_ms"], res["op_traced"]))
    traced_ms = harness.median([ms for ms, on in ops if on] or [0.0])
    untraced_ms = harness.median([ms for ms, on in ops if not on] or [traced_ms])
    out = {
        "session.start_ms": start_s * 1000,
        "session.gc_ms": gc_ms / max(1, len(ops)),
        "trace.overhead_ms": traced_ms - untraced_ms,
        "trace.overhead_share": (traced_ms - untraced_ms) / untraced_ms if untraced_ms else 0.0,
    }
    out.update(workload.layers(tracer))
    for name, ms in tracer.self_ms().items():
        out[f"self_ms.{name}"] = ms / tracer.count(name)
    return out


def inputs_info(args, workload) -> dict:
    """The generated inputs' shares, recorded with every result."""
    import gen

    if args.workload == "ingest":
        shares = {**gen.ARRIVAL_SHARES, "unknown_host": gen.UNKNOWN_HOST_SHARE,
                  "null_date": gen.NULL_DATE_SHARE, "null_title": gen.NULL_TITLE_SHARE,
                  "url_variant": gen.URL_VARIANT_SHARE}
        return {"arrival_shares": json.dumps(shares, separators=(",", ":")),
                "reads_per_commit": json.dumps(gen.READS_PER_COMMIT, separators=(",", ":"))}
    return {"input_bytes": workload.input_bytes}


if __name__ == "__main__":
    sys.exit(main())
