#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_cycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The seed fixes every generated input.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the calls into each layer are traced and it carries
the per-layer metrics instead (see ``metrics.py``) and the spans are
written to ``.perfbench_spans/``. The line before it is a detail record:
workload, seed, core count and the workload's own figures. ``--size tiny``
and ``--plant`` exist for ``selftest.py``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest_cycle", "query_suite")
#: traced runs leave their spans here, one JSON line per span
SPANS_DIR = os.path.join(harness.ROOT, ".perfbench_spans")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("default", "tiny"), default="default")
    p.add_argument("--plant", action="store_true",
                   help="mutate one expected value in each check (they must then fail)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)):
        print(f"perfbench: no {harness.PACKAGE}/ package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)
    workload = importlib.import_module(args.workload)

    with harness.Run(args.workload) as ctx:
        t0 = time.perf_counter()
        spark = ctx.start_session(bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from tracer import Tracer
            tracer = Tracer(spark.sparkContext)
        try:
            out = workload.run(ctx, seed=args.seed, seconds=args.seconds,
                               tracer=tracer, size=args.size, plant=args.plant,
                               session_s=session_s)
        finally:
            if tracer is not None:
                tracer.restore()
        rss = ctx.peak_rss_mb()
        if tracer is not None:
            os.makedirs(SPANS_DIR, exist_ok=True)
            spans = os.path.join(SPANS_DIR, f"{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(spans, t0)

    attempted, failed = out["attempted"], out["failed"]
    if args.trace:
        layers = dict(out.get("layers", {}), **{"session.start_s": session_s,
                                                "peak_rss_mb": rss})
        printed = metrics.per_layer(layers)
    else:
        printed = metrics.e2e({
            "setup_s": out["setup_s"],
            "op_p50_s": harness.median(out["op_times"]),
            "ok_ops_ratio": 1.0 - failed / attempted if attempted else 0.0,
        })
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": ctx.cpus,
        "seconds": args.seconds, "trace": args.trace, "size": args.size,
        "ops": len(out["op_times"]), "peak_rss_mb": rss, "figures": out["figures"],
        "problems": out["problems"], "errors": out["errors"],
        "spans": spans if tracer is not None else None,
    }
    print(json.dumps(detail))
    print(harness.result_line(failed == 0 and attempted > 0, max(attempted, 1),
                              failed, printed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
