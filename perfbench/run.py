"""Payments-lake benchmark: one run of one workload.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The inputs are generated from ``--seed``;
the timed phase lasts ``--seconds``; every op's output is checked. Human-
readable lines come first; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics, or with ``--trace 1`` the per-layer metrics). The full record,
and with tracing its spans, go to ``perfbench/out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs (smoke tests)")
    args = ap.parse_args(argv)

    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    try:
        import aws_payment_data_lake_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout ({e})",
              file=sys.stderr)
        return 2
    from lakebench.harness import result_line, run
    from lakebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected one "
              f"of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    rec = run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT,
              T_PROCESS, small=args.small)
    for k, v in rec["end_to_end"].items():
        print(f"{k} = {v:.6g}")
    print(f"{rec['rate_name']} = {rec[rec['rate_name']]:.6g} {rec['unit']}/s "
          f"({rec['units']} {rec['unit']})")
    print(f"error_rate = {rec['error_rate']:.6g} ({rec['failed']} of "
          f"{rec['attempted']} ops)")
    print(f"tail = {rec['tail']['rule']} over {rec['tail']['samples']} samples")
    if "write_amp" in rec:
        print(f"write_amp = {rec['write_amp']:.6g}")
    for f in rec["failures"][:5]:
        print(f"FAILED {f}")
    print(f"record = {rec['record_file']}")
    if rec["trace"]:
        print(f"trace = {rec['trace_file']}")
    print(json.dumps(result_line(rec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
