"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 30 --trace 0

Runs one workload from the root of a checkout and prints, as its last
stdout line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; a readable copy of the metrics, with units, directions
and the error rate (failed / attempted operations), goes to stderr.
Every operation is checked against a DuckDB answer or, for the codecs,
against its own input; a wrong answer counts as failed.

Workloads (see serve.py and codec.py):
  serve  Spark at local[1], the whole process tree bound to one CPU
         (see runtime.pin_to_one_cpu): an ingest stream builds the
         store in set-up, then point lookups are timed.
  codec  the segment codecs alone, no Spark, one thread.

End-to-end metrics (``--trace 0``), the same names on every workload:
  setup_s             set-up wall time (codec: with its pool build
                      counted as the median of three builds)
  p50_ms              median latency of the primary request
                      (serve: point lookup; codec: encode + decode of
                      one segment)
  bytes_per_raw_byte  stored bytes per raw Arrow byte (serve: the store
                      directory; codec: encoded payloads)
  peak_rss_mb         peak summed PSS of the process tree, from /proc

``--trace 1`` runs the workload, repeats its timed region with tracing
on and reports the per-layer metrics of BENCHMARK.json instead; a layer
the workload does not exercise reads 0. Spans go to
``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve", "codec")


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.environ["TZ"] = "UTC"
    time.tzset()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench import runtime

    rss = runtime.RssSampler().start()
    mod = importlib.import_module(f"perfbench.{args.workload}")
    attempted, failed, e2e, per_layer = mod.run(
        args.seed, args.seconds, bool(args.trace), t_start)
    e2e["peak_rss_mb"] = rss.stop()

    if args.trace:
        metrics = {m["name"]: {"value": float(per_layer.get(m["name"], 0)),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]),
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        v = metrics[m["name"]]["value"]
        print(f"{args.workload} {m['name']} = {v:.6g} {m['unit']} "
              f"({m['better']} is better)", file=sys.stderr)
    print(f"{args.workload} error_rate = {failed}/{attempted}",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
