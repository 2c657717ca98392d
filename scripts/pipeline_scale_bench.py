"""N-vs-4N scaling protocol for the five most expensive PIPELINE
operators (round-4 verdict #1) — the same pinned standalone-cluster
protocol `cluster_bench.py` evidences for the encode path:

    one box, 4 workers taskset-pinned to 2 dedicated cores each;
    N  = spark.cores.max=2 -> 1 executor x 2 cores
    4N = spark.cores.max=8 -> 4 executors x 2 cores
    same input both levels, interleaved repeats, best-of-k,
    efficiency = wall_N / (4 * wall_4N).

Inputs are deterministic synthetic corpora generated ONCE per op by a
local session (prep is not timed; see `pipeline_scale_job.py` for the
generators and why naive corpus replication would be wrong for dedup).

Per-op sizes: chosen from a measured two-point calibration so every
N-run sits deep in the marginal-cost regime (fixed cost well under 10%
of wall) — dedup_ngram_jaccard and ann_batch run at >= 1 GB of input;
text_metrics and dedup_substring carry a documented smaller size (their
measured per-GB cost on a 2-core executor — ~1.7 and ~2.8 ks/GB — puts
a 1 GB N-sample alone at 30-50 min, past the round budget for a
five-op interleaved best-of-2 protocol; the marginal-regime sizes
measure the same scaling behavior).

Usage: python scripts/pipeline_scale_bench.py [--ops a,b,c]
       [--repeats 2] [--out BENCH.md]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cluster_bench import (  # noqa: E402
    MASTER_URL,
    SPARK_HOME,
    DRIVER_CORES,
    REPO,
    build_zip,
    sh,
    start_cluster,
    stop_cluster,
)

# op -> generator sizing (see calibration table in BENCH.md)
SIZES = {
    "text_metrics": {"n_docs": 250_000},
    "dedup_substring": {"n_docs": 140_000},
    "dedup_ngram_jaccard": {"n_docs": 1_400_000},
    "dedup_clusters": {"n_nodes": 8_000_000},
    "ann_batch": {"n_vecs": 2_000_000},
}
OPS = list(SIZES)


def prep_inputs(op: str, base: str, scale: float = 1.0) -> str:
    """Generate the op's synthetic input ONCE with a local session
    (input prep, not part of the timed run); returns the input dir."""
    import pipeline_scale_job as J
    from columnstore_spark.session import get_spark

    # the cache key carries the scale: a dir generated for a 1%
    # plumbing run must never be silently reused by a full-scale run
    # (the timed samples would measure the fixed-cost regime while
    # claiming the calibrated sizes)
    d = os.path.join(base, op if scale == 1.0 else f"{op}_s{scale}")
    sizes = {k: max(int(v * scale), 1000)
             for k, v in SIZES[op].items()}
    # the cached inputs are reused only when generated at exactly the
    # sizes asked for now: after an edit to SIZES a stale, smaller
    # corpus would be benched while the report claims the new sizes
    try:
        with open(os.path.join(d, "meta.json")) as f:
            cached = json.load(f)
        if all(cached.get(k) == v for k, v in sizes.items()):
            return d
    except (FileNotFoundError, json.JSONDecodeError):
        pass
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    spark = get_spark(app=f"prep:{op}", master="local[16]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    meta: dict = dict(sizes)
    if op == "dedup_clusters":
        n = sizes["n_nodes"]
        J.gen_edges(spark, n).write.mode("overwrite") \
            .parquet(f"{d}/edges.parquet")
        n_edges = spark.read.parquet(f"{d}/edges.parquet").count()
        meta["input_gb"] = round(n_edges * 16 / 2 ** 30, 4)
        meta["n_edges"] = n_edges
    elif op == "ann_batch":
        n = sizes["n_vecs"]
        J.gen_vectors(spark, n).write.mode("overwrite") \
            .parquet(f"{d}/vectors.parquet")
        meta["input_gb"] = round(n * J.DIM * 8 / 2 ** 30, 4)
    else:
        n = sizes["n_docs"]
        J.gen_documents(spark, n).write.mode("overwrite") \
            .parquet(f"{d}/documents.parquet")
        b = spark.read.parquet(f"{d}/documents.parquet").selectExpr(
            "sum(octet_length(encode(text, 'utf-8'))) AS b"
        ).collect()[0]["b"]
        meta["text_gb"] = round(b / 2 ** 30, 4)
    spark.stop()
    json.dump(meta, open(f"{d}/meta.json", "w"))
    return d


def submit(zip_path: str, cores_max: int, op: str,
           input_dir: str, timeout: int = 3000,
           local_dir: str | None = None) -> dict:
    cmd = ["taskset", "-c", DRIVER_CORES,
           f"{SPARK_HOME}/bin/spark-submit",
           "--master", MASTER_URL,
           "--deploy-mode", "client",
           "--py-files", zip_path,
           "--conf", f"spark.cores.max={cores_max}",
           "--conf", "spark.executor.cores=2",
           "--conf", "spark.executor.memory=4g",
           "--conf", "spark.locality.wait=0s",
           "--conf", "spark.sql.session.timeZone=UTC"]
    if local_dir:
        # control run: shuffle/spill blocks on tmpfs — isolates the
        # single-box SHARED-DISK ceiling (all executors of both
        # cluster sizes share one virtual disk; a real cluster gives
        # every node its own) from genuine scaling loss
        cmd += ["--conf", f"spark.local.dir={local_dir}"]
    cmd += [os.path.join(REPO, "scripts", "pipeline_scale_job.py"),
            op, input_dir]
    proc = sh(cmd, env={"PYSPARK_PYTHON": sys.executable}, check=False,
              timeout=timeout)
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[7:])
    raise RuntimeError(
        f"submit failed (op={op} cores.max={cores_max}):\n"
        f"{proc.stderr[-3000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ops", default=",".join(OPS))
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--base", default="/tmp/cs_pipe_bench")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="size multiplier (plumbing validation)")
    ap.add_argument("--local-dir", default=None,
                    help="spark.local.dir override (e.g. /dev/shm/... "
                         "for the tmpfs shuffle control)")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    ops = [o for o in args.ops.split(",") if o]

    inputs = {op: prep_inputs(op, args.base, args.scale)
              for op in ops}

    workdir = "/tmp/cs_cluster"
    os.makedirs(workdir, exist_ok=True)
    zip_path = build_zip(os.path.join(workdir, "columnstore_spark.zip"))
    stop_cluster(workdir)
    start_cluster(workdir)
    results = {}
    try:
        for op in ops:
            runs: dict[int, list[dict]] = {2: [], 8: []}
            # interleave N,4N so a host-noise burst cannot sink every
            # sample of one level (same rationale as cluster_bench)
            for _ in range(args.repeats):
                for cores in (2, 8):
                    r = submit(zip_path, cores, op, inputs[op],
                               local_dir=args.local_dir)
                    runs[cores].append(r)
                    print(f"[{op} cores={cores}] wall={r['wall_s']}s "
                          f"rows_out={r['rows_out']} "
                          f"checksum={r['checksum']}", file=sys.stderr)
            rN = min(runs[2], key=lambda r: r["wall_s"])
            r4N = min(runs[8], key=lambda r: r["wall_s"])
            # identical input + forced checksum must agree across ALL
            # runs — a scaling number for a job that computed something
            # different at 4N would be meaningless
            checks = {r["checksum"] for rs in runs.values() for r in rs}
            assert len(checks) == 1, (op, checks)
            eff = rN["wall_s"] / (4 * r4N["wall_s"])
            results[op] = {
                "N": rN, "4N": r4N,
                "scaling_efficiency": round(eff, 3),
                "all_walls": {"N": [r["wall_s"] for r in runs[2]],
                              "4N": [r["wall_s"] for r in runs[8]]}}
            print(json.dumps({op: results[op]}))
    finally:
        stop_cluster(workdir)

    print(json.dumps(results))
    if args.out:
        with open(args.out, "a") as f:
            f.write(
                "\n### Pipeline-operator scaling — standalone cluster, "
                "N vs 4N executors\n\n"
                "Same pinned-worker protocol as the encode table "
                "(1x2 vs 4x2 dedicated cores, spark-submit --py-files, "
                "interleaved best-of-"
                f"{args.repeats}); deterministic synthetic inputs "
                "(`scripts/pipeline_scale_job.py`), identical across "
                "levels, output checksum asserted equal across every "
                "run:\n\n"
                "| op | input | N wall (s) | 4N wall (s) | "
                "efficiency |\n|---|---|---|---|---|\n")
            for op, r in results.items():
                gb = r["N"].get("input_gb")
                size = (f"{gb} GB" if gb else "-")
                f.write(f"| {op} | {size} | {r['N']['wall_s']} | "
                        f"{r['4N']['wall_s']} | "
                        f"{r['scaling_efficiency']} |\n")


if __name__ == "__main__":
    main()
