"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout: the engine package is imported
from there and every file the run writes goes under
``.perfbench_work/`` there, removed when the run ends.  The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; with ``--trace 0`` the metrics
are the end-to-end ones, with ``--trace 1`` the per-layer ones (see
README.md).  The line before it carries the run's details (sample count,
tail percentile, failed checks).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: name -> unit of every end-to-end metric (``--trace 0``).
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}

#: name -> unit of every per-layer metric (``--trace 1``).  A layer a
#: workload does not run reads 0.
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "catalog.scan_bytes": "bytes",
    "catalog.scan_records": "count",
    "caching.cached_bytes_peak": "bytes",
    "sources.ingest.busy_s": "s",
    "sources.ingest.bytes_written": "bytes",
    "operators.busy_s": "s",
    "operators.driver_ms_p50": "ms",
    "operators.tasks_per_query": "count",
    "operators.shuffle_bytes": "bytes",
    "functions.text.busy_s": "s",
    "functions.dedup.busy_s": "s",
    "functions.similarity.busy_s": "s",
    "functions.dedup.candidate_pairs": "count",
    "functions.dedup.kept_ratio": "ratio",
    "functions.spill_bytes": "bytes",
    "ml.als.busy_s": "s",
    "ml.als.shuffle_bytes": "bytes",
    "ml.gbt.busy_s": "s",
    "ml.kb.busy_s": "s",
    "streaming.features.batch_ms_p50": "ms",
    "streaming.features.commit_ms_p50": "ms",
    "streaming.features.state_rows": "count",
    "streaming.features.state_bytes": "bytes",
    "streaming.scoring.batch_ms_p50": "ms",
    "streaming.rows_per_batch_p50": "count",
    "pipeline.self_s": "s",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.setup_s": "s",
    "trace.latency_p50_ms": "ms",
}

WORKLOADS = ("nightly_retrain", "dashboard_mix")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the engine's own scratch directories come from tempfile
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    try:
        if args.workload == "nightly_retrain":
            import nightly as workload
        else:
            import dashboard as workload
        result = workload.run(work, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    registry = PER_LAYER if args.trace else END_TO_END
    measured = result.pop("metrics")
    unknown = set(measured) - set(registry)
    if unknown:
        raise RuntimeError(f"unregistered metrics {sorted(unknown)}")
    metrics = {}
    for name, unit in registry.items():
        value, got_unit = measured.get(name, (0, unit))
        if got_unit != unit:
            raise RuntimeError(f"{name}: unit {got_unit}, registered {unit}")
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({"detail": result.pop("detail", {}),
                      "problems": result.pop("problems")}))
    result["metrics"] = metrics
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
