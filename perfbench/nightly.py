"""``nightly_retrain``: the retrain DAG as users pay for it, cold.

Batch, one client.  The Airflow retrain launches a new application every
night, so each run is a fresh Spark application that runs
``pipeline.run_full_pipeline`` once (ingest, ALS + GBT, knowledge base,
drain-mode streaming) over seeded tables staged under a fresh path.
"""

from __future__ import annotations

import functools
import math
import os
import time
import traceback

import gen
import harness as h

#: Layer of each function ``pipeline.py`` calls.  In a traced run each is
#: wrapped to set the Spark job group before the call; the group stays set
#: after it returns, so the writes and awaits the pipeline runs on the
#: lazy frames a layer returned are charged to that layer, not to whatever
#: runs next.
PIPELINE_LAYERS = {
    "synthetic_interactions": "sources.ingest",
    "upsert_append": "sources.ingest",
    "train_als": "ml.als",
    "train_classifier": "ml.gbt",
    "training_frame": "ml.gbt",
    "ledger_append": "ml.ledger",
    "latest_active_view": "ml.ledger",
    "kb_pair_counts": "ml.kb",
    "kb_popular_items": "ml.kb",
    "kb_success_profile": "ml.kb",
    "bootstrapped_feature_stream": "streaming",
    "model_scoring_stream": "streaming",
    "streaming_progress_summary": "streaming",
}


def _install_tags(spark) -> None:
    from project_bigdata_recsys_spark import pipeline

    def tagged(fn, group):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            h.tag(spark, group)
            return fn(*args, **kwargs)
        return call

    for name, group in PIPELINE_LAYERS.items():
        setattr(pipeline, name, tagged(getattr(pipeline, name), group))


def check(manifest: dict, sf_dir: str) -> list[str]:
    """Manifest invariants, with every count recomputed on DuckDB."""
    con = h.duckdb_views(sf_dir)
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    # stage 1 ingests synthetic_interactions(n=2000) then upserts n=500
    # on (user_id, course_id); both key columns are row_id modulo 1000/200
    expect = {
        "interactions_rows": one(
            "SELECT count(*) FROM (SELECT range % 1000, range % 200 FROM range(2000)"
            " UNION SELECT range % 1000, range % 200 FROM range(500))"
        ),
        "active_models": 2,
        # feature state: every (user, event type) seen, plus the snapshot row
        "feature_state_rows": one(
            "SELECT count(*) FROM (SELECT user_id, event_type FROM events"
            " UNION SELECT 1, 'click')"
        ),
        "scored_rows": one(
            "SELECT count(*) FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')"
        ),
    }
    problems = [
        f"{k} = {manifest.get(k)!r}, expected {v}"
        for k, v in expect.items() if manifest.get(k) != v
    ]
    for model in ("als_metrics", "gbt_metrics"):
        values = manifest.get(model) or {}
        if not values or not all(math.isfinite(v) for v in values.values()):
            problems.append(f"{model} not finite: {values!r}")
    return problems


def run(work: str, seed: int, seconds: float, trace: bool) -> dict:
    from project_bigdata_recsys_spark.pipeline import run_full_pipeline

    sf_dir = gen.write_dataset(os.path.join(work, "input", gen.SF_NAME), seed)
    t0 = time.perf_counter()
    spark = h.start_session(work, "nightly_retrain", trace)
    setup_s = h.elapsed(t0)
    if trace:
        mem = h.MemorySampler(h.jvm_pid(spark))
        _install_tags(spark)
        h.tag(spark, "pipeline")

    problems: list[str] = []
    t = time.perf_counter()
    try:
        manifest = run_full_pipeline(spark, sf_dir, os.path.join(work, "out"))
    except Exception:  # noqa: BLE001 — a failed run is reported, not raised
        traceback.print_exc()
        manifest = None
        problems.append("pipeline raised")
    latency_ms = h.elapsed(t) * 1000.0
    if manifest is not None:
        problems += check(manifest, sf_dir)
    if trace:
        peak_mb = mem.stop()
    h.stop_session(spark)

    result = {
        "correct": not problems,
        "attempted": 1,
        "failed": 1 if problems else 0,
        "problems": problems,
    }
    if not trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (latency_ms, "ms"),
            "latency_tail_ms": (latency_ms, "ms"),
        }
        result["detail"] = {"samples": 1, "tail_quantile": 1.0}
        return result

    log = h.EventLog(os.path.join(work, "eventlog"))
    total = log.total()
    als = log.layer("ml.als")
    ingest = log.layer("sources.ingest")
    layers = {
        "session.start_s": (setup_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "catalog.scan_bytes": (total.in_bytes, "bytes"),
        "catalog.scan_records": (total.in_records, "count"),
        "caching.cached_bytes_peak": (log.cached_bytes_peak, "bytes"),
        "sources.ingest.busy_s": (ingest.run_ms / 1000.0, "s"),
        "sources.ingest.bytes_written": (ingest.out_bytes, "bytes"),
        "ml.als.busy_s": (als.run_ms / 1000.0, "s"),
        "ml.als.shuffle_bytes": (als.shuffle_bytes, "bytes"),
        "ml.gbt.busy_s": (log.layer("ml.gbt").run_ms / 1000.0, "s"),
        "ml.kb.busy_s": (log.layer("ml.kb").run_ms / 1000.0, "s"),
        "pipeline.self_s": ((latency_ms - h.union_ms(total.jobs)) / 1000.0, "s"),
        "spark.gc_s": (total.gc_ms / 1000.0, "s"),
        "spark.failed_tasks": (total.failed, "count"),
        "trace.setup_s": (setup_s, "s"),
        "trace.latency_p50_ms": (latency_ms, "ms"),
    }
    # the pipeline names its feature query; the scoring query is unnamed
    feats = h.stream_metrics(log, "pipeline_features")
    layers.update({
        "streaming.features.batch_ms_p50": (feats["batch_ms_p50"], "ms"),
        "streaming.features.commit_ms_p50": (feats["commit_ms_p50"], "ms"),
        "streaming.features.state_rows": (feats["state_rows"], "count"),
        "streaming.features.state_bytes": (feats["state_bytes"], "bytes"),
        "streaming.scoring.batch_ms_p50": (
            h.stream_metrics(log, "unnamed")["batch_ms_p50"], "ms"),
        "streaming.rows_per_batch_p50": (feats["rows_per_batch_p50"], "count"),
    })
    result["metrics"] = layers
    return result
