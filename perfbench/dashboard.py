"""``dashboard_mix``: the dashboard's analytic panels under one client.

Closed loop: the client sends its next request when the previous one has
returned.  A round is every panel once, in a seeded order, with two
writes at seeded positions between panels; each write sends a seeded batch of events
through ``sources.ingest.upsert_append`` into the staged events table, so
the reads after it must see the new rows.  One untimed round warms the
session up; timed rounds then run until ``--seconds`` have passed, always
whole rounds so that every run times the same mix.

The panels are the dashboard-parity operator queries plus the corpus
curation panel (text quality, minhash dedup, IVF similarity), so both the
``operators`` and the ``functions`` layers serve requests here.

Writes never modify a table in place: each one stages a new table version
under a fresh path (unchanged tables hard-linked), which is also how a
read-side cache keyed by path would see the change.  The timed rounds start
from a fresh path too, so nothing the warm-up memoised is reused.
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import harness as h

#: panel query -> layer that serves it
READS = {
    "course_stats": "operators",
    "user_activity": "operators",
    "conditional_pivot": "operators",
    "multiway_join": "operators",
    "events_per_day": "operators",
    "top_n_per_group": "operators",
    "dau_wau_stickiness": "operators",
    "cohort_retention": "operators",
    "doc_quality_profile": "functions.text",
    "minhash_candidates": "functions.dedup",
    "minhash_verified_pairs": "functions.dedup",
    "knn_ivf_bucketed": "functions.similarity",
}
#: requests one panel sends together, in this order: the dedup panel shows
#: the candidate pairs and then the verified ones
PANELS = [(q,) for q in READS if not q.startswith("minhash")] + [
    ("minhash_candidates", "minhash_verified_pairs")
]
WRITES_PER_ROUND = 2
#: events per write, and how many of them reuse an existing event id (the
#: upsert must keep the stored row for those)
BATCH_NEW, BATCH_CONFLICTS = 450, 50


class Store:
    """Versioned staging of the table directory the engine reads."""

    def __init__(self, root: str):
        self.root = root
        self.n = 0
        self.current = ""

    def _next_dir(self) -> str:
        self.n += 1
        d = os.path.join(self.root, f"v{self.n}", gen.SF_NAME)
        os.makedirs(d)
        return d

    def stage(self, src: str, skip: str | None = None) -> str:
        """Hard-link every table of ``src`` except ``skip`` into a new
        version directory and make it current."""
        dst = self._next_dir()
        for name in os.listdir(src):
            if name == f"{skip}.parquet":
                continue
            s, d = os.path.join(src, name), os.path.join(dst, name)
            if os.path.isdir(s):
                os.makedirs(d)
                for part in os.listdir(s):
                    os.link(os.path.join(s, part), os.path.join(d, part))
            else:
                os.link(s, d)
        self.current = dst
        return dst


class Client:
    def __init__(self, spark, store: Store, rng: np.random.Generator,
                 work: str, trace: bool):
        self.spark = spark
        self.store = store
        self.rng = rng
        self.work = work
        self.trace = trace
        self.events = gen.read("events")
        self.next_event_id = int(self.events["event_id"].to_numpy().max()) + 1
        self.n_ops = 0

    def round_plan(self) -> list[str]:
        """Every panel once in a seeded order, with a write at a seeded
        panel boundary in each of the round's ``WRITES_PER_ROUND`` parts."""
        panels = [PANELS[i] for i in self.rng.permutation(len(PANELS))]
        part = len(panels) // WRITES_PER_ROUND
        plan: list[str] = []
        for i in range(WRITES_PER_ROUND):
            chunk = panels[i * part:(i + 1) * part if i < WRITES_PER_ROUND - 1 else None]
            at = int(self.rng.integers(0, len(chunk) + 1))
            for panel in chunk[:at] + [("write",)] + chunk[at:]:
                plan += panel
        return plan

    def _batch(self) -> tuple[str, int]:
        """A seeded events batch on disk: new ids plus conflicting copies of
        stored ids, the latter marked with event type ``conflict``."""
        new = gen.events_batch(self.rng, self.events, BATCH_NEW, self.next_event_id)
        dup = gen.events_batch(self.rng, self.events, BATCH_CONFLICTS, 0)
        dup = dup.set_column(dup.schema.get_field_index("event_id"), "event_id", pa.array(
            self.rng.choice(self.next_event_id, BATCH_CONFLICTS, replace=False)))
        dup = dup.set_column(dup.schema.get_field_index("event_type"), "event_type",
                             pa.array(["conflict"] * BATCH_CONFLICTS))
        table = pa.concat_tables([new, dup])
        path = os.path.join(self.work, "batches", f"b{self.n_ops}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        first = self.next_event_id
        self.next_event_id += BATCH_NEW
        return path, first

    def op(self, name: str, label: str) -> dict:
        """Run one request; return its record (latency, version, result)."""
        from project_bigdata_recsys_spark.caching import release_tracked
        from project_bigdata_recsys_spark.catalog import load_table, normalize_events
        from project_bigdata_recsys_spark.plans.queries import QUERIES
        from project_bigdata_recsys_spark.sources.ingest import upsert_append

        self.n_ops += 1
        group = f"{label}|{self.n_ops}"
        rec = {"name": name, "group": group, "ok": True}
        if name == "write":
            batch, first_new = self._batch()
            rec.update(batch=batch, first_new=first_new, before=self.store.current)
        if self.trace:
            h.tag(self.spark, group)
        t = time.perf_counter()
        try:
            if name == "write":
                src = self.store.current
                existing = load_table(self.spark, src, "events")
                incoming = normalize_events(self.spark.read.parquet(batch))
                dst = self.store.stage(src, skip="events")
                upsert_append(existing, incoming, ["event_id"]).write.parquet(
                    os.path.join(dst, "events.parquet")
                )
            else:
                rec["version"] = self.store.current
                rec["result"] = QUERIES[name](self.spark, self.store.current).toPandas()
        except Exception:  # noqa: BLE001 — a failed request is counted, not raised
            traceback.print_exc()
            rec["ok"] = False
        rec["wall_s"] = h.elapsed(t)
        if name == "write":
            rec["after"] = self.store.current
        else:
            release_tracked()
        return rec


def check(records: list[dict]) -> dict[str, str]:
    """Every timed read against its ``ORACLES`` SQL on DuckDB over the
    table version it read; every write against its batch.  Returns the
    failed requests, by job group."""
    from check_oracle import compare

    from project_bigdata_recsys_spark.plans.queries import ORACLES

    problems: dict[str, str] = {}
    cons: dict[str, object] = {}

    def con(version: str):
        if version not in cons:
            cons[version] = h.duckdb_views(version)
        return cons[version]

    for rec in records:
        if not rec["ok"]:
            problems[rec["group"]] = f"{rec['name']} raised"
            continue
        if rec["name"] != "write":
            want = con(rec["version"]).execute(ORACLES[rec["name"]]).fetchdf()
            diff = compare(rec["name"], rec["result"], want)
            if diff:
                problems[rec["group"]] = f"{rec['name']} vs oracle: {'; '.join(diff)}"
            continue
        before = con(rec["before"]).execute("SELECT count(*) FROM events").fetchone()[0]
        got = con(rec["after"]).execute(
            "SELECT count(*), count(*) FILTER (WHERE event_type = 'conflict'),"
            f" count(*) FILTER (WHERE event_id >= {rec['first_new']}) FROM events"
        ).fetchone()
        if tuple(got) != (before + BATCH_NEW, 0, BATCH_NEW):
            problems[rec["group"]] = f"write left {got}, stored {before}"
    return problems


def run(work: str, seed: int, seconds: float, trace: bool) -> dict:
    from project_bigdata_recsys_spark.caching import release_shared

    rng = np.random.default_rng(seed)
    base = gen.write_dataset(os.path.join(work, "input", gen.SF_NAME), seed)
    store = Store(os.path.join(work, "versions"))
    store.stage(base)
    t0 = time.perf_counter()
    spark = h.start_session(work, "dashboard_mix", trace)
    session_s = h.elapsed(t0)
    if trace:
        mem = h.MemorySampler(h.jvm_pid(spark))
    client = Client(spark, store, rng, work, trace)
    warm = [client.op(name, "warmup") for name in client.round_plan()]
    release_shared()
    store.stage(store.current)  # timed rounds read from a fresh path
    setup_s = h.elapsed(t0)

    records: list[dict] = []
    t_timed = time.perf_counter()
    while not records or h.elapsed(t_timed) < seconds:
        for name in client.round_plan():
            records.append(
                client.op(name, "sources.ingest" if name == "write" else READS[name])
            )
    if trace:
        peak_mb = mem.stop()
    failures = check(records)
    problems = [f"{g} {msg}" for g, msg in failures.items()]
    problems += [f"{r['group']} {r['name']} raised" for r in warm if not r["ok"]]
    h.stop_session(spark)

    lat = [r["wall_s"] * 1000.0 for r in records]
    q = h.tail_quantile(len(lat))
    result = {
        "correct": not problems,
        "attempted": len(records),
        "failed": len(failures),
        "problems": problems,
        "detail": {"samples": len(lat), "tail_quantile": q,
                   "rounds": len(records) // (len(READS) + WRITES_PER_ROUND),
                   "ops_ms": [(r["name"], round(r["wall_s"] * 1000.0)) for r in records],
                   "warmup_ms": [(r["name"], round(r["wall_s"] * 1000.0)) for r in warm]},
    }
    if not trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (h.median(lat), "ms"),
            "latency_tail_ms": (h.percentile(lat, q), "ms"),
        }
        return result

    log = h.EventLog(os.path.join(work, "eventlog"))
    timed = {r["group"] for r in records}
    scope = h.GroupStats()
    for g, s in log.groups.items():
        if g in timed:
            scope.add(s)
    ops = [r for r in records if READS.get(r["name"]) == "operators"]
    op_stats = [log.groups.get(r["group"], h.GroupStats()) for r in ops]
    rows = {r["name"]: len(r["result"]) for r in records if "result" in r}
    ingest = log.layer("sources.ingest")
    operators = log.layer("operators")
    result["metrics"] = {
        "session.start_s": (session_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "catalog.scan_bytes": (scope.in_bytes, "bytes"),
        "catalog.scan_records": (scope.in_records, "count"),
        "caching.cached_bytes_peak": (log.cached_bytes_peak, "bytes"),
        "sources.ingest.busy_s": (ingest.run_ms / 1000.0, "s"),
        "sources.ingest.bytes_written": (ingest.out_bytes, "bytes"),
        "operators.busy_s": (operators.run_ms / 1000.0, "s"),
        "operators.driver_ms_p50": (h.median(
            [r["wall_s"] * 1000.0 - h.union_ms(s.jobs) for r, s in zip(ops, op_stats)]
        ), "ms"),
        "operators.tasks_per_query": (h.median([s.tasks for s in op_stats]), "count"),
        "operators.shuffle_bytes": (operators.shuffle_bytes, "bytes"),
        "functions.text.busy_s": (log.layer("functions.text").run_ms / 1000.0, "s"),
        "functions.dedup.busy_s": (log.layer("functions.dedup").run_ms / 1000.0, "s"),
        "functions.similarity.busy_s": (
            log.layer("functions.similarity").run_ms / 1000.0, "s"),
        "functions.dedup.candidate_pairs": (rows.get("minhash_candidates", 0), "count"),
        "functions.dedup.kept_ratio": (
            rows.get("minhash_verified_pairs", 0) / max(1, rows.get("minhash_candidates", 0)),
            "ratio"),
        "functions.spill_bytes": (log.layer("functions").spill_bytes, "bytes"),
        "spark.gc_s": (scope.gc_ms / 1000.0, "s"),
        "spark.failed_tasks": (log.total().failed, "count"),
        "trace.setup_s": (setup_s, "s"),
        "trace.latency_p50_ms": (h.median(lat), "ms"),
    }
    return result
