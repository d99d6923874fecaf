"""Per-layer metrics of a traced run, named `<module>.<metric>`.

Every metric is emitted by every workload; a layer the workload does not
exercise reads 0. "Per epoch" values are medians over the run's epochs,
"per op" values medians over the workload's principal operations (an epoch,
or any corpus refresh or re-cut). See perfbench/README.md for which
end-to-end metric each one should move.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from .trace import SparkFacts, Tracer, _union_ms

#: metric -> unit, in BENCHMARK.json order
UNITS = {
    "session.start_ms": "ms",
    "session.warmup_ms": "ms",
    "replay.apply_ms": "ms",
    "replay.driver_ms": "ms",
    "replay.plan_ms": "ms",
    "replay.redo_count": "count",
    "replay.fence_skips": "count",
    "event_log.meta_ms": "ms",
    "event_log.read_range_ms": "ms",
    "lake.commit_ms": "ms",
    "lake.current_manifest_ms": "ms",
    "lake.manifest_reads": "count",
    "lake.manifest_bytes": "B",
    "lake.list_epoch_files_ms": "ms",
    "lake.check_constraints_ms": "ms",
    "lake.lease_ms": "ms",
    "lake.bytes_written_per_event": "B/event",
    "lake.buckets_written_frac": "fraction",
    "lake.layers_max": "count",
    "lake.files_per_bucket": "count",
    "lake.read_key_ms": "ms",
    "lake.read_key_jobs": "count",
    "lake.read_changes_ms": "ms",
    "lake.changes_rows": "count",
    "lake.read_state_ms": "ms",
    "lake.compact_ms": "ms",
    "lake.compact_buckets_rewritten": "count",
    "merge.write_exec_ms": "ms",
    "merge.collect_exec_ms": "ms",
    "merge.shuffle_write_bytes": "B",
    "merge.shuffle_read_bytes": "B",
    "merge.spill_bytes": "B",
    "merge.python_ms": "ms",
    "merge.python_bytes_out": "B",
    "merge.python_bytes_in": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.scheduler_delay_ms": "ms",
    "spark.input_bytes": "B",
    "spark.failed_tasks": "count",
    "corpus_incremental.update_call_ms": "ms",
    "corpus_incremental.store_write_ms": "ms",
    "corpus_incremental.jobs": "count",
    "corpus_incremental.pairs_new": "count",
    "dedup.recut_sketches_ms": "ms",
    "dedup.recut_pairs_ms": "ms",
    "dedup.recut_clusters_ms": "ms",
    "log.events": "count",
    "trace.spans": "count",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer: Tracer, facts: SparkFacts, run) -> dict[str, float]:
    kids = tracer.children()
    spans = tracer.spans

    def ops(kind: str):
        return [s for s in spans if s.name == f"op.{kind}"]

    def per_op(op_spans, *names) -> float:
        """Median over ops of the summed outermost spans named `names`."""
        return _median(
            sum(s.ms for s in tracer.outermost(op, set(names), kids)) for op in op_spans
        )

    def count_per_op(op_spans, name) -> float:
        return _median(
            sum(1 for s in tracer.subtree(op, kids) if s.name == name) for op in op_spans
        )

    def jobs_per_op(op_spans, *names) -> float:
        def jobs(op):
            roots = tracer.outermost(op, set(names), kids) if names else [op]
            return sum(len(s.jobs) for r in roots for s in tracer.subtree(r, kids))

        return _median(jobs(op) for op in op_spans)

    epochs = ops("epoch")
    applies = [tracer.outermost(op, {"replay.apply_epoch"}, kids) for op in epochs]

    def driver_ms(group) -> float:
        total = 0.0
        for a in group:
            jobs = facts.jobs_under(tracer.subtree(a, kids))
            total += a.ms - _union_ms(
                SparkFacts.job_intervals(jobs), a.start * 1000.0, a.end * 1000.0
            )
        return total

    def merge_sum(group, key: str, execs: bool, where=None) -> float:
        total = 0.0
        for a in group:
            sub = tracer.subtree(a, kids)
            rows = facts.execs_under(sub) if execs else facts.jobs_under(sub)
            total += sum(r[key] for r in rows if where is None or where(r))
        return total

    m: dict[str, float] = {k: 0.0 for k in UNITS}
    m["session.start_ms"] = _median(s.ms for s in spans if s.name == "session.start")
    m["session.warmup_ms"] = _median(s.ms for s in spans if s.name == "session.warmup")
    m["replay.apply_ms"] = _median(sum(a.ms for a in g) for g in applies)
    m["replay.driver_ms"] = _median(driver_ms(g) for g in applies)
    m["replay.plan_ms"] = per_op(epochs, "replay.plan_epochs", "lake.resume_point")
    m["replay.redo_count"] = tracer.log_counts["narrow_validity_redo"]
    m["replay.fence_skips"] = tracer.log_counts["epoch_fence_skip"]
    m["event_log.meta_ms"] = per_op(
        epochs, "event_log.segments", "event_log.max_seq", "event_log.max_schema_version"
    )
    m["event_log.read_range_ms"] = per_op(epochs, "event_log.read_range")
    m["lake.commit_ms"] = per_op(epochs, "lake.commit")
    m["lake.current_manifest_ms"] = per_op(epochs, "lake.current_manifest")
    m["lake.manifest_reads"] = count_per_op(epochs, "lake.manifest")
    m["lake.list_epoch_files_ms"] = per_op(epochs, "lake.list_epoch_files")
    m["lake.check_constraints_ms"] = per_op(epochs, "lake.check_constraints")
    m["lake.lease_ms"] = per_op(
        epochs, "lake.acquire_writer_lease", "lake.release_writer_lease"
    )
    m.update(_manifest_shape(run.lakes))
    m["lake.read_key_ms"] = per_op(ops("lookup"), "lake.read_key")
    m["lake.read_key_jobs"] = jobs_per_op(ops("lookup"), "lake.read_key")
    m["lake.read_changes_ms"] = per_op(ops("changes"), "lake.read_changes")
    n_changes = len(ops("changes"))
    m["lake.changes_rows"] = run.work["change_rows"] / n_changes if n_changes else 0.0
    m["lake.read_state_ms"] = per_op(ops("scan"), "lake.read_state")
    m["lake.compact_ms"] = per_op(ops("compact"), "lake.compact")

    m["merge.write_exec_ms"] = _median(
        merge_sum(g, "ms", True, lambda r: r["write"]) for g in applies
    )
    m["merge.collect_exec_ms"] = _median(
        merge_sum(g, "ms", True, lambda r: not r["write"]) for g in applies
    )
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"merge.{key}"] = _median(merge_sum(g, key, False) for g in applies)
    for key in ("python_ms", "python_bytes_out", "python_bytes_in"):
        m[f"merge.{key}"] = _median(merge_sum(g, key, True) for g in applies)

    principal = [op for kind in run.principal for op in ops(kind)]
    for key in (
        "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
        "scheduler_delay_ms", "input_bytes", "failed_tasks",
    ):
        m[f"spark.{key}"] = _median(
            sum(j[key] for j in facts.jobs_under(tracer.subtree(op, kids)))
            for op in principal
        )
    m["spark.jobs"] = jobs_per_op(principal)

    refreshes = ops("refresh")
    m["corpus_incremental.update_call_ms"] = per_op(refreshes, "corpus_incremental.update")
    m["corpus_incremental.store_write_ms"] = per_op(refreshes, "corpus_incremental.store_write")
    m["corpus_incremental.jobs"] = jobs_per_op(refreshes)
    m["corpus_incremental.pairs_new"] = run.work["refresh_pairs_new"]
    recuts = ops("recut")
    for step in ("sketches", "pairs", "clusters"):
        m[f"dedup.recut_{step}_ms"] = per_op(recuts, f"dedup.recut_{step}")
    m["log.events"] = sum(tracer.log_counts.values())
    m["trace.spans"] = len(spans)
    return m


def _manifest_shape(lakes: list[str]) -> dict[str, float]:
    """Write shape from the committed manifests, read as files (no engine
    call, so no spans): bytes per applied event and share of buckets each
    epoch wrote from `counts`; the most layers any committed head held, the
    mean files per bucket and the size of the last lake's head manifest."""
    written = applied = 0
    fracs, rewritten, layers = [], [], [0]
    files_per_bucket = manifest_bytes = 0.0
    for root in lakes:
        paths = sorted(glob.glob(os.path.join(root, "_manifests", "manifest-*.json")))
        for p in paths:
            with open(p) as f:
                man = json.load(f)
            c = man.get("counts", {})
            if c.get("events_applied"):
                written += c.get("bytes_written", 0)
                applied += c["events_applied"]
                fracs.append(c.get("buckets_written", 0) / max(1, man["n_buckets"]))
            if "buckets_rewritten" in c:
                rewritten.append(c["buckets_rewritten"])
            layers.extend(
                len({e.get("layer", i) for i, e in enumerate(entries)})
                for entries in man["buckets"].values()
            )
        if paths:
            manifest_bytes = os.path.getsize(paths[-1])
            with open(paths[-1]) as f:
                head = json.load(f)["buckets"]
            files_per_bucket = sum(len(v) for v in head.values()) / max(1, len(head))
    return {
        "lake.bytes_written_per_event": written / applied if applied else 0.0,
        "lake.buckets_written_frac": _median(fracs),
        "lake.layers_max": max(layers),
        "lake.files_per_bucket": files_per_bucket,
        "lake.manifest_bytes": manifest_bytes,
        "lake.compact_buckets_rewritten": _median(rewritten),
    }
